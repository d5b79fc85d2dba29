"""SHACL shape-suite semantics over the gated quad corpus."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("shacl")


def test_shacl_suite_semantics(spark):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.queries import kg_webtext_edges
    from csv_to_jsonld_processor_spark.kg.rdfio import _ground_truth
    from csv_to_jsonld_processor_spark.kg.shacl import _TERMS, kg_shacl_validate

    rows = {r["shape_id"]: r for r in kg_shacl_validate(spark, "unused").collect()}
    assert set(rows) == {f"sh{i}" for i in range(1, 8)}

    # independent recount of sh1 from the corpus derivation
    q = _ground_truth(kg_webtext_edges(spark, "unused"))
    wf = q.filter(F.col("p") == _TERMS + "worksFor")
    n_focus = wf.count()
    n_viol = wf.filter(F.col("kind") != "iri").count()
    assert rows["sh1"]["n_focus"] == n_focus
    assert rows["sh1"]["n_violations"] == n_viol
    assert 0 < n_viol < n_focus  # the gate plants literals among IRIs

    # conforming shapes: zero violations AND zero checksum
    for sid in ("sh4", "sh6", "sh7"):
        assert rows[sid]["n_violations"] == 0
        assert rows[sid]["checksum"] == 0
        assert rows[sid]["n_focus"] > 0  # non-degenerate target set

    # maxCount threshold discriminates: some subjects pass, some fail
    assert 0 < rows["sh5"]["n_violations"] < rows["sh5"]["n_focus"]

    # violating shapes carry a non-zero order-free evidence checksum
    for sid in ("sh1", "sh2", "sh3", "sh5"):
        assert rows[sid]["checksum"] > 0
