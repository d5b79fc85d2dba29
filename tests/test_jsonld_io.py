"""JSON-LD node reader: typed explode semantics + writer round-trip."""

import json

import pytest


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("jsonldio")


def test_reader_explodes_typed_values(spark):
    from csv_to_jsonld_processor_spark.sources.jsonld import read_jsonld_nodes

    node = {
        "@id": "e1",
        "@type": ["A", "B"],
        "name": 'quo"te\\back\nnl\tü∆',
        "scores": [1, 2.5, "three"],
        "flag": True,
        "n": 0,
    }
    df = spark.createDataFrame([(json.dumps(node),)], "node string")
    got = {tuple(r) for r in read_jsonld_nodes(df).collect()}
    assert got == {
        ("e1", "@type", "string", "A", None),
        ("e1", "@type", "string", "B", None),
        ("e1", "name", "string", 'quo"te\\back\nnl\tü∆', None),
        ("e1", "scores", "int", None, "1"),
        ("e1", "scores", "float", None, "2.5"),
        ("e1", "scores", "string", "three", None),
        ("e1", "flag", "bool", "true", None),
        ("e1", "n", "int", None, "0"),
    }


def test_writer_reader_roundtrip_multiset(spark):
    """assemble_entities_json → read_jsonld_nodes recovers the exact
    distinct triple set (writer dedups per (subj, pred, value)), with
    numbers compared as typed values per the writer's typing rule."""
    from csv_to_jsonld_processor_spark.plans.pipeline import _typed, assemble_entities_json
    from csv_to_jsonld_processor_spark.sources.jsonld import read_jsonld_nodes

    rows = [
        ("s1", "@type", "Widget", "type"),
        ("s1", "price", "300.00", "number"),
        ("s1", "price", "12", "number"),
        ("s1", "desc", 'a,"b"\n\tc', "string"),
        ("s1", "desc", 'a,"b"\n\tc', "string"),  # duplicate → writer dedups
        ("s1", "ref", "6871", "ref"),
        ("s2", "@type", "Widget", "type"),
        ("s2", "ok", "true", "boolean"),
    ]
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string"
    )
    nodes = assemble_entities_json(triples).select("node")
    got = {tuple(r) for r in read_jsonld_nodes(nodes).collect()}

    want = set()
    for subj, pred, obj, kind in set(rows):
        if kind == "type":
            want.add((subj, "@type", "string", obj, None))
            continue
        v = _typed(obj, kind)
        if isinstance(v, bool):
            want.add((subj, pred, "bool", str(v).lower(), None))
        elif isinstance(v, int):
            want.add((subj, pred, "int", None, str(v)))
        elif isinstance(v, float):
            want.add((subj, pred, "float", None, repr(v)))
        else:
            want.add((subj, pred, "string", v, None))
    assert got == want
    # the typed round-trip really normalized the lexical form
    assert ("s1", "price", "float", None, "300.0") in got
    assert ("s1", "price", "int", None, "12") in got


def test_assemble_entities_json_bytes(spark):
    """The exact node strings, with Arrow batches of the default size and
    of two rows, so an entity spans batches and is carried over."""
    from csv_to_jsonld_processor_spark.plans.pipeline import assemble_entities_json

    rows = [
        ("s1", "@type", "Widget", "type"),
        ("s1", "@type", "Gadget", "type"),
        ("s1", "price", "300.00", "number"),
        ("s1", "price", "12", "number"),
        ("s1", "desc", 'say "hi", then\nbye', "string"),
        ("s1", "desc", 'say "hi", then\nbye', "string"),  # duplicate row
        ("s1", "ok", "true", "boolean"),
        ("s1", "tag", "c", "string"),
        ("s1", "tag", "a", "string"),
        ("s1", "tag", "b", "string"),
        ("s1", "ref", "s2", "ref"),
        ("s2", "@type", "Widget", "type"),
        ("s2", "ok", "false", "boolean"),
        ("s2", "n", "7", "number"),
    ]
    want = [
        ("s1", '{"@id": "s1", "@type": ["Gadget", "Widget"], '
               '"desc": "say \\"hi\\", then\\nbye", "ok": true, "price": [12, 300.0], '
               '"ref": "s2", "tag": ["a", "b", "c"]}'),
        ("s2", '{"@id": "s2", "@type": ["Widget"], "n": 7, "ok": false}'),
    ]
    triples = spark.createDataFrame(rows, "subj string, pred string, obj string, obj_kind string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    try:
        for batch in (default, "2"):
            spark.conf.set(key, batch)
            got = sorted(tuple(r) for r in assemble_entities_json(triples).collect())
            assert got == want, batch
    finally:
        spark.conf.set(key, default)
