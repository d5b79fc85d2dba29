"""End-to-end `process` pipeline + CLI entry points on the fixture corpus:
instances.jsonld / vocabulary.jsonld / vocab_meta.json shape checks."""

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = "/root/reference/test-data"


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("pipeline-cli")


@pytest.fixture(scope="module")
def fixed_manifest(tmp_path_factory):
    """The checked-in manifest names Products.csv; the file on disk is
    lowercase. Copy + patch into a temp manifest."""
    text = open(f"{FIXTURES}/manifest-total.jsonc").read().replace("Products.csv", "products.csv")
    d = tmp_path_factory.mktemp("manifest")
    p = d / "manifest.jsonc"
    p.write_text(text)
    return str(p)


def test_process_pipeline_outputs(spark, fixed_manifest, tmp_path):
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    out = tmp_path / "out"
    pipeline = Pipeline.from_manifest(fixed_manifest, FIXTURES)
    outcome = pipeline.run(spark, out)
    assert outcome.ok
    assert outcome.counts["entities"] > 900
    assert outcome.counts["triples"] > 9000

    inst = json.loads((out / "instances.jsonld").read_text())
    assert set(inst) == {"ledger", "@context", "insert"}
    assert inst["@context"]["has Material"] == {
        "@id": "http://example.com/dell-bom/terms/hasMaterial",
        "@type": "@id",
    }
    by_id = {n["@id"]: n for n in inst["insert"]}
    prod = by_id["P1000-SERVER-01"]
    assert prod["@type"] == ["Product"]
    assert prod["Product Retail Price"] == 6800.0  # "$6,800.00" coerced
    mat = by_id["135"]
    assert set(mat["@type"]) == {"Material", "ExternalPowerAdapter"}

    vocab = json.loads((out / "vocabulary.jsonld").read_text())
    assert vocab["insert"]["@type"] == ["f:DataModel"]
    assert len(vocab["insert"]["f:classes"]) >= 80
    assert len(vocab["insert"]["f:properties"]) >= 280

    meta = json.loads((out / "vocab_meta.json").read_text())
    assert set(meta["identifiers"]) == {
        "BillOfMaterials", "Manufacturer", "Material", "Product", "WarehouseInventory",
    }


def test_cli_validate_and_generate(tmp_path, fixed_manifest):
    env = dict(os.environ)
    r = subprocess.run(
        [sys.executable, "-m", "csv_to_jsonld_processor_spark", "validate",
         "--manifest", fixed_manifest],
        cwd=REPO, capture_output=True, text=True, env=env,
    )
    assert r.returncode == 0, r.stderr
    assert "manifest valid" in r.stdout

    tmpl = tmp_path / "m.jsonc"
    r = subprocess.run(
        [sys.executable, "-m", "csv_to_jsonld_processor_spark", "generate-manifest",
         "--output", str(tmpl)],
        cwd=REPO, capture_output=True, text=True, env=env,
    )
    assert r.returncode == 0, r.stderr
    from csv_to_jsonld_processor_spark.manifest import Manifest

    m = Manifest.from_file(tmpl)
    assert m.validate() == []


def test_cli_validate_rejects_bad(tmp_path):
    bad = tmp_path / "bad.jsonc"
    bad.write_text('{"@type": "Nope", "model": {"sequence": []}, "instances": {"sequence": []}}')
    r = subprocess.run(
        [sys.executable, "-m", "csv_to_jsonld_processor_spark", "validate", "--manifest", str(bad)],
        cwd=REPO, capture_output=True, text=True,
    )
    assert r.returncode == 1


def test_csv_scan_accepts_uri_paths(tmp_path):
    """S3 storage-abstraction evidence: scheme-qualified paths (file://
    here, s3a:// on a cluster) flow through Spark's Hadoop FS for both
    the header peek and the scan — no driver-side open() on a URI."""
    from csv_to_jsonld_processor_spark.operators.instance_steps import read_csv_positional
    from csv_to_jsonld_processor_spark.session import get_spark

    p = tmp_path / "t.csv"
    p.write_text("Thing ID,Thing Name\nT1,Widget\n")
    spark = get_spark("uri-scan")
    df, headers = read_csv_positional(spark, f"file://{p}")
    assert headers == ["Thing ID", "Thing Name"]
    assert [tuple(r) for r in df.collect()] == [("T1", "Widget")]


def test_csv_scan_duplicate_and_empty_headers(tmp_path):
    """Repeated (case-insensitively) and empty header cells still give
    one positional column each, with the raw header list alongside; the
    driver-parsed header is the schema, so planning the scan runs no job."""
    from csv_to_jsonld_processor_spark.operators.instance_steps import read_csv_positional
    from csv_to_jsonld_processor_spark.session import get_spark

    p = tmp_path / "t.csv"
    p.write_text('Name,name,,Note\nA,B,C,"x, ""y""\nz"\nD\n')
    spark = get_spark("dup-headers")
    sc = spark.sparkContext
    sc.setJobGroup("read-csv-positional", "read-csv-positional")
    try:
        df, headers = read_csv_positional(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("read-csv-positional")) == []
    assert headers == ["Name", "name", "", "Note"]
    assert df.columns == ["c0", "c1", "c2", "c3"]
    assert [tuple(r) for r in df.collect()] == [
        ("A", "B", "C", 'x, "y"\nz'),
        ("D", None, None, None),
    ]


def test_cli_vocab_meta_flag(tmp_path, fixed_manifest):
    """--vocab-meta round trip through the CLI: a second run driven by
    the first run's exported metadata produces identical instances."""
    env = dict(os.environ)
    out1 = tmp_path / "o1"
    r1 = subprocess.run(
        [sys.executable, "-m", "csv_to_jsonld_processor_spark", "process",
         "--manifest", fixed_manifest, "--base-path", FIXTURES,
         "--output", str(out1), "--cpus", "4"],
        cwd=REPO, capture_output=True, text=True, env=env, timeout=600,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    out2 = tmp_path / "o2"
    r2 = subprocess.run(
        [sys.executable, "-m", "csv_to_jsonld_processor_spark", "process",
         "--manifest", fixed_manifest, "--base-path", FIXTURES,
         "--output", str(out2), "--cpus", "4",
         "--vocab-meta", str(out1 / "vocab_meta.json")],
        cwd=REPO, capture_output=True, text=True, env=env, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert (out1 / "instances.jsonld").read_text() == (out2 / "instances.jsonld").read_text()


def test_pipeline_from_file_uri_manifest(spark, fixed_manifest, tmp_path):
    """The full pipeline driven by a file:// manifest URI (storage-layer
    dispatch end-to-end): outcome equals the local-path run's counts."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    out = tmp_path / "out_uri"
    pipeline = Pipeline.from_manifest("file://" + fixed_manifest, FIXTURES)
    outcome = pipeline.run(spark, out)
    assert outcome.ok
    assert outcome.counts["entities"] > 900
    assert outcome.counts["triples"] > 9000
