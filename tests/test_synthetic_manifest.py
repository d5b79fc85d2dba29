"""Exercises the reference paths the BOM fixture corpus never touches:
PicklistStep two-phase ordering, delimitValuesOn, mapToLabel,
namespaceIris, rdfs:label injection (R7), picklist one_of accumulation
(A4) — on a small synthetic corpus with a hand-computed expected triple
set."""

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.manifest import Manifest
from csv_to_jsonld_processor_spark.vocabulary import compile_vocabulary

MODEL_CSV = """Class Name,Class Description,Property Name,Property Description,Type,Class Range,
Color,Palette color,Color ID,id,@id,,
Color,Palette color,Color Name,name,string,,
Gadget,A gadget,Gadget ID,id,@id,,
Gadget,A gadget,Gadget Name,name,string,,
Gadget,A gadget,has Color,color ref,Picklist,Color,
Gadget,A gadget,Tags,multi,URI,Gadget,
Gadget,A gadget,Weight,weight,Float,,
Gadget,A gadget,Counts,counts,Integer,,
"""

COLORS_CSV = """Color ID,Color Name
red,Red
blue,Blue
"""

GADGETS_CSV = """Gadget ID,Gadget Name,has Color,Tags,Weight,Counts,Mystery
G1,Widget,red,G2;G3,1.5,1;x,m1
G2,Sprocket,blue,,2, 42,m2
G3,Doodad,green,G1,bad,,m3
"""

MANIFEST = {
    "@type": "CSVImportManifest",
    "@id": "model/synth",
    "name": "synthetic",
    "model": {
        "baseIRI": "http://ex.com/terms/",
        "path": "model/",
        "sequence": [
            {
                "path": "Model.csv",
                "@type": ["CSVImportStep", "BasicVocabularyStep"],
                "overrides": [
                    {"column": "Class Name", "mapTo": "$Class.ID"},
                    {"column": "Property Name", "mapTo": "$Property.ID"},
                ],
            }
        ],
    },
    "instances": {
        "baseIRI": "http://ex.com/ids/",
        "namespaceIris": True,
        "path": "instances/",
        "sequence": [
            {
                "path": "Gadgets.csv",
                "@type": ["CSVImportStep", "BasicInstanceStep"],
                "instanceType": "Gadget",
                "mapToLabel": "Gadget Name",
            },
            {
                "path": "Colors.csv",
                "@type": ["CSVImportStep", "PicklistStep"],
                "instanceType": "Color",
                "mapToLabel": "Color Name",
            },
        ],
    },
}


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("synth")
    (d / "model").mkdir()
    (d / "instances").mkdir()
    (d / "model" / "Model.csv").write_text(MODEL_CSV)
    (d / "instances" / "Colors.csv").write_text(COLORS_CSV)
    (d / "instances" / "Gadgets.csv").write_text(GADGETS_CSV)
    return str(d)


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("synth-manifest")


def test_picklist_first_ordering():
    m = Manifest.from_dict(MANIFEST)
    seq = m.instance_sequence()
    assert seq[0].has_type("PicklistStep")  # reordered ahead of Gadgets


def test_vocab_picklist_label_injection(corpus):
    m = Manifest.from_dict(MANIFEST)
    vocab = compile_vocabulary(m, corpus)
    # R7: Color is a Picklist target → rdfs:label property injected
    assert "rdfs:label" in vocab.properties
    color = vocab.classes["Color"]
    label_targets = [r.target for r in color.range or []]
    assert any(t and t.endswith("rdfs:label") or t == "rdfs:label" for t in label_targets) or any(
        "rdfs:label" in (t or "") for t in label_targets
    )
    # has Color range is Picklist(ColorIRI)
    hc = vocab.properties["hasColor"]
    assert hc.range[0].kind == "Picklist"
    assert hc.range[0].target == "http://ex.com/terms/Color"


def test_synthetic_triples(spark, corpus):
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs

    m = Manifest.from_dict(MANIFEST)
    vocab = compile_vocabulary(m, corpus)
    triples = {tuple(r) for r in build_instance_outputs(spark, m, vocab, corpus)[0].collect()}

    # namespaceIris: subjects are kebab(class)/id
    assert ("gadget/G1", "@type", "Gadget", "type") in triples
    assert ("color/red", "@type", "Color", "type") in triples
    # mapToLabel duplicates into "label"
    assert ("gadget/G1", "label", "Widget", "string") in triples
    assert ("gadget/G1", "Gadget Name", "Widget", "string") in triples
    assert ("color/red", "label", "Red", "string") in triples
    # delimit split on default ';' for non-String URI column + J5 namespacing
    assert ("gadget/G1", "Tags", "gadget/G2", "ref") in triples
    assert ("gadget/G1", "Tags", "gadget/G3", "ref") in triples
    # picklist value namespaced by target class kebab
    assert ("gadget/G1", "has Color", "color/red", "ref") in triples
    # decimal coercion + fallback
    assert ("gadget/G1", "Weight", "1.5", "number") in triples
    assert ("gadget/G3", "Weight", "bad", "string") in triples
    # per-element typing of multi-value cells (value_processor.rs types
    # each split value independently, not the whole cell)
    assert ("gadget/G1", "Counts", "1", "number") in triples
    assert ("gadget/G1", "Counts", "x", "string") in triples
    # padded single value: kind computed on the trimmed element
    assert ("gadget/G2", "Counts", "42", "number") in triples


def test_oracle_agrees_on_synthetic(spark, corpus):
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
    from oracle_reference import oracle_triples

    m = Manifest.from_dict(MANIFEST)
    vocab = compile_vocabulary(m, corpus)
    engine = {tuple(r) for r in build_instance_outputs(spark, m, vocab, corpus)[0].collect()}
    oracle = oracle_triples(m, vocab, corpus)
    assert engine == oracle, (
        f"engine-only={sorted(engine - oracle)[:6]} oracle-only={sorted(oracle - engine)[:6]}"
    )


PIVOT_MODEL_CSV = """Class Name,Class Description,Property Name,Property Description,Type,Class Range,
Item,A catalog item,Item ID,id,@id,,
Item,A catalog item,Item Name,name,string,,
Order,An order,Order ID,id,@id,,
Order,An order,Customer,buyer,string,,
Order,An order,has Lines,order lines,URI,OrderLine,
OrderLine,One order line,Qty,quantity,Integer,,
OrderLine,One order line,Unit Price,price,Float,,
OrderLine,One order line,has Item,item ref,URI,Item,
"""

# O1 repeats with two lines; O2's pivot cells are all empty (no child, no
# hasLines); O3's Qty and Unit Price fail coercion and stay string-kind
ORDERS_CSV = """Order ID,Customer,Qty,has Item,Unit Price
O1,Alice,2,I1,"$1,234.50"
O1,Alice,3,I2,10
O2,Bob,,,
O3,Carol,x,I1,bad
"""


@pytest.mark.parametrize("namespaced", [True, False], ids=["namespaced", "plain"])
def test_pivot_children_match_oracle(spark, tmp_path, namespaced):
    """R1: each row with any pivot value spawns one content-hashed child
    linked from its parent; engine triples equal the oracle's."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
    from oracle_reference import oracle_triples

    (tmp_path / "model").mkdir()
    (tmp_path / "instances").mkdir()
    (tmp_path / "model" / "Model.csv").write_text(PIVOT_MODEL_CSV)
    (tmp_path / "instances" / "Orders.csv").write_text(ORDERS_CSV)
    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["namespaceIris"] = namespaced
    manifest["instances"]["sequence"] = [
        {
            "path": "Orders.csv",
            "@type": ["CSVImportStep", "BasicInstanceStep"],
            "instanceType": "Order",
            "pivotColumns": [
                {
                    "instanceType": "OrderLine",
                    "newRelationshipProperty": "hasLines",
                    "columns": ["Qty", "has Item", "Unit Price"],
                }
            ],
        }
    ]
    m = Manifest.from_dict(manifest)
    vocab = compile_vocabulary(m, str(tmp_path))
    engine = {
        tuple(r) for r in build_instance_outputs(spark, m, vocab, str(tmp_path))[0].collect()
    }
    oracle = oracle_triples(m, vocab, str(tmp_path))
    assert engine == oracle, (
        f"engine-only={sorted(engine - oracle)[:6]} oracle-only={sorted(oracle - engine)[:6]}"
    )
    children = {s for s, p, o, k in engine if p == "@type" and o == "OrderLine"}
    assert len(children) == 3
    assert {o for s, p, o, k in engine if p == "hasLines"} == children
    o2 = "order/O2" if namespaced else "O2"
    assert not any(s == o2 and p == "hasLines" for s, p, o, k in engine)
    assert any(p == "Unit Price" and k == "number" and float(o) == 1234.5 for s, p, o, k in engine)
    assert any(p == "Qty" and o == "x" and k == "string" for s, p, o, k in engine)
    assert any(p == "Unit Price" and o == "bad" and k == "string" for s, p, o, k in engine)


def _engine_and_oracle(spark, root, manifest, model_csv, instance_csvs):
    """Writes a corpus under ``root`` → (engine triples, oracle triples)."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
    from oracle_reference import oracle_triples

    (root / "model").mkdir()
    (root / "instances").mkdir()
    (root / "model" / "Model.csv").write_text(model_csv)
    for name, text in instance_csvs.items():
        (root / "instances" / name).write_text(text)
    m = Manifest.from_dict(manifest)
    vocab = compile_vocabulary(m, str(root))
    engine = {tuple(r) for r in build_instance_outputs(spark, m, vocab, str(root))[0].collect()}
    return engine, oracle_triples(m, vocab, str(root))


# two properties resolve to their camel key, F1 passes through raw; rows
# with an empty id, property or value emit nothing
GADGET_PROPS_CSV = """Gadget ID,Property ID,Property Value
G1,weight,3.5
G1,gadgetName,Widget
G2,F1,raw feature
G2,,skipped
,weight,skipped
G3,counts,
"""


@pytest.mark.parametrize("namespaced", [True, False], ids=["namespaced", "plain"])
def test_eav_step_matches_oracle(spark, tmp_path, namespaced):
    """R2 + J2: each EAV row emits its value under the resolved property
    key plus the class @type; engine triples equal the oracle's."""
    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["namespaceIris"] = namespaced
    manifest["instances"]["sequence"] = [
        {
            "path": "GadgetProps.csv",
            "@type": ["CSVImportStep", "PropertiesInstanceStep"],
            "instanceType": "Gadget",
        }
    ]
    engine, oracle = _engine_and_oracle(
        spark, tmp_path, manifest, MODEL_CSV, {"GadgetProps.csv": GADGET_PROPS_CSV}
    )
    assert engine == oracle, (
        f"engine-only={sorted(engine - oracle)[:6]} oracle-only={sorted(oracle - engine)[:6]}"
    )
    g1 = "gadget/G1" if namespaced else "G1"
    assert (g1, "weight", "3.5", "string") in engine
    assert (g1, "@type", "Gadget", "type") in engine
    assert any(p == "F1" for s, p, o, k in engine)
    assert not any(o == "skipped" for s, p, o, k in engine)


SUBCLASS_MODEL_CSV = """Class Name,Class Description,Property Name,Property Description,Type,Class Range,
Gadget,A gadget,Gadget ID,id,@id,,
Gadget,A gadget,Gadget Name,name,string,,
pocket gadget,A small gadget,Pocket Size,size,string,,
"""

# the Kind cell resolves to a class key (PascalCase) or passes through
# raw; an empty header column and rows with an empty id or kind drop out
GADGET_KINDS_CSV = """Gadget ID,Kind,Gadget Name,Notes,
G1,pocket gadget,Widget,n1,x
G2,Gadget,Sprocket,,
G3,Unknown Kind,Doodad,n3,
,Gadget,NoId,n4,
G4,,NoKind,n5,
"""


@pytest.mark.parametrize("namespaced", [True, False], ids=["namespaced", "plain"])
def test_subclass_step_matches_oracle(spark, tmp_path, namespaced):
    """R3 + J3: a SubClass row is typed with the parent class and its
    resolved subclass and keeps every other cell as a raw string; engine
    triples equal the oracle's."""
    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["namespaceIris"] = namespaced
    manifest["instances"]["sequence"] = [
        {
            "path": "GadgetKinds.csv",
            "@type": ["CSVImportStep", "SubClassInstanceStep"],
            "instanceType": "Gadget",
            "subClassProperty": "Kind",
        }
    ]
    engine, oracle = _engine_and_oracle(
        spark, tmp_path, manifest, SUBCLASS_MODEL_CSV, {"GadgetKinds.csv": GADGET_KINDS_CSV}
    )
    assert engine == oracle, (
        f"engine-only={sorted(engine - oracle)[:6]} oracle-only={sorted(oracle - engine)[:6]}"
    )
    g1 = "gadget/G1" if namespaced else "G1"
    assert (g1, "@type", "PocketGadget", "type") in engine
    assert (g1, "Notes", "n1", "string") in engine
    assert any(o == "Unknown Kind" and p == "@type" for s, p, o, k in engine)
    assert not any(o in ("NoId", "NoKind") for s, p, o, k in engine)


@pytest.mark.parametrize(
    "model_csv",
    ["Class ID,Class Name,Class Description\nThing,Thing,a thing\nBig Thing,Big,a big thing\n",
     "Class ID,Class Name,Class Description\n"],
    ids=["classes-only", "empty"],
)
def test_steps_over_vocabulary_without_properties(spark, tmp_path, model_csv):
    """EAV and SubClass steps over a SubClass-only vocabulary (no
    properties; in the empty model no classes either) resolve nothing and
    pass their cells through raw, as the oracle does."""
    manifest = json.loads(json.dumps(MANIFEST))
    manifest["model"]["sequence"] = [
        {
            "path": "Model.csv",
            "@type": ["CSVImportStep", "SubClassVocabularyStep"],
            "subClassOf": ["http://ex.com/terms/Thing"],
        }
    ]
    manifest["instances"]["sequence"] = [
        {
            "path": "ThingProps.csv",
            "@type": ["CSVImportStep", "PropertiesInstanceStep"],
            "instanceType": "Thing",
        },
        {
            "path": "ThingKinds.csv",
            "@type": ["CSVImportStep", "SubClassInstanceStep"],
            "instanceType": "Thing",
            "subClassProperty": "Kind",
            "overrides": [{"column": "Thing ID", "mapTo": "@id"}],
        },
    ]
    engine, oracle = _engine_and_oracle(
        spark, tmp_path, manifest, model_csv,
        {
            "ThingProps.csv": "Entity ID,Property ID,Property Value\nT1,size,big\nT2,color,red\n",
            "ThingKinds.csv": "Thing ID,Kind,Note\nT1,Big Thing,n1\nT2,Other,\n",
        },
    )
    assert engine == oracle, (
        f"engine-only={sorted(engine - oracle)[:6]} oracle-only={sorted(oracle - engine)[:6]}"
    )
    assert ("thing/T1", "size", "big", "string") in engine
    assert ("thing/T2", "@type", "Other", "type") in engine


def _final_plan(df) -> str:
    """The executed physical plan of a DataFrame that has run (with AQE,
    its final plan only)."""
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_each_step_is_one_scan(spark, tmp_path):
    """Each instance step reads its file once for its triples — a basic
    step's parent triples, pivot children and edges, or an EAV row's value
    and @type, come out of one explode — and a basic step at most once for
    its value violations, whose rules are one projection. The EAV property
    lookup is the only broadcast."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
    from oracle_reference import oracle_triples

    (tmp_path / "model").mkdir()
    (tmp_path / "instances").mkdir()
    (tmp_path / "model" / "Model.csv").write_text(MODEL_CSV + PIVOT_MODEL_CSV.split("\n", 1)[1])
    (tmp_path / "instances" / "Gadgets.csv").write_text(GADGETS_CSV)
    (tmp_path / "instances" / "Orders.csv").write_text(ORDERS_CSV)
    (tmp_path / "instances" / "GadgetProps.csv").write_text(GADGET_PROPS_CSV)
    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["sequence"] = [
        {
            "path": "Gadgets.csv",
            "@type": ["CSVImportStep", "BasicInstanceStep"],
            "instanceType": "Gadget",
        },
        {
            "path": "Orders.csv",
            "@type": ["CSVImportStep", "BasicInstanceStep"],
            "instanceType": "Order",
            "pivotColumns": [
                {
                    "instanceType": "OrderLine",
                    "newRelationshipProperty": "hasLines",
                    "columns": ["Qty", "has Item", "Unit Price"],
                }
            ],
        },
        {
            "path": "GadgetProps.csv",
            "@type": ["CSVImportStep", "PropertiesInstanceStep"],
            "instanceType": "Gadget",
        },
    ]
    m = Manifest.from_dict(manifest)
    vocab = compile_vocabulary(m, str(tmp_path))
    # scan nodes print their file path in full only under a longer limit,
    # which must hold while the plans are built and run
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        triples, violations = build_instance_outputs(spark, m, vocab, str(tmp_path))
        engine = {tuple(r) for r in triples.collect()}
        rules = {r.rule for r in violations.collect()}
        triples_plan, violations_plan = _final_plan(triples), _final_plan(violations)
    finally:
        spark.conf.set(key, old)
    assert engine == oracle_triples(m, vocab, str(tmp_path))
    assert {"value_validation", "picklist_validation", "header_validation"} <= rules

    def scans(plan, name):
        return sum(name in line for line in plan.splitlines() if "FileScan" in line)

    for name in ("Gadgets.csv", "Orders.csv", "GadgetProps.csv"):
        assert scans(triples_plan, name) == 1, (name, triples_plan)
    for name in ("Gadgets.csv", "Orders.csv"):
        assert scans(violations_plan, name) <= 1, (name, violations_plan)
    assert triples_plan.count("BroadcastExchange") == 1, triples_plan


def test_instances_without_steps_write_empty_document(spark, corpus, tmp_path):
    """An instances section with no steps is a valid manifest: the run
    writes the vocabulary and an instances.jsonld with no nodes."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["sequence"] = []
    m = Manifest.from_dict(manifest)
    assert m.validate() == []
    out = tmp_path / "out"
    outcome = Pipeline(m, corpus).run(spark, out)
    assert outcome.ok, outcome.errors
    assert outcome.counts == {"entities": 0, "triples": 0, "violations": 0}
    assert json.loads((out / "instances.jsonld").read_text())["insert"] == []
    assert (out / "vocabulary.jsonld").exists() and (out / "vocab_meta.json").exists()


def test_violations_lenient(spark, corpus):
    """A7 + J4: unknown header, failed Integer coercion, and picklist
    membership failures route to the violations DataFrame; Decimal
    fallback stays silent (reference value_processor.rs:106-114)."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs

    m = Manifest.from_dict(MANIFEST)
    vocab = compile_vocabulary(m, corpus)
    _, violations_df = build_instance_outputs(spark, m, vocab, corpus, strict=False)

    # A4: one_of accumulated from the PicklistStep rows, base-expanded
    assert vocab.classes["Color"].one_of == [
        "http://ex.com/ids/color/red",
        "http://ex.com/ids/color/blue",
    ]

    v = [(r.rule, r.subj, r.pred, r.value, r.severity) for r in violations_df.collect()]
    assert ("header_validation", None, "Mystery",
            "Unknown column found in CSV for class 'Gadget'", "warning") in [
        (r[0], r[1], r[2], r[3], r[4]) for r in v
    ]
    assert ("value_validation", "gadget/G1", "Counts", "x", "warning") in v
    # G3's picklist value 'green' is not in {red, blue}
    assert ("picklist_validation", "gadget/G3", "has Color", "color/green", "warning") in v
    # valid picklist values pass the broadcast anti-join
    assert not any(r[0] == "picklist_validation" and r[3] in ("color/red", "color/blue") for r in v)
    # Decimal fallback ('bad') must NOT warn — the reference is silent there
    assert not any(r[3] == "bad" for r in v)


@pytest.mark.parametrize("strict", [False, True])
def test_picklist_with_empty_enum(spark, corpus, strict):
    """A Picklist header whose class is found but has no PicklistStep
    rows: one "no picklist enums" row, then every value fails membership
    against the empty enum (value_processor.rs:189-206)."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs

    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["sequence"] = [
        s for s in manifest["instances"]["sequence"] if "PicklistStep" not in s["@type"]
    ]
    m = Manifest.from_dict(manifest)
    vocab = compile_vocabulary(m, corpus)
    _, violations_df = build_instance_outputs(spark, m, vocab, corpus, strict=strict)
    sev = "error" if strict else "warning"

    rows = [
        (r.subj, r.value, r.severity)
        for r in violations_df.where("rule = 'picklist_validation'").collect()
    ]
    assert sorted(rows, key=str) == sorted([
        (None, "Class match found (color) for picklist header but no "
               "picklist enums defined on class", sev),
        ("gadget/G1", "color/red", sev),
        ("gadget/G2", "color/blue", sev),
        ("gadget/G3", "color/green", sev),
    ], key=str)


def test_strict_mode_fails_run(spark, corpus, tmp_path):
    """Strict escalates violations to errors and the pipeline run fails
    (reference is_strict Err path); lenient run succeeds with warnings."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    m = Manifest.from_dict(MANIFEST)
    strict_out = Pipeline(m, corpus, strict=True).run(spark, tmp_path / "strict")
    assert not strict_out.ok
    assert any("picklist_validation" in e or "value_validation" in e for e in strict_out.errors)

    m2 = Manifest.from_dict(MANIFEST)
    lenient_out = Pipeline(m2, corpus, strict=False).run(spark, tmp_path / "lenient")
    assert lenient_out.ok
    assert lenient_out.warnings  # same issues, downgraded
    # violations parquet is always written
    viol = spark.read.parquet(str(tmp_path / "lenient" / "violations.parquet"))
    assert viol.count() >= 3
    # vocabulary export carries the accumulated f:oneOf
    import json as _json

    vocab_doc = _json.loads((tmp_path / "lenient" / "vocabulary.jsonld").read_text())
    color = next(c for c in vocab_doc["insert"]["f:classes"] if c["@id"].endswith("Color"))
    assert set(color["f:oneOf"]) == {
        "http://ex.com/ids/color/red",
        "http://ex.com/ids/color/blue",
    }


def test_vocab_meta_reload_identical(spark, corpus, tmp_path):
    """S5: a run driven by the exported vocab_meta.json (model phase
    skipped) must produce byte-identical outputs to the compiled run
    (vocabulary/processor.rs:64-133 round-trip)."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    out1, out2 = tmp_path / "o1", tmp_path / "o2"
    r1 = Pipeline(Manifest.from_dict(MANIFEST), corpus).run(spark, out1)
    assert r1.ok
    r2 = Pipeline(
        Manifest.from_dict(MANIFEST), corpus, vocab_meta=out1 / "vocab_meta.json"
    ).run(spark, out2)
    assert r2.ok
    for name in ("instances.jsonld", "vocabulary.jsonld", "vocab_meta.json"):
        assert (out1 / name).read_text() == (out2 / name).read_text(), name


def _run_counting_jobs(spark, corpus, out, single_document):
    """Pipeline.run under its own job group → (outcome, Spark jobs launched)."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    sc = spark.sparkContext
    group = f"pipeline-run:{out}"
    sc.setJobGroup(group, group)
    try:
        outcome = Pipeline(Manifest.from_dict(MANIFEST), corpus).run(
            spark, out, single_document=single_document
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return outcome, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def both_modes(spark, corpus, tmp_path_factory):
    """mode → (out dir, outcome, jobs) for the single-document and NDJSON sinks."""
    d = tmp_path_factory.mktemp("modes")
    return {
        mode: (d / mode, *_run_counting_jobs(spark, corpus, d / mode, mode == "document"))
        for mode in ("document", "ndjson")
    }


def test_ndjson_mode_matches_single_document(both_modes):
    """The NDJSON parts hold the single document's nodes (as a multiset),
    context.jsonld its @context, and both runs report the same counts."""
    doc_dir, doc_out, _ = both_modes["document"]
    nd_dir, nd_out, _ = both_modes["ndjson"]
    assert doc_out.ok and nd_out.ok
    doc = json.loads((doc_dir / "instances.jsonld").read_text())
    lines = [
        line
        for part in sorted(nd_dir.glob("instances_ndjson/bucket=*/part-*"))
        for line in part.read_text().splitlines()
    ]

    def canon(nodes):
        return sorted(json.dumps(n, sort_keys=True) for n in nodes)

    assert len(doc["insert"]) == doc_out.counts["entities"] == 5
    assert canon(json.loads(line) for line in lines) == canon(doc["insert"])
    assert json.loads((nd_dir / "context.jsonld").read_text())["@context"] == doc["@context"]
    assert nd_out.counts == doc_out.counts


def test_pipeline_run_job_ceiling(both_modes):
    """Triples, violations and nodes are each computed once per run, and no
    count or driver read runs a job of its own: a recompute of any of them,
    or a job-per-partition limit, brings the job count over the ceiling
    (7 on this corpus in both modes)."""
    jobs = {mode: n for mode, (_, _, n) in both_modes.items()}
    assert all(n <= 7 for n in jobs.values()), jobs


def test_violation_count_is_exact_past_10k(spark, corpus, tmp_path):
    """counts["violations"] is every violation written, not the first
    10,000 the warning and error messages are capped at."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    d = tmp_path / "big"
    shutil.copytree(corpus, d)
    header = GADGETS_CSV.splitlines()[0]
    rows = "".join(f"B{i},Name{i},red,,1,x{i},m\n" for i in range(10_050))
    (d / "instances" / "Gadgets.csv").write_text(f"{header}\n{rows}")

    for strict in (False, True):
        out = tmp_path / f"out-{strict}"
        outcome = Pipeline(Manifest.from_dict(MANIFEST), d, strict=strict).run(spark, out)
        written = spark.read.parquet(str(out / "violations.parquet")).count()
        assert written > 10_000
        assert outcome.counts["violations"] == written, strict
        assert len(outcome.errors if strict else outcome.warnings) == 10_000


@pytest.mark.parametrize("empty", ["model/Model.csv", "instances/Colors.csv", "instances/Gadgets.csv"])
def test_empty_csv_names_the_file(spark, corpus, tmp_path, empty):
    """A 0-byte model, picklist or basic-instance CSV fails the run with a
    ValueError that names the file, not a bare StopIteration."""
    from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

    d = tmp_path / "corpus"
    shutil.copytree(corpus, d)
    (d / empty).write_text("")
    with pytest.raises(ValueError, match="empty CSV, no header row") as err:
        Pipeline(Manifest.from_dict(MANIFEST), d).run(spark, tmp_path / "out")
    assert empty.split("/")[1] in str(err.value)


def test_eav_missing_property_column_names_it(spark, corpus, tmp_path):
    """A PropertiesInstanceStep CSV without its Property ID column fails
    with the column and the path, like the sibling steps' messages."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs

    d = tmp_path / "corpus"
    shutil.copytree(corpus, d)
    (d / "instances" / "GadgetProps.csv").write_text("Gadget ID,Property,Property Value\nG1,Weight,3\n")
    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["sequence"].append(
        {
            "path": "GadgetProps.csv",
            "@type": ["CSVImportStep", "PropertiesInstanceStep"],
            "instanceType": "Gadget",
        }
    )
    m = Manifest.from_dict(manifest)
    vocab = compile_vocabulary(m, str(d))
    with pytest.raises(ValueError, match="'Property ID' not found in .*GadgetProps.csv"):
        build_instance_outputs(spark, m, vocab, str(d))


@pytest.mark.parametrize("namespaced", [True, False], ids=["namespaced", "plain"])
def test_variable_syntax_in_header_matches_oracle(spark, tmp_path, namespaced):
    """A header that reads like a Spark variable, ``Gadget ${env:HOME}``,
    stays the predicate as written: the driver's environment does not leak
    into the triples."""
    manifest = json.loads(json.dumps(MANIFEST).replace("Gadget Name", "Gadget ${env:HOME}"))
    manifest["instances"]["namespaceIris"] = namespaced
    engine, oracle = _engine_and_oracle(
        spark, tmp_path, manifest, MODEL_CSV.replace("Gadget Name", "Gadget ${env:HOME}"),
        {"Colors.csv": COLORS_CSV,
         "Gadgets.csv": GADGETS_CSV.replace("Gadget Name", "Gadget ${env:HOME}")},
    )
    assert engine == oracle, (
        f"engine-only={sorted(engine - oracle)[:6]} oracle-only={sorted(oracle - engine)[:6]}"
    )
    g1 = "gadget/G1" if namespaced else "G1"
    assert (g1, "Gadget ${env:HOME}", "Widget", "string") in engine


@pytest.mark.parametrize("namespaced", [True, False], ids=["namespaced", "plain"])
def test_instance_outputs_hold_no_python_rdd(spark, tmp_path, namespaced):
    """The driver-built tables of the instance phase (the EAV and SubClass
    lookups, the driver-known violation rows) are LocalRelations: neither
    output's optimized plan scans a parallelized Python list, so reading
    them starts no Python worker."""
    from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs

    manifest = json.loads(json.dumps(MANIFEST))
    manifest["instances"]["namespaceIris"] = namespaced
    manifest["instances"]["sequence"] += [
        {
            "path": "GadgetProps.csv",
            "@type": ["CSVImportStep", "PropertiesInstanceStep"],
            "instanceType": "Gadget",
        },
        {
            "path": "GadgetKinds.csv",
            "@type": ["CSVImportStep", "SubClassInstanceStep"],
            "instanceType": "Gadget",
            "subClassProperty": "Kind",
        },
        # a picklist class the vocabulary lacks: one picklist_accumulation row
        {
            "path": "Shapes.csv",
            "@type": ["CSVImportStep", "PicklistStep"],
            "instanceType": "Shape",
            "overrides": [{"column": "Shape ID", "mapTo": "@id"}],
        },
    ]
    (tmp_path / "model").mkdir()
    (tmp_path / "instances").mkdir()
    (tmp_path / "model" / "Model.csv").write_text(
        MODEL_CSV + SUBCLASS_MODEL_CSV.splitlines()[-1] + "\n"
    )
    for name, text in {"Colors.csv": COLORS_CSV, "Gadgets.csv": GADGETS_CSV,
                       "GadgetProps.csv": GADGET_PROPS_CSV, "GadgetKinds.csv": GADGET_KINDS_CSV,
                       "Shapes.csv": "Shape ID\ns1\n"}.items():
        (tmp_path / "instances" / name).write_text(text)
    m = Manifest.from_dict(manifest)
    vocab = compile_vocabulary(m, str(tmp_path))
    triples, violations = build_instance_outputs(spark, m, vocab, str(tmp_path))

    for df in (triples, violations):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
        assert "LocalRelation" in plan, plan
    rules = {r.rule for r in violations.collect()}
    assert {"picklist_accumulation", "picklist_validation", "header_validation"} <= rules
    kinds = {(p, o) for s, p, o, k in triples.collect() if p == "@type"}
    assert ("@type", "PocketGadget") in kinds and ("@type", "Shape") in kinds
