"""End-to-end web-text KG pipeline: extraction+linking P/R vs the
generator's ground truth, skew strategy equivalence, resume ledger."""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark
from csv_to_jsonld_processor_spark.sources.pages import generate_pages, ground_truth_triples

N_PAGES = 400


@pytest.fixture(scope="module")
def spark():
    return get_spark("kg-pipeline")


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N_PAGES, seed=42, partitions=8).cache()


def _kg_names(edges_df):
    from pyspark.sql import functions as F

    base = "http://example.org/kg/terms/"
    return {
        (r.url, r.subj_name, r.pred.replace(base, ""), r.obj_name)
        for r in edges_df.select("url", "subj_name", "pred", "obj_name").collect()
    }


def _truth(spark):
    return {
        (r.url, r.subj, r.pred, r.obj)
        for r in ground_truth_triples(spark, N_PAGES, seed=42).collect()
    }


def test_kg_pr_broadcast(spark, pages):
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    got = _kg_names(build_kg(spark, pages)["edges"])
    want = _truth(spark)
    inter = got & want
    p = len(inter) / len(got)
    r = len(inter) / len(want)
    print(f"P={p:.4f} R={r:.4f} got={len(got)} want={len(want)}")
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.3f} R={r:.3f}; got-only={sorted(got - want)[:5]} want-only={sorted(want - got)[:5]}"
    )


def _join_linked_edges(spark, pages, strategy):
    """Edges through the unfused front end and the join-based linker:
    extract_mentions_from_html → link_mentions ×2 → canonicalize_edges."""
    from csv_to_jsonld_processor_spark.kg.graph import canonicalize_edges, predicate_context
    from csv_to_jsonld_processor_spark.kg.link import kb_alias_table, link_mentions
    from csv_to_jsonld_processor_spark.kg.mentions import extract_mentions_from_html
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, PREDICATES

    surfaces = [p[0] for p in PREDICATES]
    gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]
    kb = kb_alias_table(spark, ENTITIES)
    linked = extract_mentions_from_html(pages, surfaces, gazetteer)
    for side in ("subj_mention", "obj_mention"):
        linked = link_mentions(linked, kb, side, strategy=strategy)
    return canonicalize_edges(linked, predicate_context(PREDICATES))[0]


def _edge_rows(edges_df):
    return sorted(tuple(r) for r in edges_df.collect())


def test_kg_salted_shuffle_equals_broadcast(spark, pages):
    """The salted-shuffle join linker gives build_kg's fused edges."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    fused = _edge_rows(build_kg(spark, pages)["edges"])
    assert _edge_rows(_join_linked_edges(spark, pages, "salted_shuffle")) == fused
    assert fused


def test_kg_fused_equals_join(spark, pages):
    """The shuffle-free fused extract+link path must produce exactly the
    join-based linking output (same scoring, same tiebreaks)."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    fused = _edge_rows(build_kg(spark, pages)["edges"])
    assert _edge_rows(_join_linked_edges(spark, pages, "broadcast")) == fused
    assert fused


def test_build_kg_rejects_pages_without_html(spark, pages):
    """No html column is a call-time error naming the column, not a
    KeyError from a Python worker at the first action."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    with pytest.raises(ValueError, match="'html'"):
        build_kg(spark, pages.drop("html"))


def test_materialize_and_violations(spark, pages, tmp_path):
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    out = str(tmp_path / "kg")
    counts = build_kg(spark, pages, out_dir=out)["counts"]
    assert counts["edges"] > 0
    assert counts["entities"] > 0
    assert counts["predicates"] > 0
    # bucketed layout on disk
    assert any(d.startswith("bucket=") for d in os.listdir(f"{out}/edges"))
    # entity IRIs are namespaced class/kebab-name
    e = spark.read.parquet(f"{out}/entities").collect()
    assert all(r.iri.startswith("http://example.org/kg/ids/") for r in e)
    # the counts are observed during the writes: they match the tables on disk
    on_disk = {name: spark.read.parquet(f"{out}/{name}").count() for name in counts}
    assert counts == on_disk


def test_build_kg_out_dir_paths(spark, pages, tmp_path):
    """A relative ./ path and a file:// URI are paths, not table
    identifiers: each writes the same tables as an absolute path."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    want = build_kg(spark, pages, out_dir=str(tmp_path / "abs"))["counts"]
    # relative paths resolve against the JVM's working directory
    jvm_cwd = spark.sparkContext._jvm.java.lang.System.getProperty("user.dir")
    rel = "./" + os.path.relpath(str(tmp_path / "rel.out"), jvm_cwd)
    for out_dir, on_disk in ((rel, tmp_path / "rel.out"),
                             ((tmp_path / "uri.out").as_uri(), tmp_path / "uri.out")):
        assert build_kg(spark, pages, out_dir=out_dir)["counts"] == want, out_dir
        assert sorted(os.listdir(on_disk)) == sorted(want), out_dir


def test_build_kg_out_dir_job_ceiling(spark, pages, tmp_path):
    """The rule tables (context, domain/range, maxCount) are column
    expressions, not broadcast DataFrames, so none of them launches a
    job; the predicates table is counted while the edges are written and
    the cardinality check shuffles once. A warm build_kg(out_dir=) call
    runs 6 jobs: edges 1, entities 2, predicates 1, violations 2."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    build_kg(spark, pages, out_dir=str(tmp_path / "warm"))
    sc = spark.sparkContext
    group = f"build-kg:{tmp_path}"
    sc.setJobGroup(group, group)
    try:
        build_kg(spark, pages, out_dir=str(tmp_path / "kg"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 6, jobs


def test_literal_map_reads_missing_keys_as_null(spark):
    """A key the rule table lacks, a null key and any key of an empty
    table all look up null, as the left join against the table's rows did."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.graph import literal_map

    df = spark.createDataFrame([("a",), ("b",), (None,)], "k string")
    got = df.select("k", literal_map({"a": "x"})[F.col("k")].alias("v")).collect()
    assert sorted((r.k or "", r.v or "") for r in got) == [("", ""), ("a", "x"), ("b", "")]
    assert df.where(literal_map({})[F.col("k")].isNotNull()).count() == 0


def test_fused_graph_plans_have_no_join(spark, pages):
    """Canonicalize and the SHACL checks look the rule tables up per row:
    the fused edges and violations plans hold no join."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    out = build_kg(spark, pages)
    for name in ("edges", "violations"):
        plan = out[name]._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, (name, plan)


def test_build_kg_out_dir_runs_python_stage_once(spark, pages, tmp_path):
    """With out_dir every sink (edges, entities, and the three violation
    branches: canonicalize's rows, the row rules, cardinality) reads one
    computed linked relation: each page row crosses into the Python stage
    exactly once."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    log = str(tmp_path / "tap.log")

    def tap(batches):
        for batch in batches:
            with open(log, "a") as f:
                f.write(f"{len(batch)}\n")
            yield batch

    tapped = pages.mapInPandas(tap, schema=pages.schema)
    build_kg(spark, tapped, out_dir=str(tmp_path / "kg"))
    with open(log) as f:
        crossed = sum(int(line) for line in f)
    assert crossed == pages.count()


# The parquet schemas of the four sinks: (name, type, nullable) per
# column, the bucket partition column aside
SINK_SCHEMAS = {
    "edges": [
        ("subj", "string", True), ("pred", "string", True), ("obj", "string", True),
        ("subj_name", "string", True), ("subj_class", "string", True),
        ("obj_name", "string", True), ("obj_class", "string", True),
        ("url", "string", True), ("sent_idx", "int32", True),
    ],
    "entities": [("iri", "string", True), ("label", "string", True),
                 ("entity_class", "string", True)],
    "predicates": [("iri", "string", True), ("n_edges", "int64", False)],
    "violations": [
        ("stage", "string", False), ("rule", "string", False), ("subj", "string", True),
        ("pred", "string", True), ("value", "string", True), ("severity", "string", False),
    ],
}


def test_build_kg_sink_schemas(spark, pages, tmp_path):
    """The four tables keep their column names, types and nullability:
    the predicates counts written from the driver and the violation
    columns of the exploded row rules stay non-null."""
    import glob

    import pyarrow.parquet as pq

    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    out = str(tmp_path / "kg")
    build_kg(spark, pages, out_dir=out)
    for name, want in SINK_SCHEMAS.items():
        files = sorted(glob.glob(f"{out}/{name}/**/*.parquet", recursive=True))
        schema = pq.read_schema(files[0])
        assert [(f.name, str(f.type), f.nullable) for f in schema] == want, name


def test_materialize_graph_rejects_predicate_outside_vocabulary(spark, tmp_path):
    """The predicates table is counted per vocabulary predicate: an edge
    whose predicate is not in ``predicates`` is an error, not a row
    silently left out of the table."""
    from csv_to_jsonld_processor_spark.kg.graph import (
        KG_IDS,
        KG_TERMS,
        materialize_graph,
        validate_node_iris,
    )

    person, org = f"{KG_IDS}person/a", f"{KG_IDS}organization/b"
    edges = spark.createDataFrame(
        [
            (person, f"{KG_TERMS}worksFor", org, "A", "Person", "B", "Organization", "u", 0),
            (person, f"{KG_TERMS}marriedTo", org, "A", "Person", "B", "Organization", "u", 1),
        ],
        "subj string, pred string, obj string, subj_name string, subj_class string, "
        "obj_name string, obj_class string, url string, sent_idx int",
    )
    with pytest.raises(ValueError, match="vocabulary"):
        materialize_graph(edges, validate_node_iris(edges), str(tmp_path / "kg"))


@pytest.mark.parametrize("empty", ["limit_0", "no_en_page"])
def test_build_kg_out_dir_empty_input(spark, pages, tmp_path, empty):
    """Zero input rows (or zero English pages) write empty tables and
    report zero counts instead of failing to read back a partitioned
    table that has no files."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    src = pages.limit(0) if empty == "limit_0" else pages.where(F.col("lang") != "en")
    counts = build_kg(spark, src, out_dir=str(tmp_path / "kg"))["counts"]
    assert counts == {"edges": 0, "entities": 0, "predicates": 0, "violations": 0}


def test_resume_ledger_identical_output(spark, pages, tmp_path):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.lineage import completed_parts, run_stage
    from csv_to_jsonld_processor_spark.kg.mentions import extract_mentions_from_html
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, PREDICATES

    surfaces = [p[0] for p in PREDICATES]
    gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]

    def stage(df):
        return extract_mentions_from_html(df, surfaces, gazetteer)

    # full run
    full_out = str(tmp_path / "full_out")
    full_ledger = str(tmp_path / "full_ledger")
    full = run_stage(spark, "mentions", pages, stage, full_out, full_ledger, n_parts=8)
    full_set = {tuple(r) for r in full.drop("part_id").collect()}

    # killed run: crashes after 3 partitions
    part_out = str(tmp_path / "part_out")
    part_ledger = str(tmp_path / "part_ledger")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_stage(
            spark, "mentions", pages, stage, part_out, part_ledger, n_parts=8, fail_after_parts=3
        )
    assert len(completed_parts(spark, part_ledger, "mentions")) == 3

    # resume: processes exactly the remaining 5 partitions
    resumed = run_stage(spark, "mentions", pages, stage, part_out, part_ledger, n_parts=8)
    assert len(completed_parts(spark, part_ledger, "mentions")) == 8
    resumed_set = {tuple(r) for r in resumed.drop("part_id").collect()}
    assert resumed_set == full_set

    # ledger carries per-partition counters
    ledger = spark.read.parquet(part_ledger)
    assert ledger.where(F.col("rows_out") > 0).count() > 0


def test_violations_routes(spark, pages):
    """A7 analog: link failures and unknown predicates become data, not
    exceptions — KB gap → unlinked_subject; context gap → unknown_predicate."""
    from csv_to_jsonld_processor_spark.kg.graph import canonicalize_edges, predicate_context
    from csv_to_jsonld_processor_spark.kg.link import kb_alias_table, link_mentions
    from csv_to_jsonld_processor_spark.kg.mentions import extract_mentions_from_html
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, PREDICATES

    surfaces = [p[0] for p in PREDICATES]
    gaz = [a for _c, als, _k in ENTITIES for a in als]
    kb = kb_alias_table(spark, [e for e in ENTITIES if e[0] != "Alan Turing"])
    m = extract_mentions_from_html(pages, surfaces, gaz)
    linked = link_mentions(link_mentions(m, kb, "subj_mention"), kb, "obj_mention")
    ctx = {k: v for k, v in predicate_context(PREDICATES).items() if k != "acquired"}
    edges, viol = canonicalize_edges(linked, ctx)
    rules = {r.rule for r in viol.select("rule").distinct().collect()}
    assert "unlinked_subject" in rules
    assert "unknown_predicate" in rules
    assert edges.count() > 0


def test_resume_after_crash_before_ledger_commit(spark, pages, tmp_path):
    """Crash in the window between the partition data write and the
    ledger append must NOT duplicate rows on resume: dynamic partition
    overwrite replaces the unledgered partitions instead of appending."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.lineage import completed_parts, run_stage
    from csv_to_jsonld_processor_spark.kg.mentions import extract_mentions_from_html
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, PREDICATES

    surfaces = [p[0] for p in PREDICATES]
    gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]

    def stage(df):
        return extract_mentions_from_html(df, surfaces, gazetteer)

    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    # run writes ALL partition data, then dies before any ledger commit
    with pytest.raises(RuntimeError, match="between data write and ledger"):
        run_stage(spark, "mentions", pages, stage, out, ledger, n_parts=8,
                  fail_before_ledger=True)
    assert completed_parts(spark, ledger, "mentions") == set()

    # resume reprocesses everything; totals must equal a clean run (no dupes)
    resumed = run_stage(spark, "mentions", pages, stage, out, ledger, n_parts=8)
    clean = run_stage(
        spark, "mentions", pages, stage, str(tmp_path / "clean_out"),
        str(tmp_path / "clean_ledger"), n_parts=8,
    )
    assert resumed.count() == clean.count()
    r = {tuple(x) for x in resumed.drop("part_id").collect()}
    c = {tuple(x) for x in clean.drop("part_id").collect()}
    assert r == c


def test_shacl_cardinality_and_node_kind(spark, pages):
    """sh:maxCount fires on conflicting functional facts (the generator
    draws objects independently, so multi-birthPlace subjects exist);
    sh:nodeKind is a structural invariant of canonicalization — zero
    rows on pipeline output, but it must catch injected foreign rows."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.graph import validate_node_iris
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

    res = build_kg(spark, pages)
    by_rule = {
        (r.stage, r.rule): r.n
        for r in res["violations"].groupBy("stage", "rule").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_rule.get(("shacl_cardinality", "max_count_exceeded"), 0) > 0
    assert not any(s == "shacl_node_kind" for s, _ in by_rule)

    # injected foreign edge rows: each nodeKind rule must fire
    bad = spark.createDataFrame(
        [
            ("not-an-iri", "http://example.org/kg/terms/worksFor",
             "http://example.org/kg/ids/place/x", "n", "C", "n", "C", "u", 0),
            ("http://example.org/kg/ids/person/a", "urn:other:pred",
             "http://example.org/kg/ids/place/x", "n", "C", "n", "C", "u", 0),
            ("http://example.org/kg/ids/person/a", "http://example.org/kg/terms/worksFor",
             "relative/too/deep/x", "n", "C", "n", "C", "u", 0),
        ],
        "subj string, pred string, obj string, subj_name string, subj_class string, "
        "obj_name string, obj_class string, url string, sent_idx int",
    )
    rules = {r.rule for r in validate_node_iris(bad).collect()}
    assert rules == {"subj_not_id_iri", "pred_not_term_iri", "obj_not_id_iri"}


def test_kg_stream_equals_batch(spark, pages, tmp_path):
    """Incremental construction: the stateless KG stages run as a
    Structured Streaming job (file source, availableNow drain) and must
    produce exactly the batch edge set."""
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg
    from csv_to_jsonld_processor_spark.streaming.kgstream import kg_edges_stream

    d = str(tmp_path / "pages_stream")
    pages.repartition(4).write.mode("overwrite").parquet(d)

    batch = {tuple(r) for r in build_kg(spark, spark.read.parquet(d))["edges"].collect()}
    streamed = {tuple(r) for r in kg_edges_stream(spark, d).collect()}
    assert streamed == batch and len(batch) > 0


def test_resumable_pipeline_equals_batch(spark, pages, tmp_path):
    """Full-pipeline resume: kill the chained run mid-stage-2, resume
    with the same work_dir, and require the exact batch edge set. The
    ledger must show all three stages complete only after the resume."""
    from csv_to_jsonld_processor_spark.kg.lineage import completed_parts
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg, build_kg_resumable

    work = str(tmp_path / "kg_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_kg_resumable(spark, pages, work, n_parts=8, fail_at=("linked", 3))
    ledger = f"{work}/ledger"
    assert len(completed_parts(spark, ledger, "mentions")) == 8
    assert len(completed_parts(spark, ledger, "linked")) == 3
    assert len(completed_parts(spark, ledger, "edges")) == 0

    resumed = build_kg_resumable(spark, pages, work, n_parts=8)
    assert len(completed_parts(spark, ledger, "edges")) == 8

    batch = build_kg(spark, pages)["edges"]
    cols = ["url", "sent_idx", "subj", "pred", "obj"]
    a = {tuple(r) for r in resumed["edges"].select(*cols).collect()}
    b = {tuple(r) for r in batch.select(*cols).collect()}
    assert a == b and len(a) > 0

    # violations recomputed post-hoc must cover the same rule families
    rules = {r.rule for r in resumed["violations"].select("rule").distinct().collect()}
    batch_rules = {
        r.rule for r in build_kg(spark, pages)["violations"].select("rule").distinct().collect()
    }
    assert rules == batch_rules


def test_kg_windowed_stream_agg_equals_batch(spark, pages, tmp_path):
    """Stateful streaming KG aggregation: watermarked per-(day window,
    pred) edge counts drained over a file stream must equal the batch
    counts computed independently (build_kg edges joined back to pages
    for crawl time)."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg
    from csv_to_jsonld_processor_spark.streaming.kgstream import (
        kg_edge_window_counts_stream,
    )

    d = str(tmp_path / "pages_winstream")
    pages.repartition(4).write.mode("overwrite").parquet(d)

    streamed = {
        (r.window_start, r.pred, r.n_edges)
        for r in kg_edge_window_counts_stream(spark, d).collect()
    }

    pages_ts = spark.read.parquet(d).select("url", "warc_ts")
    batch = {
        (r.window_start, r.pred, r.n_edges)
        for r in (
            build_kg(spark, spark.read.parquet(d))["edges"]
            .join(pages_ts, "url")
            .groupBy(F.window("warc_ts", "1 day").alias("w"), "pred")
            .agg(F.count(F.lit(1)).alias("n_edges"))
            .select(F.col("w.start").alias("window_start"), "pred", "n_edges")
        ).collect()
    }
    assert streamed == batch and len(batch) > 5


def test_triangle_degree_orientation(spark):
    """Degree orientation: identical per-corner triangle counts as id
    orientation, and bounded wedge fan-out on a planted hub graph.

    Graph: one id-MIDDLE hub ("m_hub") adjacent to 30 lower-id and 30
    higher-id leaves, plus two closing edges for non-trivial triangle
    counts. Under id ordering the 30 low leaves point INTO the hub and
    the hub points at the 30 high leaves, so the wedge join routes
    30 x 30 = 900 pairs through the hub; under degree ordering the hub
    ranks ABOVE all its neighbors, its out-degree is 0, and hub wedges
    vanish."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.queries import _oriented_triangle_corners

    hub = "m_hub"  # id-middle: "a.." leaves sort below, "z.." leaves above
    rows = [(hub, f"a{i:02d}") for i in range(30)]
    rows += [(hub, f"z{i:02d}") for i in range(30)]
    rows += [("a00", "a01"), ("z00", "z01")]  # triangles hub-a00-a01, hub-z00-z01
    und = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in rows], "a string, b string"
    ).distinct()

    def counts(orientation):
        return {
            (r.term, r.n)
            for r in _oriented_triangle_corners(und, orientation)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    by_deg, by_id = counts("degree"), counts("id")
    assert by_deg == by_id
    assert (hub, 2) in by_deg  # hub is in exactly the two planted triangles

    def wedges(oriented_src_count_df):
        # wedge fan-out of the e1 ⋈ e2 middle join = Σ_v indeg(v)·outdeg(v)
        e = oriented_src_count_df
        out_d = e.groupBy(F.col("src").alias("v")).agg(F.count(F.lit(1)).alias("o"))
        in_d = e.groupBy(F.col("dst").alias("v")).agg(F.count(F.lit(1)).alias("i"))
        row = (
            out_d.join(in_d, "v")
            .agg(F.sum(F.col("o") * F.col("i")).alias("w"))
            .first()
        )
        return row["w"] or 0

    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    deg_oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    id_oriented = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    w_deg, w_id = wedges(deg_oriented), wedges(id_oriented)
    # id orientation: the hub's indeg(30) x outdeg(30) alone routes 900
    # wedges through the middle join; degree orientation gives the hub
    # out-degree 0, so only the leaf-level wedges survive.
    assert w_id >= 900  # planted blow-up is present under id ordering
    assert w_deg * 50 <= w_id  # >=50x fan-out reduction from degree orientation


def test_fuzzy_link_recovers_planted_typos(spark):
    """fuzzy_link_best over a distinctive wordlist: every planted
    single-deletion probe must link back to its own original (q-gram
    blocking keeps >=1 shared gram after one deletion when len>=5 and
    q=3), and the hot-gram cap must bound blocking fan-out without
    losing recall on tokens that still carry a rare gram."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.queries import fuzzy_link_best

    # 200 distinctive words: 'wordXYZab' style, pairwise edit distance > 2
    vocab = spark.range(200).select(
        F.concat(
            F.lit("tok"),
            F.lpad(F.col("id").cast("string"), 3, "0"),
            F.substring(F.md5(F.col("id").cast("string")), 1, 4),
        ).alias("tok")
    )
    probes, best = fuzzy_link_best(vocab)
    got = (
        probes.join(best.select("orig", "cand", "dist"), "orig", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("cand") == F.col("orig")).cast("int")).alias("n_correct"),
        )
        .first()
    )
    assert got["n"] == 200
    assert got["n_correct"] == 200  # every typo recovered

    # hot-gram cap: 'tok' + digit grams are shared by ~all 200 words;
    # capping at 50 drops them, yet the md5 suffix grams are rare, so
    # recall holds while the candidate pair count shrinks.
    p_u, b_u = fuzzy_link_best(vocab)
    p_c, b_c = fuzzy_link_best(vocab, gram_cap=50)
    n_correct_capped = (
        p_c.join(b_c.select("orig", "cand"), "orig", "left")
        .where(F.col("cand") == F.col("orig"))
        .count()
    )
    assert n_correct_capped == 200


def test_kcore_reaches_fixpoint_and_mincut_degree(spark):
    """The fixed 12-round peel must reach the true 3-core at gate scale:
    a 13th peel removes nothing, every core vertex has in-core degree
    >= K, and the peel genuinely cascaded (core < initial graph)."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.queries import (
        KCORE_K,
        _purchase_edges,
        kg_kcore,
    )

    sf = "/root/testdata/sf0.001"
    hist = kg_kcore(spark, sf).collect()
    assert hist, "3-core is empty at sf0.001 — peel parameters degenerate"
    # min degree in the core is >= K on both sides
    assert min(r["degree"] for r in hist) >= KCORE_K
    # cascade happened: core vertex count < initial vertex count
    e0 = _purchase_edges(spark, sf)
    n0 = (
        e0.select(F.col("a").alias("v"))
        .unionAll(e0.select(F.col("b").alias("v")))
        .distinct()
        .count()
    )
    n_core = sum(r["n_vertices"] for r in hist)
    assert n_core < n0


def test_random_walks_cover_every_start_and_stay_bounded(spark):
    """Every customer vertex yields exactly one completed walk (inner
    steps never drop a frontier row — each vertex in the edge set has a
    neighbor), and distinct-vertex counts stay within the 2..L+1 range
    a 4-step bipartite walk allows."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.queries import (
        WALK_STEPS,
        _purchase_edges,
        kg_random_walks,
    )

    sf = "/root/testdata/sf0.001"
    hist = kg_random_walks(spark, sf).collect()
    e = _purchase_edges(spark, sf)
    n_cust = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .where(F.col("v").startswith("c"))
        .distinct()
        .count()
    )
    assert sum(r["n_walks"] for r in hist) == n_cust
    for r in hist:
        assert 2 <= r["n_distinct_vertices"] <= WALK_STEPS + 1
        assert r["n_terminals"] <= r["n_walks"]


def test_anchor_labels_match_truth_and_alias_inventory(spark):
    """The elected label per entity equals the truth-derived golden AND
    is a legal alias of that entity (catches surface corruption that a
    count-only check would miss)."""
    import csv as _csv

    from csv_to_jsonld_processor_spark.kg.queries import _GOLDEN_LABELS, kg_anchor_labels
    from csv_to_jsonld_processor_spark.sources.pages import ENTITIES

    aliases = {canonical: set(al) for canonical, al, _cls in ENTITIES}
    got = kg_anchor_labels(spark, "/root/testdata/sf0.001").collect()
    with open(_GOLDEN_LABELS) as f:
        want = {r["entity"]: r for r in _csv.DictReader(f)}
    assert len(got) == len(want)
    for r in got:
        w = want[r["entity"]]
        assert r["anchor_label"] == w["anchor_label"]
        assert r["anchor_label"] in aliases[r["entity"]]
        assert r["n_total_mentions"] == int(w["n_total_mentions"])


def test_label_propagation_partitions_vertices(spark):
    """LPA output is a partition of the vertex set: community sizes sum
    to |V|, and a rerun under a different shuffle partitioning gives the
    identical histogram (synchronous updates + min-label tie-break make
    the operator partitioning-independent)."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.queries import (
        _purchase_edges,
        kg_label_propagation,
    )

    sf = "/root/testdata/sf0.001"
    hist = kg_label_propagation(spark, sf).collect()
    e = _purchase_edges(spark, sf)
    n_v = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .distinct()
        .count()
    )
    assert sum(r["community_size"] * r["n_communities"] for r in hist) == n_v
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        hist2 = kg_label_propagation(spark, sf).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(map(tuple, hist)) == sorted(map(tuple, hist2))


def test_link_prediction_matches_bruteforce(spark):
    """Exact brute-force recompute of the capped resource-allocation
    top-k in plain Python at gate scale — pins the hub cap, the
    fixed-point weight, and the tie-break ordering."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from csv_to_jsonld_processor_spark.kg.queries import (
        RA_DEG_CAP,
        RA_SCALE,
        RA_TOPK,
        _purchase_edges,
        kg_link_prediction,
    )

    sf = "/root/testdata/sf0.001"
    edges = _purchase_edges(spark, sf).collect()
    by_part = defaultdict(set)
    for r in edges:
        by_part[r["b"]].add(r["a"])
    score = Counter()
    n_common = Counter()
    for part, custs in by_part.items():
        d = len(custs)
        if not (2 <= d <= RA_DEG_CAP):
            continue
        w = RA_SCALE // d
        for a, b in combinations(sorted(custs), 2):
            score[(a, b)] += w
            n_common[(a, b)] += 1
    want = sorted(score, key=lambda p: (-score[p], p))[:RA_TOPK]
    got = kg_link_prediction(spark, sf).collect()
    assert [(r["cust_a"], r["cust_b"]) for r in got] == want
    for r in got:
        assert r["ra_score_fp"] == score[(r["cust_a"], r["cust_b"])]
        assert r["n_common_parts"] == n_common[(r["cust_a"], r["cust_b"])]


def test_blocking_quality_matches_python_recompute(spark):
    """Both blocking schemes re-derived in plain Python (hashlib only)
    must agree with the engine exactly, and the audit must show the
    canonical trade: q-gram blocking keeps EVERY planted truth pair
    (deletions always leave a shared trigram at word length 9) while
    prefix blocking loses exactly the probes whose deletion landed
    inside the prefix — higher reduction, broken completeness."""
    import hashlib

    import duckdb

    from csv_to_jsonld_processor_spark.kg.queries import (
        BLOCKING_PREFIX_LEN,
        FUZZY_QGRAM,
        kg_blocking_quality,
    )

    sf = "/root/testdata/sf0.001"
    md5 = lambda x: hashlib.md5(x.encode()).hexdigest()
    tr = str.maketrans("0123456789abcdef", "abcdefghijklmnop")
    ids = [
        str(r[0])
        for r in duckdb.sql(f"SELECT doc_id FROM read_parquet('{sf}/documents.parquet')").fetchall()
    ]
    vocab = sorted({md5("bw:" + d)[:9].translate(tr) for d in ids})
    probes = {}
    for tok in vocab:
        p = int(md5(tok)[:8], 16) % len(tok)
        probes[tok] = tok[:p] + tok[p + 1 :]

    def grams(w):
        return {w[i : i + FUZZY_QGRAM] for i in range(len(w) - FUZZY_QGRAM + 1)}

    want = {}
    qpairs = {
        (o, c) for o, d in probes.items() for c in vocab if grams(d) & grams(c)
    }
    ppairs = {
        (o, c)
        for o, d in probes.items()
        for c in vocab
        if d[:BLOCKING_PREFIX_LEN] == c[:BLOCKING_PREFIX_LEN]
    }
    n = len(vocab)
    for scheme, pairs in (("qgram", qpairs), (f"prefix{BLOCKING_PREFIX_LEN}", ppairs)):
        kept = sum(1 for o, c in pairs if o == c)
        want[scheme] = (
            n, n, len(pairs),
            10000 * (n * n - len(pairs)) // (n * n),
            10000 * kept // n,
        )
    got = {
        r.scheme: (r.n_probes, r.n_vocab, r.n_cand_pairs, r.reduction_bp, r.completeness_bp)
        for r in kg_blocking_quality(spark, sf).collect()
    }
    assert got == want
    assert got["qgram"][4] == 10000, "q-gram must keep every truth pair"
    pfx = got[f"prefix{BLOCKING_PREFIX_LEN}"]
    assert pfx[4] < 7000, "prefix blocking must lose in-prefix deletions"
    assert pfx[3] > got["qgram"][3], "prefix reduction must be higher"


def test_incremental_maintenance_equals_full_rebuild(spark):
    """IVM exactness: splicing the re-extraction of the changed batch
    into the old edge table must reproduce the full rebuild of the
    post-recrawl corpus as a multiset — page-granular replacement is
    exact because a page's edges are a function of that page alone."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.incremental import (
        maintain_edges_incremental,
    )
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg
    from csv_to_jsonld_processor_spark.sources.pages import (
        generate_pages,
        generate_recrawled_pages,
    )

    n = 200
    cols = ["url", "sent_idx", "subj", "pred", "obj"]
    base_pages = generate_pages(spark, n, seed=42, partitions=4)
    edges_base = build_kg(spark, base_pages)["edges"].select(*cols)
    changed = generate_recrawled_pages(spark, n, mod=10, residue=3, partitions=4)
    incr = maintain_edges_incremental(spark, edges_base, changed)

    updated_pages = base_pages.where((
        F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long") % 10) != 3
    ).unionByName(changed)
    rebuilt = build_kg(spark, updated_pages)["edges"].select(*cols)

    assert incr.count() == rebuilt.count()
    assert incr.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(incr).count() == 0
    # the batch really changed something: some url's edges differ
    assert incr.exceptAll(edges_base).count() > 0


def test_lake_cdc_drives_incremental_kg(spark, tmp_path):
    """The full steady-state loop: pages live in the snapshot table; a
    recrawl batch lands via MERGE (merge-on-read); the CHANGELOG —
    not any out-of-band knowledge — identifies the changed pages; only
    those re-extract and splice into the edge table. Result must equal
    a full rebuild of the table's CURRENT state."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.kg.incremental import (
        maintain_edges_incremental,
    )
    from csv_to_jsonld_processor_spark.kg.pipeline import build_kg
    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        merge_rows_mor,
        read_changes,
        read_snapshot_mor,
    )
    from csv_to_jsonld_processor_spark.sources.pages import (
        generate_pages,
        generate_recrawled_pages,
    )

    n = 150
    cols = ["url", "sent_idx", "subj", "pred", "obj"]
    table = str(tmp_path / "pages")
    commit_snapshot(spark, generate_pages(spark, n, seed=42, partitions=4), table)
    edges = build_kg(spark, read_snapshot_mor(spark, table, 0))["edges"].select(*cols)

    batch = generate_recrawled_pages(spark, n, mod=10, residue=3, partitions=4)
    m = merge_rows_mor(spark, table, batch, "url")

    # changed pages = the changelog's INSERT images — nothing external
    changed = read_changes(spark, table, 0, m).where(
        F.col("_change_type") == "insert"
    ).drop("_change_type")
    incr = maintain_edges_incremental(spark, edges, changed)

    rebuilt = build_kg(spark, read_snapshot_mor(spark, table, m))["edges"].select(*cols)
    assert incr.count() == rebuilt.count()
    assert incr.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(incr).count() == 0
