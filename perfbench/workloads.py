"""The benchmark's workloads, each driven through the package's public
entry points.

A workload object owns its inputs and exposes:

- ``prepare()``: writes the seeded inputs and computes the oracle the
  outputs are checked against;
- ``warm_up()``: one untimed call, so class loading, JIT and Python-worker
  start-up are paid in set-up. Its output is checked against the oracle
  and becomes the reference every later call must reproduce exactly;
- ``call(i)``: the timed call; returns the number of triples written;
- ``check(i)``: verifies what call ``i`` wrote, raising ``CheckFailed``;
- ``trace(span)``: the traced run. It calls each layer's public
  function in turn, each inside ``span(<module>.<name>)``, and returns
  the layer values it measured itself;
- ``from_event_log(groups)``: the workload's own values read from the
  traced run's event log (the generic per-layer sums are added by the caller).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from pathlib import Path

import corpus

KG_PAGES = 4000
KG_FILES = 8
MANIFEST_ROWS = 500
ARROW_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch
DRIVER_SAMPLE = 200
N_PARTS = 16  # build_kg_resumable's default partition count
CRASH_AFTER_PARTS = 6


class CheckFailed(Exception):
    pass


def _us_per_item(run_once, items: int, reps: int = 5) -> float:
    """Median over ``reps`` calls of ``run_once``, which handles ``items``
    items, of the time per item in µs."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        run_once()
        times.append((time.perf_counter() - t0) / items * 1e6)
    return statistics.median(times)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _sha256(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


class KGMaterialize:
    """``build_kg(spark, pages, out_dir=…)`` over a parquet page corpus."""

    # module prefixes of the layers this workload runs; the traced run
    # reports 0 for every other layer's metrics
    LAYERS = ("sources.pages.", "extract.", "kg.", "trace.")
    # the spans that together redo one build_kg call, layer by layer
    STAGED = ("kg.mentions.fused", "kg.graph.canonicalize", "kg.graph.validate",
              "kg.graph.materialize")

    def __init__(self, spark, work: Path, seed: int, pages: int = KG_PAGES):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_pages = pages
        self.pages_dir = str(work / "pages")
        self.ref: tuple[int, str] | None = None
        self.truth: set[tuple] = set()
        self.counts: dict[str, int] = {}

    def prepare(self) -> None:
        from csv_to_jsonld_processor_spark.sources.pages import (
            generate_pages,
            ground_truth_triples,
        )

        generate_pages(self.spark, self.n_pages, seed=self.seed, partitions=KG_FILES) \
            .write.parquet(self.pages_dir)
        self.truth = {
            (r.url, r.subj, r.pred, r.obj)
            for r in ground_truth_triples(self.spark, self.n_pages, self.seed).collect()
        }

    def _pages(self):
        return self.spark.read.parquet(self.pages_dir)

    def warm_up(self) -> None:
        self.call("warm")
        self.check("warm")

    def _out(self, i) -> str:
        return str(self.work / f"kg_{i}")

    def call(self, i) -> int:
        from csv_to_jsonld_processor_spark.kg.pipeline import build_kg

        return build_kg(self.spark, self._pages(), out_dir=self._out(i))["counts"]["edges"]

    def edge_digest(self, edges_path: str) -> tuple[int, str]:
        """(row count, order-independent sum of row hashes) of an edges table."""
        from pyspark.sql import functions as F

        row_hash = F.xxhash64("subj", "pred", "obj", "url", "sent_idx").cast("decimal(38,0)")
        r = self.spark.read.parquet(edges_path).agg(
            F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")
        ).first()
        return int(r.n), str(r.h)

    def _check_pr(self, edges_path: str) -> None:
        from csv_to_jsonld_processor_spark.kg.graph import KG_TERMS

        got = {
            (r.url, r.subj_name, r.pred.replace(KG_TERMS, ""), r.obj_name)
            for r in self.spark.read.parquet(edges_path)
            .select("url", "subj_name", "pred", "obj_name").collect()
        }
        inter = got & self.truth
        p = len(inter) / len(got) if got else 0.0
        r = len(inter) / len(self.truth) if self.truth else 0.0
        if p < 0.95 or r < 0.95:
            raise CheckFailed(f"edges P={p:.4f} R={r:.4f} against the generator's ground truth")

    def check(self, i) -> None:
        edges = f"{self._out(i)}/edges"
        digest = self.edge_digest(edges)
        if self.ref is None:
            self._check_pr(edges)
            self.ref = digest
        elif digest != self.ref:
            raise CheckFailed(f"edges {digest} differ from the first run's {self.ref}")
        shutil.rmtree(self._out(i), ignore_errors=True)

    # -- traced run ----------------------------------------------------------

    def trace(self, span) -> dict[str, float]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from csv_to_jsonld_processor_spark.extract import extract_text
        from csv_to_jsonld_processor_spark.kg.graph import (
            canonicalize_edges,
            materialize_graph,
            predicate_context,
            validate_cardinality,
            validate_edges,
            validate_node_iris,
        )
        from csv_to_jsonld_processor_spark.kg.lineage import completed_parts, run_stage
        from csv_to_jsonld_processor_spark.kg.link import (
            kb_alias_table,
            kb_index,
            link_mentions,
            resolve_mention,
        )
        from csv_to_jsonld_processor_spark.kg.mentions import (
            extract_link_from_html,
            extract_mentions_from_html,
        )
        from csv_to_jsonld_processor_spark.kg.pipeline import DOMAIN_RANGE, MAX_COUNTS
        from csv_to_jsonld_processor_spark.sources.pages import ENTITIES, PREDICATES

        spark, st = self.spark, self.work / "staged"
        surfaces = [p[0] for p in PREDICATES]
        gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]
        ctx = predicate_context(PREDICATES)
        idx, kb = kb_index(ENTITIES), kb_alias_table(spark, ENTITIES)
        out: dict[str, float] = {}
        read = spark.read.parquet

        def link_both(df):
            return link_mentions(link_mentions(df, kb, "subj_mention"), kb, "obj_mention")

        # the whole call as a user runs it; the layers below re-run it staged
        with span("e2e"):
            self.call("e2e")
        self.check("e2e")

        with span("sources.pages.scan"):
            self._pages().write.format("noop").mode("overwrite").save()
        # Spark's task input metrics count only part of a parquet read here,
        # so the scan's input is the size of the files it reads
        out["sources.pages.input_bytes"] = _dir_bytes(self.pages_dir)

        # build_kg's fused path: one Python stage, then the JVM graph layers
        with span("kg.mentions.fused"):
            extract_link_from_html(self._pages(), surfaces, gazetteer, idx) \
                .write.parquet(str(st / "linked_fused"))
        out["kg.mentions.fused_rows_out"] = read(str(st / "linked_fused")).count()

        with span("kg.graph.canonicalize"):
            edges, viol = canonicalize_edges(read(str(st / "linked_fused")), ctx)
            edges.write.parquet(str(st / "edges"))
            viol.write.parquet(str(st / "viol_canon"))
        edges = read(str(st / "edges"))
        with span("kg.graph.validate"):
            validate_edges(edges, DOMAIN_RANGE) \
                .unionByName(validate_cardinality(edges, MAX_COUNTS)) \
                .unionByName(validate_node_iris(edges)) \
                .write.parquet(str(st / "viol_shacl"))
        viol = read(str(st / "viol_canon")).unionByName(read(str(st / "viol_shacl")))
        out["kg.graph.violations_rows"] = viol.count()
        with span("kg.graph.materialize"):
            materialize_graph(edges, viol, str(st / "graph"))
        out["kg.graph.bytes_written"] = _dir_bytes(str(st / "graph"))

        # driver-side samples of the fused stage's Python work and its
        # Arrow boundary, on the batch shapes the stage sees
        page_tbl = pq.read_table(self.pages_dir, columns=["url", "html"]).slice(0, ARROW_BATCH_ROWS)
        html = page_tbl.column("html").to_pylist()[:DRIVER_SAMPLE]
        out["extract.extract_text_us"] = _us_per_item(
            lambda: [extract_text(h) for h in html], len(html)
        )
        out["kg.mentions.arrow_to_pandas_us"] = _us_per_item(page_tbl.to_pandas, page_tbl.num_rows)
        linked_pdf = pq.read_table(str(st / "linked_fused")).slice(0, ARROW_BATCH_ROWS).to_pandas()
        out["kg.mentions.pandas_to_arrow_us"] = _us_per_item(
            lambda: pa.RecordBatch.from_pandas(linked_pdf, preserve_index=False), len(linked_pdf)
        )

        # build_kg_resumable's path: unfused extraction, join-based linking
        with span("kg.mentions.extract"):
            extract_mentions_from_html(self._pages(), surfaces, gazetteer) \
                .write.parquet(str(st / "mentions"))
        with span("kg.link.link"):
            link_both(read(str(st / "mentions"))).write.parquet(str(st / "linked_join"))
        r = read(str(st / "linked_join")).agg(
            (2 * F.count(F.lit(1))).alias("mentions"),
            (F.count("subj_mention_entity") + F.count("obj_mention_entity")).alias("linked"),
            F.sum(
                F.col("subj_mention_entity").isNull().cast("int")
                + F.col("obj_mention_entity").isNull().cast("int")
            ).alias("unlinked"),
        ).first()
        self.counts.update(mentions=r.mentions, linked=r.linked, unlinked=r.unlinked or 0)
        out["kg.link.hit_ratio"] = r.linked / r.mentions if r.mentions else 0.0
        sample = pq.read_table(str(st / "mentions"), columns=["subj_mention", "obj_mention"])
        names = [m for col in sample.columns for m in col.to_pylist()[:DRIVER_SAMPLE // 2]]
        out["kg.link.resolve_mention_us"] = _us_per_item(
            lambda: [resolve_mention(m, idx) for m in names], len(names)
        )

        # the lineage layer: build_kg_resumable's three stages, one run_stage
        # call each, with a crash injected part-way through the linked stage
        lin, ledger = st / "lineage", str(st / "lineage" / "ledger")

        def stage(name, src, transform, fail_after=None):
            return run_stage(spark, name, src, transform, str(lin / name), ledger,
                             key="url", n_parts=N_PARTS, fail_after_parts=fail_after)

        with span("kg.lineage.mentions"):
            mentions = stage("mentions", self._pages(),
                             lambda df: extract_mentions_from_html(df, surfaces, gazetteer))
        with span("kg.lineage.crash"):
            try:
                stage("linked", mentions.drop("part_id"), link_both, CRASH_AFTER_PARTS)
                raise CheckFailed("the injected crash did not happen")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        pending = N_PARTS - len(completed_parts(spark, ledger, "linked"))
        before = read(ledger).count()
        with span("kg.lineage.resume"):
            linked = stage("linked", mentions.drop("part_id"), link_both)
        redone = read(ledger).count() - before
        if redone != pending:
            raise CheckFailed(f"resume redid {redone} partitions, {pending} were pending")
        out["kg.lineage.parts_redone"] = redone
        with span("kg.lineage.edges"):
            stage("edges", linked.drop("part_id"), lambda df: canonicalize_edges(df, ctx)[0])
        self._same_edges(str(lin / "edges"), "the resumed stages")
        rows_out = read(ledger).where(F.col("stage") == "edges").agg(F.sum("rows_out")).first()[0]
        self.counts.update(ledger_edges_rows_out=int(rows_out), edges_written=self.ref[0])
        if rows_out != self.ref[0]:
            raise CheckFailed(f"ledger rows_out {rows_out} != {self.ref[0]} edges written")

        t = span.times
        out["kg.lineage.linked_s"] = t["kg.lineage.crash"] + t["kg.lineage.resume"]
        # what the ledger and part_id partitioning add over the plain transforms
        out["kg.lineage.ledger_s"] = (
            t["kg.lineage.mentions"] + out["kg.lineage.linked_s"] + t["kg.lineage.edges"]
            - t["kg.mentions.extract"] - t["kg.link.link"] - t["kg.graph.canonicalize"]
        )
        return out

    def from_event_log(self, groups) -> dict[str, float]:
        # a stage with a Python map in the whole call is the fused stage,
        # the only Python stage of build_kg over parquet pages
        return {"kg.mentions.fused_stage_runs": groups["e2e"].stages_with_scope("MapInPandas")}

    def _same_edges(self, path: str, what: str) -> None:
        digest = self.edge_digest(path)
        if digest != self.ref:
            raise CheckFailed(f"{what} wrote edges {digest}, build_kg wrote {self.ref}")


class ManifestJsonld:
    """``Pipeline.run(single_document=True)`` over a seeded manifest corpus."""

    OUTPUTS = ("instances.jsonld", "vocabulary.jsonld", "vocab_meta.json")
    LAYERS = ("vocabulary.", "operators.", "plans.pipeline.", "trace.")
    STAGED = ("vocabulary.compile", "operators.instance_steps.triples",
              "operators.violations.violations", "plans.pipeline.assemble",
              "plans.pipeline.document")

    def __init__(self, spark, work: Path, seed: int, rows: int = MANIFEST_ROWS):
        self.spark, self.work, self.seed = spark, work, seed
        self.rows = rows
        self.ref: dict[str, str] | None = None
        self.oracle: set[tuple] = set()
        self.counts: dict[str, int] = {}

    def prepare(self) -> None:
        from oracle_reference import oracle_triples

        from csv_to_jsonld_processor_spark.manifest import Manifest
        from csv_to_jsonld_processor_spark.vocabulary import compile_vocabulary

        self.manifest = corpus.write_manifest_corpus(self.work / "corpus", self.rows, self.seed)
        m = Manifest.from_file(self.manifest)
        base = self.manifest.parent
        self.oracle = {_canon(t) for t in oracle_triples(m, compile_vocabulary(m, base), base)}

    def warm_up(self) -> None:
        self.call("warm")
        self.check("warm")

    def _out(self, i) -> Path:
        return self.work / f"out_{i}"

    def call(self, i) -> int:
        from csv_to_jsonld_processor_spark.plans.pipeline import Pipeline

        outcome = Pipeline.from_manifest(self.manifest).run(self.spark, self._out(i),
                                                            single_document=True)
        if not outcome.ok:
            raise CheckFailed(f"pipeline errors: {outcome.errors[:3]}")
        return outcome.counts["triples"]

    def check(self, i) -> None:
        out = self._out(i)
        digest = {name: _sha256(out / name) for name in self.OUTPUTS}
        if self.ref is None:
            got = _document_triples(json.loads((out / "instances.jsonld").read_text()))
            want = {_as_json_value(t) for t in self.oracle}
            if got != want:
                raise CheckFailed(
                    f"instances.jsonld has {len(got)} triples, the oracle {len(want)}; "
                    f"only in output: {sorted(got - want)[:3]}, only in oracle: {sorted(want - got)[:3]}"
                )
            self.ref = digest
        elif digest != self.ref:
            raise CheckFailed(f"outputs {digest} differ from the first run's {self.ref}")
        shutil.rmtree(out, ignore_errors=True)

    # -- traced run ----------------------------------------------------------

    def trace(self, span) -> dict[str, float]:
        from csv_to_jsonld_processor_spark.manifest import Manifest
        from csv_to_jsonld_processor_spark.operators.violations import build_instance_outputs
        from csv_to_jsonld_processor_spark.plans.pipeline import assemble_entities_json
        from csv_to_jsonld_processor_spark.vocabulary import build_jsonld_context, compile_vocabulary

        spark, st = self.spark, self.work / "staged"
        out: dict[str, float] = {}
        with span("e2e"):
            self.call("e2e")
        expected = _sha256(self._out("e2e") / "instances.jsonld")
        self.check("e2e")

        m = Manifest.from_file(self.manifest)
        base = self.manifest.parent
        with span("vocabulary.compile"):
            vocab = compile_vocabulary(m, base)
        with span("operators.instance_steps.triples"):
            triples, violations = build_instance_outputs(spark, m, vocab, base)
            triples.write.parquet(str(st / "triples"))
        out["operators.instance_steps.triples_rows"] = spark.read.parquet(str(st / "triples")).count()
        with span("operators.violations.violations"):
            violations.write.parquet(str(st / "violations"))
        with span("plans.pipeline.assemble"):
            assemble_entities_json(spark.read.parquet(str(st / "triples"))) \
                .write.parquet(str(st / "nodes"))
        with span("plans.pipeline.document"):
            nodes = spark.read.parquet(str(st / "nodes"))
            insert = [json.loads(r.node) for r in nodes.orderBy("subj").collect()]
            context = build_jsonld_context(vocab, m.model.base_iri, m.instances.base_iri)
            doc = {"ledger": m.ledger, "@context": context, "insert": insert}
            (st / "instances.jsonld").write_text(json.dumps(doc, indent=2, sort_keys=True))
        if _sha256(st / "instances.jsonld") != expected:
            raise CheckFailed("the staged layers wrote another instances.jsonld than Pipeline.run")
        return out

    def from_event_log(self, groups) -> dict[str, float]:
        return {}


def _canon(t: tuple) -> tuple:
    """Java's and Python's float renderings differ; compare numbers by value."""
    subj, pred, obj, kind = t
    if kind == "number":
        obj = repr(round(float(obj), 9))
    return subj, pred, obj, kind


def _as_json_value(t: tuple) -> tuple:
    """An oracle triple as it reads back from a JSON-LD node, where only
    numbers and booleans keep a type of their own."""
    subj, pred, obj, kind = t
    if kind == "boolean":
        return subj, pred, obj == "true"
    if kind == "number":
        return subj, pred, round(float(obj), 9)
    return subj, pred, obj


def _document_triples(doc: dict) -> set[tuple]:
    out = set()
    for node in doc["insert"]:
        subj = node["@id"]
        for pred, value in node.items():
            if pred == "@id":
                continue
            for v in value if isinstance(value, list) else [value]:
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    v = round(float(v), 9)
                out.add((subj, pred, v))
    return out


WORKLOADS = {"kg_materialize": KGMaterialize, "manifest_jsonld": ManifestJsonld}
