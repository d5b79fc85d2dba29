"""Streaming KG construction: the flagship extract→link→canonicalize
pipeline run as a Structured Streaming job over the custom synthpages
stream source (offset-managed micro-batches of crawled pages — the
shape of a live crawl feed at 10^12 documents).

Why this works unchanged: every stage of the construction pipeline is
STATELESS per row — Arrow-batched extract+link (``kg/pipeline.link_pages``:
mapInPandas with the KB broadcast as a dict), literal-map @context
canonicalization (``kg/graph.canonicalize_edges``), filter validations.
Both streaming jobs below call those two functions, as ``build_kg`` does.  A stateless pipeline is micro-batch-invariant, so the
streaming run must produce the exact multiset of edges the batch run
produces over the same corpus; the registered query pins that with the
per-predicate count + order-free checksum aggregate (the ONE stateful
operator, running in complete mode on a bounded drain).

At production scale this is the resume story for ingestion: the
synthpages source checkpoints (start, end) index offsets and
regenerates rows deterministically on replay (exactly-once pinned in
tests/test_pydatasource.py), so a killed construction job resumes at
micro-batch granularity with no duplicate edges — complementing the
per-partition lineage ledger of the batch path (kg/lineage.py).

Oracle: the generator-anchored golden edge CSV (the same truth that
gates the batch pipeline) aggregated by plain SQL — the streaming
engine never sees it.

The same stages also run over a file source of crawled pages
(``kg_edges_stream``: append-mode sink into the edges table the batch
job writes, lineage per micro-batch), and windowed aggregations stream
too — ``kg_edge_window_counts_stream`` keeps per-(event-time window,
predicate) edge counts with a watermark on crawl time bounding the
state. Whole-graph stages (global entity dedup, PageRank) stay
batch/periodic — they need the full graph, which is why the pipeline
splits exactly there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checksum import u32
from ..sources.pages import PAGES_SCHEMA, PREDICATES
from ..kg.graph import canonicalize_edges, predicate_context
from ..kg.pipeline import link_pages
from .events import run_stream_over_dir

_US = "\x1f"


def stream_edges(pages_stream: DataFrame) -> DataFrame:
    """The batch construction pipeline applied to a streaming pages
    DataFrame — same code path, stateless stage for stage."""
    linked = link_pages(pages_stream)
    edges, _viol = canonicalize_edges(linked, predicate_context(PREDICATES))
    return edges


def kg_edges_stream(spark: SparkSession, pages_dir: str, query_name: str = "kg_edges_stream") -> DataFrame:
    """readStream over a pages directory → fused extract+link+canonicalize
    → drained append-mode memory sink (availableNow). Returns the edge
    table; equals build_kg(...)["edges"] on the same input."""
    return run_stream_over_dir(
        spark, pages_dir, stream_edges, PAGES_SCHEMA, query_name, output_mode="append"
    )


def kg_edge_window_counts_stream(
    spark: SparkSession,
    pages_dir: str,
    query_name: str = "kg_edge_window_stream",
    watermark: str = "1 hour",
    window: str = "1 day",
) -> DataFrame:
    """Stateful incremental KG aggregation: per-(event-time window, pred)
    edge counts over the streaming pipeline, with a watermark on
    ``warc_ts`` (crawl time) bounding the aggregation state.
    Late pages within the watermark still update their window; state for
    windows older than the watermark is evicted, so memory is bounded by
    (watermark span / window span) × |predicates| regardless of corpus
    size.

    ``warc_ts`` rides through the fused UDF via its ``passthrough``
    hook and on through ``canonicalize_edges``, which carries every
    column outside LINKED_SCHEMA; the watermark is declared on the
    edges, downstream of the UDF (a mapInPandas barrier produces new
    attributes, so a pre-UDF watermark would not propagate). Drained
    complete-mode for the bounded stream==batch test
    (run_stream_over_dir explains why); production runs append with
    windows finalizing as the watermark passes them."""

    def transform(stream: DataFrame) -> DataFrame:
        linked = link_pages(stream, passthrough=("warc_ts",))
        edges, _viol = canonicalize_edges(linked, predicate_context(PREDICATES))
        return (
            edges.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "pred")
            .agg(F.count(F.lit(1)).alias("n_edges"))
            .select(F.col("w.start").alias("window_start"), "pred", "n_edges")
        )

    return run_stream_over_dir(
        spark, pages_dir, transform, PAGES_SCHEMA, query_name, output_mode="complete"
    )


def _edge_checksum() -> F.Column:
    key = F.concat_ws(
        _US, "url", F.col("sent_idx").cast("string"), "subj", "pred", "obj"
    )
    return u32(key)


def kg_stream_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the seed-42 1,000-page corpus through the STREAMING
    construction pipeline (4 micro-batches of 250 pages) and emit the
    per-predicate integrity aggregate: edge count, order-free edge
    checksum, lexical min/max subject."""
    from ..sources.pydatasource import register

    register(spark)
    pages = (
        spark.readStream.format("synthpages")
        .option("n", 1000)
        .option("seed", 42)
        .option("rows_per_batch", 250)
        .load()
    )
    agg = (
        stream_edges(pages)
        .select("pred", _edge_checksum().alias("c"), "subj")
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("c").cast("long").alias("checksum"),
            F.min("subj").alias("min_subj"),
            F.max("subj").alias("max_subj"),
        )
    )
    # trigger(availableNow) would capture only the FIRST prefetched
    # micro-batch offset of a simple Python stream reader (measured:
    # 250 of 1,000 pages), so drain explicitly: run with a 0s trigger
    # and stop once the committed source offset reaches the corpus end.
    import time

    # state-store instance count is pinned to shuffle partitions at
    # stream START (events_stream_join precedent: 32 shards cost ~3x
    # wall vs key-cardinality-sized shards).  The ONE stateful operator
    # here groups by `pred` — a bounded vocabulary of len(PREDICATES)
    # keys — so per-trigger store open/commit overhead is sized to the
    # key space, not the default shuffle width.  Production sizes state
    # partitions to key cardinality; restored after the drain.
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key)
    spark.conf.set(conf_key, str(max(8, len(PREDICATES))))
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("kg_stream_edges_sink")
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 300
        try:
            while time.time() < deadline:
                if q.exception() is not None:  # fail fast, not at the deadline
                    raise q.exception()
                p = q.lastProgress
                if p and p["sources"]:
                    end = p["sources"][0]["endOffset"]
                    if isinstance(end, str):
                        # python datasource offsets surface as dict reprs
                        import ast

                        end = ast.literal_eval(end)
                    if end and end.get("index", 0) >= 1000:
                        break
                time.sleep(0.05)
            else:
                raise TimeoutError("kg_stream_edges drain did not reach offset 1000")
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        spark.conf.set(conf_key, prev)
    return spark.table("kg_stream_edges_sink").orderBy("pred")


def _stream_edges_sql() -> str:
    from ..kg.queries import _GOLDEN_EDGES

    return f"""
WITH e AS (SELECT * FROM read_csv('{_GOLDEN_EDGES}', header=true, all_varchar=true))
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CAST(('0x' || substr(md5(url || chr(31) || sent_idx || chr(31)
            || subj || chr(31) || pred || chr(31) || obj), 1, 8)) AS BIGINT))
            AS BIGINT) AS checksum,
       MIN(subj) AS min_subj,
       MAX(subj) AS max_subj
FROM e GROUP BY pred ORDER BY pred
"""


KG_STREAM_QUERIES: dict[str, tuple] = {
    "kg_stream_edges": (kg_stream_edges, _stream_edges_sql()),
}
