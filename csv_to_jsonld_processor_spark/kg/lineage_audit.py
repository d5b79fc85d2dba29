"""Driver-visible lineage/metrics audit (north_rule: "every stage
checkpoints per-partition lineage and counters to a metrics table so a
killed run resumes at partition granularity").

The kill-and-resume property was previously pytest-only
(tests/test_kg_pipeline.py); this registers it as a correctness-gated
query: run the resumable pipeline with an INJECTED CRASH after 8 of 16
partitions of the linking stage, resume with the same work dir, and
report the ledger — per stage: distinct partitions completed, total
ledger rows (16 each: a resume must never double-commit a partition),
and the edge stage's summed rows_out, which must equal the
generator-anchored golden edge count exactly (resume produced neither
duplicates nor holes).  mentions/linked row counts are engine-internal
(not derivable from the golden fact list) and are reported as -1,
explicitly unaudited.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df
from .lineage import LEDGER_SCHEMA


def kg_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pages import generate_pages
    from .pipeline import build_kg_resumable

    pages = generate_pages(spark, 1000, seed=42, partitions=8)
    work = tempfile.mkdtemp(prefix="kg_lineage_audit_")
    try:
        try:
            build_kg_resumable(spark, pages, work, fail_at=("linked", 8))
        except RuntimeError:
            pass  # the injected crash
        build_kg_resumable(spark, pages, work)  # resume, same work dir
        ledger = spark.read.schema(LEDGER_SCHEMA).parquet(f"{work}/ledger")
        rows = (
            ledger.groupBy("stage")
            .agg(
                F.countDistinct("part_id").cast("long").alias("parts_done"),
                F.count(F.lit(1)).cast("long").alias("ledger_rows"),
                F.sum("rows_out").cast("long").alias("rows_out"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = [
        (
            r["stage"],
            r["parts_done"],
            r["ledger_rows"],
            r["rows_out"] if r["stage"] == "edges" else -1,
        )
        for r in rows
    ]
    return local_df(
        spark, out, "stage string, parts_done long, ledger_rows long, rows_out long"
    ).orderBy("stage")


def _lineage_audit_sql() -> str:
    from .queries import _GOLDEN_EDGES

    return f"""
SELECT stage, CAST(parts_done AS BIGINT) AS parts_done,
       CAST(ledger_rows AS BIGINT) AS ledger_rows,
       CAST(rows_out AS BIGINT) AS rows_out
FROM (
  SELECT 'edges' AS stage, 16 AS parts_done, 16 AS ledger_rows,
         (SELECT COUNT(*) FROM read_csv('{_GOLDEN_EDGES}', header=true,
                                        all_varchar=true)) AS rows_out
  UNION ALL SELECT 'linked', 16, 16, -1
  UNION ALL SELECT 'mentions', 16, 16, -1
) ORDER BY stage
"""


KG_LINEAGE_QUERIES: dict[str, tuple] = {
    "kg_lineage_audit": (kg_lineage_audit, _lineage_audit_sql()),
}
