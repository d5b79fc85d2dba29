"""Per-partition lineage ledger: resumable stage execution (north_rule).

Every stage run partitions its input by a deterministic key bucket
(``part_id = pmod(xxhash64(key), n_parts)``), processes only partitions
the ledger doesn't already mark done, writes output under
``part_id=<k>/`` directories, and appends (stage, part_id, status,
rows_in, rows_out, input_hash, ts) rows to the ledger. A killed run
re-invoked with the same arguments picks up exactly the pending
partitions; outputs are idempotent because partition contents are pure
functions of the deterministic partition split.

This is driver-coordinated bookkeeping over atomic directory writes —
with an Iceberg catalog the same ledger rides on snapshot commits; the
parquet fallback keeps the layout identical for this sandbox.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df

LEDGER_SCHEMA = (
    "stage string, part_id int, status string, rows_in long, rows_out long, "
    "input_hash string, ts timestamp"
)


def with_part_id(df: DataFrame, key: str, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int"))


def completed_parts(spark: SparkSession, ledger_path: str, stage: str) -> set[int]:
    if not os.path.exists(ledger_path):
        return set()
    rows = (
        spark.read.parquet(ledger_path)
        .where((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("part_id")
        .collect()
    )
    return {r.part_id for r in rows}


def run_stage(
    spark: SparkSession,
    stage: str,
    input_df: DataFrame,
    transform,
    out_path: str,
    ledger_path: str,
    key: str = "url",
    n_parts: int = 16,
    fail_after_parts: int | None = None,
    fail_before_ledger: bool = False,
) -> DataFrame:
    """Resumable stage: process pending partitions only, one group at a
    time is NOT needed — all pending partitions go in a single Spark job
    (the ledger granularity is for resume, not scheduling).

    Crash-safety: data lands via DYNAMIC partition overwrite, so a rerun
    of a partition REPLACES its directory instead of appending — a crash
    in the window between the data write and the ledger commit therefore
    cannot duplicate rows on resume (the reprocessed partition simply
    overwrites itself; with an Iceberg catalog the same property comes
    from snapshot-atomic replacePartitions).

    ``fail_after_parts`` injects a crash after N partitions commit;
    ``fail_before_ledger`` injects one INSIDE the write→ledger window —
    both used by the kill-and-resume tests.
    """
    done = completed_parts(spark, ledger_path, stage)
    src = with_part_id(input_df, key, n_parts)

    pending = sorted(set(range(n_parts)) - done)
    if fail_after_parts is not None:
        pending = pending[:fail_after_parts]

    if pending:
        batch = src.where(F.col("part_id").isin(pending))
        result = transform(batch)
        if "part_id" not in result.columns:
            result = with_part_id(result, key, n_parts)
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "dynamic")
        try:
            result.write.mode("overwrite").partitionBy("part_id").parquet(out_path)
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        if fail_before_ledger:
            raise RuntimeError(
                f"injected failure between data write and ledger commit of stage {stage}"
            )
        counts_in = {r.part_id: r.n for r in batch.groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        counts_out = {
            r.part_id: r.n
            for r in spark.read.parquet(out_path)
            .where(F.col("part_id").isin(pending))
            .groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        now = time.strftime("%Y-%m-%d %H:%M:%S")
        ledger_rows = [
            (stage, int(p), "done", int(counts_in.get(p, 0)), int(counts_out.get(p, 0)),
             f"{stage}:{p}:{n_parts}", now)
            for p in pending
        ]
        ledger_df = local_df(spark, ledger_rows, LEDGER_SCHEMA.replace("timestamp", "string"))
        ledger_df = ledger_df.withColumn("ts", F.col("ts").cast("timestamp"))
        ledger_df.write.mode("append").parquet(ledger_path)

    if fail_after_parts is not None and len(done) + len(pending) < n_parts:
        raise RuntimeError(f"injected failure after {len(pending)} partitions of stage {stage}")

    return spark.read.parquet(out_path)
