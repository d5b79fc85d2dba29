"""SparkSession builders tuned for the target execution profile.

Design for a 1000-executor cluster, test on local[N]:

- AQE on (runtime coalesce + skew-join splitting) — hub entities and
  mega-domains in web corpora produce skewed shuffle keys.
- Arrow on — every Python-side transform in this engine is a pandas UDF
  over whole batches, never per-row Python.
- ``spark.sql.shuffle.partitions`` scales with core count locally; on a
  real cluster you'd set it to ~2-3x total cores and let AQE coalesce.
- UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB correctness oracle runs in UTC too).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the directory holding the package, so Python workers import it
# wherever the driver was started from
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def env_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "csv-to-jsonld-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-oriented defaults.

    Python workers get the package's parent directory, then any inherited
    ``PYTHONPATH``, on their path, so a driver that imported the package
    through ``sys.path`` alone still runs its Python stages;
    ``extra_conf`` may set ``spark.executorEnv.PYTHONPATH`` itself."""
    cpus = cpus or env_cpus()
    shuffle = shuffle_partitions or max(32, 2 * cpus)
    # half the machine's RAM (MemTotal), at most 16g
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", f"{min(16384, ram_mb // 2)}m")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows: list, ddl_schema: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``ddl_schema``'s column order) as a
    DataFrame whose plan is a JVM-side ``LocalRelation``.

    ``spark.createDataFrame(list)`` backs the rows with a parallelized
    Python RDD, so every job that reads them — the broadcast of a 7-row
    lookup included — starts Python workers to unpickle them. Here they
    cross once, as one Arrow table the JVM keeps as a local relation:
    no Python worker runs, and an empty ``rows`` keeps the schema. (An
    inline ``VALUES`` text would not do: Spark's variable substitution
    rewrites ``${...}`` inside SQL literals.)"""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl_schema)
    arrow = to_arrow_schema(schema)
    for r in rows:
        if len(r) != len(arrow):
            raise ValueError(f"row {r!r} does not have the {len(arrow)} columns of {ddl_schema!r}")
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


# Table-CATALOG memo: spark.read.parquet pays a driver-side file
# listing + footer schema read per table (~0.9s for the 10-table set,
# measured warm), and nearly every registered query calls load_tables —
# often through several helpers — inside its own span.  A real
# deployment resolves tables through a metastore ONCE; this memo is
# that catalog: it holds only the scan RELATION (schema + file index),
# never data — no persist/cache, every query still reads the parquet
# files themselves.  Keyed by (applicationId, sf_dir) so a fresh
# SparkContext or a different scale factor re-resolves.
_TABLES_MEMO: dict[tuple[str, str], dict] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver-provided parquet tables and register temp views.

    Parquet scans get column pruning + predicate pushdown from Catalyst
    for free; callers select/filter declaratively and the scan narrows.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    memo = _TABLES_MEMO.get(key)
    if memo is not None:
        # re-register the views (cheap, plan-only) so alternating
        # sf_dirs inside one session keep the view names consistent
        for name, df in memo.items():
            df.createOrReplaceTempView(name)
        return dict(memo)
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    _TABLES_MEMO[key] = out
    return dict(out)
