"""SparkSession factory tuned for the inferdf-spark engine.

Local mode is the test/bench harness; the same configuration is what we
would ship in ``spark-submit --py-files`` on a real cluster: AQE on
(runtime re-planning + skew-join mitigation for hub predicates such as
rdf:type / sameAs), Arrow on (all Python UDFs are vectorized), UTC
session timezone (DuckDB-oracle comparison), shuffle partitions sized to
the parallelism level instead of the 200 default.
"""

from __future__ import annotations

import os

# one compute thread per python worker: each Spark task already owns a
# core, and nested Arrow/OpenMP pools (32 workers x 32 threads) thrash
# the box — a 6x slowdown on Arrow-UDF stages measured at local[32]
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("ARROW_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A driver-side table (``rows``: tuples or Rows in ``schema`` field
    order) as an Arrow-backed ``LocalRelation``.

    ``createDataFrame(list)`` parallelizes the rows into an RDD whose
    every scan runs Python workers (~300 ms a task for a few rows, even
    inside a broadcast); an Arrow table plans as ``LocalTableScan``, so
    collecting or broadcasting it submits no job.  Every frame the engine
    builds from driver values goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows], schema=to_arrow_schema(st)
    )
    return spark.createDataFrame(table, st)


# Generated-code cache size.  Spark's default of 100 entries is smaller
# than one pipeline run's plan vocabulary, so the LRU evicted each
# generated class before the next run could reuse it: every warm
# ``webkg_batch`` op recompiled 245-254 classes (Janino's compile
# counter, ``codegen_compiles``) and paid the compile, class loading and
# JIT warm-up again.  At 1024 entries a warm op compiles 0 (26 at most
# in the runs measured).  1024 is about 4x the ~250 classes of a cold
# op and above the ~380 that ``graph_query``'s stream set-up compiles at
# this size (524-539 at 100, where it recompiles evicted classes).
# Metaspace after 6 ops was ~164 MB at both sizes.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = "1024"


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (driver and, in local
    mode, executors): a generated class served from the codegen cache
    does not count, so the delta over an operation is its compile cost."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _default_driver_memory() -> str:
    """40 % of physical memory, capped at 24g: the local-mode driver JVM
    is the whole engine, but must leave room for its Python workers."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, int(0.4 * phys / 2**30)))}g"


def get_spark(
    app_name: str = "inferdf_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard conf.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    host's core count); the driver heap to ``$SPARK_GRAFT_DRIVER_MEM``
    (env, default 40 % of physical memory, at most 24g).
    ``shuffle_partitions`` defaults to the core count — at cluster scale
    this is instead set to ~2-3x total executor cores by the submitter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; keep shuffles at core-parallelism locally.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI stays ON (Spark 4 default, and the correctness-harness
        # session config): the engine is ANSI-robust by construction —
        # every data-dependent parse uses try_cast + null-safe datatype
        # predicates, so malformed literals become InvalidLiteral error
        # rows (reference F9 parse), never runtime crashes.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd over the snappy default: 3.5x fewer bytes on blob-heavy
        # tables at equal scan wall at both 8 and 32 cores (measured
        # A/B in BENCH_LAYOUT.md) — at cluster scale scan bytes are
        # network+disk bandwidth, the binding resource at 100 TB
        .config("spark.sql.parquet.compression.codec", "zstd")
        # static: takes effect only here, before the session starts
        .config(CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
