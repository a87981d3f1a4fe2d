"""SparkSession factory for the engine.

The driver heap and the ``local[N]`` core count come from the host the
session starts on; ``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_GRAFT_CPUS``
override them. Arrow serves every pandas/Python boundary and the
session timezone is pinned to UTC, so timestamps compare exactly with
external engines (DuckDB oracle, Parquet writers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Parent of the package: Python UDF workers put it on their PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of MemAvailable in whole GiB
    (at least 1g, at most 48g)."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    return f"{min(max(kib // 2 // 1024**2, 1), 48)}g"


def cpu_count() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "nypd_arrest_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's local SparkSession. ``extra_conf``
    overrides the settings below; ``spark.driver.extraJavaOptions`` is
    appended to the built-in flags instead."""
    cpus = cpu_count()
    # A many-query session JIT-compiles thousands of generated
    # whole-stage classes; the JVM's 240m code cache fills after ~100
    # query shapes, and every later query then runs ~3x slower.
    java_opts = "-XX:ReservedCodeCacheSize=1g"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource API pushdown (sources/rest.py pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long (ns since epoch) and convert with
        # exact integer arithmetic (see plans.queries.events_with_ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The generated-class cache defaults to 100 entries; a registry
        # session generates ~1000 whole-stage classes per pass, so shared
        # scan/project fragments would be evicted and recompiled.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # builder.config reaches the JVM only when this process launches
        # it; under client-mode spark-submit pass --driver-java-options.
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # InferFiltersFromGenerate puts `size(arr) > 0` under every explode().
        # For arrays computed by nested higher-order functions (shingles,
        # winnowing fingerprints, minhash signatures) the optimizer inlines
        # the whole lambda chain into that filter below any Repartition, so
        # the array pipeline re-runs single-partition and per element.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraJavaOptions":
            v = f"{java_opts} {v}"
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TPCH_TABLES = (
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


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES):
    """Read the driver's parquet tables and register them as temp views.

    Returns a dict name -> DataFrame. Reads are lazy; registering views
    lets both the DataFrame API and spark.sql address the same scans.
    """
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
