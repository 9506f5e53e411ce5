"""Shared SparkSession factory tuned for the local[32] harness.

At cluster scale the same settings matter: AQE on (runtime re-plan, skew
join handling, partition coalescing), shuffle partitions sized to the
cluster, UTC session timezone so timestamp semantics match the DuckDB
oracle and are deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# InferFiltersFromGenerate synthesizes `size(e) > 0 AND e IS NOT NULL`
# above every Generate; predicate pushdown then substitutes the
# generator-input expression into that filter and pushes it below the
# upstream exchange/scan. For this engine's generators (shingles,
# chunk sequences, tf-idf explodes) the arrays are non-empty by
# construction, so the inferred filter is always-true overhead — and
# because the substituted predicate duplicates the most expensive
# projection in the plan (observed: the whole shingle transform ran
# TWICE, once serially inside the single-split parquet scan task:
# 4.7s -> 2.5s for dedup_minhash_lsh at sf0.1 when excluded), it is a
# net loss at every scale. Correctness is unaffected (optimizer rule
# only).
_EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def tune_for_engine(spark: SparkSession) -> SparkSession:
    """Apply engine-level optimizer tuning to an externally-created
    session (the driver hands the contract its own SparkSession)."""
    current = ""
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        pass
    if _EXCLUDED_RULES not in current:
        merged = f"{current},{_EXCLUDED_RULES}" if current else _EXCLUDED_RULES
        spark.conf.set("spark.sql.optimizer.excludedRules", merged)
    return spark


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g: a 48g heap on a
    16 GB host lost the driver JVM mid-suite. ``SPARK_GRAFT_DRIVER_MEM``
    overrides it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(48 << 10, phys_mb // 2)}m"


def get_spark(app_name: str = "flink_cdc_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert at the source (ParquetTableSource normalizes to micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    builder = builder.config("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_for_engine(spark)


_PKG_SHIPPED: set = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship the flink_cdc_spark package to executors (addPyFile), so
    cloudpickle's by-reference closures (mapInPandas bodies that call
    module-level parsers) import cleanly in Python workers — the
    ``spark-submit --py-files`` contract, done programmatically. On
    local[*] this also unpins the driver's cwd; on a 1000-executor
    cluster it is simply required. Idempotent per SparkContext."""
    import tempfile
    import zipfile

    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PKG_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"flink_cdc_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    _PKG_SHIPPED.add(key)
