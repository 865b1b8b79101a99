"""SparkSession factory.

Single place where execution knobs live so every entry point (tests,
bench, driver contract) gets the same tuned session:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting):
  at 100 TB the static shuffle-partition guess is always wrong; AQE
  fixes it from runtime stats.
- ``spark.sql.shuffle.partitions`` defaults to the local core count —
  on a real cluster this should be ~2-3x total executor cores; AQE
  coalescing makes over-provisioning cheap.
- Arrow enabled for any pandas boundary (Pandas UDFs, ``toPandas`` at
  the presentation edge).
- UTC session timezone: deterministic timestamp semantics regardless of
  host TZ (the DuckDB oracle also runs in UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "chicago_crash_pipeline_spark"


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Parameters mirror what a deployment would override: ``master`` from
    the cluster manager, ``shuffle_partitions`` from cluster sizing.
    """
    cores = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8)))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Long sessions compile hundreds of large whole-stage-codegen
        # methods; at the JVM default (240 MB) the code cache fills
        # mid-session, the JIT shuts off, and HOF-heavy queries degrade
        # ~10x (observed: same query 3 s early-session, 28 s late).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver testdata parquet tables as DataFrames.

    Returns a dict name -> DataFrame. Reads are lazy; Catalyst prunes
    columns/filters into the parquet scan per consuming query.
    """
    all_names = names or (
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
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in all_names}
