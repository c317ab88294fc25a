"""SparkSession factory.

The reference runs ``SparkContext('local')`` -- a single-threaded local
executor with every Catalyst-era feature left at 3.0.1 defaults (AQE
off, 200 shuffle partitions for ~700k rows; MovieLensRecommender.py:109).
Here the session is tuned for the execution model we actually target:
many executors, AQE on, shuffle parallelism sized to the cluster, Arrow
for every Python<->JVM hop.

On a real cluster only ``master`` changes; everything else is
scale-neutral (AQE coalesces / splits shuffle partitions at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a 1000-executor
# cluster spark.sql.shuffle.partitions should start at ~2-3x total
# cores and let AQE coalesce -- set via SPARK_GRAFT_SHUFFLE_PARTITIONS.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: vectorized reader + pushdown are on by default;
    # keep files splittable at ~128MB so 100 TB -> ~800k input tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet carries TIMESTAMP(NANOS) which the Spark
    # reader rejects; read as long + convert in sources/catalog.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark 4.1's default, under which every oracle hash was taken:
    # with it off, overflows and bad casts turn into NULLs.
    "spark.sql.ansi.enabled": "true",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "recommendation_system_spark_ml_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (harness contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs this engine's results depend on.

    Queries receive the *driver's* session, whose conf we don't control;
    UTC timezone + Arrow + AQE + ANSI mode are all runtime-settable, so
    enforce them here so results (esp. timestamp columns) are
    oracle-comparable.
    """
    for k in ("spark.sql.session.timeZone",
              "spark.sql.execution.arrow.pyspark.enabled",
              "spark.sql.adaptive.enabled",
              "spark.sql.adaptive.coalescePartitions.enabled",
              "spark.sql.adaptive.skewJoin.enabled",
              "spark.sql.legacy.parquet.nanosAsLong",
              "spark.sql.ansi.enabled"):
        spark.conf.set(k, _DEFAULTS[k])
    # Size the shuffle fan-out to the machine, not Spark's default 200:
    # AQE coalesces DataFrame shuffles either way, but MLlib's RDD paths
    # (ALS, KMeans) and streaming state stores don't get AQE -- 200 tiny
    # partitions there is pure scheduling overhead. On a real cluster
    # set SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3x total cores.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                       str(max(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 8))))
    return spark


def scratch_path(sf_dir: str, name: str) -> str:
    """Per-process scratch directory for round-trip queries.

    Namespaced by PID so two concurrent sessions on the same scale
    factor cannot overwrite each other's files mid-read (the fixed
    shared path used before made that race possible). Within one
    process, re-runs reuse the same path -- writes are mode=overwrite,
    so idempotent."""
    import os as _os

    return _os.path.join("/tmp/rsml_scratch", f"pid{_os.getpid()}",
                         _os.path.basename(_os.path.normpath(sf_dir)), name)
