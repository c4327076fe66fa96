"""SparkSession factory.

Scale posture: these configs are the local[32] test shape of what a
1000-executor deployment would set cluster-wide — AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on
(vectorized Python interchange for the pandas-UDF slow path), UTC
session timezone (oracle comparability), shuffle partitions sized to
cores for the test scale (at 100 TB you'd size this to ~2-3x total
cores and let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package, put on the workers' PYTHONPATH so the
# daemon module resolves whatever the driver's working directory is
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "spark-cdc-engine", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    Installs `worker_daemon` as the Python worker daemon. Stock workers
    re-read the central directory of every zip on their `sys.path`
    (pyspark.zip, the py4j zip, the spark-core jar) on every task, a
    floor of a few tenths of a second on each Python stage that a JVM
    stage does not pay. The daemon conf is static, so it only takes
    effect when this call creates the SparkContext.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")  # events.ts is TIMESTAMP(NANOS)
        # naive (isAdjustedToUTC=false) parquet timestamps must read as
        # TIMESTAMP, not TIMESTAMP_NTZ: unix_micros()/window() take LTZ, and
        # with a UTC session the values match DuckDB's naive-as-UTC reading
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .getOrCreate()
    )


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-provided session.

    The driver hands us its own SparkSession; only session-scoped SQL
    confs can be set at that point (cluster confs are fixed). The worker
    daemon is one of the fixed ones: `spark.python.daemon.module` is a
    static conf, so a driver's session keeps stock Python workers (and
    their per-task archive re-read) and its parity runs execute exactly
    as before.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # the driver's default 200 over-parallelizes local test SFs; AQE
        # coalescing makes this a ceiling, not a fixed width
        "spark.sql.shuffle.partitions": str(cpus),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this deployment — keep going
    return spark
