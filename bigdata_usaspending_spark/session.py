"""SparkSession factory.

Replaces the reference's per-script session builders
(app/spark_cassandra_etl_award_amount_aggregator.py:57-63,
app/spark_cassandra_groupby.py:30-37, app/ml_app.py:59-65), which each
hard-coded Cassandra host/port, with one factory carrying scale-oriented
defaults:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — essential at 100 TB where static planning misses.
- Arrow transfer for any pandas interchange (vectorized Py <-> JVM).
- UTC session timezone so calendar bucketing (month/year) is engine- and
  host-independent.
- shuffle partitions sized for the local harness; on a real cluster AQE
  coalesces from a deliberately-high initial number.
- the package's root on the Python workers' path: UDF and ``mapInPandas``
  closures reach package functions by module reference, so a worker must
  be able to import the package even when the driver found it only
  through its own ``sys.path``.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory holding the package, as a Python-path entry.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs every entry point should agree on. Kept separate so
# they can also be applied to an externally-provided session (the driver
# harness passes us its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime Bloom-filter injection: for shuffle joins where one side is
    # selective, the optimizer builds a Bloom filter on the small side and
    # pushes it into the large side's scan — the probabilistic cousin of the
    # explicit broadcast-semi inversion dedup.dedup_against_index uses. On
    # by default since Spark 3.3; pinned here so the engine doesn't regress
    # if a deployment profile flips the default.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Python DataSource filter pushdown (sources/datasource.py claims
    # award-type filters into the REST payload); runtime-settable, default
    # off in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # The synthetic events table stores its ts column as either
    # TIMESTAMP(NANOS) (older fixture generations — Spark's parquet reader
    # rejects nanos unless read as long via this conf) or TIMESTAMP(MICROS)
    # with isAdjustedToUTC=false (newer generations — read as TIMESTAMP_NTZ
    # and cast under the UTC session zone). catalog.load handles both.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort apply of runtime-settable confs to an existing session.
    A key a build refuses to modify at runtime raises AnalysisException
    (CANNOT_MODIFY_CONFIG / CANNOT_MODIFY_STATIC_CONFIG) and keeps that
    build's default; any other failure propagates."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException:
            pass
    return spark


def get_spark(app_name: str = "bigdata-usaspending-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # keep catalog artifacts (bucketed saveAsTable) out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _ship_package_root(spark)
    return apply_runtime_confs(spark)


def _ship_package_root(spark: SparkSession) -> None:
    """Put ``PACKAGE_ROOT`` first on the PYTHONPATH the context hands
    every Python function it ships (``SparkContext.environment``, seeded
    from ``spark.executorEnv.*``); entries already there are kept, and
    Spark merges the result with the workers' own path."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])
