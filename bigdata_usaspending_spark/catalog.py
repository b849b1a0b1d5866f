"""Star-schema catalog over the synthetic testdata parquet files.

The reference read every table as a full Cassandra scan
(format("org.apache.spark.sql.cassandra"), e.g.
app/spark_cassandra_etl_award_amount_aggregator.py:66-78). Here every table
is a columnar parquet scan, so Catalyst column pruning and predicate pushdown
reach the file reader (visible as ReadSchema / PushedFilters in .explain).

Role mapping (see FIXTURES.md §B): orders/lineitem play the `awards` fact,
customer plays recipients, supplier plays awarding sub-agencies, nation/region
play the small geo dims.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# Dimensions small enough that joining them should always broadcast
# (the reference's geo dims were capped at 10 rows:
# app/fetch_recipient_name_geo_data.py:123).
BROADCAST_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) read as long (session.RUNTIME_CONFS sets
            # legacy.parquet.nanosAsLong): truncate to microseconds — the
            # same truncation a micros-native engine applies.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Newer generations of the fixture store TIMESTAMP(MICROS) with
            # isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ.
            # Downstream time arithmetic (unix_millis, window(), watermarks)
            # wants the session-zone TIMESTAMP type; the session zone is
            # pinned to UTC (session.RUNTIME_CONFS), so this cast preserves
            # the stored wall-clock values exactly — identical to how DuckDB
            # reads the same naive column.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every catalog table as a temp view so the full corpus is
    queryable through plain ``spark.sql`` — the surface a SQL-first user of
    the reference's CQL shell would reach for. Views are lazy: nothing is
    scanned until a query runs, and every ``spark.sql`` plan gets the same
    Catalyst pushdown/pruning as the DataFrame API (they compile to the
    same logical plans)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLES)
