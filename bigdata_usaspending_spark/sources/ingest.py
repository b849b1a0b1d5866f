"""Batch ingest job: API pages -> DataFrame batches -> bulk parquet + audit.

Lifecycle parity with the reference's POST /fetch_data (app/ml_app.py:394-551)
with its per-row INSERT loop (:488-509) replaced by bulk columnar writes, and
the per-row Python type coercion (:561-576, 480-485) replaced by engine-side
casts with identical null-on-malformed semantics (functions.safe_to_date /
safe_to_decimal).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schemas
from ..functions import safe_to_date, safe_to_decimal
from .usaspending_api import FIELDS, UsaspendingClient

# API field name -> awards column name (order matches schemas.AWARDS)
FIELD_TO_COLUMN = dict(
    zip(
        FIELDS,
        [f.name for f in schemas.AWARDS.fields],
    )
)

_RAW_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in FIELD_TO_COLUMN.values()]
)

_DATE_COLS = ("start_date", "end_date", "last_modified_date", "base_obligation_date")


def rows_to_raw_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """API row dicts -> all-string DataFrame (the untyped landing shape)."""
    data = [
        tuple(
            None if row.get(api_field) is None else str(row.get(api_field))
            for api_field in FIELD_TO_COLUMN
        )
        for row in rows
    ]
    return spark.createDataFrame(data, _RAW_SCHEMA)


def coerce_awards(raw: DataFrame) -> DataFrame:
    """String landing columns -> typed awards columns, null on malformed
    (engine-side twin of the reference's parse_date/parse_float,
    app/ml_app.py:561-576, 480-485)."""
    out = raw.withColumns({c: safe_to_date(c) for c in _DATE_COLS})
    out = out.withColumn("award_amount", safe_to_decimal("award_amount"))
    return out.select([f.name for f in schemas.AWARDS.fields])


@dataclass
class IngestReport:
    download_id: str
    n_rows: int
    n_batches: int
    out_path: str


def ingest(
    spark: SparkSession,
    client: UsaspendingClient,
    out_path: str,
    audit_path: str | None = None,
    rows_per_write: int = 2000,
) -> IngestReport:
    """Pull all pages, write typed parquet in bulk batches, append one audit
    row (the reference's download_history, app/ml_app.py:541-551)."""
    start_time = datetime.now()
    buffer: list[dict] = []
    n_rows = 0
    n_batches = 0

    def flush() -> None:
        nonlocal n_batches
        if not buffer:
            return
        typed = coerce_awards(rows_to_raw_df(spark, buffer))
        typed.write.mode("append").parquet(out_path)
        n_batches += 1
        buffer.clear()

    for page_rows in client.pages():
        buffer.extend(page_rows)
        n_rows += len(page_rows)
        if len(buffer) >= rows_per_write:
            flush()
    flush()

    download_id = str(uuid.uuid4())
    if audit_path is not None:
        audit = spark.createDataFrame(
            [(download_id, start_time, datetime.now(), n_rows)],
            schemas.DOWNLOAD_HISTORY,
        )
        audit.write.mode("append").parquet(audit_path)
    return IngestReport(download_id, n_rows, n_batches, out_path)
