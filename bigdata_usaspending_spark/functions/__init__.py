"""Scalar function helpers (SURVEY.md §2.8).

The reference did these conversions row-at-a-time in driver Python
(app/ml_app.py:561-576 string->date with null-on-error; :480-485
string->float with null-on-error). Spark's to_date / cast already have
null-on-malformed semantics, so each helper is a thin columnar expression that
stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal wide enough to hold any double's interesting digits for money-ish
# values; sums over it are exact, which makes aggregates engine-independent
# (Spark vs DuckDB oracle) and partition-order-independent — double sums are
# neither.
EXACT_DECIMAL = "decimal(27,6)"


def safe_to_date(col: Column | str, fmt: str = "yyyy-MM-dd") -> Column:
    """String -> date, null on malformed (reference: app/ml_app.py:561-576).
    try_to_date keeps null-on-error semantics under ANSI sessions too."""
    return F.try_to_date(F.col(col) if isinstance(col, str) else col, fmt)


def safe_to_decimal(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """String/number -> decimal money, null on malformed
    (reference: app/ml_app.py:480-485 used float(); we use exact decimal)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(f"decimal({precision},{scale})")


def exact_sum(col: Column | str, alias: str, out_scale: int = 2) -> Column:
    """Order-independent SUM of a floating-point column.

    Casts to exact decimal before summing (decimal addition is associative,
    so the result does not depend on partition/merge order), rounds to
    ``out_scale`` and returns DOUBLE. The matching DuckDB oracle expression is
    CAST(ROUND(SUM(CAST(x AS DECIMAL(27,6))), 2) AS DOUBLE).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.round(F.sum(c.cast(EXACT_DECIMAL)), out_scale)
        .cast("double")
        .alias(alias)
    )


def month_of(col: Column | str) -> Column:
    """Calendar month bucket (reference: app/spark_cassandra_groupby_month.py:25)."""
    return F.month(F.col(col) if isinstance(col, str) else col).cast("int")


def year_of(col: Column | str) -> Column:
    """Calendar year (reference: app/machine_learning_models.py:148)."""
    return F.year(F.col(col) if isinstance(col, str) else col).cast("int")
