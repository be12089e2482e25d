"""Scalar column helpers used by the ingestion pipelines.

All are compositions of built-in Spark SQL functions — they stay inside
whole-stage codegen; no Python executes per row.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


def ntz_epoch_us(colname: str) -> Column:
    """Epoch microseconds (BIGINT) from a TIMESTAMP_NTZ column.

    Spark 4.1 reads parquet TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ
    (micro-truncated); ANSI forbids ``cast(ntz as bigint)`` and
    ``unix_micros`` rejects NTZ, while ``unix_timestamp`` would
    re-interpret the wall-clock in the session timezone. ``timestampdiff``
    from the NTZ epoch is legal, TZ-independent, and for positive epochs
    equals DuckDB's ``epoch_us(ts)`` on the same values.
    """
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" `{colname}`)"
    )


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal. Backslashes and quotes are
    escaped, so any text round-trips exactly and none of it is parsed."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lineage_exprs(run_ts: datetime, dag_id: str, task_id: str) -> tuple[str, ...]:
    """Lineage columns the reference appends per row in pandas
    (s3_to_postgres.py:63-69), as SQL expressions. Constants → Catalyst
    folds them; the reference materialized a python list of N copies.

    ``execution_date`` is the instant ``F.lit(run_ts)`` gives: PySpark's own
    ``TimestampType`` conversion, so an aware ``run_ts`` keeps its offset
    and a naive one reads as Python's local time.
    """
    return (
        f"timestamp_micros({TimestampType().toInternal(run_ts)}) AS execution_date",
        f"{_sql_string(dag_id)} AS dag_id",
        f"{_sql_string(task_id)} AS task_id",
    )


def with_lineage(
    df: DataFrame, run_ts: datetime, dag_id: str, task_id: str
) -> DataFrame:
    """``df`` with the :func:`lineage_exprs` columns appended."""
    return df.selectExpr("*", *lineage_exprs(run_ts, dag_id, task_id))
