"""OpenWeatherMap one-call ingestion — the reference's weather branch
(etl_dag.py:27-165) as one Spark plan.

Reference transform extracts six scalars from ``current.*`` plus
``current.weather[0].description`` and a formatted epoch timestamp
(etl_dag.py:84-99). Timestamps stay TimestampType end-to-end here; the
reference's strftime-to-string happens only at CSV export. Like the station
branch, the projection is SQL text (:data:`WEATHER_EXPRS`) in a single
``selectExpr``.
"""

from __future__ import annotations

from collections.abc import Iterable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import lineage_exprs
from ..schemas import WEATHER_ENVELOPE_SCHEMA
from .readers import read_json

#: The one flat row (reference P1/P2/P3, SURVEY §2.3).
WEATHER_EXPRS = (
    "current.temp AS temp",
    "current.feels_like AS feels_like",
    "cast(current.pressure AS int) AS pressure",
    "cast(current.humidity AS int) AS humidity",
    "current.wind_speed AS wind_speed",
    # reference: current["weather"][0]["description"] (etl_dag.py:93)
    "element_at(current.weather, 1)['description'] AS weather_description",
    "timestamp_seconds(current.dt) AS timestamp",
)


def flatten_weather(envelope: DataFrame, extra: Iterable[str] = ()) -> DataFrame:
    """Envelope → one flat row, plus the ``extra`` SQL expressions in the
    same projection."""
    return envelope.selectExpr(*WEATHER_EXPRS, *extra)


def ingest_weather(
    spark: SparkSession,
    json_path: str,
    run_ts: datetime,
    dag_id: str = "citymapper_dag",
    task_id: str = "transfer_weather_data",
) -> DataFrame:
    # one pretty-printed API envelope per poll file → multiline parse
    envelope = read_json(spark, json_path, WEATHER_ENVELOPE_SCHEMA, multiline=True)
    return flatten_weather(envelope, lineage_exprs(run_ts, dag_id, task_id))
