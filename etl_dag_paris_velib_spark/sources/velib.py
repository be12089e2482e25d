"""Vélib GBFS station_status ingestion — the reference's station branch
(etl_dag.py:168-311) re-expressed as one lazy Spark plan.

Reference pipeline: HTTP fetch → JSON to S3 → download → pd.json_normalize →
7-column projection → epoch→string timestamps → CSV to S3 → download →
pandas → row-at-a-time Postgres inserts (five serialization hops, SURVEY §3.3).

Here: ``read_json(envelope schema) → explode(data.stations) → one
projection`` — a single whole-stage-codegen pass from scan to sink. The
projection (cast, bike-type fold, surrogate key and the lineage columns) is
SQL text, :data:`STATION_EXPRS`, so the plan is built with a few dozen
calls into the JVM instead of one per ``Column`` node: at 1,474 rows per run
the driver's cost of building the plan rivals executing it. The HTTP fetch stays outside the engine behind
a fetcher seam (SURVEY §7): the engine only ever sees files or DataFrames, so
tests inject fixture JSON.
"""

from __future__ import annotations

from collections.abc import Iterable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import lineage_exprs
from ..schemas import VELIB_ENVELOPE_SCHEMA
from .readers import read_json


def _bike_type_count(kind: str) -> str:
    """GBFS bike-type counts arrive as an array of single-key maps
    [{'mechanical': 1}, {'ebike': 0}] (research.ipynb; SURVEY §1.3). Fold the
    array into one map (``map_concat``, so a repeated key follows
    ``spark.sql.mapKeyDedupPolicy``), then index it; a missing kind reads 0."""
    merged = (
        "aggregate(s.num_bikes_available_types, cast(map() AS map<string,int>),"
        " (acc, m) -> map_concat(acc, m))"
    )
    return f"coalesce({merged}['{kind}'], 0) AS num_bikes_{kind}"


#: One station row per exploded ``s``: equivalent of reference
#: ``pd.json_normalize(raw["data"]["stations"])`` + projection + epoch
#: conversion (etl_dag.py:225-242), with the columns the reference dropped
#: (stationCode, bike-type split) retained per SURVEY §1.5.
STATION_EXPRS = (
    "s.station_id AS station_id",
    "s.stationCode AS station_code",
    "s.num_bikes_available AS num_bikes_available",
    _bike_type_count("mechanical"),
    _bike_type_count("ebike"),
    "s.num_docks_available AS num_docks_available",
    "s.is_installed AS is_installed",
    "s.is_renting AS is_renting",
    "s.is_returning AS is_returning",
    "timestamp_seconds(s.last_reported) AS last_reported",
    # surrogate key station_id_lastreported: the reference notebook's
    # natural key (research.ipynb; SURVEY §1.5). It replaces the reference's
    # Postgres SERIAL (etl_dag.py:269), which has no distributed equivalent —
    # a value derived from the natural key is stable under retries and
    # partition-parallel writes, SERIAL is neither.
    "concat_ws('_', cast(s.station_id AS string), cast(s.last_reported AS string))"
    " AS record_id",
)


def flatten_station_status(envelope: DataFrame, extra: Iterable[str] = ()) -> DataFrame:
    """Envelope → one row per station with faithful types, plus the ``extra``
    SQL expressions in the same projection. Batch and streaming envelopes
    alike."""
    return envelope.selectExpr("explode(data.stations) AS s").selectExpr(
        *STATION_EXPRS, *extra
    )


def ingest_station_status(
    spark: SparkSession,
    json_path: str,
    run_ts: datetime,
    dag_id: str = "citymapper_dag",
    task_id: str = "transfer_station_status_data",
) -> DataFrame:
    """Full station branch: bronze JSON → flat, typed, lineage-stamped rows.

    Append to the accumulated table with
    ``df.write.partitionBy("ingest_date", "ingest_hour").mode("overwrite")``
    under dynamic partition overwrite → exactly-once per run (SURVEY §7).
    """
    # one pretty-printed API envelope per poll file → multiline parse
    envelope = read_json(spark, json_path, VELIB_ENVELOPE_SCHEMA, multiline=True)
    return flatten_station_status(envelope, lineage_exprs(run_ts, dag_id, task_id))


def with_ingest_partitions(df: DataFrame, ts_col: str = "execution_date") -> DataFrame:
    """Add hive-style partition columns in one projection. The reference
    encodes run time in S3 filenames under one flat prefix
    (etl_dag.py:185,192) — unprunable; a dt/hour layout gives partition
    pruning on time predicates for free."""
    ts = "`" + ts_col.replace("`", "``") + "`"
    return df.selectExpr(
        "*",
        f"date_format({ts}, 'yyyy-MM-dd') AS ingest_date",
        f"date_format({ts}, 'HH') AS ingest_hour",
    )
