"""The SQL-text ingest projections against the ``Column``-chained
definitions they replaced.

The chained forms below are the previous ``flatten_station_status``,
``flatten_weather``, ``with_lineage`` and ``with_ingest_partitions``, kept
here only as the oracle: each branch's plan (ingest, then the partition
columns) must give the same schema — names, types, nullability, order — and
the same rows, on the fixtures and on hand-built envelopes with the
bike-type edge cases.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from etl_dag_paris_velib_spark.functions.scalar import with_lineage
from etl_dag_paris_velib_spark.schemas import (
    STATION_STATUS_SCHEMA,
    VELIB_ENVELOPE_SCHEMA,
    WEATHER_ENVELOPE_SCHEMA,
    WEATHER_SCHEMA,
)
from etl_dag_paris_velib_spark.sources import ingest_station_status, ingest_weather
from etl_dag_paris_velib_spark.sources.readers import read_json
from etl_dag_paris_velib_spark.sources.velib import with_ingest_partitions

RUN_TS = datetime(2025, 1, 31, 10, 0, 0)


def _chained_bike_type_count(kind):
    merged = F.aggregate(
        F.col("s.num_bikes_available_types"),
        F.create_map().cast("map<string,int>"),
        lambda acc, m: F.map_concat(acc, m),
    )
    return F.coalesce(merged[kind], F.lit(0))


def _chained_lineage(df, run_ts, dag_id, task_id):
    return (
        df.withColumn("execution_date", F.lit(run_ts).cast("timestamp"))
        .withColumn("dag_id", F.lit(dag_id))
        .withColumn("task_id", F.lit(task_id))
    )


def _chained_partitions(df):
    return df.withColumn(
        "ingest_date", F.date_format("execution_date", "yyyy-MM-dd")
    ).withColumn("ingest_hour", F.date_format("execution_date", "HH"))


def chained_station(spark, path, run_ts, dag_id, task_id):
    envelope = read_json(spark, path, VELIB_ENVELOPE_SCHEMA, multiline=True)
    flat = envelope.select(
        F.explode("data.stations").alias("s"), F.col("lastUpdatedOther")
    ).select(
        F.col("s.station_id").alias("station_id"),
        F.col("s.stationCode").alias("station_code"),
        F.col("s.num_bikes_available").alias("num_bikes_available"),
        _chained_bike_type_count("mechanical").alias("num_bikes_mechanical"),
        _chained_bike_type_count("ebike").alias("num_bikes_ebike"),
        F.col("s.num_docks_available").alias("num_docks_available"),
        F.col("s.is_installed").alias("is_installed"),
        F.col("s.is_renting").alias("is_renting"),
        F.col("s.is_returning").alias("is_returning"),
        F.timestamp_seconds("s.last_reported").alias("last_reported"),
        F.concat_ws(
            "_",
            F.col("s.station_id").cast("string"),
            F.col("s.last_reported").cast("string"),
        ).alias("record_id"),
    )
    return _chained_partitions(_chained_lineage(flat, run_ts, dag_id, task_id))


def chained_weather(spark, path, run_ts, dag_id, task_id):
    envelope = read_json(spark, path, WEATHER_ENVELOPE_SCHEMA, multiline=True)
    flat = envelope.select(
        F.col("current.temp").alias("temp"),
        F.col("current.feels_like").alias("feels_like"),
        F.col("current.pressure").cast("int").alias("pressure"),
        F.col("current.humidity").cast("int").alias("humidity"),
        F.col("current.wind_speed").alias("wind_speed"),
        F.element_at("current.weather", 1)["description"].alias(
            "weather_description"
        ),
        F.timestamp_seconds("current.dt").alias("timestamp"),
    )
    return _chained_partitions(_chained_lineage(flat, run_ts, dag_id, task_id))


def _assert_same(new, old, schema: StructType):
    """Same schema as the chained plan and as ``schema`` plus the partition
    columns; same rows."""
    assert new.schema == old.schema
    assert [(f.name, f.dataType) for f in new.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ] + [("ingest_date", StringType()), ("ingest_hour", StringType())]
    rows = sorted(tuple(r) for r in new.collect())
    assert rows == sorted(tuple(r) for r in old.collect())
    return rows


def _station(**over):
    s = {
        "station_id": 1,
        "stationCode": "1",
        "is_installed": 1,
        "is_renting": 1,
        "is_returning": 1,
        "last_reported": 1738317900,
        "num_bikes_available": 2,
        "num_docks_available": 8,
        "numBikesAvailable": 2,
        "numDocksAvailable": 8,
        "num_bikes_available_types": [{"mechanical": 1}, {"ebike": 1}],
    }
    s.update(over)
    return s


EDGE_STATIONS = [
    _station(station_id=1, num_bikes_available_types=[]),
    _station(station_id=2, num_bikes_available_types=[None, {"ebike": 4}]),
    _station(station_id=3, num_bikes_available_types=[{"ebike": 7}]),
    _station(station_id=4, num_bikes_available_types=None),
    _station(station_id=5, num_bikes_available_types=[{"mechanical": 3}, {"ebike": 2}]),
]


@pytest.fixture(scope="module")
def edge_envelope(tmp_path_factory):
    p = tmp_path_factory.mktemp("edge") / "station_status.json"
    p.write_text(
        json.dumps({"lastUpdatedOther": 1738318000, "ttl": 3600, "data": {"stations": EDGE_STATIONS}})
    )
    return str(p)


def test_station_projection_matches_chained(spark, fixtures_dir):
    path = os.path.join(fixtures_dir, "station_status.json")
    ids = ("citymapper_dag", "transfer_station_status_data")
    new = with_ingest_partitions(ingest_station_status(spark, path, RUN_TS, *ids))
    rows = _assert_same(new, chained_station(spark, path, RUN_TS, *ids), STATION_STATUS_SCHEMA)
    assert len(rows) == 3


def test_station_projection_bike_type_edges(spark, edge_envelope):
    ids = ("citymapper_dag", "transfer_station_status_data")
    new = with_ingest_partitions(ingest_station_status(spark, edge_envelope, RUN_TS, *ids))
    _assert_same(new, chained_station(spark, edge_envelope, RUN_TS, *ids), STATION_STATUS_SCHEMA)
    got = {
        r.station_id: (r.num_bikes_mechanical, r.num_bikes_ebike) for r in new.collect()
    }
    # empty array and null array: both kinds absent → 0; a null entry
    # nulls the folded map (map_concat with null) → both 0; ebike-only
    # station: mechanical absent → 0
    assert got == {1: (0, 0), 2: (0, 0), 3: (0, 7), 4: (0, 0), 5: (3, 2)}


def test_weather_projection_matches_chained(spark, fixtures_dir):
    path = os.path.join(fixtures_dir, "weather.json")
    ids = ("citymapper_dag", "transfer_weather_data")
    new = with_ingest_partitions(ingest_weather(spark, path, RUN_TS, *ids))
    rows = _assert_same(new, chained_weather(spark, path, RUN_TS, *ids), WEATHER_SCHEMA)
    assert len(rows) == 1


@pytest.mark.parametrize(
    "run_ts",
    [
        RUN_TS,
        datetime(2025, 1, 31, 10, 0, 0, 123456, tzinfo=timezone(timedelta(hours=1))),
        datetime(2025, 3, 30, 1, 30, tzinfo=timezone.utc),
    ],
)
def test_lineage_quotes_and_instants_round_trip(spark, fixtures_dir, run_ts):
    """Lineage strings are SQL literals: quotes and backslashes must come
    back verbatim, and ``execution_date`` must be the instant
    ``F.lit(run_ts)`` gives, naive or aware."""
    dag_id = "o'brien\\dag\\'; --"
    task_id = "t\\\\n'\"x\\u0041"
    path = os.path.join(fixtures_dir, "weather.json")
    new = with_ingest_partitions(ingest_weather(spark, path, run_ts, dag_id, task_id))
    _assert_same(new, chained_weather(spark, path, run_ts, dag_id, task_id), WEATHER_SCHEMA)
    r = new.collect()[0]
    assert (r.dag_id, r.task_id) == (dag_id, task_id)

    base = spark.range(1)
    via_helper = with_lineage(base, run_ts, dag_id, task_id)
    via_chain = _chained_lineage(base, run_ts, dag_id, task_id)
    assert via_helper.schema == via_chain.schema
    assert via_helper.collect() == via_chain.collect()

