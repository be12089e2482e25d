"""Driver-side ingest of one hourly envelope: stdlib ``json`` into one
``pyarrow.Table``, with no Spark job.

An hourly poll is one small JSON file: 1,474 station rows, or one weather
row. Spark's plan for it (``read_json(multiLine)``, the projection, a
partitioned write) is one non-splittable parse task plus fixed costs per
plan: analysis, a codegen compile, a write job and its commit. At this size
those cost several times more than the data. Here the envelope is parsed on
the driver and converted to the rows the branch's Spark plan
(:func:`..pipeline.branch_plan`) gives, in its exact types and nullability:
:data:`STATION_BATCH_SCHEMA` and :data:`WEATHER_BATCH_SCHEMA`, partition
columns included. :func:`..sinks.writers.write_partitioned_table` writes the
:class:`DriverBatch`.

**Exact subset.** The driver path takes an envelope only when every declared
value already has its declared JSON type, and Spark's conversion of it can
neither raise nor depend on a setting. Otherwise the batch functions return
None before anything is written, and the caller runs the Spark plan, which
then defines the result, errors included. They decline on:

- a file that cannot be read as one UTF-8 JSON value, or whose top-level
  value is not one object (a top-level array is one row per element to
  Spark);
- a duplicate key in any object (Spark keeps one of them);
- ``NaN``/``Infinity`` tokens, and non-finite doubles;
- a bool or float where an int is declared, an int out of its declared range,
  and an int beyond 2**53 where a double is declared;
- a non-string where a string is declared (Spark stores the raw JSON text);
- ``timestamp_seconds`` overflow, and ``cast(... AS int)`` out of range;
- zero station rows, and a bike type repeated across one station's array
  (``spark.sql.mapKeyDedupPolicy`` decides that);
- an empty ``weather`` array (ANSI ``element_at`` raises);
- a session time zone that :mod:`zoneinfo` cannot resolve;
- a bronze path whose name Spark may read differently: glob characters, or a
  hidden (``_`` or ``.``) file name.

Partition values are formatted in the session time zone with
:mod:`zoneinfo`, so they follow Python's tz database; the Spark path follows
the JVM's. The two agree unless one of them lacks a rule change the other
has.

A bronze path without a scheme is a local file, as the fetchers write it
(:mod:`.fetcher`), and is read with Python; any other path is read through
the Hadoop FileSystem API (:mod:`..tablefs` makes that choice).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..schemas import (
    STATION_STATUS_SCHEMA,
    STATION_STRUCT,
    VELIB_ENVELOPE_SCHEMA,
    WEATHER_ENVELOPE_SCHEMA,
    WEATHER_SCHEMA,
)
from ..tablefs import filesystem

PARTITION_COLS = ("ingest_date", "ingest_hour")

_RANGES = {
    LongType: (-(2**63), 2**63 - 1),
    IntegerType: (-(2**31), 2**31 - 1),
}
#: seconds whose ``timestamp_seconds`` (x 1,000,000 microseconds) fits a long
_SECONDS = (-(2**63 // 10**6), (2**63 - 1) // 10**6)
#: ints a double holds exactly
_EXACT_DOUBLE = 2**53
_NONE = type(None)
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_GLOB_CHARS = frozenset("*?[]{}\\")

_ARROW = {
    LongType(): pa.int64(),
    IntegerType(): pa.int32(),
    DoubleType(): pa.float64(),
    StringType(): pa.string(),
    TimestampType(): pa.timestamp("us", tz="UTC"),
}


def _batch_schema(schema: StructType, non_null: set[str]) -> StructType:
    """``schema`` with the nullability the branch's Spark plan gives, plus
    the partition columns."""
    return StructType(
        [StructField(f.name, f.dataType, f.name not in non_null) for f in schema.fields]
        + [StructField(c, StringType(), False) for c in PARTITION_COLS]
    )


_LINEAGE = {"execution_date", "dag_id", "task_id"}

#: The schema of ``branch_plan(spark, "station_status", ...)``.
STATION_BATCH_SCHEMA = _batch_schema(
    STATION_STATUS_SCHEMA,
    {"num_bikes_mechanical", "num_bikes_ebike", "record_id"} | _LINEAGE,
)
#: The schema of ``branch_plan(spark, "weather", ...)``.
WEATHER_BATCH_SCHEMA = _batch_schema(WEATHER_SCHEMA, _LINEAGE)


@dataclass(frozen=True)
class DriverBatch:
    """One branch's rows, built on the driver, for
    :func:`..sinks.writers.write_partitioned_table`. ``table`` holds the
    columns of ``schema`` (the Spark schema the branch's plan has), partition
    columns included."""

    spark: SparkSession
    table: pa.Table
    schema: StructType

    @property
    def rows(self) -> int:
        return self.table.num_rows


class _Declined(Exception):
    """The envelope is outside the driver path's exact subset."""


def _no_duplicates(pairs: list) -> dict:
    obj = dict(pairs)
    if len(obj) != len(pairs):
        raise _Declined("duplicate key")
    return obj


def _no_constant(token: str):
    raise _Declined(f"{token} token")


def _read_text(spark: SparkSession, path: str) -> str:
    name = os.path.basename(path)
    if _GLOB_CHARS.intersection(path) or name.startswith(("_", ".")):
        raise _Declined("path Spark may read differently")
    try:
        return filesystem(spark, path).read_bytes(path).decode("utf-8")
    except (OSError, UnicodeDecodeError) as err:
        raise _Declined("unreadable file") from err


def _load(spark: SparkSession, path: str) -> dict:
    """The envelope as one JSON object, parsed strictly."""
    try:
        value = json.loads(
            _read_text(spark, path),
            object_pairs_hook=_no_duplicates,
            parse_constant=_no_constant,
        )
    except (ValueError, RecursionError) as err:  # JSONDecodeError is a ValueError
        raise _Declined("not one JSON value") from err
    if type(value) is not dict:
        raise _Declined("top-level value is not one object")
    return value


def _check(value, dtype: DataType) -> None:
    """Decline unless ``value`` (parsed JSON) has ``dtype``'s JSON type and
    converts to it exactly."""
    if value is None:
        return
    if isinstance(dtype, StructType):
        if type(value) is not dict:
            raise _Declined("not an object")
        for f in dtype.fields:
            _check(value.get(f.name), f.dataType)
    elif isinstance(dtype, ArrayType):
        if type(value) is not list:
            raise _Declined("not an array")
        for v in value:
            _check(v, dtype.elementType)
    elif isinstance(dtype, MapType):  # JSON keys are strings, as declared
        if type(value) is not dict:
            raise _Declined("not an object")
        for v in value.values():
            _check(v, dtype.valueType)
    else:
        _check_column([value], dtype)


def _check_column(values: list, dtype: DataType) -> None:
    """:func:`_check` for every value of one column."""
    kind = type(dtype)
    types = set(map(type, values))
    if kind in _RANGES:
        if not types <= {int, _NONE}:
            raise _Declined("not an int")
        ints = [v for v in values if v is not None]
        lo, hi = _RANGES[kind]
        if ints and (min(ints) < lo or max(ints) > hi):
            raise _Declined("int out of range")
    elif kind is StringType:
        if not types <= {str, _NONE}:
            raise _Declined("not a string")
    elif kind is DoubleType:
        if not types <= {int, float, _NONE}:
            raise _Declined("not a number")
        for v in values:
            if type(v) is float and not math.isfinite(v):
                raise _Declined("non-finite double")
            if type(v) is int and abs(v) > _EXACT_DOUBLE:
                raise _Declined("int not exact as a double")
    elif kind in (StructType, ArrayType, MapType):
        for v in values:
            _check(v, dtype)
    else:
        raise _Declined(f"no driver conversion for {dtype}")


def _micros(seconds: list) -> list:
    """``timestamp_seconds`` of a checked long column, in microseconds."""
    ints = [v for v in seconds if v is not None]
    if ints and (min(ints) < _SECONDS[0] or max(ints) > _SECONDS[1]):
        raise _Declined("timestamp_seconds overflow")
    return [None if v is None else v * 1_000_000 for v in seconds]


def _partitions(spark: SparkSession, execution_us: int) -> tuple[str, str]:
    """``date_format(execution_date, 'yyyy-MM-dd' / 'HH')`` in the session
    time zone."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        local = (_EPOCH + timedelta(microseconds=execution_us)).astimezone(ZoneInfo(tz))
    except (KeyError, ValueError, OverflowError) as err:  # ZoneInfoNotFoundError is a KeyError
        raise _Declined("session time zone") from err
    return f"{local.year:04d}-{local.month:02d}-{local.day:02d}", f"{local.hour:02d}"


def _table(
    spark: SparkSession,
    schema: StructType,
    columns: list,
    run_ts: datetime,
    dag_id: str,
    task_id: str,
) -> pa.Table:
    """The batch table: ``columns`` (Python lists, in ``schema`` order) plus
    the lineage and partition columns, which are the same on every row."""
    n = len(columns[0])
    execution_us = TimestampType().toInternal(run_ts)
    constants = (execution_us, dag_id, task_id, *_partitions(spark, execution_us))
    fields = schema.fields
    arrays = [pa.array(c, _ARROW[f.dataType]) for c, f in zip(columns, fields)]
    arrays += [
        pa.repeat(pa.scalar(v, _ARROW[f.dataType]), n)
        for v, f in zip(constants, fields[len(columns) :])
    ]
    arrow_schema = pa.schema(
        [pa.field(f.name, _ARROW[f.dataType], f.nullable) for f in fields]
    )
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _bike_types(types: list | None) -> tuple[int, int]:
    """``num_bikes_mechanical``/``num_bikes_ebike`` of one
    ``num_bikes_available_types`` (``array<map<string,int>>``, checked
    here): the maps folded with ``map_concat``, where a null entry nulls the
    fold and an absent or null count reads 0."""
    if types is None:
        return 0, 0
    if type(types) is not list:
        raise _Declined("not an array")
    lo, hi = _RANGES[IntegerType]
    merged: dict = {}
    for m in types:
        if m is None:
            continue
        if type(m) is not dict:
            raise _Declined("not an object")
        for k, v in m.items():
            if k in merged:
                raise _Declined("repeated bike type")
            if v is not None and (type(v) is not int or not lo <= v <= hi):
                raise _Declined("not an int")
            merged[k] = v
    if None in types:
        return 0, 0
    return merged.get("mechanical") or 0, merged.get("ebike") or 0


def _record_id(station_id, last_reported) -> str:
    """``concat_ws('_', cast(station_id AS string), cast(last_reported AS
    string))``: nulls are skipped."""
    return "_".join(str(v) for v in (station_id, last_reported) if v is not None)


def station_status_batch(
    spark: SparkSession,
    json_path: str,
    run_ts: datetime,
    dag_id: str = "citymapper_dag",
    task_id: str = "transfer_station_status_data",
) -> DriverBatch | None:
    """The station branch's rows as :func:`.velib.ingest_station_status`
    plus :func:`.velib.with_ingest_partitions` give them, or None when the
    envelope is outside the exact subset."""
    try:
        env = _load(spark, json_path)
        for f in VELIB_ENVELOPE_SCHEMA.fields:
            if f.name != "data":
                _check(env.get(f.name), f.dataType)
        data = env.get("data")
        if data is not None and type(data) is not dict:
            raise _Declined("data is not an object")
        stations = None if data is None else data.get("stations")
        if stations is not None and type(stations) is not list:
            raise _Declined("stations is not an array")
        if not stations:
            raise _Declined("no station rows")
        # a null element explodes to a row whose fields are all null
        rows = [{} if s is None else s for s in stations]
        if not set(map(type, rows)) <= {dict}:
            raise _Declined("station is not an object")
        col = {}
        for f in STATION_STRUCT.fields:
            col[f.name] = [s.get(f.name) for s in rows]
            if f.name != "num_bikes_available_types":  # checked by _bike_types
                _check_column(col[f.name], f.dataType)
        bikes = [_bike_types(t) for t in col["num_bikes_available_types"]]
        columns = [
            col["station_id"],
            col["stationCode"],
            col["num_bikes_available"],
            [b[0] for b in bikes],
            [b[1] for b in bikes],
            col["num_docks_available"],
            col["is_installed"],
            col["is_renting"],
            col["is_returning"],
            _micros(col["last_reported"]),
            list(map(_record_id, col["station_id"], col["last_reported"])),
        ]
        table = _table(spark, STATION_BATCH_SCHEMA, columns, run_ts, dag_id, task_id)
    except (_Declined, pa.ArrowException, UnicodeEncodeError):
        return None
    return DriverBatch(spark, table, STATION_BATCH_SCHEMA)


def weather_batch(
    spark: SparkSession,
    json_path: str,
    run_ts: datetime,
    dag_id: str = "citymapper_dag",
    task_id: str = "transfer_weather_data",
) -> DriverBatch | None:
    """The weather branch's one row as :func:`.weather.ingest_weather` plus
    :func:`.velib.with_ingest_partitions` give it, or None when the envelope
    is outside the exact subset."""
    try:
        env = _load(spark, json_path)
        _check(env, WEATHER_ENVELOPE_SCHEMA)
        cur = env.get("current") or {}
        for name in ("pressure", "humidity"):  # cast(... AS int)
            _check_column([cur.get(name)], IntegerType())
        conditions = cur.get("weather")
        if conditions == []:
            raise _Declined("element_at of an empty array")
        first = (conditions or [None])[0] or {}
        double = [None if cur.get(k) is None else float(cur[k]) for k in ("temp", "feels_like", "wind_speed")]
        columns = [
            [double[0]],
            [double[1]],
            [cur.get("pressure")],
            [cur.get("humidity")],
            [double[2]],
            [first.get("description")],
            _micros([cur.get("dt")]),
        ]
        table = _table(spark, WEATHER_BATCH_SCHEMA, columns, run_ts, dag_id, task_id)
    except (_Declined, pa.ArrowException, UnicodeEncodeError):
        return None
    return DriverBatch(spark, table, WEATHER_BATCH_SCHEMA)
