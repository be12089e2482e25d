"""Driver-side ingest of one hourly envelope into one ``pyarrow.Table``, with
no Spark job: the station envelope through Arrow's C++ JSON reader and
compute kernels, the weather envelope through stdlib ``json``.

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

The station envelope is read by ``pyarrow.json.read_json`` with an explicit
schema derived from :data:`..schemas.VELIB_ENVELOPE_SCHEMA`, and the
flatten, ``timestamp_seconds``, ``record_id`` and bike-type fold are Arrow
kernels, so the parse and conversion run in C++ without the GIL and with no
Python work per row. The weather envelope is one row and its stdlib parse
takes well under a millisecond; it stays there because Arrow's reader
parses an int token beyond 2**53 into a double field without a sign of the
rounding, which the exact subset below must decline.

**Exact subset.** The driver path takes an envelope only when every declared
value already has its declared JSON type, and Spark's conversion of it can
neither raise nor depend on a setting. Otherwise the batch functions return
None before anything is written, and the caller runs the Spark plan, which
then defines the result, errors included. They decline on:

- a file that is not UTF-8, starts with a byte order mark, or is not exactly
  one JSON value; a top-level value that is not one object (a top-level
  array is one row per element to Spark);
- a duplicate key in any object (Spark keeps one of them);
- ``NaN``/``Infinity`` tokens, and non-finite doubles;
- a bool or float where an int is declared, an int out of its declared range,
  and an int beyond 2**53 where a double is declared;
- a non-string where a string is declared (Spark stores the raw JSON text);
- ``timestamp_seconds`` overflow, and ``cast(... AS int)`` out of range;
- zero station rows, and a bike type repeated across one station's array
  (``spark.sql.mapKeyDedupPolicy`` decides that);
- in the station envelope: a ``null`` member inside a bike-type map, and any
  file that holds both ``null`` and a backslash. Arrow reads each map as a
  struct, where an absent key and a null one look the same, but
  ``map_concat`` counts a null key as a repeat. The search for such a
  member is lexical, and an escape could spell the array's key so that the
  search misses it;
- in the station envelope: an undeclared field holding a double, which is
  where Arrow's reader takes ``NaN`` and ``Inf`` tokens, or values Arrow
  cannot give one type (an int in one station and a string in another);
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

import codecs
import json
import math
import os
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj
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
#: ints a double holds exactly
_EXACT_DOUBLE = 2**53
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_GLOB_CHARS = frozenset("*?[]{}\\")

_ARROW = {
    LongType(): pa.int64(),
    IntegerType(): pa.int32(),
    DoubleType(): pa.float64(),
    StringType(): pa.string(),
    TimestampType(): pa.timestamp("us", tz="UTC"),
}

#: the bike types the station rows count; a map's other keys are read too
_BIKE_TYPES = ("mechanical", "ebike")


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


def _arrow_type(dtype: DataType) -> pa.DataType:
    """The type Arrow's JSON reader parses ``dtype`` as. It has no map type,
    so a map reads as a struct of :data:`_BIKE_TYPES` (the only map declared);
    undeclared keys are inferred."""
    if isinstance(dtype, StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType)) for f in dtype.fields])
    if isinstance(dtype, ArrayType):
        return pa.list_(_arrow_type(dtype.elementType))
    if isinstance(dtype, MapType):
        return pa.struct([pa.field(k, _arrow_type(dtype.valueType)) for k in _BIKE_TYPES])
    return _ARROW[dtype]


_STATION_PARSE = pj.ParseOptions(
    explicit_schema=pa.schema(list(_arrow_type(VELIB_ENVELOPE_SCHEMA))),
    newlines_in_values=True,  # the envelope may be pretty-printed
    unexpected_field_behavior="infer",  # keeps undeclared bike types
)
#: a ``null`` member of an object inside a ``num_bikes_available_types``
#: array; strings are skipped whole, so a bracket or colon in a key cannot
#: end the array early
_NULL_IN_BIKE_TYPES = re.compile(
    rb'"num_bikes_available_types"\s*:\s*\[(?:[^\[\]"]|"(?:[^"\\]|\\.)*")*?:\s*null'
)


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


def _read_bytes(spark: SparkSession, path: str) -> bytes:
    name = os.path.basename(path)
    if _GLOB_CHARS.intersection(path) or name.startswith(("_", ".")):
        raise _Declined("path Spark may read differently")
    try:
        return filesystem(spark, path).read_bytes(path)
    except OSError as err:
        raise _Declined("unreadable file") from err


def _load(spark: SparkSession, path: str) -> dict:
    """The envelope as one JSON object, parsed strictly."""
    try:
        value = json.loads(
            _read_bytes(spark, path).decode("utf-8"),
            object_pairs_hook=_no_duplicates,
            parse_constant=_no_constant,
        )
    except (ValueError, RecursionError) as err:  # a ValueError: JSONDecodeError, UnicodeDecodeError
        raise _Declined("not one JSON value") from err
    if type(value) is not dict:
        raise _Declined("top-level value is not one object")
    return value


def _check(value, dtype: DataType) -> None:
    """Decline unless ``value`` (parsed JSON) has ``dtype``'s JSON type and
    converts to it exactly."""
    if value is None:
        return
    kind = type(dtype)
    if kind is StructType:
        if type(value) is not dict:
            raise _Declined("not an object")
        for f in dtype.fields:
            _check(value.get(f.name), f.dataType)
    elif kind is ArrayType:
        if type(value) is not list:
            raise _Declined("not an array")
        for v in value:
            _check(v, dtype.elementType)
    elif kind in _RANGES:
        lo, hi = _RANGES[kind]
        if type(value) is not int or not lo <= value <= hi:
            raise _Declined("not an int in range")
    elif kind is StringType:
        if type(value) is not str:
            raise _Declined("not a string")
    elif kind is DoubleType:
        if type(value) is float and not math.isfinite(value):
            raise _Declined("non-finite double")
        if type(value) is int and abs(value) > _EXACT_DOUBLE:
            raise _Declined("int not exact as a double")
        if type(value) not in (int, float):
            raise _Declined("not a number")
    else:
        raise _Declined(f"no driver conversion for {dtype}")


def _timestamp_seconds(seconds: pa.Array) -> pa.Array:
    """``timestamp_seconds`` of a long column; declines on overflow."""
    micros = pc.multiply_checked(seconds, 1_000_000)  # raises ArrowInvalid on overflow
    return micros.cast(_ARROW[TimestampType()])


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
    arrays: list,
    run_ts: datetime,
    dag_id: str,
    task_id: str,
) -> pa.Table:
    """The batch table: ``arrays`` (in ``schema`` order) plus the lineage
    and partition columns, which are the same on every row."""
    n = len(arrays[0])
    execution_us = TimestampType().toInternal(run_ts)
    constants = (execution_us, dag_id, task_id, *_partitions(spark, execution_us))
    fields = schema.fields
    arrays = arrays + [
        pa.repeat(pa.scalar(v, _ARROW[f.dataType]), n)
        for v, f in zip(constants, fields[len(arrays) :])
    ]
    arrow_schema = pa.schema(
        [pa.field(f.name, _ARROW[f.dataType], f.nullable) for f in fields]
    )
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def _has_double(fields) -> bool:
    """Whether any of ``fields`` (Arrow fields, nested ones included) has a
    floating-point type."""
    for f in fields:
        t = f.type
        while pa.types.is_list(t):
            t = t.value_type
        if pa.types.is_floating(t) or (pa.types.is_struct(t) and _has_double(t)):
            return True
    return False


def _read_stations(data: bytes) -> pa.StructArray:
    """``explode(data.stations)`` of the envelope in ``data``: one struct per
    station, a null element as a null struct."""
    if data.startswith(codecs.BOM_UTF8):
        raise _Declined("byte order mark")
    data.decode("utf-8")  # the reader does not check UTF-8; raises UnicodeDecodeError
    if b"null" in data and (b"\\" in data or _NULL_IN_BIKE_TYPES.search(data)):
        raise _Declined("null member of a bike-type map")
    env = pj.read_json(
        pa.BufferReader(data),
        read_options=pj.ReadOptions(use_threads=False, block_size=len(data) + 1),
        parse_options=_STATION_PARSE,
    )
    if env.num_rows != 1:  # the reader takes concatenated values as rows
        raise _Declined("not one JSON value")
    if _has_double(env.schema):  # no double is declared: an undeclared field
        raise _Declined("undeclared double, NaN or Infinity")
    stations = pc.struct_field(env.column("data").combine_chunks(), "stations")
    if stations.null_count or not pc.list_value_length(stations)[0].as_py():
        raise _Declined("no station rows")
    return pc.list_flatten(stations)


def _segment_sums(values: pa.Array, starts: pa.Array, ends: pa.Array) -> pa.Array:
    """The sum of ``values[starts[i]:ends[i]]`` for each ``i``, nulls as 0."""
    prefix = pc.cumulative_sum(pc.fill_null(values.cast(pa.int64()), 0))
    prefix = pa.concat_arrays([pa.array([0], pa.int64()), prefix])
    return pc.subtract(pc.take(prefix, ends), pc.take(prefix, starts))


def _bike_counts(types: pa.Array) -> list[pa.Array]:
    """``num_bikes_mechanical`` and ``num_bikes_ebike`` from the stations'
    ``num_bikes_available_types``: each array's maps folded with
    ``map_concat``, where a null entry nulls the fold and an absent count
    reads 0. Declines a bike type that two maps of one array hold."""
    lengths = pc.fill_null(pc.list_value_length(types), 0).cast(pa.int64())
    ends = pc.cumulative_sum(lengths)
    starts = pc.subtract(ends, lengths)
    maps = pc.list_flatten(types)
    null_maps = _segment_sums(maps.is_null(), starts, ends)
    counts = {}
    for field in maps.type:  # the declared bike types, then inferred ones
        if field.type not in (pa.int32(), pa.int64(), pa.null()):
            raise _Declined("bike count is not an int")
        counts[field.name] = pc.struct_field(maps, field.name).cast(pa.int32())  # checks the range
        if (pc.max(_segment_sums(counts[field.name].is_valid(), starts, ends)).as_py() or 0) > 1:
            raise _Declined("repeated bike type")
    folded = pc.equal(null_maps, 0)
    return [
        pc.if_else(folded, _segment_sums(counts[k], starts, ends), 0).cast(pa.int32())
        for k in _BIKE_TYPES
    ]


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
        stations = _read_stations(_read_bytes(spark, json_path))
        s = {f.name: column for f, column in zip(stations.type, stations.flatten())}
        station_id, last_reported = s["station_id"], s["last_reported"]
        ids = [station_id.cast(pa.string()), last_reported.cast(pa.string())]
        # concat_ws('_', ...) skips nulls; binary_join's "skip" mode drops
        # rows whose inputs are all null (pyarrow 16.1), so coalesce instead
        record_id = pc.coalesce(pc.binary_join_element_wise(*ids, "_"), *ids, "")
        arrays = [
            station_id,
            s["stationCode"],
            s["num_bikes_available"],
            *_bike_counts(s["num_bikes_available_types"]),
            s["num_docks_available"],
            s["is_installed"],
            s["is_renting"],
            s["is_returning"],
            _timestamp_seconds(last_reported),
            record_id,
        ]
        table = _table(spark, STATION_BATCH_SCHEMA, arrays, run_ts, dag_id, task_id)
    except (_Declined, pa.ArrowException, UnicodeDecodeError):
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
            _check(cur.get(name), IntegerType())
        conditions = cur.get("weather")
        if conditions == []:
            raise _Declined("element_at of an empty array")
        first = (conditions or [None])[0] or {}
        values = [
            cur.get("temp"),
            cur.get("feels_like"),
            cur.get("pressure"),
            cur.get("humidity"),
            cur.get("wind_speed"),
            first.get("description"),
        ]
        fields = WEATHER_BATCH_SCHEMA.fields
        arrays = [pa.array([v], _ARROW[f.dataType]) for v, f in zip(values, fields)]
        arrays.append(_timestamp_seconds(pa.array([cur.get("dt")], pa.int64())))
        table = _table(spark, WEATHER_BATCH_SCHEMA, arrays, run_ts, dag_id, task_id)
    except (_Declined, pa.ArrowException, UnicodeEncodeError):
        return None
    return DriverBatch(spark, table, WEATHER_BATCH_SCHEMA)
