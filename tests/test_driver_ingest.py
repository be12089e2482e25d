"""The driver path of the hourly ingest against the Spark plan it replaces.

``run_pipeline`` parses each bronze envelope on the driver and writes it with
pyarrow (``sources/driver_ingest.py``, ``sinks/staged.py``). The oracle is
the branch's Spark plan (``pipeline.branch_plan``, forced here by making
every ``BRANCH_INGEST`` entry decline): both must give the same
``spark.read.parquet`` schema and rows and a byte-identical ``_schema.json``.
Envelopes outside the driver path's exact subset must be declined, and then
``run_pipeline`` must give exactly what the Spark path gives, errors
included. A table named by a plain path (Python file I/O) and one named by a
``file://`` URI (the Hadoop FileSystem API, ``tablefs.py``) must come out
the same, and keep the swap's rules on both.
"""

from __future__ import annotations

import contextlib
import gc
import glob
import importlib.util
import json
import os
import re
import sys
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from etl_dag_paris_velib_spark import pipeline
from etl_dag_paris_velib_spark.sinks import staged, writers
from etl_dag_paris_velib_spark.sinks.writers import write_partitioned_table
from etl_dag_paris_velib_spark.sources.driver_ingest import (
    STATION_BATCH_SCHEMA,
    WEATHER_BATCH_SCHEMA,
)
from etl_dag_paris_velib_spark.sources.fetcher import FileFetcher
from etl_dag_paris_velib_spark.sources.readers import read_parquet
from etl_dag_paris_velib_spark.sources.velib import with_ingest_partitions
from etl_dag_paris_velib_spark.table_schema import SCHEMA_FILE
from etl_dag_paris_velib_spark.tablefs import HadoopFS, LocalFS, filesystem
from test_ingest_equivalence import EDGE_STATIONS

RUN_TS = datetime(2025, 1, 31, 10, tzinfo=timezone.utc)
BRANCHES = ("station_status", "weather")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def spark_only():
    """Every branch declines the driver path, so ``run_pipeline`` runs the
    Spark plan."""
    saved = dict(pipeline.BRANCH_INGEST)
    pipeline.BRANCH_INGEST.update({name: lambda *a, **k: None for name in saved})
    try:
        yield
    finally:
        pipeline.BRANCH_INGEST.update(saved)


@contextlib.contextmanager
def session_time_zone(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def rows(df):
    """Sorted rows, timestamps as epoch microseconds (Python datetimes stop
    at year 1) and every value as its repr (NaN is unequal to itself)."""
    cols = [
        f"unix_micros(`{f.name}`) AS `{f.name}`" if f.dataType == TimestampType() else f"`{f.name}`"
        for f in df.schema.fields
    ]
    return sorted(repr(tuple(r)) for r in df.selectExpr(*cols).collect())


def jobs_submitted(spark, fn) -> int:
    """Spark jobs submitted while ``fn()`` runs, from any thread.

    ``run_pipeline`` runs its branches on pool threads, which do not inherit
    the caller's job group, so this counts the jobs without a group."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    fn()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


def assert_same_table(spark, got: str, want: str):
    a, b = spark.read.parquet(got), spark.read.parquet(want)
    assert a.schema == b.schema
    assert rows(a) == rows(b)
    with open(os.path.join(got, SCHEMA_FILE), "rb") as f1, open(os.path.join(want, SCHEMA_FILE), "rb") as f2:
        assert f1.read() == f2.read()


def run(spark, out: str, files: dict[str, str], run_ts=RUN_TS):
    fetchers = {name: FileFetcher(p) for name, p in files.items()}
    return pipeline.run_pipeline(
        spark, fetchers, os.path.join(out, "bronze"), os.path.join(out, "gold"), run_ts, retries=0
    )


def run_both(spark, work, files: dict[str, str], run_ts=RUN_TS):
    """``run_pipeline`` on the driver path and on the Spark plan; asserts the
    driver path took every branch and both wrote the same tables."""
    for name, p in files.items():
        assert pipeline.BRANCH_INGEST[name](spark, p, run_ts) is not None, name
    got = run(spark, str(work / "driver"), files, run_ts)
    with spark_only():
        want = run(spark, str(work / "spark"), files, run_ts)
    for name in files:
        assert got[name].rows_inserted == want[name].rows_inserted
        assert_same_table(spark, got[name].output_path, want[name].output_path)
    return got


def write_both(spark, work, name, path, run_ts, dag_id, task_id):
    """The batch and the Spark plan of one branch, with lineage ids, written
    by ``write_partitioned_table``; returns the two table paths."""
    batch = pipeline.BRANCH_INGEST[name](spark, path, run_ts, dag_id, task_id)
    assert batch is not None
    plan = with_ingest_partitions(pipeline.SPARK_INGEST[name](spark, path, run_ts, dag_id, task_id))
    assert batch.schema == plan.schema
    got, want = str(work / "driver" / name), str(work / "spark" / name)
    write_partitioned_table(batch, got)
    write_partitioned_table(plan, want)
    return got, want


def envelope_file(directory, name: str, text: str) -> str:
    os.makedirs(directory, exist_ok=True)
    p = os.path.join(directory, f"{name}.json")
    with open(p, "w") as f:
        f.write(text)
    return p


def station_envelope(stations) -> str:
    return json.dumps({"lastUpdatedOther": 1738318000, "ttl": 3600, "data": {"stations": stations}})


def _load_feed():
    spec = importlib.util.spec_from_file_location("perfbench_feed", os.path.join(ROOT, "perfbench", "feed.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod.Feed


# --- equivalence on accepted envelopes ------------------------------------


def test_batch_schemas_are_the_spark_plans(spark, fixtures_dir):
    from pyspark.sql import Observation

    for name, schema in (("station_status", STATION_BATCH_SCHEMA), ("weather", WEATHER_BATCH_SCHEMA)):
        path = os.path.join(fixtures_dir, f"{name}.json")
        plan = pipeline.branch_plan(spark, name, path, RUN_TS, Observation(f"schema_{name}"))
        assert plan.schema == schema


def test_fixtures_match_spark_path(spark, tmp_path, fixtures_dir):
    files = {name: os.path.join(fixtures_dir, f"{name}.json") for name in BRANCHES}
    got = run_both(spark, tmp_path, files)
    assert got["station_status"].rows_inserted == 3
    assert got["weather"].rows_inserted == 1


def test_uri_bronze_path_reads_through_hadoop(spark, fixtures_dir):
    for name in BRANCHES:
        path = os.path.join(fixtures_dir, f"{name}.json")
        local = pipeline.BRANCH_INGEST[name](spark, path, RUN_TS)
        uri = pipeline.BRANCH_INGEST[name](spark, f"file://{path}", RUN_TS)
        assert uri is not None and uri.table.equals(local.table), name


def test_footer_has_spark_physical_layout(spark, tmp_path, fixtures_dir):
    files = {name: os.path.join(fixtures_dir, f"{name}.json") for name in BRANCHES}
    run_both(spark, tmp_path, files)
    for name in BRANCHES:
        (got,) = glob.glob(str(tmp_path / "driver" / "gold" / name / "*" / "*" / "part-*.snappy.parquet"))
        (want,) = glob.glob(str(tmp_path / "spark" / "gold" / name / "*" / "*" / "part-*.snappy.parquet"))
        a, b = pq.read_metadata(got), pq.read_metadata(want)
        for key in (b"org.apache.spark.version", b"org.apache.spark.sql.parquet.row.metadata"):
            assert a.metadata[key] == b.metadata[key]
        assert [
            (c.physical_type, c.max_definition_level) for c in a.schema
        ] == [(c.physical_type, c.max_definition_level) for c in b.schema]
        assert {a.row_group(0).column(i).compression for i in range(a.num_columns)} == {"SNAPPY"}
        assert "INT96" in {c.physical_type for c in a.schema}


def test_seeded_feed_hours_match_spark_path(spark, tmp_path):
    feed = _load_feed()(str(tmp_path / "feed"), 5)
    for _ in range(3):
        hour = feed.next_hour()
        files = {"station_status": hour.station_path, "weather": hour.weather_path}
        ts = datetime.fromtimestamp(hour.run_ts, timezone.utc)
        got = run_both(spark, tmp_path, files, ts)
        assert got["station_status"].rows_inserted == 1474


def test_edge_stations_match_spark_path(spark, tmp_path):
    stations = EDGE_STATIONS + [None, {"station_id": 9}, {"last_reported": 5}]
    p = envelope_file(tmp_path / "in", "station_status", station_envelope(stations))
    assert run_both(spark, tmp_path, {"station_status": p})["station_status"].rows_inserted == 8


@pytest.mark.parametrize(
    "run_ts",
    [
        datetime(2025, 1, 31, 10, 0, 0),
        datetime(2025, 1, 31, 10, 0, 0, 123456, tzinfo=timezone(timedelta(hours=1))),
        datetime(2025, 3, 30, 1, 30, tzinfo=timezone(timedelta(hours=-7))),
    ],
    ids=["naive", "aware", "non-utc"],
)
def test_lineage_quotes_and_run_ts(spark, tmp_path, fixtures_dir, run_ts):
    dag_id, task_id = "o'brien\\dag\\'; --", "t\\\\n'\"x\\u0041"
    for name in BRANCHES:
        path = os.path.join(fixtures_dir, f"{name}.json")
        got, want = write_both(spark, tmp_path, name, path, run_ts, dag_id, task_id)
        assert_same_table(spark, got, want)
        assert {r.dag_id for r in spark.read.parquet(got).collect()} == {dag_id}


@pytest.mark.parametrize(
    "tz, partition",
    [
        ("Asia/Kolkata", "ingest_date=2025-02-01/ingest_hour=05"),
        ("America/New_York", "ingest_date=2025-01-31/ingest_hour=18"),
    ],
)
def test_non_utc_session_time_zone(spark, tmp_path, fixtures_dir, tz, partition):
    files = {name: os.path.join(fixtures_dir, f"{name}.json") for name in BRANCHES}
    with session_time_zone(spark, tz):
        got = run_both(spark, tmp_path, files, datetime(2025, 1, 31, 23, 45, tzinfo=timezone.utc))
    for r in got.values():
        assert os.path.isdir(os.path.join(r.output_path, partition))


def test_last_reported_before_1900(spark, tmp_path):
    seconds = [-2208988801, -62135596800, -12219292800 - 864000, -9223372036854, 9223372036854]
    stations = [{"station_id": i, "last_reported": s} for i, s in enumerate(seconds)]
    p = envelope_file(tmp_path / "in", "station_status", station_envelope(stations))
    got = run_both(spark, tmp_path, {"station_status": p})
    micros = spark.read.parquet(got["station_status"].output_path).selectExpr(
        "station_id", "unix_micros(last_reported) AS us"
    )
    assert {r.station_id: r.us for r in micros.collect()} == {
        i: s * 1_000_000 for i, s in enumerate(seconds)
    }


# --- jobs, re-runs and the partition swap ---------------------------------


def test_run_pipeline_submits_no_spark_job(spark, tmp_path, fixtures_dir):
    files = {name: os.path.join(fixtures_dir, f"{name}.json") for name in BRANCHES}
    run(spark, str(tmp_path / "warm"), files)
    assert jobs_submitted(spark, lambda: run(spark, str(tmp_path / "driver"), files)) == 0
    with spark_only():
        # the counter sees the Spark path's write job per branch
        assert jobs_submitted(spark, lambda: run(spark, str(tmp_path / "spark"), files)) == 2


def test_plain_path_write_makes_one_round_trip(spark, tmp_path, fixtures_dir):
    """A driver batch written to a table named by a plain path asks the JVM
    only for the Spark version (the footer's): its file work is Python's."""
    fixture = os.path.join(fixtures_dir, "station_status.json")
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []
    for h in range(2):  # creates the table, then adds a partition to it
        batch = pipeline.BRANCH_INGEST["station_status"](spark, fixture, RUN_TS + timedelta(hours=h))
        gc.collect()
        gc.disable()  # a collection may free JVM objects, each a round trip
        client.send_command = lambda *a, **k: calls.append(a) or send(*a, **k)
        try:
            write_partitioned_table(batch, str(tmp_path / "gold"))
        finally:
            client.send_command = send
            gc.enable()
        assert len(calls) == 1, calls
        calls.clear()


def _hidden_dirs(table: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(table)
        for n in dirs
        if n.startswith(".")
    ]


def test_rerun_leaves_one_file_and_no_staging(spark, tmp_path, fixtures_dir):
    files = {name: os.path.join(fixtures_dir, f"{name}.json") for name in BRANCHES}
    for _ in range(2):
        res = run(spark, str(tmp_path), files)
    for r in res.values():
        part = os.path.join(r.output_path, "ingest_date=2025-01-31", "ingest_hour=10")
        data = [f for f in os.listdir(part) if not f.startswith(".")]
        assert len(data) == 1 and re.fullmatch(r"part-00000-[-0-9a-f]{36}\.c000\.snappy\.parquet", data[0])
        assert _hidden_dirs(r.output_path) == []
        assert spark.read.parquet(r.output_path).count() == r.rows_inserted


class FailSecondRename:
    """A :mod:`tablefs` filesystem whose second ``rename`` fails."""

    def __init__(self, fs) -> None:
        self._fs = fs
        self.renames = 0

    def rename(self, src, dst):
        self.renames += 1
        if self.renames == 2:
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _failing_swap(monkeypatch, module, fs_class):
    real = staged.swap_partition

    def swap(fs, *a):
        assert type(fs) is fs_class
        real(FailSecondRename(fs), *a)

    monkeypatch.setattr(module, "swap_partition", swap)


#: a table named by a plain path goes through LocalFS, by a file:// URI
#: through HadoopFS
TABLE_NAMING = pytest.mark.parametrize(
    "uri, fs_class", [(False, LocalFS), (True, HadoopFS)], ids=["plain", "file-uri"]
)


def table_path(local, uri: bool) -> str:
    return f"file://{local}" if uri else str(local)


@TABLE_NAMING
def test_failed_swap_keeps_old_partition(spark, tmp_path, fixtures_dir, monkeypatch, uri, fs_class):
    local = tmp_path / "gold"
    path = table_path(local, uri)
    fixture = os.path.join(fixtures_dir, "station_status.json")
    write_partitioned_table(pipeline.BRANCH_INGEST["station_status"](spark, fixture, RUN_TS), path)
    before = rows(spark.read.parquet(path))
    changed = envelope_file(tmp_path / "in", "station_status", station_envelope([{"station_id": 1}]))
    batch = pipeline.BRANCH_INGEST["station_status"](spark, changed, RUN_TS)
    _failing_swap(monkeypatch, staged, fs_class)
    with pytest.raises(IOError):
        write_partitioned_table(batch, path)
    assert rows(spark.read.parquet(path)) == before
    assert _hidden_dirs(str(local)) == []


@TABLE_NAMING
def test_failed_compaction_swap_keeps_old_partition(spark, tmp_path, monkeypatch, uri, fs_class):
    from etl_dag_paris_velib_spark.sinks.writers import compact_partitions

    local = tmp_path / "t"
    path = table_path(local, uri)
    for i in range(2):
        spark.range(i * 10, i * 10 + 10).selectExpr("id", "'a' AS pt").write.mode("append").partitionBy("pt").parquet(path)
    before = rows(spark.read.parquet(path))
    files = sorted(glob.glob(os.path.join(local, "pt=a", "part-*")))
    _failing_swap(monkeypatch, writers, fs_class)
    with pytest.raises(IOError):
        compact_partitions(spark, path, partition_cols=("pt",))
    assert rows(spark.read.parquet(path)) == before
    assert sorted(glob.glob(os.path.join(local, "pt=a", "part-*"))) == files
    assert _hidden_dirs(str(local)) == []


def test_plain_and_uri_tables_are_the_same(spark, tmp_path):
    """The same driver batches, written to a table named by a plain path
    (LocalFS) and to one named by a ``file://`` URI (HadoopFS), re-running
    the first hour: the two tables are the same."""
    feed = _load_feed()(str(tmp_path / "feed"), 7)
    hours = [feed.next_hour() for _ in range(2)]
    plain, uri = tmp_path / "plain", tmp_path / "uri"
    for hour in hours + hours[:1]:
        ts = datetime.fromtimestamp(hour.run_ts, timezone.utc)
        for name, src in (("station_status", hour.station_path), ("weather", hour.weather_path)):
            batch = pipeline.BRANCH_INGEST[name](spark, src, ts)
            write_partitioned_table(batch, str(plain / name))
            write_partitioned_table(batch, table_path(uri / name, True))
    assert type(filesystem(spark, str(plain))) is LocalFS
    assert type(filesystem(spark, table_path(uri, True))) is HadoopFS
    for name in BRANCHES:
        got, want = str(plain / name), str(uri / name)
        assert_same_table(spark, got, want)
        assert rows(read_parquet(spark, got)) == rows(read_parquet(spark, table_path(want, True)))
        footers = []
        for table in (got, want):
            parts = sorted(glob.glob(os.path.join(table, "*", "*")))
            assert len(parts) == 2
            for part in parts:
                data = [f for f in os.listdir(part) if not f.startswith(".")]
                assert len(data) == 1 and re.fullmatch(r"part-00000-[-0-9a-f]{36}\.c000\.snappy\.parquet", data[0])
            footers.append([pq.read_metadata(glob.glob(os.path.join(p, "part-*"))[0]).metadata for p in parts])
            assert _hidden_dirs(table) == []
        assert footers[0] == footers[1]


# --- declined envelopes -----------------------------------------------------


def _station(**over):
    s = {"station_id": 1, "stationCode": "1", "is_installed": 1, "last_reported": 1738317900}
    s.update(over)
    return s


WEATHER = json.loads(open(os.path.join(ROOT, "tests", "fixtures", "weather.json")).read())


def _weather(**current) -> str:
    return json.dumps({**WEATHER, "current": {**WEATHER["current"], **current}})


DECLINED = {
    "bool-for-int": ("station_status", station_envelope([_station(is_installed=True)])),
    "float-for-int": ("station_status", station_envelope([_station(num_bikes_available=1.0)])),
    "int-for-string": ("station_status", station_envelope([_station(stationCode=16107)])),
    "int-out-of-range": ("station_status", station_envelope([_station(num_docks_available=2**31)])),
    "long-out-of-range": ("station_status", station_envelope([_station(station_id=2**63)])),
    "timestamp-overflow": ("station_status", station_envelope([_station(last_reported=2**62)])),
    "repeated-bike-type": (
        "station_status",
        station_envelope([_station(num_bikes_available_types=[{"ebike": 1}, {"ebike": 2}])]),
    ),
    "duplicate-key": ("station_status", '{"data": {"stations": [{"station_id": 1, "station_id": 2}]}}'),
    "top-level-array": ("station_status", "[" + station_envelope([_station()]) + "]"),
    "top-level-scalar": ("weather", "3"),
    "zero-stations": ("station_status", station_envelope([])),
    "no-data": ("station_status", '{"ttl": 3600}'),
    "nan-token": ("weather", _weather(temp=0.0).replace('"temp": 0.0', '"temp": NaN')),
    "string-for-double": ("weather", _weather(temp="7")),
    "empty-weather-array": ("weather", _weather(weather=[])),
    "pressure-cast-overflow": ("weather", _weather(pressure=2**40)),
    "bom": ("weather", "﻿" + _weather()),
}


def _outcome(spark, out, files, run_ts=RUN_TS):
    """What ``run_pipeline`` gives: the error's cause type and class, or the
    rows, rows_inserted and schema file of each table written."""
    try:
        res = run(spark, out, files, run_ts)
    except RuntimeError as err:
        cause = err.__cause__
        m = re.search(r"\[([A-Z_]+(?:\.[A-Z_]+)*)\]", str(cause))
        return ("raised", type(cause).__name__, m and m.group(1))
    got = {}
    for name, r in res.items():
        table = {"rows_inserted": r.rows_inserted}
        try:
            table["rows"] = rows(spark.read.parquet(r.output_path))
        except AnalysisException as err:  # nothing written
            table["rows"] = err.getCondition()
        schema_file = os.path.join(r.output_path, SCHEMA_FILE)
        table["schema"] = open(schema_file).read() if os.path.exists(schema_file) else None
        got[name] = table
    return got


def assert_declined_like_spark(spark, work, name, path, run_ts=RUN_TS):
    assert pipeline.BRANCH_INGEST[name](spark, path, run_ts) is None
    got = _outcome(spark, str(work / "driver"), {name: path}, run_ts)
    with spark_only():
        want = _outcome(spark, str(work / "spark"), {name: path}, run_ts)
    assert got == want
    return got


@pytest.mark.parametrize("case", sorted(DECLINED))
def test_declined_envelope_runs_spark_path(spark, tmp_path, case):
    name, text = DECLINED[case]
    path = envelope_file(tmp_path / "in", name, text)
    assert_declined_like_spark(spark, tmp_path, name, path)


def test_unresolvable_session_time_zone_runs_spark_path(spark, tmp_path, fixtures_dir):
    path = os.path.join(fixtures_dir, "weather.json")
    with session_time_zone(spark, "+05:30"):
        got = assert_declined_like_spark(spark, tmp_path, "weather", path)
    assert got["weather"]["rows_inserted"] == 1
    assert os.listdir(tmp_path / "driver" / "gold" / "weather" / "ingest_date=2025-01-31") == ["ingest_hour=15"]


# --- property: match the Spark path or decline ------------------------------

_wrong = st.one_of(
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=3),
    st.integers(-(2**64), 2**64),
)


def _value(good):
    """Mostly ``good`` values, sometimes null or of another JSON type."""
    return st.one_of(*[good] * 6, st.none(), _wrong)


_i32 = st.integers(-(2**31) - 2, 2**31 + 1)
_bike_types = st.lists(
    st.one_of(
        st.none(),
        st.dictionaries(st.sampled_from(["mechanical", "ebike", "other"]), _value(_i32), max_size=2),
    ),
    max_size=3,
)
_gen_station = st.fixed_dictionaries(
    {},
    optional={
        "station_id": _value(st.integers(-(2**63), 2**63 - 1)),
        "stationCode": _value(st.text(max_size=4)),
        "is_installed": _value(st.integers(0, 1)),
        "is_renting": _value(_i32),
        "is_returning": _value(st.integers(0, 1)),
        "last_reported": _value(st.integers(-(10**13), 10**13)),
        "num_bikes_available": _value(_i32),
        "num_docks_available": _value(st.integers(0, 60)),
        "numBikesAvailable": _value(st.integers(0, 60)),
        "num_bikes_available_types": st.one_of(_bike_types, _bike_types, st.none()),
    },
)
_gen_weather = st.fixed_dictionaries(
    {},
    optional={
        "dt": _value(st.integers(-(10**13), 10**13)),
        "temp": _value(st.floats(allow_nan=False, allow_infinity=False)),
        "feels_like": _value(st.integers(-(2**54), 2**54)),
        "pressure": _value(st.integers(-(2**32), 2**32)),
        "humidity": _value(st.integers(0, 100)),
        "wind_speed": _value(st.floats(-1e300, 1e300)),
        "weather": st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.fixed_dictionaries({}, optional={"description": _value(st.text(max_size=5))})),
                max_size=2,
            ),
        ),
    },
)


def _match_or_decline(spark, work, name, text):
    path = envelope_file(work / "in", name, text)
    batch = pipeline.BRANCH_INGEST[name](spark, path, RUN_TS)
    event("declined" if batch is None else "driver path")
    if batch is None:
        return
    plan = with_ingest_partitions(pipeline.SPARK_INGEST[name](spark, path, RUN_TS))
    got, want = str(work / "driver"), str(work / "spark")
    write_partitioned_table(batch, got)
    write_partitioned_table(plan, want)
    assert_same_table(spark, got, want)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(stations=st.lists(st.one_of(_gen_station, _gen_station, _gen_station, st.none()), min_size=1, max_size=6))
def test_station_envelope_matches_spark_or_declines(spark, tmp_path_factory, stations):
    work = tmp_path_factory.mktemp("prop_station")
    _match_or_decline(spark, work, "station_status", station_envelope(stations))


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(current=st.one_of(_gen_weather, st.none()))
def test_weather_envelope_matches_spark_or_declines(spark, tmp_path_factory, current):
    work = tmp_path_factory.mktemp("prop_weather")
    _match_or_decline(spark, work, "weather", json.dumps({"lat": 1.5, "current": current}))
