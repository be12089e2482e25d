"""End-to-end pipeline-runner tests: both reference branches in one app,
observe()-based rows_inserted parity, retry behavior, and idempotent
re-runs via dynamic partition overwrite."""

from __future__ import annotations

from dataclasses import dataclass
import time
from datetime import datetime, timedelta, timezone

import pytest

from etl_dag_paris_velib_spark.pipeline import run_branch, run_pipeline
from etl_dag_paris_velib_spark.sources.fetcher import FileFetcher


RUN_TS = datetime(2025, 2, 1, 9, 0, 0)


@dataclass
class FlakyFetcher:
    """Fails the first ``fail_times`` fetches — the reference's retry case
    (etl_dag.py:331-332)."""

    inner: FileFetcher
    fail_times: int
    calls: int = 0

    def fetch_to_bronze(self, bronze_dir, name, ts):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise ConnectionError("transient fetch failure")
        return self.inner.fetch_to_bronze(bronze_dir, name, ts)


def test_two_branch_pipeline(spark, tmp_path, fixtures_dir):
    res = run_pipeline(
        spark,
        {
            "weather": FileFetcher(f"{fixtures_dir}/weather.json"),
            "station_status": FileFetcher(f"{fixtures_dir}/station_status.json"),
        },
        bronze_dir=str(tmp_path / "bronze"),
        out_dir=str(tmp_path / "gold"),
        run_ts=RUN_TS,
    )
    assert set(res) == {"weather", "station_status"}
    # observe() metric equals the sink's actual row count (reference
    # rows_inserted XCom, s3_to_postgres.py:85-92)
    for r in res.values():
        written = spark.read.parquet(r.output_path)
        assert written.count() == r.rows_inserted
        assert r.rows_inserted > 0
        assert r.attempts == 1
    # weather branch lands exactly one row per poll (etl_dag.py:85-99)
    assert res["weather"].rows_inserted == 1
    # partition layout carries the run hour
    st = spark.read.parquet(res["station_status"].output_path)
    assert {str(r.ingest_date) for r in st.select("ingest_date").distinct().collect()} == {
        "2025-02-01"
    }


def test_rerun_is_idempotent(spark, tmp_path, fixtures_dir):
    fetchers = {"station_status": FileFetcher(f"{fixtures_dir}/station_status.json")}
    kwargs = dict(
        bronze_dir=str(tmp_path / "bronze"), out_dir=str(tmp_path / "gold"), run_ts=RUN_TS
    )
    first = run_pipeline(spark, fetchers, **kwargs)["station_status"]
    second = run_pipeline(spark, fetchers, **kwargs)["station_status"]
    # dynamic partition overwrite: the retry/re-run replaces its own
    # partition instead of double-appending (the reference double-inserts)
    final = spark.read.parquet(second.output_path).count()
    assert final == first.rows_inserted == second.rows_inserted


def test_retry_recovers_from_transient_failure(spark, tmp_path, fixtures_dir):
    flaky = FlakyFetcher(FileFetcher(f"{fixtures_dir}/weather.json"), fail_times=2)
    res = run_branch(
        spark,
        "weather",
        flaky,
        bronze_dir=str(tmp_path / "bronze"),
        out_dir=str(tmp_path / "gold"),
        run_ts=RUN_TS,
        retries=3,
    )
    assert res.attempts == 3
    assert res.rows_inserted == 1


def test_retry_budget_exhausted(spark, tmp_path, fixtures_dir):
    flaky = FlakyFetcher(FileFetcher(f"{fixtures_dir}/weather.json"), fail_times=99)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        run_branch(
            spark,
            "weather",
            flaky,
            bronze_dir=str(tmp_path / "bronze"),
            out_dir=str(tmp_path / "gold"),
            run_ts=RUN_TS,
            retries=2,
        )


def test_aware_run_ts_partitions_by_utc_hour(spark, tmp_path, fixtures_dir):
    """10:00+01:00 is 09:00 UTC: the run lands in ingest_hour=09 and its
    execution_date is that instant, whatever the host's local zone."""
    run_ts = datetime(2025, 2, 1, 10, 0, tzinfo=timezone(timedelta(hours=1)))
    res = run_pipeline(
        spark,
        {"weather": FileFetcher(f"{fixtures_dir}/weather.json")},
        bronze_dir=str(tmp_path / "bronze"),
        out_dir=str(tmp_path / "gold"),
        run_ts=run_ts,
    )
    row = spark.read.parquet(res["weather"].output_path).selectExpr(
        "ingest_date", "ingest_hour", "unix_micros(execution_date) AS us"
    ).collect()[0]
    assert (str(row.ingest_date), row.ingest_hour) == ("2025-02-01", 9)
    assert row.us == int(run_ts.timestamp()) * 1_000_000


def test_default_run_ts_is_utc_off_utc_host(spark, tmp_path, fixtures_dir, monkeypatch):
    """With no run_ts the run is stamped with the current UTC instant, not
    the host's local wall clock read as UTC."""
    monkeypatch.setenv("TZ", "Asia/Kolkata")  # UTC+05:30, no DST
    time.tzset()
    try:
        before = datetime.now(timezone.utc)
        res = run_pipeline(
            spark,
            {"weather": FileFetcher(f"{fixtures_dir}/weather.json")},
            bronze_dir=str(tmp_path / "bronze"),
            out_dir=str(tmp_path / "gold"),
        )
        after = datetime.now(timezone.utc)
    finally:
        monkeypatch.undo()
        time.tzset()
    row = spark.read.parquet(res["weather"].output_path).selectExpr(
        "ingest_hour", "unix_micros(execution_date) AS us"
    ).collect()[0]
    assert before.timestamp() * 1e6 <= row.us <= after.timestamp() * 1e6
    assert row.ingest_hour in {before.hour, after.hour}


def test_column_calls_skip_call_site_capture(spark, monkeypatch):
    """``get_spark`` turns PySpark's call-site capture off. On, it adds about
    ten py4j round trips to every Column call, and PySpark decides it once
    per process at the first Column call — off when that call comes from a
    thread without an active session, such as a pipeline branch — so the
    analyst's Column code cost more or less depending on which thread had
    built a Column first."""
    import threading

    import pyspark.errors.utils as errutils
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # decide afresh, from this thread, where the session is active
    monkeypatch.setattr(errutils, "_enable_debugging_cache", None)
    F.col("a").alias("b")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting_send(*args, **kwargs):
        nonlocal calls
        calls += threading.current_thread() is threading.main_thread()
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    F.col("a").alias("b")
    monkeypatch.undo()
    assert calls <= 6, calls
