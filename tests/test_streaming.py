"""Streaming-tier tests: watermarked stateful dedup + windowed aggregates
over the bronze GBFS fixtures, driven with availableNow triggers so each
test is a hermetic drain of a static directory."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_dag_paris_velib_spark.schemas import VELIB_ENVELOPE_SCHEMA
from etl_dag_paris_velib_spark.sources.readers import read_json
from etl_dag_paris_velib_spark.sources.velib import flatten_station_status
from etl_dag_paris_velib_spark.streaming.gbfs import (
    bike_count_changes,
    deduped_station_stream,
    hourly_availability,
    read_station_status_stream,
    run_available_now,
    station_report_sessions,
)


@pytest.fixture()
def bronze_dir(tmp_path, fixtures_dir):
    """Two hourly polls: poll 2 re-reports one station with an unchanged
    (station_id, last_reported) — the reference's duplicate-reingest case —
    plus a genuinely new reading for another station."""
    d = tmp_path / "bronze"
    d.mkdir()
    src = f"{fixtures_dir}/station_status.json"
    shutil.copy(src, d / "poll_000.json")

    with open(src) as f:
        payload = json.load(f)
    stations = payload["data"]["stations"]
    # keep station 0 identical (stale re-report -> must dedup), advance
    # station 1's reading by one hour (new observation -> must survive)
    stations[1]["last_reported"] += 3600
    stations[1]["num_bikes_available"] = 7
    payload["lastUpdatedOther"] += 3600
    with open(d / "poll_001.json", "w") as f:
        json.dump(payload, f)
    # distinct mtimes: the file stream orders batches by modification time,
    # and copy/write above land within the same clock tick
    os.utime(d / "poll_000.json", (1_700_000_000, 1_700_000_000))
    os.utime(d / "poll_001.json", (1_700_003_600, 1_700_003_600))
    return str(d)


def _static_flat(spark, bronze):
    return flatten_station_status(
        read_json(spark, bronze, VELIB_ENVELOPE_SCHEMA, multiline=True)
    )


def test_stateful_dedup_across_polls(spark, bronze_dir):
    stream = read_station_status_stream(spark, bronze_dir, max_files_per_trigger=1)
    q = run_available_now(
        deduped_station_stream(stream), "dedup_out", output_mode="append"
    )
    assert q.lastProgress is not None
    got = spark.table("dedup_out")
    want = (
        _static_flat(spark, bronze_dir)
        .select("station_id", "last_reported")
        .distinct()
        .count()
    )
    assert got.count() == want
    # the natural key is unique in the output
    assert (
        got.groupBy("station_id", "last_reported")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_hourly_windows_match_batch(spark, bronze_dir):
    stream = read_station_status_stream(spark, bronze_dir)
    agg = hourly_availability(deduped_station_stream(stream))
    run_available_now(agg, "hourly_out", output_mode="complete")
    got = {
        (r.window_start, r.n_reports, r.bikes_available)
        for r in spark.table("hourly_out").collect()
    }
    dedup_static = (
        _static_flat(spark, bronze_dir)
        .dropDuplicates(["station_id", "last_reported"])
    )
    want = {
        (r.window_start, r.n_reports, r.bikes_available)
        for r in dedup_static.groupBy(
            F.window("last_reported", "1 hour").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_reports"),
            F.sum("num_bikes_available").alias("bikes_available"),
        )
        .select(F.col("w.start").alias("window_start"), "n_reports", "bikes_available")
        .collect()
    }
    assert got == want
    # the 17-day-stale station (516395829 pattern) lands in its own old
    # window, far from the live ones
    assert len(got) >= 3


def test_bike_count_changes_stateful(spark, bronze_dir):
    stream = read_station_status_stream(spark, bronze_dir, max_files_per_trigger=1)
    flat = flatten_station_status(stream)
    run_available_now(bike_count_changes(flat), "changes_out", output_mode="append")
    rows = spark.table("changes_out").collect()
    # 3 first-seen rows + exactly one real change (station 1: 0 -> 7 bikes);
    # the re-reported identical readings produce NO change rows
    assert len(rows) == 4
    first_seen = [r for r in rows if r.prev_bikes is None]
    assert len(first_seen) == 3
    (chg,) = [r for r in rows if r.prev_bikes is not None]
    assert (chg.station_id, chg.prev_bikes, chg.num_bikes) == (19179944124, 0, 7)


def test_checkpoint_resume_exactly_once(spark, tmp_path, fixtures_dir):
    """Dedup state survives a query restart via the checkpoint: a duplicate
    arriving AFTER the restart is still dropped, and re-running never
    double-writes — the exactly-once upgrade over the reference's blind
    hourly append."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    out = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    src = f"{fixtures_dir}/station_status.json"
    shutil.copy(src, bronze / "poll_000.json")

    def drain():
        q = (
            deduped_station_stream(read_station_status_stream(spark, str(bronze)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out).count()
    assert first == 3  # three stations in the fixture

    with open(src) as f:
        payload = json.load(f)
    payload["data"]["stations"][1]["last_reported"] += 3600  # one new reading
    # stations 0 and 2 are byte-identical re-reports -> must dedup ACROSS runs
    with open(bronze / "poll_001.json", "w") as f:
        json.dump(payload, f)

    drain()
    final = spark.read.parquet(out)
    assert final.count() == 4
    assert (
        final.groupBy("station_id", "last_reported").count().filter("count > 1").count()
        == 0
    )


def test_session_windows(spark, bronze_dir):
    stream = read_station_status_stream(spark, bronze_dir)
    # 30-minute gap: station 1's two readings (1h apart) split into two
    # sessions; with the default 2h gap they merge into one
    for gap, expect_two in (("30 minutes", True), ("2 hours", False)):
        agg = station_report_sessions(deduped_station_stream(stream), gap=gap)
        name = f"sessions_{gap.split()[0]}"
        run_available_now(agg, name, output_mode="complete")
        flat = _static_flat(spark, bronze_dir)
        sid = [
            r.station_id
            for r in flat.select("station_id").distinct().orderBy("station_id").collect()
        ]
        per_station = {
            r.station_id: r["count"]
            for r in spark.table(name).groupBy("station_id").count().collect()
        }
        two_session_stations = [s for s, n in per_station.items() if n == 2]
        if expect_two:
            assert len(two_session_stations) == 1
        else:
            assert not two_session_stations
        assert set(per_station) == set(sid)


def test_stream_upsert_gold_merges_latest_per_station(spark, bronze_dir, tmp_path):
    """foreachBatch MERGE sink: after draining both polls, the gold table
    holds ONE row per (station_id, last_reported) key set reduced to the
    latest state per station via upsert-by-key, and a re-drain with no new
    files changes nothing (checkpoint + idempotent merge)."""
    from etl_dag_paris_velib_spark.streaming.gbfs import stream_upsert_gold

    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")

    stream = read_station_status_stream(spark, bronze_dir, max_files_per_trigger=1)
    flat = flatten_station_status(stream)
    latest_cols = flat.select(
        "station_id", "last_reported", "num_bikes_available"
    )
    stream_upsert_gold(
        latest_cols, gold, ckpt, keys=("station_id", "last_reported")
    )
    first = {
        (r.station_id, int(r.last_reported.timestamp()), r.num_bikes_available)
        for r in spark.read.parquet(gold).collect()
    }
    # poll 2's stale re-report of station 0 collapses onto the same key;
    # station 1 contributes its original AND advanced readings (distinct keys)
    by_station = {}
    for sid, ts, n in first:
        by_station.setdefault(sid, []).append((ts, n))
    assert any(len(v) == 2 for v in by_station.values())  # advanced reading kept
    assert all(len(v) <= 2 for v in by_station.values())  # stale dup merged

    # re-drain: no new files -> no change
    stream_upsert_gold(
        flatten_station_status(
            read_station_status_stream(spark, bronze_dir, max_files_per_trigger=1)
        ).select("station_id", "last_reported", "num_bikes_available"),
        gold,
        ckpt,
        keys=("station_id", "last_reported"),
    )
    second = {
        (r.station_id, int(r.last_reported.timestamp()), r.num_bikes_available)
        for r in spark.read.parquet(gold).collect()
    }
    assert second == first


def test_gbfs_streaming_source_checkpointed_increments(spark, tmp_path):
    """The custom `gbfs` streaming source must (a) drain existing bronze
    snapshots, (b) on a later run against the SAME checkpoint consume
    only snapshots that arrived since — the file-count offset is
    checkpointed and replayable."""
    import json as _json
    import shutil

    from etl_dag_paris_velib_spark.sources.gbfs_datasource import (
        GBFSStationStatusDataSource,
    )

    spark.dataSource.register(GBFSStationStatusDataSource)
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    fixture = _json.load(open("tests/fixtures/station_status.json"))
    n_stations = len(fixture["data"]["stations"])

    def drop_snapshot(name, bump):
        snap = _json.loads(_json.dumps(fixture))
        for s in snap["data"]["stations"]:
            s["last_reported"] += bump
        (bronze / name).write_text(_json.dumps(snap))

    drop_snapshot("status_20260101T000000.json", 0)
    drop_snapshot("status_20260101T010000.json", 3600)

    out = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"

    def drain():
        q = (
            spark.readStream.format("gbfs")
            .option("path", str(bronze))
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(str(out)).count() == 2 * n_stations

    drop_snapshot("status_20260101T020000.json", 7200)
    drain()
    got = spark.read.parquet(str(out))
    # only the third snapshot was appended — not a full re-read
    assert got.count() == 3 * n_stations
    assert got.select("record_id").distinct().count() == 3 * n_stations


def test_bounded_dedup_matches_unbounded_on_feed(spark, bronze_dir):
    """dropDuplicatesWithinWatermark (guaranteed-bounded state) must
    produce the same rows as the plain stateful dedup on this feed: the
    stale-station re-reports all arrive within the watermark window, so
    only the state-eviction CONTRACT differs, not the output."""
    from etl_dag_paris_velib_spark.streaming.gbfs import (
        deduped_station_stream_bounded,
    )

    stream = read_station_status_stream(spark, bronze_dir, max_files_per_trigger=1)
    q = run_available_now(
        deduped_station_stream_bounded(stream),
        "dedup_bounded_out",
        output_mode="append",
    )
    assert q.lastProgress is not None
    got = spark.table("dedup_bounded_out")
    want = (
        _static_flat(spark, bronze_dir)
        .select("station_id", "last_reported")
        .distinct()
        .count()
    )
    assert got.count() == want
    assert (
        got.groupBy("station_id", "last_reported")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
