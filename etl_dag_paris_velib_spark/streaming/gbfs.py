"""Structured Streaming tier for the GBFS station-status feed (SURVEY §2.8).

The reference is a micro-batch stream in disguise: an unbounded feed polled
hourly (etl_dag.py:317), append-only sink, event time = ``last_reported``.
Its failure modes — re-ingested duplicates when a station hasn't reported
since the last poll, and multi-week-stale stations (research.ipynb station
516395829) — are exactly what watermarked stateful dedup handles natively.

Dataflow: file-source ``readStream`` over the bronze zone (each hourly poll
lands one JSON envelope file) → the SAME flattening used by the batch path
(``sources.velib.flatten_station_status`` — one definition, two execution
modes) → ``withWatermark(last_reported)`` → stateful ``dropDuplicates`` on
the natural key → tumbling-window availability aggregates.

Scale/state design: the dedup key (station_id, last_reported) includes the
watermarked event-time column, so state for keys older than the watermark
is evicted — state size is bounded by (stations x polls-per-watermark),
not by stream lifetime. The windowed agg keeps one row of state per
(window, nothing) — O(watermark / window) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import VELIB_ENVELOPE_SCHEMA
from ..sources.velib import flatten_station_status


def read_station_status_stream(
    spark: SparkSession,
    bronze_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of the bronze zone (one multiline JSON envelope per
    poll). Explicit schema — streaming sources cannot infer safely, and the
    batch path shares the same ``VELIB_ENVELOPE_SCHEMA`` contract."""
    reader = (
        spark.readStream.schema(VELIB_ENVELOPE_SCHEMA)
        .option("multiLine", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(bronze_dir)


def deduped_station_stream(
    envelope_stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Flatten + watermark + stateful dedup on the natural key.

    A station that hasn't reported since the previous poll re-arrives with
    an identical (station_id, last_reported) — the reference re-inserts it
    every hour (s3_to_postgres.py:80-82 appends blindly); here the dedup
    state absorbs it exactly once.
    """
    flat = flatten_station_status(envelope_stream)
    return flat.withWatermark("last_reported", watermark).dropDuplicates(
        ["station_id", "last_reported"]
    )


def deduped_station_stream_bounded(
    envelope_stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Like :func:`deduped_station_stream` but with GUARANTEED-bounded
    state via ``dropDuplicatesWithinWatermark`` (Spark 3.5+).

    Plain ``dropDuplicates`` keys state on (station_id, last_reported)
    and, because the key includes the event-time column, evicts per key
    once the watermark passes it — but the contract is per-engine-version
    subtlety; ``dropDuplicatesWithinWatermark`` makes the bound the API's
    OWN guarantee: a duplicate is only suppressed if it arrives within
    the watermark delay of the first sighting, and every key's state is
    dropped at watermark + delay. At 100 TB of feed history this is the
    form whose RocksDB state size is provably O(keys-per-watermark-window)
    — the stale-station re-reports (SURVEY §2.8: station 516395829
    pattern, re-sent hourly with the same ``last_reported``) all land
    inside any multi-hour window, so the dedup behavior matches the
    unbounded form on this feed (differential-tested).
    """
    flat = flatten_station_status(envelope_stream)
    return flat.withWatermark(
        "last_reported", watermark
    ).dropDuplicatesWithinWatermark(["station_id", "last_reported"])


def hourly_availability(
    deduped: DataFrame,
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling windowed availability: per event-time window, stations
    reporting and bikes/docks available."""
    return (
        deduped.groupBy(F.window("last_reported", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_reports"),
            F.approx_count_distinct("station_id").alias("n_stations"),
            F.sum("num_bikes_available").alias("bikes_available"),
            F.sum("num_docks_available").alias("docks_available"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_reports",
            "n_stations",
            "bikes_available",
            "docks_available",
        )
    )


def station_report_sessions(
    deduped: DataFrame,
    gap: str = "2 hours",
) -> DataFrame:
    """Session windows per station: consecutive reports closer than ``gap``
    merge into one session. A station whose feed stalls (the 17-day-stale
    516395829 case) closes its session; the next report opens a new one —
    the streaming-native outage detector. State: one open session per
    station, closed by the watermark."""
    return (
        deduped.groupBy(
            F.session_window("last_reported", gap).alias("w"), "station_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_reports"),
            F.avg("num_bikes_available").alias("avg_bikes"),
        )
        .select(
            "station_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_reports",
            F.round("avg_bikes", 4).alias("avg_bikes"),
        )
    )


#: Output schema of the change-detection stream.
_CHANGES_DDL = (
    "station_id long, changed_at timestamp, prev_bikes int, num_bikes int"
)


def bike_count_changes(deduped: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emit a row
    only when a station's bike count differs from its previous report —
    the change-log compaction of the hourly snapshot stream (the reference
    re-inserts ~1,474 rows/hour even when nothing moved).

    State per station is (last event-time seconds, last count) — the
    minimal custom-state shape; built-in ``dropDuplicates`` can't express
    "compare against previous value", which is why this needs the
    arbitrary-state API. Reports are compared in event-time order within
    each micro-batch, state carries across batches, and a report whose
    event time is not newer than the state's is DROPPED (late/out-of-order
    data must not rewrite history — the append-mode contract).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def detect(key, pdf_iter, state):
        last_ts, last = state.get if state.exists else (None, None)
        out = []
        # a group larger than the Arrow batch size arrives as MULTIPLE
        # chunks — concat before sorting, or event-time order only holds
        # within each chunk and cross-chunk rows get mis-ordered/dropped
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        rows = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        if len(rows):
            for row in rows.sort_values("last_reported").itertuples():
                ts = int(row.last_reported.timestamp())
                if last_ts is not None and ts <= last_ts:
                    continue  # stale or duplicate event time
                cur = int(row.num_bikes_available)
                if last is None or cur != last:
                    out.append((key[0], row.last_reported, last, cur))
                last_ts, last = ts, cur
        state.update((last_ts, last))
        if out:
            yield pd.DataFrame(
                out, columns=["station_id", "changed_at", "prev_bikes", "num_bikes"]
            )

    return (
        deduped.select("station_id", "last_reported", "num_bikes_available")
        .groupBy("station_id")
        .applyInPandasWithState(
            detect,
            outputStructType=_CHANGES_DDL,
            stateStructType="last_ts long, last_bikes int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
):
    """Drain everything currently in the source into an in-memory table and
    stop — the hourly-poll batch semantics of the reference, expressed as a
    stream trigger. Returns the finished StreamingQuery; results are in
    ``spark.table(query_name)``.

    In production the sink would be
    ``writeStream.format("parquet").partitionBy("ingest_date", ...)`` with
    a checkpoint dir; the memory sink keeps tests hermetic.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming drain {query_name!r} did not finish within "
            f"{timeout_sec}s — results would be partial"
        )
    return q


def stream_upsert_gold(
    deduped: DataFrame,
    path: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("station_id",),
    partition_cols: tuple[str, ...] = ("ingest_date",),
    timeout_sec: int = 120,
):
    """Stream → gold-table MERGE: every micro-batch upserts into a
    partitioned parquet table via ``foreachBatch`` +
    :func:`..sinks.writers.upsert_partitioned_table` — the CDC pattern
    the reference's hourly append-only load implies but cannot express
    (a station re-reporting should REPLACE its row, not duplicate it;
    the reference's Postgres table accumulates duplicates,
    s3_to_postgres.py:76-82).

    foreachBatch is the idiomatic Spark seam for sinks without native
    streaming support (JDBC, MERGE targets): exactly-once comes from the
    checkpoint's batch-id tracking plus the upsert's idempotence — a
    replayed batch re-merges the same rows to the same keys, a no-op.
    Scale: each batch touches only the partitions it carries (the upsert
    is partition-pruned), so an hourly batch moves an hour of data
    regardless of table size.

    Drains with availableNow (hourly-poll semantics) and returns the
    finished query.
    """
    from ..sinks.writers import upsert_partitioned_table

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with_parts = batch_df.withColumn(
            "ingest_date", F.to_date(F.col("last_reported"))
        )
        upsert_partitioned_table(
            with_parts, path, keys=keys, partition_cols=partition_cols
        )

    q = (
        deduped.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream upsert into {path!r} did not finish within {timeout_sec}s"
        )
    return q
