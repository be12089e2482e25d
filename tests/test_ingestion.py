"""Golden tests for the two reference ingestion branches (SURVEY §5 item 2).

Fixtures include the reference's observed edge cases: a station_id > int32
(19179944124), an all-zero-docks station, and a stale last_reported
(station 516395829, ~17 days behind — SURVEY §2.8).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from etl_dag_paris_velib_spark.sinks import write_partitioned_table
from etl_dag_paris_velib_spark.sources import ingest_station_status, ingest_weather
from etl_dag_paris_velib_spark.sources.velib import with_ingest_partitions

RUN_TS = datetime(2025, 1, 31, 10, 0, 0)


def test_station_status_flatten(spark, fixtures_dir):
    df = ingest_station_status(
        spark, os.path.join(fixtures_dir, "station_status.json"), RUN_TS
    )
    rows = {r.station_id: r for r in df.collect()}
    assert len(rows) == 3

    r = rows[36255]
    assert r.station_code == "16107"
    assert r.num_bikes_available == 5
    assert r.num_bikes_mechanical == 3
    assert r.num_bikes_ebike == 2
    assert r.record_id == "36255_1738317900"
    assert r.last_reported == datetime(2025, 1, 31, 10, 5, 0)
    assert r.dag_id == "citymapper_dag"
    assert r.execution_date == RUN_TS

    # >int32 station_id survives with faithful LongType (reference DDL
    # declared FLOAT and would have lost precision)
    assert rows[19179944124].num_docks_available == 0
    # stale station retained; dedup is a separate declared operator
    assert rows[516395829].is_renting == 0

    types = dict(df.dtypes)
    assert types["station_id"] == "bigint"
    assert types["last_reported"] == "timestamp"
    assert types["is_renting"] == "int"


def test_weather_flatten(spark, fixtures_dir):
    df = ingest_weather(spark, os.path.join(fixtures_dir, "weather.json"), RUN_TS)
    r = df.collect()[0]
    assert r.temp == 6.42
    assert r.feels_like == 3.11
    assert r.pressure == 1021
    assert r.humidity == 87
    assert r.wind_speed == 4.63
    assert r.weather_description == "broken clouds"
    assert r.timestamp == datetime(2025, 1, 31, 10, 0, 0)
    assert df.count() == 1


def test_partitioned_write_is_idempotent(spark, fixtures_dir, tmp_path):
    """Dynamic partition overwrite: re-running the same hour replaces, not
    duplicates — the exactly-once semantics the reference lacks (SURVEY §7)."""
    path = str(tmp_path / "station_status_table")
    df = with_ingest_partitions(
        ingest_station_status(
            spark, os.path.join(fixtures_dir, "station_status.json"), RUN_TS
        )
    )
    write_partitioned_table(df, path)
    write_partitioned_table(df, path)  # re-run same hour
    out = spark.read.parquet(path)
    assert out.count() == 3
    assert str(out.select("ingest_date").distinct().collect()[0][0]) == "2025-01-31"


def test_upsert_partitioned_table(spark, tmp_path):
    """Delta-style MERGE on parquet: updates replace rows by key, new keys
    append, untouched PARTITIONS are never rewritten, and a re-run of the
    same batch is a no-op (idempotent)."""
    import os as _os

    from etl_dag_paris_velib_spark.sinks.writers import upsert_partitioned_table

    path = str(tmp_path / "gold")
    base = spark.createDataFrame(
        [(1, "a", "2025-01-01"), (2, "b", "2025-01-01"), (3, "c", "2025-01-02")],
        ["id", "v", "ingest_date"],
    )
    upsert_partitioned_table(base, path, keys=("id",), partition_cols=("ingest_date",))
    untouched = f"{path}/ingest_date=2025-01-02"
    mtime_before = max(
        _os.path.getmtime(_os.path.join(untouched, f))
        for f in _os.listdir(untouched)
        if f.endswith(".parquet")
    )

    batch = spark.createDataFrame(
        [(1, "a2", "2025-01-01"), (9, "new", "2025-01-01")],
        ["id", "v", "ingest_date"],
    )
    upsert_partitioned_table(batch, path, keys=("id",), partition_cols=("ingest_date",))
    upsert_partitioned_table(batch, path, keys=("id",), partition_cols=("ingest_date",))

    got = {(r.id, r.v, str(r.ingest_date)) for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "a2", "2025-01-01"),
        (2, "b", "2025-01-01"),
        (9, "new", "2025-01-01"),
        (3, "c", "2025-01-02"),
    }
    mtime_after = max(
        _os.path.getmtime(_os.path.join(untouched, f))
        for f in _os.listdir(untouched)
        if f.endswith(".parquet")
    )
    assert mtime_after == mtime_before  # untouched partition not rewritten


def test_upsert_read_failure_propagates(spark, tmp_path, monkeypatch):
    """A failing read of an existing table is an error, not "no table":
    taking it for none would overwrite the touched partition with the batch
    alone and drop the partition's other rows."""
    from pyspark.sql.readwriter import DataFrameReader

    from etl_dag_paris_velib_spark.sinks.writers import upsert_partitioned_table

    path = str(tmp_path / "gold")
    base = spark.createDataFrame(
        [(1, "a", "2025-01-01"), (2, "b", "2025-01-01")], ["id", "v", "ingest_date"]
    )
    upsert_partitioned_table(base, path, keys=("id",), partition_cols=("ingest_date",))
    batch = spark.createDataFrame([(1, "a2", "2025-01-01")], ["id", "v", "ingest_date"])

    def failing_parquet(self, *paths, **options):
        raise IOError("injected read failure")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", failing_parquet)
        with pytest.raises(IOError, match="injected"):
            upsert_partitioned_table(batch, path, keys=("id",), partition_cols=("ingest_date",))
    got = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_upsert_into_directory_without_data_writes_batch(spark, tmp_path):
    """A path that exists but holds no data files is no table."""
    from etl_dag_paris_velib_spark.sinks.writers import upsert_partitioned_table

    path = tmp_path / "gold"
    path.mkdir()
    (path / "_SUCCESS").write_text("")
    batch = spark.createDataFrame([(1, "a", "2025-01-01")], ["id", "v", "ingest_date"])
    upsert_partitioned_table(batch, str(path), keys=("id",), partition_cols=("ingest_date",))
    assert {(r.id, r.v) for r in spark.read.parquet(str(path)).collect()} == {(1, "a")}


def test_jdbc_append_round_trip(spark, tmp_path):
    """K5 (reference load kernel: s3_to_postgres.py:76-82, row-at-a-time
    ``insert_rows``). The distributed replacement is partition-parallel
    batched JDBC INSERTs; exercised against embedded Derby (on Spark's own
    classpath), the same driver/DataSource path an external Postgres takes
    — only the URL and driver class differ. Append twice: JDBC append has
    no dedup (exactly the reference's semantics), so rows double."""
    from etl_dag_paris_velib_spark.sinks.writers import append_jdbc

    url = f"jdbc:derby:{tmp_path / 'k5db'};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(50).selectExpr(
        "id", "cast(id * 0.5 as double) as v", "concat('s', id) as name"
    )
    append_jdbc(df, url, "gold_metrics", num_partitions=4, properties=props)
    append_jdbc(df, url, "gold_metrics", num_partitions=4, properties=props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "gold_metrics")
        .option("driver", props["driver"])
        .load()
    )
    assert back.count() == 100
    assert back.filter(F.col("id") == 7).select("v").distinct().collect()[0][0] == 3.5


def test_hourly_broadcast_join(spark, fixtures_dir):
    """The reference's implied downstream query (README: weather × bikes per
    hour) as a broadcast equi-join on date_trunc('hour') — canonical plan:
    1-row weather side broadcasts."""
    stations = ingest_station_status(
        spark, os.path.join(fixtures_dir, "station_status.json"), RUN_TS
    )
    weather = ingest_weather(spark, os.path.join(fixtures_dir, "weather.json"), RUN_TS)
    joined = stations.withColumn(
        "hour", F.date_trunc("hour", "last_reported")
    ).join(
        F.broadcast(weather.withColumn("hour", F.date_trunc("hour", "timestamp"))),
        "hour",
        "left",
    )
    got = {r.station_id: r.temp for r in joined.collect()}
    assert got[36255] == 6.42  # same hour → weather attached
    assert got[516395829] is None  # stale station → no weather that hour
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()


def test_gbfs_python_datasource_matches_flatten(spark):
    """The registered `gbfs` format (Spark 4 Python DataSource API) must
    produce exactly the rows the declarative flatten produces, across
    multiple input partitions (the strided-slice read contract)."""
    from etl_dag_paris_velib_spark.schemas import VELIB_ENVELOPE_SCHEMA
    from etl_dag_paris_velib_spark.sources.gbfs_datasource import (
        GBFSStationStatusDataSource,
    )
    from etl_dag_paris_velib_spark.sources.readers import read_json
    from etl_dag_paris_velib_spark.sources.velib import flatten_station_status

    spark.dataSource.register(GBFSStationStatusDataSource)
    fixture = "tests/fixtures/station_status.json"
    via_source = (
        spark.read.format("gbfs")
        .option("path", fixture)
        .option("numPartitions", 3)
        .load()
    )
    assert via_source.rdd.getNumPartitions() == 3
    envelope = read_json(spark, fixture, VELIB_ENVELOPE_SCHEMA, multiline=True)
    via_flatten = flatten_station_status(envelope)
    cols = via_flatten.columns
    assert via_source.columns == cols
    got = sorted(tuple(r) for r in via_source.collect())
    want = sorted(tuple(r) for r in via_flatten.collect())
    assert got == want


def test_lenient_json_read_quarantines_corrupt_lines(spark, tmp_path):
    """PERMISSIVE NDJSON ingest: well-formed lines parse, malformed lines
    land in the dead-letter frame with their raw text and source file —
    the crawl-scale alternative to the FAILFAST contract."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_dag_paris_velib_spark.sources.readers import read_json_lenient

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": oops not json\n'
        '{"id": 3, "name": "also ok"}\n'
        "total garbage line\n"
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    good, bad = read_json_lenient(spark, str(p), schema)
    assert {(r.id, r.name) for r in good.collect()} == {(1, "ok"), (3, "also ok")}
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    assert {r.raw_record for r in bad_rows} == {
        '{"id": oops not json',
        "total garbage line",
    }
    assert all(r.source_file.endswith("mixed.jsonl") for r in bad_rows)


# ---------------------------------------------------------------------------
# small-file compaction (sinks/writers.py:compact_partitions)
# ---------------------------------------------------------------------------

def test_compact_partitions_merges_files_preserves_data(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.sinks.writers import compact_partitions

    path = str(tmp_path / "tbl")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("pt"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    # fragment pt=0 into 8 files; write pt=1 as a single file (already compact)
    df.filter("pt = '0'").repartition(8).write.partitionBy("pt").mode(
        "overwrite"
    ).parquet(path)
    df.filter("pt = '1'").coalesce(1).write.partitionBy("pt").mode(
        "append"
    ).parquet(path)

    def files(p):
        return sorted(
            f for f in os.listdir(f"{path}/pt={p}") if f.endswith(".parquet")
        )

    assert len(files(0)) == 8 and len(files(1)) == 1
    untouched_before = [
        (f, os.path.getmtime(f"{path}/pt=1/{f}")) for f in files(1)
    ]
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    report = compact_partitions(
        spark, path, partition_cols=("pt",), target_file_bytes=1 << 30
    )
    assert set(report) == {"pt=0"}
    assert report["pt=0"][1] == 8 and report["pt=0"][2] == 1
    assert len(files(0)) == 1
    # pt=1 was never read or replaced: same files, same mtimes
    assert [
        (f, os.path.getmtime(f"{path}/pt=1/{f}")) for f in files(1)
    ] == untouched_before
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    # second run is a no-op
    assert compact_partitions(
        spark, path, partition_cols=("pt",), target_file_bytes=1 << 30
    ) == {}


def test_compact_partitions_refuses_malformed_layout(spark, tmp_path):
    """Data-loss guard: a data file at the wrong partition depth (here:
    dumped at the table root) must abort the plan — its partition key
    would be the table root itself and the swap would delete the whole
    table. Same for a directory level not named <col>=...; nothing may
    be rewritten or moved in either case."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.sinks.writers import compact_partitions

    path = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("pt")
    )
    df.repartition(4).write.partitionBy("pt").mode("overwrite").parquet(path)
    # a stray data file at the table root (depth 0, expected depth 1)
    with open(f"{path}/stray.parquet", "wb") as fh:
        fh.write(b"not really parquet")
    before = sorted(os.listdir(path))
    with pytest.raises(ValueError, match="partition depth"):
        compact_partitions(spark, path, partition_cols=("pt",), target_file_bytes=1)
    assert sorted(os.listdir(path)) == before  # nothing moved or deleted

    os.remove(f"{path}/stray.parquet")
    # wrong column name in the directory level
    with pytest.raises(ValueError, match="partition depth"):
        compact_partitions(
            spark, path, partition_cols=("other",), target_file_bytes=1
        )
    # correct declaration compacts fine afterwards
    report = compact_partitions(
        spark, path, partition_cols=("pt",), target_file_bytes=1 << 30
    )
    assert set(report) == {"pt=0", "pt=1"}
    assert spark.read.parquet(path).count() == 100


def test_gold_table_partition_pruning(spark, tmp_path):
    """A date-filtered read of the ingest-partitioned gold layout must
    prune at the FILE INDEX level (PartitionFilters, not a post-scan
    Filter) — at 100 TB this is the difference between listing one hour
    and listing a year."""
    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.sinks.writers import write_partitioned_table

    path = str(tmp_path / "gold")
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2026-01-01")
        .otherwise("2026-01-02")
        .alias("ingest_date"),
        (F.col("id") % 4).alias("ingest_hour"),
    )
    write_partitioned_table(df, path)
    rd = spark.read.parquet(path).filter(F.col("ingest_date") == "2026-01-01")
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ingest_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "date predicate must reach the file index"
    assert rd.count() == 50


def test_compact_partitions_two_level_layout(spark, tmp_path):
    """Compaction on the real ingest layout (date/hour): leaf-dir rename
    must land under the surviving date dir, and sibling hours stay put."""
    import os

    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.sinks.writers import compact_partitions

    path = str(tmp_path / "gold")
    df = spark.range(400).select(
        F.col("id"),
        F.lit("2026-01-01").alias("ingest_date"),
        (F.col("id") % 2).alias("ingest_hour"),
    )
    df.filter("ingest_hour = 0").repartition(5).write.partitionBy(
        "ingest_date", "ingest_hour"
    ).mode("overwrite").parquet(path)
    df.filter("ingest_hour = 1").coalesce(1).write.partitionBy(
        "ingest_date", "ingest_hour"
    ).mode("append").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    report = compact_partitions(
        spark, path, target_file_bytes=1 << 30
    )
    assert set(report) == {"ingest_date=2026-01-01/ingest_hour=0"}
    h0 = f"{path}/ingest_date=2026-01-01/ingest_hour=0"
    assert len([f for f in os.listdir(h0) if f.endswith(".parquet")]) == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def test_schema_evolution_across_partitions(spark, tmp_path):
    """An ingest layout where a later hour gained a column: the default
    read keeps the FIRST schema (no silent drift — the reference's
    Postgres coerces silently, SURVEY §1.4); an explicit mergeSchema read
    unions the schemas with nulls for the old partitions. Evolution is a
    stated decision, never an accident."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    v1 = spark.range(5).select(
        F.col("id"), F.lit("2026-01-01").alias("ingest_date")
    )
    v2 = spark.range(5, 10).select(
        F.col("id"),
        F.lit(7.5).alias("battery_level"),  # column added in a later run
        F.lit("2026-01-02").alias("ingest_date"),
    )
    v1.write.partitionBy("ingest_date").mode("overwrite").parquet(path)
    v2.write.partitionBy("ingest_date").mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "battery_level", "ingest_date"}
    rows = {r["id"]: r["battery_level"] for r in merged.collect()}
    assert rows[0] is None and rows[7] == 7.5
    assert merged.count() == 10
