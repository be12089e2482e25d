"""The ``_schema.json`` a parquet table written through the sinks keeps:
reads through ``read_parquet`` equal Spark's inference and run no Spark job,
and the upkeep rules keep the file only while every write used one data
schema (etl_dag_paris_velib_spark/table_schema.py)."""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegerType

from etl_dag_paris_velib_spark.pipeline import run_pipeline
from etl_dag_paris_velib_spark.sinks.writers import (
    compact_partitions,
    write_partitioned_table,
)
from etl_dag_paris_velib_spark.sources.fetcher import FileFetcher
from etl_dag_paris_velib_spark.sources.readers import read_parquet
from etl_dag_paris_velib_spark.table_schema import SCHEMA_FILE, SchemaUpkeep

RUN_TS = datetime(2025, 1, 31, 22, tzinfo=timezone.utc)
TABLES = ("station_status", "weather")


def jobs_run_by(spark, fn) -> int:
    """Spark jobs submitted while ``fn()`` runs on this thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def gold(spark, tmp_path_factory, fixtures_dir):
    """Gold tables of three hourly runs over the fixtures, across a date
    boundary."""
    work = tmp_path_factory.mktemp("gold_tables")
    fetchers = {name: FileFetcher(os.path.join(fixtures_dir, f"{name}.json")) for name in TABLES}
    for h in range(3):
        run_pipeline(spark, fetchers, str(work / "bronze"), str(work / "gold"), RUN_TS + timedelta(hours=h))
    return str(work / "gold")


@pytest.mark.parametrize("table", TABLES)
def test_read_equals_inference_on_gold(spark, gold, table):
    path = os.path.join(gold, table)
    assert os.path.isfile(os.path.join(path, SCHEMA_FILE))
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.schema["ingest_date"].dataType == DateType()
    assert got.schema["ingest_hour"].dataType == IntegerType()
    assert rows(got) == rows(want)
    assert got.select("ingest_date").distinct().count() == 2


@pytest.mark.parametrize("table", TABLES)
def test_read_runs_no_spark_job(spark, gold, table):
    path = os.path.join(gold, table)
    assert jobs_run_by(spark, lambda: read_parquet(spark, path)) == 0
    # the counter sees the footer job inference runs
    assert jobs_run_by(spark, lambda: spark.read.parquet(path)) == 1


def test_nested_types_read_equals_inference(spark, tmp_path):
    """Nullability is relaxed inside arrays, maps and structs as Spark's
    parquet read relaxes it."""
    path = str(tmp_path / "nested")
    df = spark.range(4).select(
        F.col("id"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
        (F.col("id") % 2).alias("pt"),
    )
    write_partitioned_table(df, path, partition_cols=("pt",))
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert rows(got) == rows(want)


def _frame(spark, pt: int, *extra: str):
    return spark.range(3).select(
        F.col("id"), *(F.lit(1).alias(c) for c in extra), F.lit(pt).alias("pt")
    )


def test_drifted_schema_removes_file(spark, tmp_path):
    path = str(tmp_path / "t")
    sidecar = os.path.join(path, SCHEMA_FILE)
    write_partitioned_table(_frame(spark, 0), path, partition_cols=("pt",))
    assert os.path.isfile(sidecar)
    write_partitioned_table(_frame(spark, 0), path, partition_cols=("pt",))
    assert os.path.isfile(sidecar)
    write_partitioned_table(_frame(spark, 1, "w"), path, partition_cols=("pt",))
    assert not os.path.exists(sidecar)
    assert jobs_run_by(spark, lambda: read_parquet(spark, path)) == 1
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert rows(got) == rows(want)
    # a later write with the first schema again does not bring it back
    write_partitioned_table(_frame(spark, 2), path, partition_cols=("pt",))
    assert not os.path.exists(sidecar)


def test_table_written_elsewhere_never_gets_file(spark, tmp_path):
    path = str(tmp_path / "t")
    _frame(spark, 0).write.partitionBy("pt").parquet(path)
    write_partitioned_table(_frame(spark, 1), path, partition_cols=("pt",))
    assert not os.path.exists(os.path.join(path, SCHEMA_FILE))
    assert read_parquet(spark, path).count() == 6


def test_ignore_mode_on_existing_table_leaves_file(spark, tmp_path):
    path = str(tmp_path / "t")
    sidecar = os.path.join(path, SCHEMA_FILE)
    write_partitioned_table(_frame(spark, 0), path, partition_cols=("pt",))
    before = (open(sidecar).read(), os.path.getmtime(sidecar))
    write_partitioned_table(_frame(spark, 1, "w"), path, partition_cols=("pt",), mode="ignore")
    assert (open(sidecar).read(), os.path.getmtime(sidecar)) == before
    assert read_parquet(spark, path).count() == 3
    # on a path that does not exist, ignore writes and creates the table
    other = str(tmp_path / "u")
    write_partitioned_table(_frame(spark, 1), other, partition_cols=("pt",), mode="ignore")
    assert os.path.isfile(os.path.join(other, SCHEMA_FILE))


def test_compaction_keeps_file_and_reads(spark, tmp_path):
    path = str(tmp_path / "t")
    for _ in range(4):
        write_partitioned_table(_frame(spark, 0), path, partition_cols=("pt",), mode="append")
    report = compact_partitions(spark, path, partition_cols=("pt",), target_file_bytes=1 << 30)
    assert set(report) == {"pt=0"}
    assert os.path.isfile(os.path.join(path, SCHEMA_FILE))
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert rows(got) == rows(want)
    assert len(rows(got)) == 12


@pytest.mark.parametrize("scheme", ["", "file://"])
@pytest.mark.parametrize("same_schema", [True, False])
def test_concurrent_first_writes(spark, tmp_path, scheme, same_schema):
    """Two writers create one table at once: both read the fresh path
    before either writes, so both create the schema file. The second
    rename keeps the first file when the schemas are equal and removes it
    when they differ, and neither raises or leaves a temporary file."""
    local = str(tmp_path / "t")
    path = scheme + local
    frames = [_frame(spark, 0), _frame(spark, 1) if same_schema else _frame(spark, 1, "w")]
    upkeeps = [SchemaUpkeep(spark, path, ("pt",), mode="append") for _ in frames]
    for upkeep, df in zip(upkeeps, frames):
        upkeep.before_write(df.schema)
        df.write.partitionBy("pt").mode("append").parquet(path)
    for upkeep in upkeeps:
        upkeep.after_write()
    temporary = [
        n
        for n in os.listdir(local)
        if n.lstrip(".").startswith(SCHEMA_FILE + ".") and n != f".{SCHEMA_FILE}.crc"
    ]
    assert temporary == []
    sidecar = os.path.join(local, SCHEMA_FILE)
    if same_schema:
        assert open(sidecar).read() == upkeeps[0].text == upkeeps[1].text
        assert jobs_run_by(spark, lambda: read_parquet(spark, path)) == 0
    else:
        assert not os.path.exists(sidecar)
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert rows(got) == rows(want)
