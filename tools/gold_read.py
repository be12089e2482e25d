"""Read-side cost of the gold tables the hourly pipeline writes.

Writes ``--hours`` hourly runs of both branches of ``pipeline.run_pipeline``
over the test fixtures into a temporary gold directory, then prints one JSON
line per table:

- ``read_ms_p50`` and ``jobs_per_read``: ``readers.read_parquet`` wall time
  (median over ``--reps`` calls, after one warm-up call) and the Spark jobs
  each call submits;
- ``infer_ms_p50`` and ``jobs_per_infer``: the same for ``spark.read.parquet``,
  which infers the data schema from a file footer;
- ``upkeep_ms_p50``: the ``_schema.json`` upkeep one more write of that
  branch pays in steady state (read and compare the file; no write);
- ``schema_file``: whether the table has its ``_schema.json``.

The calls only build the DataFrame; nothing is collected.

Usage: python tools/gold_read.py [--hours N] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import uuid
from datetime import datetime, timedelta, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIXTURES = os.path.join(ROOT, "tests", "fixtures")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--hours", type=int, default=30)
    ap.add_argument("--reps", type=int, default=20)
    args = ap.parse_args()

    from pyspark.sql import Observation

    from etl_dag_paris_velib_spark import pipeline
    from etl_dag_paris_velib_spark.session import get_spark
    from etl_dag_paris_velib_spark.sources.fetcher import FileFetcher
    from etl_dag_paris_velib_spark.sources.readers import read_parquet
    from etl_dag_paris_velib_spark.table_schema import SCHEMA_FILE, SchemaUpkeep

    spark = get_spark(app_name="gold_read", shuffle_partitions=4)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    bus = sc._jsc.sc().listenerBus()

    def timed(fn) -> tuple[float, int]:
        """Wall time of ``fn()`` and the Spark jobs it submitted."""
        group = f"gold-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            secs = time.perf_counter() - t0
            sc._jsc.clearJobGroup()
        bus.waitUntilEmpty()
        return secs, len(sc.statusTracker().getJobIdsForGroup(group))

    def p50(fn) -> tuple[float, int]:
        runs = [timed(fn) for _ in range(args.reps + 1)][1:]
        return (
            round(statistics.median(s for s, _ in runs) * 1e3, 1),
            max(n for _, n in runs),
        )

    run_ts = datetime(2025, 1, 31, tzinfo=timezone.utc)
    fetchers = {
        name: FileFetcher(os.path.join(FIXTURES, f"{name}.json")) for name in pipeline.BRANCH_INGEST
    }
    try:
        with tempfile.TemporaryDirectory(prefix="gold_read-") as work:
            gold = os.path.join(work, "gold")
            for h in range(args.hours):
                pipeline.run_pipeline(
                    spark, fetchers, os.path.join(work, "bronze"), gold, run_ts + timedelta(hours=h)
                )
            for name in pipeline.BRANCH_INGEST:
                path = os.path.join(gold, name)
                bronze = os.path.join(FIXTURES, f"{name}.json")
                plan = pipeline.branch_plan(spark, name, bronze, run_ts, Observation(name))

                def upkeep():
                    u = SchemaUpkeep(spark, path, ("ingest_date", "ingest_hour"))
                    u.before_write(plan.schema)
                    u.after_write()

                read_ms, read_jobs = p50(lambda: read_parquet(spark, path))
                infer_ms, infer_jobs = p50(lambda: spark.read.parquet(path))
                print(
                    json.dumps(
                        {
                            "table": name,
                            "hours": args.hours,
                            "read_ms_p50": read_ms,
                            "jobs_per_read": read_jobs,
                            "infer_ms_p50": infer_ms,
                            "jobs_per_infer": infer_jobs,
                            "upkeep_ms_p50": p50(upkeep)[0],
                            "schema_file": os.path.isfile(os.path.join(path, SCHEMA_FILE)),
                        }
                    ),
                    flush=True,
                )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
