"""Driver-side cost of each hourly ingest branch, on both of its paths.

For each branch of ``pipeline.BRANCH_INGEST`` this prints three JSON lines,
from one seeded hour of ``perfbench/feed.py`` (1,474 station rows, one
weather row):

- ``"path": "driver"``, the path ``pipeline.run_branch`` takes, once for a
  table named by a plain path (``"table": "plain"``) and once for the same
  kind of table named by a ``file://`` URI (``"table": "file_uri"``): the
  median wall time of the ingest (parse and convert, ``BRANCH_INGEST[name]``)
  and of the write (``write_partitioned_table`` of the batch, one new hourly
  partition per rep), and the py4j round trips (Python-to-JVM calls) each
  makes. A plain path is written with Python file I/O (one round trip, the
  Spark version); a ``file://`` one through the Hadoop FileSystem API, whose
  local filesystem forks ``chmod`` for each file and directory it creates.
- ``"path": "spark_plan"``, the plan a declined envelope runs
  (``pipeline.branch_plan``: ingest, ``observe``, partition columns), built
  without executing it: round trips, median build time and the ``Project``
  nodes of the analysed plan.

The first rep of each measurement is a warm-up and is not counted.

Usage: python tools/ingest_roundtrips.py [--reps N]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import statistics
import sys
import tempfile
import time
from datetime import datetime, timedelta, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def project_count(df) -> int:
    """``Project`` nodes in the analysed plan of ``df``."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return sum(bool(re.match(r"\W*Project \[", line)) for line in plan.splitlines())


def feed_hour(directory: str):
    """One seeded hour of the benchmark's feed, its envelopes under
    ``directory``."""
    path = os.path.join(ROOT, "perfbench", "feed.py")
    spec = importlib.util.spec_from_file_location("perfbench_feed", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod.Feed(directory, 101).next_hour()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=20)
    args = ap.parse_args()

    from pyspark.sql import Observation

    from etl_dag_paris_velib_spark import pipeline
    from etl_dag_paris_velib_spark.session import get_spark

    spark = get_spark(app_name="ingest_roundtrips", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting_send(*a, **k):
        nonlocal calls
        calls += 1
        return send(*a, **k)

    def measured(fn):
        """``fn()``, its wall time and its round trips."""
        nonlocal calls
        calls, t0 = 0, time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, calls

    def ms_p50(xs) -> float:
        return round(statistics.median(xs) * 1e3, 1)

    client.send_command = counting_send
    try:
        with tempfile.TemporaryDirectory(prefix="ingest_roundtrips-") as work:
            hour = feed_hour(os.path.join(work, "bronze"))
            bronze = {"station_status": hour.station_path, "weather": hour.weather_path}
            run_ts = datetime.fromtimestamp(hour.run_ts, timezone.utc)
            tables = {
                "plain": os.path.join(work, "gold"),
                "file_uri": "file://" + os.path.join(work, "gold_uri"),
            }
            for name in pipeline.BRANCH_INGEST:
                ingest, writes = [], {table: [] for table in tables}
                for i in range(args.reps + 1):
                    ts = run_ts + timedelta(hours=i)
                    batch, secs, trips = measured(
                        lambda: pipeline.BRANCH_INGEST[name](spark, bronze[name], ts)
                    )
                    ingest.append((secs, trips))
                    for table, gold in tables.items():
                        out = f"{gold}/{name}"
                        writes[table].append(
                            measured(lambda: pipeline.write_partitioned_table(batch, out))[1:]
                        )
                ingest = ingest[1:]
                for table, write in writes.items():
                    write = write[1:]
                    print(
                        json.dumps(
                            {
                                "branch": name,
                                "path": "driver",
                                "table": table,
                                "rows": batch.rows,
                                "ingest_ms_p50": ms_p50(s for s, _ in ingest),
                                "ingest_round_trips_max": max(n for _, n in ingest),
                                "write_ms_p50": ms_p50(s for s, _ in write),
                                "write_round_trips_min": min(n for _, n in write),
                                "write_round_trips_max": max(n for _, n in write),
                            }
                        ),
                        flush=True,
                    )

                builds = []
                for i in range(args.reps + 1):
                    obs = Observation(f"{name}_{i}")
                    df, secs, trips = measured(
                        lambda: pipeline.branch_plan(spark, name, bronze[name], run_ts, obs)
                    )
                    builds.append((secs, trips))
                builds = builds[1:]
                print(
                    json.dumps(
                        {
                            "branch": name,
                            "path": "spark_plan",
                            "round_trips_min": min(n for _, n in builds),
                            "round_trips_max": max(n for _, n in builds),
                            "build_ms_p50": ms_p50(s for s, _ in builds),
                            "projects": project_count(df),
                        }
                    ),
                    flush=True,
                )
    finally:
        client.send_command = send
        spark.stop()


if __name__ == "__main__":
    main()
