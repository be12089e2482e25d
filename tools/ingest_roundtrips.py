"""Driver overhead of building each hourly ingest branch's plan.

For each branch of ``pipeline.BRANCH_INGEST`` this builds, from the test
fixtures and without executing it, the plan ``pipeline.run_branch`` writes
(``pipeline.branch_plan``: ingest, ``observe``, partition columns). It prints
one JSON line per branch: the py4j round trips (Python-to-JVM calls) one
build makes, its median wall time, and the ``Project`` nodes of the analysed
plan. The first build of each branch is a warm-up and is not counted.

Usage: python tools/ingest_roundtrips.py [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FIXTURES = os.path.join(ROOT, "tests", "fixtures")


def project_count(df) -> int:
    """``Project`` nodes in the analysed plan of ``df``."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return sum(bool(re.match(r"\W*Project \[", line)) for line in plan.splitlines())


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

    client.send_command = counting_send
    run_ts = datetime(2025, 1, 31, 10, tzinfo=timezone.utc)
    try:
        for name in pipeline.BRANCH_INGEST:
            bronze = os.path.join(FIXTURES, f"{name}.json")
            trips, secs = [], []
            for i in range(args.reps + 1):
                obs = Observation(f"{name}_{i}")
                calls, t0 = 0, time.perf_counter()
                df = pipeline.branch_plan(spark, name, bronze, run_ts, obs)
                if i:
                    secs.append(time.perf_counter() - t0)
                    trips.append(calls)
            print(
                json.dumps(
                    {
                        "branch": name,
                        "round_trips_min": min(trips),
                        "round_trips_max": max(trips),
                        "build_ms_p50": round(statistics.median(secs) * 1e3, 1),
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
