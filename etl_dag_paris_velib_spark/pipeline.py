"""Pipeline runner: the reference DAG as ONE Spark application.

Reference shape (etl_dag.py:314-409): hourly DAG, two parallel TaskGroups
(weather, station_status) of fetch → transform → create-table → load, with
``retries=3`` per task (etl_dag.py:331-332) and a ``rows_inserted`` metric
XCom-pushed by the load (s3_to_postgres.py:85-92).

Here each branch is fetch-to-bronze (driver-side seam, sources/fetcher.py),
then ingest and a partitioned-parquet write. An hourly run writes about
1,475 rows, and at that size Spark's fixed costs per plan (analysis, a
codegen compile, a write job and its commit) are most of the run. So each
branch first takes the driver path: :data:`BRANCH_INGEST` parses the bronze
envelope on the driver into one Arrow table with the exact types and rows of
the branch's Spark plan (:mod:`.sources.driver_ingest`), and
:func:`write_partitioned_table` writes it with pyarrow into a hidden staging
directory that then takes the partition's place — no Spark job. The driver
path declines, before writing anything, any envelope outside the subset it
converts exactly: a value without its declared JSON type, an int out of range,
a duplicate key, ``NaN``, zero station rows, an empty ``weather`` array, a
session time zone :mod:`zoneinfo` cannot resolve, and the other cases listed
in :mod:`.sources.driver_ingest`. A declined branch runs :func:`branch_plan`,
one lazy plan from bronze scan to partitioned-parquet sink, so Spark defines
every such case, errors included; its ``rows_inserted`` comes from
``df.observe``, measured during the sink write itself, not a second count()
job. The two branches run concurrently from the same SparkSession (the
reference needed Celery ``concurrency=2`` for this, etl_dag.py:320).

Retry semantics: the reference's per-task retry can double-append on
partial success (SURVEY §7); here a retry re-runs the branch's single
write, and both writers replace the run's partition (the driver path by a
rename-aside swap, Spark by dynamic partition overwrite), so each write is
exactly-once per (run, partition) — retries are safe by construction.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks.writers import write_partitioned_table
from .sources.driver_ingest import station_status_batch, weather_batch
from .sources.fetcher import Fetcher
from .sources.velib import ingest_station_status, with_ingest_partitions
from .sources.weather import ingest_weather

#: The two reference branches: name -> driver-side ingestion, which returns
#: the branch's rows as a ``DriverBatch``, or None when it declines the
#: envelope.
BRANCH_INGEST = {
    "weather": weather_batch,
    "station_status": station_status_batch,
}

#: name -> the Spark plan of the branch's flattened rows, for envelopes the
#: driver path declines and for the tools that inspect the plan.
SPARK_INGEST = {
    "weather": ingest_weather,
    "station_status": ingest_station_status,
}


@dataclass
class BranchResult:
    name: str
    bronze_path: str
    output_path: str
    rows_inserted: int
    attempts: int
    elapsed_sec: float


def branch_plan(
    spark: SparkSession, name: str, bronze: str, run_ts: datetime, obs: Observation
) -> DataFrame:
    """The plan one branch writes: ingest the bronze file, count the rows
    into ``obs`` as ``rows_inserted``, add the partition columns."""
    df = SPARK_INGEST[name](spark, bronze, run_ts)
    df = df.observe(obs, F.expr("count(1) AS rows_inserted"))
    return with_ingest_partitions(df)


def run_branch(
    spark: SparkSession,
    name: str,
    fetcher: Fetcher,
    bronze_dir: str,
    out_dir: str,
    run_ts: datetime,
    retries: int = 3,
    retry_delay_sec: float = 0.0,
) -> BranchResult:
    """One branch end-to-end with the reference's retry budget (3 x 5 min
    at etl_dag.py:331-332; the delay is a parameter here): the driver path,
    or :func:`branch_plan` when the driver path declines the envelope."""
    last_err: Exception | None = None
    for attempt in range(1, retries + 2):
        t0 = time.perf_counter()
        try:
            bronze = fetcher.fetch_to_bronze(bronze_dir, name, run_ts)
            out = os.path.join(out_dir, name)
            batch = BRANCH_INGEST[name](spark, bronze, run_ts)
            if batch is not None:
                write_partitioned_table(batch, out)
                rows = batch.rows
            else:
                obs = Observation(f"{name}_{run_ts.isoformat()}_{attempt}")
                write_partitioned_table(branch_plan(spark, name, bronze, run_ts, obs), out)
                rows = obs.get["rows_inserted"]
            return BranchResult(
                name=name,
                bronze_path=bronze,
                output_path=out,
                rows_inserted=rows,
                attempts=attempt,
                elapsed_sec=round(time.perf_counter() - t0, 3),
            )
        except Exception as err:  # noqa: BLE001 — retry boundary
            last_err = err
            if attempt <= retries:
                time.sleep(retry_delay_sec)
    raise RuntimeError(f"branch {name} failed after {retries + 1} attempts") from last_err


def run_pipeline(
    spark: SparkSession,
    fetchers: dict[str, Fetcher],
    bronze_dir: str,
    out_dir: str,
    run_ts: datetime | None = None,
    retries: int = 3,
    retry_delay_sec: float = 0.0,
) -> dict[str, BranchResult]:
    """Fan-out both branches (reference ``start >> [a, b] >> end``,
    etl_dag.py:409) as concurrent jobs of one application."""
    run_ts = run_ts or datetime.now(timezone.utc)
    with ThreadPoolExecutor(max_workers=len(fetchers)) as pool:
        futures = {
            name: pool.submit(
                run_branch,
                spark,
                name,
                fetcher,
                bronze_dir,
                out_dir,
                run_ts,
                retries,
                retry_delay_sec,
            )
            for name, fetcher in fetchers.items()
        }
        return {name: fut.result() for name, fut in futures.items()}
