"""SparkSession construction with scale-oriented defaults.

The reference executes eagerly on a single Celery worker with full
materialization between stages (SURVEY.md §4). Here the session is configured
once for lazy, whole-stage-codegen execution:

- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting, which is what keeps a fixed ``shuffle.partitions`` setting sane
  across scale factors (sf0.001 local test → 100 TB cluster).
- Arrow on: every pandas_udf / applyInPandas boundary is Arrow-batched.
- Dynamic partition overwrite: re-running an ingest hour replaces exactly that
  partition — the exactly-once semantics the reference lacks
  (reference retries double-insert; see s3_to_postgres.py:80-82 discussion in
  SURVEY.md §7).
- PySpark's Column call-site capture off, so Column calls cost the same
  few py4j round trips in every process, whichever thread builds the first
  Column.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-dag-paris-velib-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    N is ``SPARK_GRAFT_CPUS``, read at each call, or ``os.cpu_count()``
    when unset. ``master`` defaults to ``local[N]`` and
    ``shuffle_partitions`` to N; on a real cluster the caller passes the
    cluster master / lets spark-submit set it and this function only
    applies SQL confs.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")

    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # read nested parquet columns only when referenced
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        # broadcast joins for dims up to 64 MB (region/nation/supplier/part
        # stay broadcast-able far beyond sf0.1)
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # keep timestamps deterministic across engines (oracle = DuckDB UTC)
        "spark.sql.session.timeZone": "UTC",
        # events.parquet stores INT64 TIMESTAMP(NANOS). Spark 4.1 reads it
        # natively as TIMESTAMP_NTZ (micro-truncated) and ignores this
        # legacy conf; on older runtimes the conf makes the column arrive
        # as long nanos, which sources.tpch.load_table then converts.
        # Harmless no-op on 4.1, load-bearing on 3.x — keep for both.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # PySpark's call-site capture for Column errors costs each Column
        # call about ten more py4j round trips and a Python stack walk.
        # PySpark reads this conf once per process, at the first Column
        # call, and treats a first call from a thread without an active
        # session as "off" — so unset, whether it was on depended on which
        # thread built a Column first. Off, explicitly, in every process.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    # NOTE: spark.driver.memory cannot be set after the JVM starts — it must
    # come from spark-submit / SPARK_DRIVER_MEMORY before launch; setting it
    # via builder.config on an existing session is a silent no-op, so we
    # deliberately do not pass it here.
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
