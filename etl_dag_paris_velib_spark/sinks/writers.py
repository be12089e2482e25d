"""Sinks (reference operators K1-K5, SURVEY.md §2.2).

The reference's serving layer is row-at-a-time inserts into Postgres
(s3_to_postgres.py:80-82 — ``insert_rows(rows=df.values.tolist())``), its
scalability ceiling. The native serving layer here is partitioned Parquet
written in parallel by every executor; JDBC append exists only for parity
with external Postgres consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.driver_ingest import DriverBatch
from ..sources.readers import read_parquet
from ..table_schema import SchemaUpkeep
from ..tablefs import filesystem
from .staged import swap_partition, write_driver_batch


def write_partitioned_table(
    df: DataFrame | DriverBatch,
    path: str,
    partition_cols: tuple[str, ...] = ("ingest_date", "ingest_hour"),
    mode: str = "overwrite",
) -> None:
    """Gold-layer append with exactly-once per run.

    With ``partitionOverwriteMode=dynamic`` (set in session.py) and
    ``mode="overwrite"``, a re-run replaces only the partitions it produces —
    the idempotency the reference approximates with ``replace=True`` on CSV
    uploads only (etl_dag.py:111) and entirely lacks on the DB insert.
    Replaces K4+K5: the table is created by the first write; no DDL step.

    The table keeps its data schema in ``_schema.json`` at its root, which
    lets :func:`..sources.readers.read_parquet` skip Spark's schema-inference
    job (:mod:`..table_schema`). The write that creates the table creates
    the file; a later write with the same data schema leaves it alone (one
    small read, no write); one with another data schema deletes it, and
    reads infer again. A table that held data before its first write here
    never gets the file, and a write that writes nothing (``mode="ignore"``
    on an existing path) does not touch it.

    A :class:`..sources.driver_ingest.DriverBatch` (one partition's rows,
    built on the driver) is written with pyarrow and no Spark job, by the
    same rules (:func:`.staged.write_driver_batch`).
    """
    if isinstance(df, DriverBatch):
        write_driver_batch(df, path, partition_cols, mode)
        return
    upkeep = SchemaUpkeep(df.sparkSession, path, partition_cols, mode)
    upkeep.before_write(df.schema)
    _write_dynamic(df, path, partition_cols, mode)
    upkeep.after_write()


def _write_dynamic(
    df: DataFrame, path: str, partition_cols: tuple[str, ...], mode: str
) -> None:
    # per-write option rather than session conf: any externally-built
    # vanilla session gets dynamic (not table-wiping static) overwrite too
    df.write.option("partitionOverwriteMode", "dynamic").partitionBy(
        *partition_cols
    ).mode(mode).parquet(path)


def export_csv(df: DataFrame, path: str) -> None:
    """CSV export (reference K3). Timestamps render as the reference's
    ``yyyy-MM-dd HH:mm:ss`` at this boundary only — types stay native
    inside the engine."""
    df.write.option("header", "true").option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss"
    ).mode("overwrite").csv(path)


def export_json(df: DataFrame, path: str) -> None:
    """Raw/bronze JSON persistence (reference K1)."""
    df.write.mode("overwrite").json(path)


def export_orc(df: DataFrame, path: str) -> None:
    """Columnar ORC export — no reference counterpart (the reference's
    only columnar-adjacent boundary is transient pandas, SURVEY §1.2);
    included so the silver layer interoperates with ORC-native warehouses
    (Hive/Trino) without a parquet conversion hop. Types round-trip
    natively, unlike the CSV boundary."""
    df.write.mode("overwrite").orc(path)


def upsert_partitioned_table(
    df: DataFrame,
    path: str,
    keys: tuple[str, ...],
    partition_cols: tuple[str, ...] = ("ingest_date", "ingest_hour"),
) -> None:
    """Delta-style MERGE (upsert) onto a partitioned parquet table: rows
    in ``df`` replace existing rows with the same ``keys``; everything
    else survives. Partition-pruned: only partitions PRESENT in the batch
    are read back and rewritten (broadcast semi-join on the partition
    values + dynamic partition overwrite) — an upsert touching one hour
    of a year-long table moves one hour of data, which is what makes the
    pattern viable at 100 TB. Untouched partitions are never read.

    The batch must carry its partition columns, and keys must not move
    rows across partitions (true for ingest-time layouts).

    ``localCheckpoint`` materializes the merged result before the write —
    Spark cannot atomically overwrite a path it is still lazily reading
    (the self-overwrite trap). On a real deployment the ACID version of
    this operator is Delta/Iceberg ``MERGE INTO``; the dataflow (prune →
    anti-join → union → dynamic overwrite) is identical.

    Whether the table exists is decided from the filesystem: a missing path,
    or one with no data files, is no table and the batch is written alone.
    Any error reading an existing table propagates — treating it as "no
    table" would overwrite the touched partitions with the batch alone and
    drop their other rows. ``existing`` is read through
    :func:`..sources.readers.read_parquet`, and the ``_schema.json`` file
    follows the same rules as in :func:`write_partitioned_table`, checked
    against the schema of the merged rows.
    """
    spark = df.sparkSession
    upkeep = SchemaUpkeep(spark, path, partition_cols)
    if upkeep.had_table:
        from pyspark.sql.functions import broadcast

        existing = read_parquet(spark, path)
        touched = df.select(*partition_cols).distinct()
        in_touched = existing.join(broadcast(touched), list(partition_cols), "left_semi")
        survivors = in_touched.join(
            df.select(*keys).distinct(), list(keys), "left_anti"
        )
        out = survivors.unionByName(df).localCheckpoint()
    else:
        out = df
    upkeep.before_write(out.schema)
    _write_dynamic(out, path, partition_cols, "overwrite")
    upkeep.after_write()


def append_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batchsize: int = 10_000,
    num_partitions: int = 8,
    properties: dict | None = None,
) -> None:
    """Postgres-parity sink: partition-parallel batched INSERTs — the
    distributed replacement for the reference's single-threaded
    ``insert_rows`` loop (s3_to_postgres.py:76-82). Round-trip-tested
    against embedded Derby (tests/test_ingestion.py) — the same Spark
    JDBC write path an external Postgres takes, modulo URL/driver."""
    writer = (
        df.repartition(num_partitions)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .mode("append")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def compact_partitions(
    spark,
    path: str,
    partition_cols: tuple[str, ...] = ("ingest_date", "ingest_hour"),
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction for a partitioned parquet table — the
    maintenance op every long-running ingest layout needs (an hourly
    writer like the reference's produces 24 × 365 tiny files/year/branch;
    at 100 TB, scan-task count and object-store LIST/GET amplification
    from small files dominate read cost long before data volume does).

    Plan-then-rewrite, touching ONLY partitions that need it:

    1. list leaf files per partition directory through :mod:`..tablefs`
       (plain file I/O for a path without a scheme, the Hadoop FS API for
       file:// and s3a://),
    2. a partition needs compaction iff ``n_files > ceil(bytes/target)``,
    3. each such partition is rewritten with exactly that many output
       files (``repartition(n_out)`` scoped to the partition's rows) into
       a HIDDEN staging dir under the table root (dot-prefixed — Spark's
       file index ignores it, so concurrent readers never see partials),
    4. staged partition dirs replace the originals by the rename-aside
       swap of :func:`.staged.swap_partition` (live → trash, staged →
       live, delete trash; a failed move puts the original back) — a
       crash mid-swap never leaves a partition absent with no recoverable
       copy, and Spark is never overwriting a path it is lazily reading.
       The staging directory is deleted whether the swap succeeds or not.

    Layout validation (data-loss guard): every data file must sit at
    EXACTLY ``len(partition_cols)`` directory levels below the table
    root, each level named ``<col>=...`` in declared order. A file at
    the wrong depth (e.g. dumped at the table root) would otherwise
    yield an empty partition key whose "directory" IS the table root —
    the swap would then delete the whole table. Such files raise.

    Object-store caveat: on s3a:// each "rename" is a non-atomic
    copy+delete, so a reader listing mid-swap can observe a partition
    briefly absent (the trash copy still exists for recovery). The
    listing/plan/rewrite phases work identically; only the swap's
    atomicity is filesystem-grade. The ACID version of this operator is
    a table format's OPTIMIZE (Delta/Iceberg); the dataflow is
    identical.

    Returns ``{partition_rel_path: (bytes, files_before, files_after)}``
    for the rewritten partitions. Reference counterpart: none (the
    reference appends one-file-per-hour CSVs and never compacts,
    etl_dag.py:248-255).
    """
    import math
    import uuid

    fs = filesystem(spark, path)
    sizes: dict[str, tuple[int, int]] = {}
    for rel, size in fs.files(path):
        parts = rel.split("/")
        if any(seg.startswith((".", "_")) for seg in parts):
            continue  # hidden/staging/_SUCCESS
        dirs = parts[:-1]
        if len(dirs) != len(partition_cols) or any(
            not seg.startswith(f"{col}=")
            for col, seg in zip(partition_cols, dirs)
        ):
            raise ValueError(
                f"compact_partitions: data file {rel!r} does not sit at "
                f"the declared partition depth {partition_cols!r} — "
                "refusing to plan a swap over a malformed layout"
            )
        d = "/".join(dirs)
        b, n = sizes.get(d, (0, 0))
        sizes[d] = (b + size, n + 1)

    plan = {
        d: (b, n, max(1, math.ceil(b / target_file_bytes)))
        for d, (b, n) in sizes.items()
        if n > max(1, math.ceil(b / target_file_bytes))
    }
    if not plan:
        return {}

    token = uuid.uuid4().hex[:12]
    staging = f"{path}/.compact-{token}"
    report: dict[str, tuple[int, int, int]] = {}
    try:
        for d, (b, n_before, n_out) in plan.items():
            part_df = spark.read.parquet(f"{path}/{d}")
            part_df.repartition(n_out).write.mode("overwrite").parquet(
                f"{staging}/{d}"
            )
            # the per-partition _SUCCESS marker of the staged write
            fs.delete(f"{staging}/{d}/_SUCCESS", False)
            report[d] = (b, n_before, n_out)
        for i, d in enumerate(plan):
            assert d, "empty partition key must be impossible post-validation"
            swap_partition(fs, f"{path}/{d}", f"{staging}/{d}", f"{staging}-trash-{i}")
    finally:
        fs.delete(staging, True)
    return report
