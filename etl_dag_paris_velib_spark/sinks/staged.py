"""Staged partition writes: the rename-aside swap that puts a staged
directory in place of a partition, and the driver-side parquet write of a
:class:`..sources.driver_ingest.DriverBatch`.

Staging directories are hidden (dot-prefixed) under the table root, so
Spark's file index never reads a partial write. File access goes through
:mod:`..tablefs`: plain Python file I/O for a path without a scheme, so a
driver batch written to a local table costs one py4j round trip (the Spark
version for the footer) and forks no process, and the Hadoop FileSystem API
for any other path (``file://``, ``s3a://``), so those tables work the same.
On an object store a rename is a copy and a delete, so a reader listing
during the swap can see the partition briefly absent.
"""

from __future__ import annotations

import json
import uuid

import pyarrow as pa
from pyspark.sql.types import StructType

from ..sources.driver_ingest import DriverBatch
from ..table_schema import SchemaUpkeep


def swap_partition(fs, live: str, staged: str, trash: str) -> None:
    """Make the directory ``staged`` the partition directory ``live`` by a
    rename-aside swap on the :mod:`..tablefs` filesystem ``fs``: live →
    ``trash``, staged → live, delete trash. A missing ``live`` is simply
    created. If staged cannot be moved in, the old partition is put back and
    the error raised, so the partition keeps its old rows; the caller deletes
    its staging directory."""
    aside = None
    if fs.exists(live):
        aside = trash
        if not fs.rename(live, aside):
            raise IOError(f"could not move partition {live} aside")
    else:
        fs.mkdirs(live.rsplit("/", 1)[0])
    try:
        if not fs.rename(staged, live):
            raise IOError(f"could not move {staged} to {live}")
    except BaseException:
        if aside is not None:
            fs.delete(live, True)  # whatever part of staged got there
            fs.rename(aside, live)
        raise
    if aside is not None:
        fs.delete(aside, True)


def _parquet_bytes(data: pa.Table, schema: StructType, version: str) -> bytes:
    """``data`` as one parquet file with the physical layout Spark writes:
    INT96 timestamps, snappy, and Spark's schema in the footer. pyarrow
    writes its own ``ARROW:schema`` key beside Spark's; Spark ignores it."""
    import pyarrow.parquet as pq  # only processes that write a driver batch load it

    # the field order Spark's own JSON rendering uses, not PySpark's sorted one
    row_metadata = json.dumps(schema.jsonValue(), separators=(",", ":"))
    data = data.replace_schema_metadata(
        {
            "org.apache.spark.version": version,
            "org.apache.spark.sql.parquet.row.metadata": row_metadata,
        }
    )
    buf = pa.BufferOutputStream()
    pq.write_table(data, buf, compression="snappy", use_deprecated_int96_timestamps=True)
    return buf.getvalue().to_pybytes()


def write_driver_batch(
    batch: DriverBatch, path: str, partition_cols: tuple[str, ...], mode: str
) -> None:
    """Write ``batch`` to its partition of the table at ``path`` with
    pyarrow, replacing the partition as dynamic partition overwrite does.

    The file goes into a hidden staging directory under the table root,
    which then takes the partition's place (:func:`swap_partition`).
    ``_schema.json`` is kept by the same :class:`..table_schema.SchemaUpkeep`
    rules as a Spark write. The batch must hold one partition, whose values
    (dates and hours) Spark writes into directory names unescaped."""
    if mode != "overwrite":
        raise ValueError(f"a driver batch is written with mode='overwrite', not {mode!r}")
    table = batch.table
    values = []
    for c in partition_cols:
        distinct = table.column(c).unique()
        if len(distinct) != 1:
            raise ValueError(f"a driver batch must hold one partition, {c} has {len(distinct)}")
        values.append(distinct[0].as_py())
    rel = "/".join(f"{c}={v}" for c, v in zip(partition_cols, values))
    data_fields = [f for f in batch.schema.fields if f.name not in partition_cols]
    payload = _parquet_bytes(
        table.drop_columns(list(partition_cols)),
        StructType(data_fields),
        batch.spark.sparkContext.version,
    )

    upkeep = SchemaUpkeep(batch.spark, path, partition_cols, mode)
    upkeep.before_write(batch.schema)
    fs, root = upkeep.table.fs, upkeep.table.root
    token = uuid.uuid4().hex
    staged = f"{root}/.ingest-{token}"
    try:
        fs.write_bytes(f"{staged}/part-00000-{uuid.uuid4()}.c000.snappy.parquet", payload)
        swap_partition(fs, f"{root}/{rel}", staged, f"{root}/.ingest-trash-{token}")
    except BaseException:
        fs.delete(staged, True)
        raise
    upkeep.after_write()
