"""The data schema of a parquet table, kept next to its data.

``spark.read.parquet(path)`` takes a table's data schema from a file footer,
and Spark runs a one-task job for that on every call, whatever the table's
size (about 85 ms on a 4-core host, most of an hourly analyst read's fixed
cost). A table written through :mod:`.sinks.writers` keeps that schema in
``<path>/_schema.json`` as Spark schema JSON without the partition columns,
and :func:`.sources.readers.read_parquet` hands it to the reader, which then
runs no job. Partition columns are still found, and their types inferred,
from the directory names. Spark's file index skips names that start with
``_``, so the file is never read as data.

Upkeep (:class:`SchemaUpkeep`, around each write) keeps reads exactly what
inference gives; the file exists only while every write through this package
used the same data schema:

- a write that creates the table creates the file;
- a write whose data schema matches the file leaves it alone (one small read,
  no write);
- a write whose data schema differs deletes the file before writing: the
  table has drifted, and reads infer again;
- a table that held data before its first write through this package never
  gets the file;
- a write that writes nothing (``mode="ignore"`` or ``"error"`` onto an
  existing path) leaves it alone;
- of two writers that create the table at once, the second to finish keeps
  the first one's file when the two data schemas are equal, and deletes it
  when they differ.

Nullability is relaxed before the schema is stored or compared, because Spark
reads every parquet column as nullable. File access goes through
:mod:`.tablefs`: plain Python file I/O for a path without a scheme, so
reading the file costs no py4j round trip, and the Hadoop FileSystem API for
any other (``file://``, ``s3a://``), so those tables work the same.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from .tablefs import filesystem

SCHEMA_FILE = "_schema.json"

#: save modes that write data onto an existing path
_WRITING_MODES = {"append", "overwrite"}


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names it does not read as table data."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _relaxed(t):
    """A Spark schema JSON value with every field, element and value made
    nullable, as Spark reads parquet."""
    if not isinstance(t, dict):
        return t
    kind = t.get("type")
    if kind == "struct":
        return {
            **t,
            "fields": [
                {**f, "nullable": True, "type": _relaxed(f["type"])} for f in t["fields"]
            ],
        }
    if kind == "array":
        return {**t, "containsNull": True, "elementType": _relaxed(t["elementType"])}
    if kind == "map":
        return {
            **t,
            "valueContainsNull": True,
            "keyType": _relaxed(t["keyType"]),
            "valueType": _relaxed(t["valueType"]),
        }
    return t


def _data_schema_json(schema: StructType, partition_cols: tuple[str, ...]) -> str:
    """``schema`` without ``partition_cols`` (matched case-insensitively, as
    ``partitionBy`` does), nullability relaxed, as the text of the file."""
    parts = {c.lower() for c in partition_cols}
    fields = [f.jsonValue() for f in schema.fields if f.name.lower() not in parts]
    return json.dumps(_relaxed({"type": "struct", "fields": fields}), sort_keys=True)


class _Table:
    """A table's schema file, on the table's :mod:`.tablefs` filesystem."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.fs = filesystem(spark, path)
        self.root = path.rstrip("/")
        self.file = f"{self.root}/{SCHEMA_FILE}"

    def read_text(self) -> str | None:
        """The schema file's text, or None when there is none."""
        if not self.fs.exists(self.file):
            return None
        return self.fs.read_bytes(self.file).decode("utf-8")

    def has_data(self) -> bool:
        """Whether the root holds a file Spark reads as table data; stops at
        the first one."""
        if not self.fs.exists(self.root):
            return False
        return any(
            not any(_hidden(seg) for seg in rel.split("/")) for rel, _ in self.fs.files(self.root)
        )

    def write_text(self, text: str) -> None:
        """Write the schema file whole: to a hidden name, then renamed, so a
        reader never sees it half written.

        The rename refuses an existing file. That happens when two writers
        create the table at once and the other one renamed first: its file
        stays when it holds our text, and otherwise the table has drifted,
        so the file goes, as :meth:`SchemaUpkeep.before_write` would have
        done had the writes run one after the other."""
        tmp = f"{self.root}/.{SCHEMA_FILE}.{uuid.uuid4().hex}"
        self.fs.write_bytes(tmp, text.encode("utf-8"))
        if not self.fs.rename(tmp, self.file):
            self.fs.delete(tmp, False)
            if self.read_text() != text:
                self.fs.delete(self.file, False)


def read_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data schema kept for the table at ``path``, or None."""
    text = _Table(spark, path).read_text()
    return None if text is None else StructType.fromJson(json.loads(text))


class SchemaUpkeep:
    """Keeps a table's schema file right across one data write.

    Build it before the write, call :meth:`before_write` with the schema the
    write stores, then :meth:`after_write` once the write has committed. A
    schema that differs from the file is dealt with before the write, so a
    write that fails half way never leaves a stale file behind.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: tuple[str, ...],
        mode: str = "overwrite",
    ) -> None:
        self.table = _Table(spark, path)
        self.partition_cols = partition_cols
        self.stored = self.table.read_text()
        #: whether the path held table data before the write
        self.had_table = self.stored is not None or self.table.has_data()
        # Spark writes nothing onto an existing path in the other modes
        self.writes = mode.lower() in _WRITING_MODES or not (
            self.had_table or self.table.fs.exists(self.table.root)
        )
        self.text: str | None = None

    def before_write(self, schema: StructType) -> None:
        """Delete the file when the write's data schema differs from it."""
        if not self.writes:
            return
        self.text = _data_schema_json(schema, self.partition_cols)
        if self.stored is not None and self.stored != self.text:
            self.table.fs.delete(self.table.file, False)

    def after_write(self) -> None:
        """Create the file when this write created the table."""
        if self.text is not None and not self.had_table and self.table.has_data():
            self.table.write_text(self.text)
