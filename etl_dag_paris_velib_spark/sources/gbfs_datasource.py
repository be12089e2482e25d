"""GBFS station_status as a first-class Spark data source (Python
DataSource API, Spark 4).

The reference's station branch is an imperative fetch-then-parse chain
(`/root/reference/airflow/dags/etl_dag.py:168-246`). `sources/velib.py`
re-expresses the parse as a lazy plan over files; THIS module goes one
step further and makes the feed itself a registered format, so the whole
branch collapses to

    spark.dataSource.register(GBFSStationStatusDataSource)
    spark.read.format("gbfs").option("path", snapshot).load()

with the engine owning schema, partitioning, and (de)serialization.

Scale/partitioning design: a GBFS snapshot is one JSON envelope (~1,500
stations for Paris — small), but the reader still implements the
partition contract properly: `partitions()` declares N slices and each
`read(partition)` parses only its slice, so a fleet-of-feeds deployment
(one envelope per city per poll) or a huge synthetic snapshot fans out
across executors instead of funnelling through one task. The JSON parse
happens executor-side inside `read()` — the driver only plans.

The HTTP hop stays behind the fetcher seam (fetcher.py): `path` points
at a bronze snapshot; production wires HttpFetcher -> bronze -> this
source, keeping the engine deterministic and testable.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from pyspark.sql.types import StructType

from ..schemas import STATION_STATUS_SCHEMA

#: source schema = the gold table minus its lineage tail (execution_date /
#: dag_id / task_id are appended by the pipeline run, not the feed)
GBFS_SOURCE_SCHEMA = StructType(STATION_STATUS_SCHEMA.fields[:11])

#: number of slices the station array is read in
DEFAULT_PARTITIONS = 4


def _station_row(s: dict) -> tuple:
    """One GBFS station dict -> a STATION_STATUS_SCHEMA tuple (faithful
    types per SURVEY §1.5: long station_id, int flags, timestamp from
    epoch seconds, surrogate record_id station_id_lastreported). The
    timestamp is an AWARE UTC datetime: PySpark converts a naive one with
    ``astimezone(timezone.utc)``, which reads it as the Python worker's
    local time and shifts it on any host not set to UTC."""
    bike_types: dict[str, int] = {}
    for m in s.get("num_bikes_available_types") or []:
        bike_types.update(m)
    last_reported = s["last_reported"]
    return (
        int(s["station_id"]),
        s.get("stationCode"),
        int(s["num_bikes_available"]),
        int(bike_types.get("mechanical", 0)),
        int(bike_types.get("ebike", 0)),
        int(s["num_docks_available"]),
        int(s["is_installed"]),
        int(s["is_renting"]),
        int(s["is_returning"]),
        datetime.fromtimestamp(last_reported, tz=timezone.utc),
        f"{int(s['station_id'])}_{last_reported}",
    )


class _SlicePartition(InputPartition):
    def __init__(self, index: int, count: int):
        self.index = index
        self.count = count


class _GBFSReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("gbfs source requires .option('path', <snapshot>)")
        self.path = path
        self.n = int(options.get("numPartitions", DEFAULT_PARTITIONS))

    def partitions(self):
        return [_SlicePartition(i, self.n) for i in range(self.n)]

    def read(self, partition: _SlicePartition):
        # executor-side parse; each task takes a strided slice so the
        # work balances even when the feed is sorted by district
        with open(self.path) as f:
            envelope = json.load(f)
        stations = envelope["data"]["stations"]
        for s in stations[partition.index :: partition.count]:
            yield _station_row(s)


class _GBFSStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor: `path` is the BRONZE DIRECTORY the fetcher drops
    timestamped snapshots into (fetcher.py naming sorts chronologically).
    The offset is simply the count of snapshot files consumed, which makes
    the source REPLAYABLE: `readBetweenOffsets(start, end)` re-parses
    exactly files [start, end) after a restart, giving checkpointed
    exactly-once batches — the property the reference's hourly
    append-only DAG lacks (retries double-insert, SURVEY §3.3)."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("gbfs stream requires .option('path', <bronze dir>)")
        self.path = path

    def _snapshots(self) -> list[str]:
        import os

        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".json")
        )

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        files = self._snapshots()
        end = {"n": len(files)}
        return self._rows(files[start["n"] :]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(self._snapshots()[start["n"] : end["n"]])

    @staticmethod
    def _rows(files) -> list[tuple]:
        # materialized list, not a generator: the simple-stream harness
        # copies the read() result into its prefetch cache for replay,
        # and generators don't pickle. Snapshots are envelope-sized.
        rows = []
        for path in files:
            with open(path) as f:
                envelope = json.load(f)
            rows.extend(_station_row(s) for s in envelope["data"]["stations"])
        return rows


class GBFSStationStatusDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gbfs"

    def schema(self):
        return GBFS_SOURCE_SCHEMA

    def reader(self, schema) -> _GBFSReader:
        return _GBFSReader(self.options)

    def simpleStreamReader(self, schema) -> _GBFSStreamReader:
        return _GBFSStreamReader(self.options)
