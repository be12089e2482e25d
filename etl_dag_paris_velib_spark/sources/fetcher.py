"""Fetcher seam: the driver-side HTTP edge of the pipeline (SURVEY §7).

The reference fetches inside Airflow tasks (requests.get at etl_dag.py:36-45
and 177-184) and couples the fetch to S3 staging. Here the fetch is an
interface that *produces a bronze file path*; the engine proper only ever
sees files/DataFrames, so tests inject fixtures and a cluster deployment
swaps the transport without touching any plan.

The HTTP implementation uses stdlib urllib (no extra deps) and is inert in
sandboxed test runs — everything downstream is exercised through
:class:`FileFetcher`.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from dataclasses import dataclass, field
from datetime import datetime
from typing import Protocol


class Fetcher(Protocol):
    def fetch_to_bronze(self, bronze_dir: str, name: str, ts: datetime) -> str:
        """Materialize one raw payload under the bronze zone; return its
        path. Filenames follow the reference's ``<ts>_<name>.json`` pattern
        (etl_dag.py:46,185) — provenance via ``input_file_name()`` later."""
        ...


def _bronze_path(bronze_dir: str, name: str, ts: datetime) -> str:
    os.makedirs(bronze_dir, exist_ok=True)
    return os.path.join(bronze_dir, f"{ts.strftime('%Y%m%d-%H%M%S')}_{name}.json")


@dataclass
class FileFetcher:
    """Test/replay fetcher: 'fetching' copies a fixture into the bronze
    zone — byte-faithful to what the HTTP edge would have persisted."""

    source_path: str

    def fetch_to_bronze(self, bronze_dir: str, name: str, ts: datetime) -> str:
        dest = _bronze_path(bronze_dir, name, ts)
        shutil.copy(self.source_path, dest)
        return dest


@dataclass
class HttpFetcher:
    """Driver-side HTTP GET -> bronze JSON (reference S1/S2). The fetch is
    inherently single-node (one payload per poll); scale lives downstream."""

    url: str
    headers: dict = field(default_factory=dict)
    timeout_sec: int = 30

    def fetch_to_bronze(self, bronze_dir: str, name: str, ts: datetime) -> str:
        """The response body, byte for byte, under the bronze zone. It is
        written to a hidden name and renamed into place, so a failed
        download leaves no bronze file and keeps an earlier one whole."""
        import urllib.request

        dest = _bronze_path(bronze_dir, name, ts)
        tmp = os.path.join(bronze_dir, f".{os.path.basename(dest)}.{uuid.uuid4().hex}")
        req = urllib.request.Request(self.url, headers=self.headers)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_sec) as resp, open(tmp, "xb") as f:
                shutil.copyfileobj(resp, f)
            os.replace(tmp, dest)
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            raise
        return dest
