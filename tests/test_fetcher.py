"""``HttpFetcher`` writes the response body to bronze byte for byte, and
only whole: a ``file://`` URL through ``urllib`` stands in for the HTTP
source, so no network is needed."""

from __future__ import annotations

import os
import urllib.error
import urllib.request
from datetime import datetime, timezone

import pytest

from etl_dag_paris_velib_spark.sources.fetcher import HttpFetcher

TS = datetime(2025, 1, 31, 10, tzinfo=timezone.utc)
#: pretty-printed, a duplicate key, raw non-ASCII UTF-8 and an escape: a
#: JSON load and dump would change each of them
PAYLOAD = '{\n  "ttl": 1,\n  "ttl": 2,\n  "name": "Hôtel de Ville",\n  "code": "\\u00e9"\n}\n'.encode()


def _source(tmp_path, body: bytes = PAYLOAD) -> str:
    src = tmp_path / "source.json"
    src.write_bytes(body)
    return src.as_uri()


def _hidden(directory) -> list[str]:
    return [n for n in os.listdir(directory) if n.startswith(".")]


def test_fetch_writes_response_bytes_verbatim(tmp_path):
    bronze = tmp_path / "bronze"
    dest = HttpFetcher(_source(tmp_path)).fetch_to_bronze(str(bronze), "station_status", TS)
    assert os.path.basename(dest) == "20250131-100000_station_status.json"
    with open(dest, "rb") as f:
        assert f.read() == PAYLOAD
    assert _hidden(bronze) == []


class _FailingResponse:
    """A response whose body breaks off after its first chunk."""

    def __init__(self, resp) -> None:
        self._resp = resp
        self._reads = 0

    def read(self, n=-1):
        self._reads += 1
        if self._reads > 1:
            raise ConnectionResetError("connection lost")
        return self._resp.read(8)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._resp.close()


def test_failed_download_leaves_earlier_file_whole(tmp_path, monkeypatch):
    bronze = tmp_path / "bronze"
    fetcher = HttpFetcher(_source(tmp_path))
    dest = fetcher.fetch_to_bronze(str(bronze), "weather", TS)
    real = urllib.request.urlopen
    monkeypatch.setattr(urllib.request, "urlopen", lambda *a, **k: _FailingResponse(real(*a, **k)))
    with pytest.raises(ConnectionResetError):
        fetcher.fetch_to_bronze(str(bronze), "weather", TS)
    with open(dest, "rb") as f:
        assert f.read() == PAYLOAD
    assert os.listdir(bronze) == [os.path.basename(dest)]


def test_failed_open_leaves_no_file(tmp_path):
    bronze = tmp_path / "bronze"
    missing = (tmp_path / "missing.json").as_uri()
    with pytest.raises(urllib.error.URLError):
        HttpFetcher(missing).fetch_to_bronze(str(bronze), "weather", TS)
    assert os.listdir(bronze) == []
