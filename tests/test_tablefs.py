"""The two filesystem implementations the driver uses for table and bronze
files (etl_dag_paris_velib_spark/tablefs.py): the path's scheme alone picks
one, and both keep the Hadoop rules the writers rely on."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from etl_dag_paris_velib_spark import tablefs
from etl_dag_paris_velib_spark.table_schema import SCHEMA_FILE, _Table
from etl_dag_paris_velib_spark.tablefs import LocalFS, filesystem, has_scheme


@pytest.fixture(params=["plain", "file-uri"])
def named(request, tmp_path):
    """A function naming a file under ``tmp_path`` as a plain path or as a
    ``file://`` URI."""
    if request.param == "plain":
        return lambda rel="": os.path.join(str(tmp_path), rel).rstrip("/")
    return lambda rel="": f"file://{os.path.join(str(tmp_path), rel)}".rstrip("/")


@pytest.mark.parametrize(
    "path, scheme",
    [
        ("/data/gold", False),
        ("gold/station_status", False),
        ("gold/a:b", False),
        ("file:/data/gold", True),
        ("file:///data/gold", True),
        ("s3a://bucket/gold", True),
        ("hdfs://nn:8020/gold", True),
    ],
)
def test_scheme_alone_picks_the_implementation(spark, monkeypatch, path, scheme):
    assert has_scheme(path) is scheme
    # HadoopFS resolves the scheme's FileSystem, and no s3a or hdfs one is here
    monkeypatch.setattr(tablefs, "HadoopFS", lambda spark, path: ("hadoop", path))
    got = filesystem(spark, path)
    if scheme:
        assert got == ("hadoop", path)
    else:
        assert type(got) is LocalFS


def test_schema_file_rename_never_replaces_existing_file(spark, tmp_path, named):
    table = _Table(spark, named())
    table.write_text("first")
    with pytest.raises(IOError):
        table.write_text("second")
    with open(tmp_path / SCHEMA_FILE) as f:
        assert f.read() == "first"
    assert [n for n in os.listdir(tmp_path) if SCHEMA_FILE in n and not n.endswith(".crc")] == [SCHEMA_FILE]


def test_rename_delete_and_listing_agree(spark, tmp_path, named):
    fs = filesystem(spark, named())
    fs.write_bytes(named("d/a"), b"A")
    fs.write_bytes(named("b"), b"BB")
    assert not fs.rename(named("d/a"), named("b"))
    assert fs.read_bytes(named("b")) == b"BB"
    assert fs.rename(named("d/a"), named("d/c"))
    assert sorted(fs.files(named())) == [("b", 2), ("d/c", 1)]
    assert fs.delete(named("b"), False)
    assert not fs.delete(named("b"), False)
    assert not fs.exists(named("b"))
    fs.mkdirs(named("e/f"))
    assert fs.rename(named("d"), named("e/f/d"))
    assert sorted(fs.files(named())) == [("e/f/d/c", 1)]
    assert fs.delete(named("e"), True) and not fs.exists(named("e"))
    with pytest.raises((FileNotFoundError, Py4JJavaError)):
        list(fs.files(named("missing")))


def test_checksums_follow_their_file(spark, tmp_path):
    """A file Hadoop wrote has a ``.crc`` beside it; LocalFS moves and
    deletes it with the file, so Hadoop still reads what it renamed."""
    hadoop, local = filesystem(spark, f"file://{tmp_path}"), filesystem(spark, str(tmp_path))
    hadoop.write_bytes(f"file://{tmp_path}/a", b"A")
    assert os.path.exists(tmp_path / ".a.crc")
    assert local.rename(str(tmp_path / "a"), str(tmp_path / "b"))
    assert sorted(os.listdir(tmp_path)) == [".b.crc", "b"]
    local.write_bytes(str(tmp_path / "b2"), b"BB")
    assert local.rename(str(tmp_path / "b2"), str(tmp_path / "c"))
    assert hadoop.read_bytes(f"file://{tmp_path}/b") == b"A"
    assert hadoop.read_bytes(f"file://{tmp_path}/c") == b"BB"
    assert local.delete(str(tmp_path / "b"), False)
    assert sorted(os.listdir(tmp_path)) == ["c"]
