"""The file operations the driver makes on table and bronze files, with one
implementation per kind of path, chosen by the path's scheme alone.

A path without a scheme (``/data/gold/station_status``) is a local path, as
it is to Spark under the default ``fs.defaultFS`` (``file:///``).
:class:`LocalFS` works on it with :mod:`os` and :mod:`shutil`, with no py4j
round trip and no forked process. Any path with a scheme (``file://``,
``s3a://``, ``hdfs://``, ...) goes through the Hadoop FileSystem API
(:class:`HadoopFS`). Without the native Hadoop library, Hadoop's local
filesystem forks ``chmod`` for every file and directory it creates (about
4–5 ms each), so a local table named by a ``file://`` URI still pays that.
A relative plain path is relative to the Python process's working
directory, which is the JVM's unless the driver changes directory after the
session starts. A deployment whose ``fs.defaultFS`` is not local names its
tables with their scheme.

Both implementations keep the Hadoop rules the callers rely on:

- ``rename`` refuses an existing target file (returns False) rather than
  replacing it; :class:`LocalFS` refuses any existing target;
- a file's checksum (``.<name>.crc``, which Hadoop's local filesystem writes
  and verifies) moves with it on ``rename`` and goes with it on ``delete``;
- ``write_bytes`` creates missing parent directories and replaces an existing
  file;
- ``delete`` of a missing path returns False;
- ``files`` lists every file under a root recursively, checksums left out,
  and raises when the root does not exist.

Paths are strings in the caller's form, joined with ``/``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from typing import Iterator

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


def has_scheme(path: str) -> bool:
    """Whether ``path`` names a scheme, read as Hadoop's ``Path`` reads it:
    a colon before the first slash (``file:/x``, ``s3a://b/x``)."""
    colon, slash = path.find(":"), path.find("/")
    return colon != -1 and (slash == -1 or colon < slash)


def _crc(path: str) -> str:
    """The checksum file Hadoop's local filesystem keeps beside ``path``."""
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.crc")


class LocalFS:
    """Files on the local disk, with :mod:`os` and :mod:`shutil`."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> bool:
        if os.path.lexists(dst):
            return False
        os.rename(src, dst)
        if not os.path.isdir(dst):
            src_crc, dst_crc = _crc(src), _crc(dst)
            if os.path.exists(src_crc):
                os.rename(src_crc, dst_crc)
            elif os.path.exists(dst_crc):
                os.unlink(dst_crc)
        return True

    def delete(self, path: str, recursive: bool) -> bool:
        if os.path.isdir(path) and not os.path.islink(path):
            if recursive:
                shutil.rmtree(path)
            else:
                os.rmdir(path)
        elif os.path.lexists(path):
            os.unlink(path)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(_crc(path))
        else:
            return False
        return True

    def files(self, root: str) -> Iterator[tuple[str, int]]:
        """``(path relative to root, size)`` of every file under ``root``."""
        if not os.path.exists(root):
            raise FileNotFoundError(root)
        for d, _, names in os.walk(root):
            rel = os.path.relpath(d, root)
            for n in names:
                if n.startswith(".") and n.endswith(".crc"):
                    continue
                yield (n if rel == "." else f"{rel}/{n}"), os.path.getsize(os.path.join(d, n))


class HadoopFS:
    """Files through the Hadoop FileSystem of one path's scheme and
    authority, over py4j."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        # named directly: resolving it through ``spark._jvm`` costs five
        # round trips, and caching that per JVM view would keep every
        # stopped gateway alive
        self._path = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)
        self._fs = self._path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._path(path))

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._path(path))
        try:
            return bytes(stream.readAllBytes())
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs.create(self._path(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def rename(self, src: str, dst: str) -> bool:
        return self._fs.rename(self._path(src), self._path(dst))

    def delete(self, path: str, recursive: bool) -> bool:
        return self._fs.delete(self._path(path), recursive)

    def files(self, root: str) -> Iterator[tuple[str, int]]:
        """``(path relative to root, size)`` of every file under ``root``."""
        root_p = self._path(root)
        qroot = self._fs.makeQualified(root_p).toString()
        it = self._fs.listFiles(root_p, True)
        while it.hasNext():
            f = it.next()
            yield f.getPath().toString()[len(qroot) + 1 :], f.getLen()


_LOCAL = LocalFS()


def filesystem(spark: SparkSession, path: str) -> LocalFS | HadoopFS:
    """The implementation for ``path``: :class:`HadoopFS` when it names a
    scheme, else :class:`LocalFS`. No setting changes the choice."""
    return HadoopFS(spark, path) if has_scheme(path) else _LOCAL
