"""Filesystem layer for the spec-level lake formats (Delta/Iceberg/Avro).

The protocol implementations in ``sources/delta_py`` / ``sources/
iceberg_py`` need small-file metadata I/O (commit JSON, manifests,
version hints) next to Spark-written data files. On a laptop that is
``os.*``; on a cluster the table lives on HDFS or an object store, so
the same operations must go through Hadoop's ``FileSystem`` API — the
exact route ``sinks/writers.promote_swap`` and ``operators/file_merge``
already use.

:func:`get_fs` dispatches on the path scheme:

- schemeless local paths -> :class:`LocalFS` (plain ``os``; no JVM round
  trips on the hot local-test path)
- any URI scheme (``file:``, ``hdfs:``, ``s3a:``, ...) -> :class:`JvmFS`
  over ``org.apache.hadoop.fs.FileSystem`` resolved from the active
  SparkSession's hadoopConfiguration.

Both expose the same small interface; metadata files are KB-sized by
construction so whole-buffer read/write is the right shape.

Exclusive create (`create_exclusive`) is the commit primitive: Delta/
Iceberg optimistic concurrency hinges on "writing version N fails if N
exists". LocalFS uses a hard-link claim (atomic on POSIX); JvmFS uses
``FileSystem.create(path, overwrite=false)`` which is atomic on HDFS
(object stores provide best-effort semantics, same as delta-rs).
"""

from __future__ import annotations

import io
import os
import uuid
from urllib.parse import urlparse


def _scheme(path: str) -> str:
    # "C:\..." windows paths aside, anything like "s3a://" or "file:/"
    p = urlparse(path)
    return p.scheme if len(p.scheme) > 1 else ""


def get_fs(path: str):
    """FS implementation for ``path`` (see module docstring)."""
    if not _scheme(path):
        return LocalFS()
    return JvmFS.for_path(path)


def local_path(path: str) -> str:
    """Strip a file: scheme; raise for non-local schemes."""
    s = _scheme(path)
    if not s:
        return path
    if s != "file":
        raise ValueError(f"not a local path: {path}")
    return urlparse(path).path


class LocalFS:
    """Plain-``os`` implementation for schemeless local paths."""

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p)

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def getsize(self, p: str) -> int:
        return os.path.getsize(p)

    def getmtime_ms(self, p: str) -> int:
        return int(os.path.getmtime(p) * 1000)

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def write_bytes(self, p: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(p)) or ".", exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def create_exclusive(self, p: str, data: bytes) -> None:
        """Atomic claim of ``p``: hard-link a staged temp file onto the
        target name; a concurrent claimer of the same name loses the
        link race and raises FileExistsError."""
        if os.path.exists(p):
            raise FileExistsError(p)
        tmp = p + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, p)
        finally:
            os.unlink(tmp)

    def rename(self, src: str, dst: str) -> bool:
        try:
            os.rename(src, dst)
            return True
        except OSError:
            return False

    def delete(self, p: str, recursive: bool = False) -> None:
        if os.path.isdir(p):
            if recursive:
                import shutil

                shutil.rmtree(p, ignore_errors=True)
            else:
                os.rmdir(p)
        elif os.path.exists(p):
            os.unlink(p)


class JvmFS:
    """Hadoop ``FileSystem`` implementation (file:, hdfs:, s3a:, ...)."""

    def __init__(self, jvm, jfs):
        self._jvm = jvm
        self._jfs = jfs
        self._Path = jvm.org.apache.hadoop.fs.Path

    @classmethod
    def for_path(cls, path: str) -> "JvmFS":
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"no active SparkSession to resolve filesystem for {path!r}")
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return cls(jvm, jpath.getFileSystem(conf))

    def exists(self, p: str) -> bool:
        return bool(self._jfs.exists(self._Path(p)))

    def isdir(self, p: str) -> bool:
        jp = self._Path(p)
        return bool(self._jfs.exists(jp)
                    and self._jfs.getFileStatus(jp).isDirectory())

    def listdir(self, p: str) -> list[str]:
        return [st.getPath().getName()
                for st in self._jfs.listStatus(self._Path(p))]

    def mkdirs(self, p: str) -> None:
        self._jfs.mkdirs(self._Path(p))

    def getsize(self, p: str) -> int:
        return int(self._jfs.getFileStatus(self._Path(p)).getLen())

    def getmtime_ms(self, p: str) -> int:
        return int(self._jfs.getFileStatus(
            self._Path(p)).getModificationTime())

    def read_bytes(self, p: str) -> bytes:
        stream = self._jfs.open(self._Path(p))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data)

    def open_input(self, p: str) -> "_JvmInput":
        """Seekable binary handle: reads fetch only the requested
        ranges, so a footer read costs the tail, not the file."""
        jp = self._Path(p)
        return _JvmInput(self._jvm, self._jfs.open(jp),
                         int(self._jfs.getFileStatus(jp).getLen()))

    def write_bytes(self, p: str, data: bytes) -> None:
        stream = self._jfs.create(self._Path(p), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def create_exclusive(self, p: str, data: bytes) -> None:
        """``create(path, overwrite=false)`` — atomic on HDFS; raises
        FileExistsError if the path was committed concurrently."""
        try:
            stream = self._jfs.create(self._Path(p), False)
        except Exception as e:  # py4j wraps FileAlreadyExistsException
            if "AlreadyExists" in str(e) or "already exists" in str(e):
                raise FileExistsError(p) from e
            raise
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._jfs.rename(self._Path(src), self._Path(dst)))

    def delete(self, p: str, recursive: bool = False) -> None:
        self._jfs.delete(self._Path(p), recursive)


class _JvmInput(io.RawIOBase):
    """Read-only seekable file object over a Hadoop ``FSDataInputStream``."""

    def __init__(self, jvm, stream, size: int):
        self._io_utils = jvm.org.apache.commons.io.IOUtils
        self._stream = stream
        self._size = size
        self._pos = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        base = {io.SEEK_SET: 0, io.SEEK_CUR: self._pos,
                io.SEEK_END: self._size}[whence]
        self._pos = max(0, base + offset)
        return self._pos

    def readinto(self, b) -> int:
        n = min(len(b), self._size - self._pos)
        if n <= 0:
            return 0
        self._stream.seek(self._pos)
        data = bytes(self._io_utils.toByteArray(self._stream, n))
        b[:n] = data
        self._pos += n
        return n

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
        super().close()


def join(base: str, *parts: str) -> str:
    """Path join that works for URIs and local paths alike."""
    out = base.rstrip("/")
    for part in parts:
        out += "/" + part.strip("/")
    return out
