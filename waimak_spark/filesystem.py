"""Filesystem primitives over the Hadoop FileSystem API (via the Spark JVM
gateway) so the same code path works on local FS, HDFS, and S3A.

Re-expresses the reference's FSUtils / FileStorageOps primitives
(waimak-core/.../filesystem/FSUtils.scala:109-134,
waimak-storage/.../FileStorageOps.scala:221-313): staged writes, atomic
folder moves, merge-moves of part files, trash with aged purge, globs.

At 100 TB note: directory rename is atomic on HDFS but O(n)-copy on S3;
``atomic_write`` is the hook where a manifest-based committer would slot in
for object stores.

``nullable`` is the schema a Parquet read of a folder reports for the frame
that wrote it, so a re-read can pass it instead of inferring it.
"""

from __future__ import annotations

import time
from typing import Iterable

from pyspark.sql import SparkSession
from pyspark.sql.types import (ArrayType, DataType, MapType, StructField,
                               StructType)


def nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable — the
    form a Parquet read reports (Spark's ``asNullable``)."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, nullable(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(nullable(t.keyType), nullable(t.valueType), True)
    return t


class FileOps:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    # -- basics ---------------------------------------------------------------
    def exists(self, p: str) -> bool:
        return self._fs(p).exists(self._path(p))

    def mkdirs(self, p: str) -> bool:
        return self._fs(p).mkdirs(self._path(p))

    def delete(self, p: str, recursive: bool = True) -> bool:
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return False
        return fs.delete(path, recursive)

    def list_dirs(self, p: str) -> list[str]:
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return []
        return [
            st.getPath().getName()
            for st in fs.listStatus(path)
            if st.isDirectory()
        ]

    def list_files(self, p: str) -> list[str]:
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return []
        return [st.getPath().getName() for st in fs.listStatus(path) if st.isFile()]

    def glob(self, pattern: str) -> list[str]:
        fs = self._fs(pattern)
        statuses = fs.globStatus(self._path(pattern))
        if statuses is None:
            return []
        return [st.getPath().toString() for st in statuses]

    def modification_time(self, p: str) -> int:
        return self._fs(p).getFileStatus(self._path(p)).getModificationTime()

    def total_size(self, p: str) -> int:
        """Total bytes under a path (files summed recursively)."""
        fs = self._fs(p)
        path = self._path(p)
        if not fs.exists(path):
            return 0
        return fs.getContentSummary(path).getLength()

    # -- atomic moves (FSUtils.scala:109-134 semantics) ------------------------
    def rename(self, src: str, dest: str) -> bool:
        return self._fs(src).rename(self._path(src), self._path(dest))

    def move_overwrite_folder(self, src: str, dest: str) -> None:
        """Delete dest if present, ensure parent, then atomic rename."""
        fs = self._fs(dest)
        dpath = self._path(dest)
        if fs.exists(dpath):
            fs.delete(dpath, True)
        parent = dpath.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(self._path(src), dpath):
            raise IOError(f"Failed to move [{src}] -> [{dest}]")

    def merge_move_files(self, src_dir: str, dest_dir: str,
                         name_filter=lambda n: n.startswith("part-")) -> None:
        """Move matching files from src into dest (created if absent).

        FSUtils.scala mergeMoveFiles semantics (TestFSUtils.scala:20-126):
        the destination is created even when nothing matches the filter,
        only FILES move (directories are left behind), and a missing /
        non-directory source or a name collision in the destination is a
        loud error — not a silent no-op or a cryptic rename failure."""
        sfs = self._fs(src_dir)
        spath = self._path(src_dir)
        if not sfs.exists(spath):
            raise IOError(f"Source folder [{src_dir}] does not exist")
        if not sfs.getFileStatus(spath).isDirectory():
            raise IOError(f"Source path [{src_dir}] is not a folder")
        fs = self._fs(dest_dir)
        if not fs.exists(self._path(dest_dir)):
            fs.mkdirs(self._path(dest_dir))
        for name in self.list_files(src_dir):
            if name_filter(name):
                dest = self._path(f"{dest_dir}/{name}")
                if fs.exists(dest):
                    raise IOError(
                        f"File [{name}] already exists in destination "
                        f"[{dest_dir}]")
                if not fs.rename(self._path(f"{src_dir}/{name}"), dest):
                    raise IOError(f"Failed to move [{src_dir}/{name}] into [{dest_dir}]")

    # -- trash (FileStorageOps.scala:238-261 semantics) -------------------------
    def move_to_trash(self, p: str, trash_root: str, ts_ms: int | None = None) -> None:
        ts = ts_ms if ts_ms is not None else int(time.time() * 1000)
        name = self._path(p).getName()
        self.move_overwrite_folder(p, f"{trash_root}/{ts}_{name}")

    def purge_trash(self, trash_root: str, max_age_ms: int = 86_400_000) -> int:
        """Delete trash entries older than max_age_ms; returns count purged."""
        now = int(time.time() * 1000)
        purged = 0
        for name in self.list_dirs(trash_root):
            ts_part = name.split("_", 1)[0]
            try:
                ts = int(ts_part)
            except ValueError:
                continue
            if now - ts > max_age_ms:
                self.delete(f"{trash_root}/{name}", recursive=True)
                purged += 1
        return purged

    # -- small sidecar files -----------------------------------------------------
    def write_string(self, p: str, content: str, overwrite: bool = True) -> None:
        fs = self._fs(p)
        out = fs.create(self._path(p), overwrite)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def write_string_exclusive(self, p: str, content: str) -> bool:
        """Create-exclusive write: ``FileSystem.create(path,
        overwrite=false)`` — namenode-arbitrated atomic no-overwrite
        creation on HDFS (maps to a conditional PUT on object stores that
        support it). Returns False when the path already exists, i.e. a
        racing writer won. Unlike an exists()+rename pair this has no
        TOCTOU window and cannot silently replace the winner's file
        (RawLocalFileSystem's rename overwrites on POSIX)."""
        fs = self._fs(p)
        path = self._path(p)
        try:
            out = fs.create(path, False)
        except Exception as ex:
            # only an existing destination means "a racing writer won" —
            # swallowing IO errors (permissions, quota, transient 5xx)
            # here would misdiagnose them as lost races
            msg = str(ex)
            if ("FileAlreadyExistsException" in msg
                    or "already exists" in msg.lower()):
                return False
            raise
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        return True

    def read_string(self, p: str) -> str:
        fs = self._fs(p)
        stream = fs.open(self._path(p))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            return ioutils.toString(stream, "UTF-8")
        finally:
            stream.close()
