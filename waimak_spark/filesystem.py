"""Filesystem primitives over the Hadoop FileSystem API (via the Spark JVM
gateway) so the same code path works on local FS, HDFS, and S3A.

Re-expresses the reference's FSUtils / FileStorageOps primitives
(waimak-core/.../filesystem/FSUtils.scala:109-134,
waimak-storage/.../FileStorageOps.scala:221-313): staged writes, atomic
folder moves, merge-moves of part files, globs.  The trash bin and its
aged purge are ``storage.file_ops.FileStorageOps``'s.

At 100 TB note: directory rename is atomic on HDFS but O(n)-copy on S3;
``atomic_write`` is the hook where a manifest-based committer would slot in
for object stores.

Every JVM class, object and static method the engine calls comes from
``_jvm_refs``, a handle table built once per py4j gateway: a ``jvm.a.b.C``
walk pays one reflection round trip per step, and each step that names a
package scans every jar on the classpath before it answers.  ``FileOps``
builds each ``Path`` a call touches once.  A test fails if a
``jvm.<package>`` walk appears anywhere else in the package.

``nullable`` is the schema a Parquet read of a folder reports for the frame
that wrote it, so a re-read can pass it instead of inferring it.

``parquet_schema`` is the schema a plain ``spark.read.parquet(path)`` would
infer, computed on the driver with no Spark job (Spark's inference runs a
one-task job to read a single footer).  It lists the path with Spark's own
``InMemoryFileIndex`` (globs expanded, ``_``/``.``-prefixed and
``._COPYING_`` names hidden, partition folders listed recursively), picks
the file Spark's inference picks (``_common_metadata``, else ``_metadata``,
else the first data file by path), converts that footer with Spark's
``ParquetFileFormat.readSchemaFromFooter`` and a converter built from the
session's conf, so ``binaryAsString``, ``int96AsTimestamp``,
``inferTimestampNTZ`` and nanos handling follow the session, and makes it
nullable with Spark's ``asNullable``, as a read reports it.  For a
partitioned folder it returns the data schema; partition columns are still
discovered from the directory names.  It declines (None, so the read
infers as before) when reader options are set,
``spark.sql.parquet.mergeSchema`` is on, the path matches no data file,
the footer cannot be read (Spark's own error or skip behaviour then
applies), or a footer field shares its name with a partition key.  The
listing costs a fixed number of py4j round trips whatever the file count;
a listing over more paths than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` runs Spark's
parallel-listing job, as the read's own listing does.  ``read_parquet`` is
the engine's one Parquet read: it passes the caller's schema when given
one, else the schema ``parquet_schema`` reads whenever there is one.
"""

from __future__ import annotations

import functools
import json
import weakref
from types import SimpleNamespace
from typing import Iterable
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, DataType, MapType, StructField,
                               StructType)
from pyspark.sql.utils import to_str

_SUMMARY_FILES = ("_common_metadata", "_metadata")  # in Spark's preference


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


@functools.lru_cache(maxsize=None)
def _jvm_refs(jvm) -> SimpleNamespace:
    """Every JVM class, object and static method the engine calls, looked
    up once per gateway.  Each package step of ``jvm.a.b.C`` is a py4j
    reflection round trip, and a step that names a package rather than a
    class scans every jar on the classpath before it answers."""
    def module(pkg, name):
        return getattr(getattr(pkg, f"{name}$"), "MODULE$")

    sources = jvm.org.apache.spark.sql.execution.datasources
    parquet = sources.parquet
    data_source = module(sources, "DataSource")
    return SimpleNamespace(
        glob=data_source.checkAndGlobPathIfNecessary,
        glob_threads=getattr(data_source,
                             "checkAndGlobPathIfNecessary$default$5")(),
        one_path=getattr(module(jvm.scala.collection.immutable, "Nil"),
                         "$colon$colon"),
        no_options=module(jvm.scala.collection.immutable, "Map").empty(),
        none=module(jvm.scala, "None"),
        no_cache=module(sources, "NoopCache"),
        file_index=sources.InMemoryFileIndex,
        wrap_array=jvm.scala.Predef.genericWrapArray,
        path=jvm.org.apache.hadoop.fs.Path,
        input_file=jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath,
        footer=jvm.org.apache.parquet.hadoop.Footer,
        skip_row_groups=(jvm.org.apache.parquet.format.converter
                         .ParquetMetadataConverter.SKIP_ROW_GROUPS),
        read_footer=parquet.ParquetFooterReader.readFooter,
        schema_from_footer=parquet.ParquetFileFormat.readSchemaFromFooter,
        converter=parquet.ParquetToSparkSchemaConverter,
        read_utf8=jvm.org.apache.commons.io.IOUtils.toString,
        ntz_preferred=(jvm.org.apache.spark.sql.api.python.PythonSQLUtils
                       .isTimestampNTZPreferred),
        string_value_of=jvm.java.lang.String.valueOf,
        load_class=jvm.java.lang.Class.forName,
        properties=jvm.java.util.Properties,
        connect=jvm.java.sql.DriverManager.getConnection,
    )


_SESSION_STATES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _session_state(spark: SparkSession):
    """The session's ``SessionState`` and its ``SQLConf``, both fixed for
    the session's life (the conf object sees every later ``conf.set``), so
    they are fetched once per session rather than once per open."""
    found = _SESSION_STATES.get(spark)
    if found is None:
        state = spark._jsparkSession.sessionState()
        found = _SESSION_STATES[spark] = (state, state.conf())
    return found


def _file_name(uri: str) -> str:
    return unquote(uri).rsplit("/", 1)[-1]


def _schema_file(files: list[str]) -> str | None:
    """The file Spark's Parquet inference reads when it does not merge
    schemas (``ParquetUtils.inferSchema``/``splitFiles``): the first
    ``_common_metadata``, else ``_metadata``, else data file, by path."""
    files = sorted(files, key=unquote)  # Spark sorts Path strings, unescaped
    for summary in _SUMMARY_FILES:
        found = [f for f in files if _file_name(f) == summary]
        if found:
            return found[0]
    data = [f for f in files if _file_name(f) not in _SUMMARY_FILES]
    return data[0] if data else None


def _footer_schema(spark: SparkSession, paths):
    """The JVM ``StructType`` behind :func:`parquet_schema` for ``paths``,
    a JVM ``Seq`` holding the one path, or None."""
    refs = _jvm_refs(spark._jvm)
    try:
        state, conf = _session_state(spark)
        if conf.isParquetSchemaMergingEnabled():
            return None
        hadoop_conf = state.newHadoopConf()
        roots = refs.glob(paths, hadoop_conf, True, True, refs.glob_threads,
                          True)
        index = refs.file_index(spark._jsparkSession, roots, refs.no_options,
                                refs.none, refs.no_cache, refs.none,
                                refs.none)
        # URI strings escape newlines, so one string carries the listing
        listing = refs.wrap_array(index.inputFiles()).mkString("\n")
        chosen = _schema_file(listing.split("\n") if listing else [])
        if chosen is None:
            return None
        file = refs.path(unquote(chosen))  # a Path string is unescaped
        footer = refs.footer(file, refs.read_footer(
            refs.input_file(file, hadoop_conf), refs.skip_row_groups))
        schema = refs.schema_from_footer(
            footer, refs.converter(conf)).asNullable()
        if "=" in listing:  # only a k=v folder makes a partition key
            keys = {f["name"].lower() for f in
                    json.loads(index.partitionSchema().json())["fields"]}
            if any(f["name"].lower() in keys
                   for f in json.loads(schema.json())["fields"]):
                return None
        return schema
    except (Py4JJavaError, CapturedException):
        return None


def parquet_schema(spark: SparkSession, path: str,
                   options: dict[str, str] | None = None
                   ) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    footer on the driver with no Spark job; None where it declines (see
    the module docstring) and the read must infer."""
    if options:
        return None
    found = _footer_schema(spark, _jvm_refs(spark._jvm).one_path(path))
    return None if found is None else StructType.fromJson(
        json.loads(found.json()))


def read_parquet(spark: SparkSession, *paths: str,
                 options: dict[str, str] | None = None,
                 schema: StructType | None = None) -> DataFrame:
    """``spark.read.options(**options).schema(schema).parquet(*paths)``.
    With no ``schema``, one path and no options, the schema is the one
    :func:`parquet_schema` reads when it has one, so the read infers
    nothing.  The read is built on the JVM reader: PySpark's
    ``DataFrameReader.schema`` looks up (or builds) the thread's active
    session first, a dozen round trips on a flow's worker thread."""
    seq = _jvm_refs(spark._jvm).one_path(paths[-1])
    for p in reversed(paths[:-1]):
        seq = getattr(seq, "$colon$colon")(p)
    jsession = spark._jsparkSession
    if schema is not None:
        jschema = jsession.parseDataType(schema.json())
    elif options or len(paths) > 1:
        jschema = None
    else:
        jschema = _footer_schema(spark, seq)
    reader = jsession.read()
    for key, value in (options or {}).items():
        reader = reader.option(key, to_str(value))
    if jschema is not None:
        reader = reader.schema(jschema)
    return DataFrame(reader.parquet(seq), spark)


class FileOps:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem``.  Each method
    builds each ``Path`` it touches once, from the gateway's handle table."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._refs = _jvm_refs(spark._jvm)
        self._conf = spark._jsc.hadoopConfiguration()

    def _resolve(self, p: str):
        """(the ``FileSystem`` holding ``p``, its ``Path``)."""
        path = self._refs.path(p)
        return path.getFileSystem(self._conf), path

    # -- basics ---------------------------------------------------------------
    def exists(self, p: str) -> bool:
        fs, path = self._resolve(p)
        return fs.exists(path)

    def mkdirs(self, p: str) -> bool:
        fs, path = self._resolve(p)
        return fs.mkdirs(path)

    def delete(self, p: str, recursive: bool = True) -> bool:
        fs, path = self._resolve(p)
        if not fs.exists(path):
            return False
        return fs.delete(path, recursive)

    def list_dirs(self, p: str) -> list[str]:
        fs, path = self._resolve(p)
        if not fs.exists(path):
            return []
        return [
            st.getPath().getName()
            for st in fs.listStatus(path)
            if st.isDirectory()
        ]

    def list_files(self, p: str) -> list[str]:
        fs, path = self._resolve(p)
        if not fs.exists(path):
            return []
        return [st.getPath().getName() for st in fs.listStatus(path) if st.isFile()]

    def glob(self, pattern: str) -> list[str]:
        fs, path = self._resolve(pattern)
        statuses = fs.globStatus(path)
        if statuses is None:
            return []
        return [st.getPath().toString() for st in statuses]

    def total_size(self, p: str) -> int:
        """Total bytes under a path (files summed recursively)."""
        fs, path = self._resolve(p)
        if not fs.exists(path):
            return 0
        return fs.getContentSummary(path).getLength()

    # -- atomic moves (FSUtils.scala:109-134 semantics) ------------------------
    def rename(self, src: str, dest: str) -> bool:
        fs, path = self._resolve(src)
        return fs.rename(path, self._refs.path(dest))

    def move_overwrite_folder(self, src: str, dest: str) -> None:
        """Delete dest if present, ensure parent, then atomic rename."""
        fs, dpath = self._resolve(dest)
        if fs.exists(dpath):
            fs.delete(dpath, True)
        parent = dpath.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        if not fs.rename(self._refs.path(src), dpath):
            raise IOError(f"Failed to move [{src}] -> [{dest}]")

    def merge_move_files(self, src_dir: str, dest_dir: str,
                         name_filter=lambda n: n.startswith("part-")) -> None:
        """Move matching files from src into dest (created if absent).

        FSUtils.scala mergeMoveFiles semantics (TestFSUtils.scala:20-126):
        the destination is created even when nothing matches the filter,
        only FILES move (directories are left behind), and a missing /
        non-directory source or a name collision in the destination is a
        loud error — not a silent no-op or a cryptic rename failure."""
        sfs, spath = self._resolve(src_dir)
        if not sfs.exists(spath):
            raise IOError(f"Source folder [{src_dir}] does not exist")
        if not sfs.getFileStatus(spath).isDirectory():
            raise IOError(f"Source path [{src_dir}] is not a folder")
        fs, dpath = self._resolve(dest_dir)
        if not fs.exists(dpath):
            fs.mkdirs(dpath)
        for name in self.list_files(src_dir):
            if name_filter(name):
                dest = self._refs.path(f"{dest_dir}/{name}")
                if fs.exists(dest):
                    raise IOError(
                        f"File [{name}] already exists in destination "
                        f"[{dest_dir}]")
                if not fs.rename(self._refs.path(f"{src_dir}/{name}"), dest):
                    raise IOError(f"Failed to move [{src_dir}/{name}] into [{dest_dir}]")

    # -- small sidecar files -----------------------------------------------------
    def write_string(self, p: str, content: str, overwrite: bool = True) -> None:
        fs, path = self._resolve(p)
        out = fs.create(path, overwrite)
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
        fs, path = self._resolve(p)
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
        fs, path = self._resolve(p)
        stream = fs.open(path)
        try:
            return self._refs.read_utf8(stream, "UTF-8")
        finally:
            stream.close()
