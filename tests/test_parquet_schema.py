"""Parquet opens read their schema from one footer on the driver
(``filesystem.parquet_schema``): the schema equals what a plain
``spark.read.parquet`` infers, the helper declines exactly where it must,
no open launches a schema-inference job, and the listing costs the same
py4j round trips whatever the file count."""

import gc
import os
import threading
import time
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import py4j.clientserver
import py4j.java_gateway
from pyspark import SparkContext
from pyspark.errors import AnalysisException

import test_dq_materialize as dqm
import test_storage
from tools import rt_sweep
from waimak_spark import ParallelDataFlowExecutor, Waimak
from waimak_spark.dataflow.spark_flow import SparkFlowContext
from waimak_spark.filesystem import nullable, parquet_schema, read_parquet
from waimak_spark.operators.cache import materialize, write_parquet
from waimak_spark.operators.manifest_commit import (
    ManifestParquetDataCommitter,
    read_manifest_table,
)
from waimak_spark.operators.metastore import HiveDummyConnector

BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"


def _inferred(spark, path):
    return spark.read.parquet(path).schema


def _arrow_table(n=3):
    utc = timezone.utc
    return pa.table({
        "id": pa.array(range(n), pa.int32()),
        "ts_us": pa.array([datetime(2024, 1, 1, i) for i in range(n)],
                          pa.timestamp("us")),
        "ts_utc": pa.array([datetime(2024, 1, 1, i, tzinfo=utc)
                            for i in range(n)], pa.timestamp("us", tz="UTC")),
        "ts_ms": pa.array([datetime(2024, 1, 2, i) for i in range(n)],
                          pa.timestamp("ms")),
        "ts_ns": pa.array([datetime(2024, 1, 3, i) for i in range(n)],
                          pa.timestamp("ns")),
        "amount": pa.array([Decimal("1.25") * i for i in range(n)],
                           pa.decimal128(12, 3)),
        "tags": pa.array([["a", str(i)] for i in range(n)],
                         pa.list_(pa.string())),
        "point": pa.array([{"x": i, "label": f"p{i}"} for i in range(n)],
                          pa.struct([("x", pa.int64()),
                                     ("label", pa.string())])),
        "attrs": pa.array([[("k", float(i))] for i in range(n)],
                          pa.map_(pa.string(), pa.float64())),
        "blob": pa.array([bytes([i]) * 3 for i in range(n)], pa.binary()),
        "day": pa.array([date(2024, 1, 1 + i) for i in range(n)],
                        pa.date32()),
    })


@pytest.fixture()
def binary_as_string(spark, request):
    """Sets ``spark.sql.parquet.binaryAsString`` on the session for one
    test and restores the previous value."""
    before = spark.conf.get(BINARY_AS_STRING, None)
    spark.conf.set(BINARY_AS_STRING, request.param)
    yield request.param
    if before is None:
        spark.conf.unset(BINARY_AS_STRING)
    else:
        spark.conf.set(BINARY_AS_STRING, before)


class TestSchemaEqualsInference:
    def test_spark_written_type_matrix(self, spark, tmp_path):
        matrix = test_storage.TestSchemaCache
        path = str(tmp_path / "matrix")
        (spark.createDataFrame(matrix._matrix_rows(1), matrix.MATRIX)
         .repartition(3).write.parquet(path))
        got = parquet_schema(spark, path)
        assert got == _inferred(spark, path)
        assert got == nullable(matrix.MATRIX)
        assert [f.metadata for f in got.fields] == [
            f.metadata for f in matrix.MATRIX.fields]

    @pytest.mark.parametrize("binary_as_string", ["true", "false"],
                             indirect=True)
    @pytest.mark.parametrize("int96", [False, True])
    def test_pyarrow_written_types(self, spark, tmp_path, binary_as_string,
                                   int96):
        path = str(tmp_path / "arrow.parquet")
        pq.write_table(_arrow_table(), path,
                       use_deprecated_int96_timestamps=int96)
        got = parquet_schema(spark, path)
        assert got == _inferred(spark, path)
        blob = got["blob"].dataType.simpleString()
        assert blob == ("string" if binary_as_string == "true" else "binary")
        assert read_parquet(spark, path).collect() == (
            spark.read.parquet(path).collect())

    def test_partitioned_folder(self, spark, tmp_path):
        path = str(tmp_path / "parted")
        (spark.range(12)
         .selectExpr("id", "cast(id % 3 as int) as k", "cast(id as string) s",
                     "date_add(date'2024-01-01', cast(id % 2 as int)) as d")
         .write.partitionBy("k", "d").parquet(path))
        inferred = _inferred(spark, path)
        assert parquet_schema(spark, path).fields == [
            f for f in inferred.fields if f.name not in ("k", "d")]
        read = read_parquet(spark, path)
        assert read.schema == inferred
        assert sorted(read.collect()) == sorted(
            spark.read.parquet(path).collect())

    def test_summary_files_are_preferred(self, spark, tmp_path):
        """``_common_metadata`` wins over ``_metadata``, which wins over
        the data files, as in Spark's own inference."""
        folder = tmp_path / "summaries"
        folder.mkdir()
        table = pa.table({"a": [1, 2]})
        pq.write_table(table, str(folder / "part-0.parquet"))
        pq.write_metadata(table.schema.append(pa.field("c", pa.string())),
                          str(folder / "_metadata"))
        pq.write_metadata(table.schema.append(pa.field("d", pa.float64())),
                          str(folder / "_common_metadata"))
        got = parquet_schema(spark, str(folder))
        assert got == _inferred(spark, str(folder))
        assert got.fieldNames() == ["a", "d"]
        os.remove(folder / "_common_metadata")
        got = parquet_schema(spark, str(folder))
        assert got == _inferred(spark, str(folder))
        assert got.fieldNames() == ["a", "c"]

    def test_glob_over_files_with_different_schemas(self, spark, tmp_path):
        """The first data file by path decides, whatever order the files
        were written in; hidden and in-flight files are not listed."""
        folder = tmp_path / "mixed"
        folder.mkdir()
        pq.write_table(pa.table({"b_only": [1]}), str(folder / "b.parquet"))
        pq.write_table(pa.table({"a_only": ["x"]}), str(folder / "a.parquet"))
        for hidden in ("_hidden.parquet", ".dot.parquet",
                       "0.parquet._COPYING_"):
            pq.write_table(pa.table({"hidden": [1.0]}), str(folder / hidden))
        for path in (str(folder), f"{folder}/*.parquet", f"{folder}/[ab]*"):
            got = parquet_schema(spark, path)
            assert got == _inferred(spark, path)
            assert got.fieldNames() == ["a_only"]

    def test_glob_over_folders(self, spark, sf_dir):
        path = f"{sf_dir}/{{orders,customer}}.parquet"
        got = parquet_schema(spark, path)
        assert got == _inferred(spark, path)
        assert "c_custkey" in got.fieldNames()

    def test_partition_key_in_footer_declines(self, spark, tmp_path):
        folder = tmp_path / "clash" / "k=1"
        folder.mkdir(parents=True)
        pq.write_table(pa.table({"k": [5], "v": ["x"]}),
                       str(folder / "part-0.parquet"))
        path = str(tmp_path / "clash")
        assert parquet_schema(spark, path) is None
        assert read_parquet(spark, path).schema == _inferred(spark, path)


class TestDeclines:
    def test_empty_folder_raises_as_spark_does(self, spark, tmp_path):
        path = str(tmp_path / "empty")
        os.makedirs(path)
        assert parquet_schema(spark, path) is None
        with pytest.raises(AnalysisException) as ours:
            read_parquet(spark, path)
        with pytest.raises(AnalysisException) as sparks:
            spark.read.parquet(path)
        assert ours.value.getCondition() == sparks.value.getCondition()

    def test_missing_path_raises_as_spark_does(self, spark, tmp_path):
        path = str(tmp_path / "missing")
        assert parquet_schema(spark, path) is None
        with pytest.raises(AnalysisException) as ours:
            read_parquet(spark, path)
        with pytest.raises(AnalysisException) as sparks:
            spark.read.parquet(path)
        assert ours.value.getCondition() == sparks.value.getCondition()

    def test_unreadable_footer_declines(self, spark, tmp_path):
        path = tmp_path / "corrupt"
        path.mkdir()
        (path / "part-0.parquet").write_bytes(b"not a parquet file")
        assert parquet_schema(spark, str(path)) is None

    @pytest.mark.parametrize("options", [{"mergeSchema": "false"},
                                         {"pathGlobFilter": "*.parquet"}])
    def test_reader_options_infer(self, spark, sf_dir, options):
        path = f"{sf_dir}/orders.parquet"
        assert parquet_schema(spark, path, options) is None
        flow = (Waimak.spark_flow(spark)
                .open_file_parquet(path, "orders", options=options))
        recorder = dqm.GuidRecorder()
        ParallelDataFlowExecutor(max_jobs=2, reporter=recorder).execute(flow)
        dqm._settle(spark)
        [guid] = recorder.names
        assert len(dqm._jobs_of(spark, guid)) == 1

    def test_merge_schema_conf_infers(self, spark, sf_dir):
        key = "spark.sql.parquet.mergeSchema"
        spark.conf.set(key, "true")
        try:
            assert parquet_schema(spark, f"{sf_dir}/orders.parquet") is None
        finally:
            spark.conf.unset(key)
        assert parquet_schema(spark, f"{sf_dir}/orders.parquet") is not None


class TestJobCounts:
    def _run(self, spark, flow):
        recorder = dqm.GuidRecorder()
        unattributed = dqm._jobs_of(spark, None)
        ParallelDataFlowExecutor(max_jobs=4, reporter=recorder).execute(flow)
        dqm._settle(spark)
        assert not dqm._jobs_of(spark, None) - unattributed
        return {name: len(dqm._jobs_of(spark, guid))
                for guid, name in recorder.names.items()}

    def test_setup_flow_launches_one_job_per_write(self, spark, sf_dir,
                                                   tmp_path):
        """A set-up-shaped flow: open the pyarrow-written inputs, write
        them to per-label folders.  The opens launch no job; each write
        launches one."""
        out = str(tmp_path / "flow")
        flow = dqm._open_inputs(spark, sf_dir, str(tmp_path / "t1"))
        flow = flow.write_parquet(out, *dqm.INPUTS, overwrite=True)
        jobs = self._run(spark, flow)
        assert {n: j for n, j in jobs.items()
                if n.startswith("openParquet:")} == {
            f"openParquet:{t}": 0 for t in dqm.INPUTS}
        assert sum(jobs.values()) == len(dqm.INPUTS)

        reopen = Waimak.spark_flow(spark, str(tmp_path / "t2"))
        for t in dqm.INPUTS:
            reopen = reopen.open_parquet(out, t)
        reopen = reopen.sql(*dqm.INPUTS[:2], output="lo", query=dqm.LO_SQL)
        jobs = self._run(spark, reopen)
        assert jobs == {f"openParquet:{t}": 0 for t in dqm.INPUTS} | {
            "sql:lo": 0}

    def test_partitioned_cache_reread_launches_no_job(self, spark, tmp_path):
        """A partitioned cache re-read is given the written schema minus
        its partition columns: it launches only the write's jobs."""
        ctx = SparkFlowContext(spark, str(tmp_path / "tmp"))
        df = spark.range(6).selectExpr("id", "id % 2 as k",
                                       "concat('v', id) as s")
        keys = ["k", "s"]
        write = dqm._jobs(spark, lambda: write_parquet(
            df, str(tmp_path / "written"), partition_cols=keys))
        got = []
        assert dqm._jobs(spark, lambda: got.append(materialize(
            ctx, df, str(tmp_path / "cached"), partition_cols=keys))) == write
        assert got[0].schema == spark.read.parquet(
            str(tmp_path / "cached")).schema

    def test_metastore_ddl_launches_no_job(self, spark, tmp_path):
        ctx = SparkFlowContext(spark, str(tmp_path / "tmp"))
        flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
        df = spark.createDataFrame([(1, "a", "x")],
                                   "id int, name string, part string")
        df.write.parquet(flat)
        df.write.partitionBy("part").parquet(parted)
        con = HiveDummyConnector(ctx, "testdb")
        ddls = []
        assert dqm._jobs(spark, lambda: ddls.extend(
            con.create_table_from_parquet_ddl("flat", flat)
            + con.create_table_from_parquet_ddl(
                "parted", parted, partition_columns=["part"]))) == 0
        assert "(id int, name string, part string)" in ddls[0]
        assert "(id int, name string) partitioned by (part string)" in ddls[1]

    def test_manifest_read_launches_no_job(self, spark, tmp_path):
        out = str(tmp_path / "out")
        df = spark.createDataFrame([(1, "x", 1), (2, "y", 2)],
                                   "id int, v string, p int")
        (Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
         .add_input("t", df)
         .commit("c", "t", partitions=["p"])
         .push("c", ManifestParquetDataCommitter(out))
         .execute())
        got = []
        assert dqm._jobs(spark, lambda: got.append(
            read_manifest_table(spark, out, "t"))) == 0
        assert got[0].schema.simpleString() == "struct<id:int,v:string,p:int>"


def _settle():
    """Free unreachable proxies and give py4j's finalizer thread, which
    sends their releases to the JVM, time to send them.  The thread
    sleeps a second whenever its queue is empty, so wait for the queue
    to drain rather than for a fixed time."""
    gc.collect()
    queue = getattr(SparkContext._gateway._gateway_client,
                    "finalizer_deque", ())
    while queue:
        time.sleep(0.05)
    time.sleep(0.2)


def _round_trips(spark, fn):
    """py4j round trips ``fn()`` costs, counted by ``tools/rt_sweep.py``'s
    counter: the least of three calls, each between two settles so the
    count holds the releases of what ``fn`` made and no others."""
    saved = [(cls, cls.send_command) for cls in (
        py4j.clientserver.ClientServerConnection,
        py4j.java_gateway.GatewayConnection)]
    rt_sweep._install_counter()
    try:
        counts = []
        for _ in range(3):
            _settle()
            before = rt_sweep._COUNT["n"]
            fn()
            _settle()
            counts.append(rt_sweep._COUNT["n"] - before)
        return min(counts)
    finally:
        for cls, send in saved:
            cls.send_command = send


def test_listing_round_trips_do_not_grow_with_file_count(spark, tmp_path):
    one, forty = str(tmp_path / "one"), str(tmp_path / "forty")
    spark.range(80).coalesce(1).write.parquet(one)
    spark.range(80).repartition(40).write.parquet(forty)
    assert len([f for f in os.listdir(forty) if f.endswith(".parquet")]) == 40
    parquet_schema(spark, one)  # looks up the JVM handles once
    rts_one = _round_trips(spark, lambda: parquet_schema(spark, one))
    rts_forty = _round_trips(spark, lambda: parquet_schema(spark, forty))
    assert abs(rts_forty - rts_one) <= 2, (rts_one, rts_forty)


def test_materialize_reread_costs_the_same_on_a_fresh_thread(spark,
                                                             tmp_path):
    """A re-read given its schema goes straight to the JVM reader.
    PySpark's ``DataFrameReader.schema`` first gets or creates the
    thread's active session, which costs a flow worker thread (a thread
    with no active session) more round trips than the main thread.  A
    fresh thread also opens its own py4j connection: one round trip."""
    ctx = SparkFlowContext(spark, str(tmp_path / "tmp"))
    df = spark.range(6).selectExpr("id", "concat('v', id) as s")
    path = str(tmp_path / "cached")
    kept = []  # both sides keep what they read, so neither releases it

    def reread():
        kept.append(materialize(ctx, df, path))

    def on_fresh_thread():
        t = threading.Thread(target=reread)
        t.start()
        t.join()

    want = materialize(ctx, df, path).schema  # looks up the JVM handles once
    rts_main = _round_trips(spark, reread)
    rts_fresh = _round_trips(spark, on_fresh_thread)
    assert [d.schema for d in kept] == [want] * 6
    assert abs(rts_fresh - rts_main) <= 2, (rts_main, rts_fresh)


class TestParquetMaterializer:
    """``cache_registry.parquet_materializer`` writes and re-reads as
    ``operators.cache.materialize`` does, and its cleanup goes through the
    Hadoop ``FileSystem``."""

    def test_reread_infers_no_schema(self, spark, tmp_path):
        from waimak_spark.functions.cache_registry import (
            parquet_materializer,
            release_tracked,
        )

        df = spark.range(6).selectExpr("id", "concat('v', id) as s")
        got = []
        assert dqm._jobs(spark, lambda: got.append(parquet_materializer(
            str(tmp_path / "m"))(df))) == 1  # the write
        assert got[0].schema == nullable(df.schema)
        assert sorted(got[0].collect()) == sorted(df.collect())
        release_tracked()

    def test_release_deletes_a_uri_path(self, spark, tmp_path):
        from waimak_spark.functions.cache_registry import (
            parquet_materializer,
            release_tracked,
        )

        local = tmp_path / "m"
        out = parquet_materializer(f"file://{local}")(spark.range(3))
        assert out.count() == 3 and local.is_dir()
        release_tracked()
        assert not local.exists()
