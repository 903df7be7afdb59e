"""A data-quality-checked label is computed and written once: the check
reads the written files, a committed checked label with no other consumer
is staged by its producer, and the re-read of an unpartitioned folder the
flow just wrote launches no schema-inference job."""

import os
import uuid

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from waimak_spark import ParallelDataFlowExecutor, Waimak
from waimak_spark.dataflow.exceptions import ActionException
from waimak_spark.dataflow.executor import FlowReporter
from waimak_spark.dataquality import (
    AlertImportance,
    CollectingAlertHandler,
    DataQualityAlertException,
    DataQualityCheck,
    ExceptionQualityAlert,
    completeness_check,
)
from waimak_spark.operators import ParquetDataCommitter

LO_SQL = """
    select l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_extendedprice,
           l.l_discount, l.l_returnflag, o.o_custkey, o.o_orderdate
    from lineitem l join orders o on l.l_orderkey = o.o_orderkey"""
REVENUE_SQL = """
    select n.n_name, year(lo.o_orderdate) as o_year,
           sum(lo.l_extendedprice * (1 - lo.l_discount)) as revenue
    from lo join customer c on lo.o_custkey = c.c_custkey
            join nation n on c.c_nationkey = n.n_nationkey
    group by n.n_name, year(lo.o_orderdate)"""
PART_SQL = """
    select p.p_brand, count(*) as lines
    from lo join part p on lo.l_partkey = p.p_partkey group by p.p_brand"""
RETURNS_SQL = """
    select s.s_nationkey, count(*) as lines
    from lo join supplier s on lo.l_suppkey = s.s_suppkey
    where lo.l_returnflag = 'R' group by s.s_nationkey"""
INPUTS = ("lineitem", "orders", "customer", "nation", "part", "supplier")


class RecordingCheck(DataQualityCheck):
    """Delegates to ``check`` and records the files each evaluation read."""

    def __init__(self, check, files: list):
        self.check = check
        self.files = files

    def get_alerts(self, label, df):
        self.files.append(df.inputFiles())
        return self.check.get_alerts(label, df)


class GuidRecorder(FlowReporter):
    def __init__(self):
        self.names: dict[str, str] = {}

    def action_started(self, action, flow):
        self.names[action.guid] = action.name


def _settle(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _jobs_of(spark, group: str) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _settle(spark)
    return len(_jobs_of(spark, group))


def _under(files, prefix: str) -> bool:
    return bool(files) and all(f.startswith(f"file://{prefix}")
                               for f in files)


def _open_inputs(spark, sf_dir, temp):
    flow = Waimak.spark_flow(spark, temp)
    for t in INPUTS:
        flow = flow.open_file_parquet(f"{sf_dir}/{t}.parquet", t)
    return flow


def test_publish_flow_job_attribution_under_concurrent_pools(spark, sf_dir,
                                                             tmp_path):
    """A flow_publish-shaped flow (shared join cached as parquet, three SQL
    branches in two execution pools, a transform, a check on one branch,
    a four-label commit) under the parallel executor.  Every job is
    attributed to the action that launched it; the checked committed
    label's stage launches no job, because its producer staged it; the
    cached join's action launches exactly the jobs of writing the join,
    so its re-read infers no schema."""
    temp, out = str(tmp_path / "flowtmp"), str(tmp_path / "out")
    files: list = []
    flow = (_open_inputs(spark, sf_dir, temp)
            .sql("lineitem", "orders", output="lo", query=LO_SQL)
            .cache_as_parquet("lo")
            .sql("lo", "customer", "nation", output="revenue",
                 query=REVENUE_SQL))
    flow = flow.execution_pool("p1")(
        lambda f: f.sql("lo", "part", output="part_lines", query=PART_SQL))
    flow = flow.execution_pool("p2")(
        lambda f: f.sql("lo", "supplier", output="returns",
                        query=RETURNS_SQL))
    flow = (flow
            .transform("customer", output="segments",
                       fn=lambda c: c.groupBy("c_mktsegment").count())
            .add_data_quality_check(
                "revenue", RecordingCheck(
                    completeness_check(["n_name", "revenue"],
                                       warning_threshold=0.99), files),
                CollectingAlertHandler())
            .commit("publish", "revenue", "part_lines", "returns", "segments")
            .push("publish", ParquetDataCommitter(out, snapshot_folder="s1")))

    for t in ("lineitem", "orders"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    write_lo = _jobs(spark, lambda: spark.sql(LO_SQL).write.mode("overwrite")
                     .parquet(str(tmp_path / "direct_lo")))

    recorder = GuidRecorder()
    unattributed = _jobs_of(spark, None)
    ParallelDataFlowExecutor(max_jobs=4, reporter=recorder).execute(flow)
    _settle(spark)
    per_action = {name: _jobs_of(spark, guid)
                  for guid, name in recorder.names.items()}
    jobs = {name: len(ids) for name, ids in per_action.items()}

    assert not _jobs_of(spark, None) - unattributed
    assert jobs["commitStage:revenue"] == 0
    for label in ("part_lines", "returns", "segments"):
        assert jobs[f"commitStage:{label}"] >= 1
    assert jobs["intercept:sql:lo"] == write_lo
    assert jobs["intercept:sql:revenue"] >= 2  # its staged write + the check
    for name in ("sql:part_lines", "sql:returns", "commitMove:publish",
                 "commitFinish:publish"):
        assert jobs[name] == 0
    [read] = files
    assert _under(read, f"{temp}/commit-")
    for label in ("revenue", "part_lines", "returns", "segments"):
        assert spark.read.parquet(f"{out}/{label}/s1").count() > 0


def test_check_reads_committed_labels_staged_files(spark, tmp_path):
    temp, out = str(tmp_path / "flowtmp"), str(tmp_path / "out")
    files: list = []
    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, v string")
    flow = (Waimak.spark_flow(spark, temp)
            .open("raw", lambda c: df)
            .transform("raw", output="t", fn=lambda d: d.where("id > 0"))
            .add_data_quality_check(
                "t", RecordingCheck(completeness_check(
                    ["v"], warning_threshold=0.9), files),
                CollectingAlertHandler())
            .commit("c", "t")
            .push("c", ParquetDataCommitter(out, snapshot_folder="s1")))
    flow.execute()
    [read] = files
    assert _under(read, f"{temp}/commit-")
    assert spark.read.parquet(f"{out}/t/s1").count() == 2


def test_checked_label_in_two_commits_is_not_staged_by_producer(spark,
                                                                tmp_path):
    """Each commit's move renames its own staging folder, so a label that
    two commits read keeps its ``temp/<label>`` cache and both stages copy
    from it."""
    temp = str(tmp_path / "flowtmp")
    d1, d2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    files: list = []
    df = spark.createDataFrame([(i, "v") for i in range(7)], "id int, v string")
    flow = (Waimak.spark_flow(spark, temp)
            .open("raw", lambda c: df)
            .transform("raw", output="t", fn=lambda d: d.where("id >= 0"))
            .add_data_quality_check(
                "t", RecordingCheck(completeness_check(
                    ["v"], warning_threshold=0.9), files),
                CollectingAlertHandler())
            .commit("first", "t")
            .commit("second", "t")
            .push("first", ParquetDataCommitter(d1))
            .push("second", ParquetDataCommitter(d2)))
    flow.execute(ParallelDataFlowExecutor(max_jobs=4))
    [read] = files
    assert _under(read, f"{temp}/t/")
    assert spark.read.parquet(f"{d1}/t").count() == 7
    assert spark.read.parquet(f"{d2}/t").count() == 7


def test_check_reads_cached_files_of_uncommitted_label(spark, tmp_path):
    temp = str(tmp_path / "flowtmp")
    dest = str(tmp_path / "dest")
    files: list = []
    handler = CollectingAlertHandler()
    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, v string")
    flow = (Waimak.spark_flow(spark, temp)
            .open("raw", lambda c: df)
            .transform("raw", output="t", fn=lambda d: d.where("id > 0"))
            .add_data_quality_check(
                "t", RecordingCheck(completeness_check(
                    ["v"], warning_threshold=0.9), files), handler)
            .write_parquet(dest, "t"))
    flow.execute()
    [read] = files
    assert _under(read, f"{temp}/t/")
    assert [a.importance for a in handler.alerts] == [AlertImportance.WARNING]
    assert spark.read.parquet(f"{dest}/t").count() == 2


def test_critical_alert_on_committed_label_publishes_nothing(spark,
                                                             tmp_path):
    """An ``ExceptionQualityAlert`` on a CRITICAL alert of a committed
    checked label fails the flow before anything is published; a re-run
    of clean data into a new snapshot then commits normally."""
    temp, out = str(tmp_path / "flowtmp"), str(tmp_path / "out")

    def run(rows, snapshot):
        df = spark.createDataFrame(rows, "id int, v string")
        flow = (Waimak.spark_flow(spark, temp)
                .open("raw", lambda c: df)
                .transform("raw", output="t", fn=lambda d: d.where("id > 0"))
                .add_data_quality_check(
                    "t", completeness_check(["v"], warning_threshold=0.9,
                                            critical_threshold=0.8),
                    ExceptionQualityAlert([AlertImportance.CRITICAL]))
                .commit("c", "t")
                .push("c", ParquetDataCommitter(out, snapshot_folder=snapshot)))
        return flow.execute(ParallelDataFlowExecutor(max_jobs=4))

    with pytest.raises(ActionException) as err:
        run([(1, "a"), (2, None), (3, None)], "s1")
    assert isinstance(err.value.__cause__, DataQualityAlertException)
    assert not os.path.exists(f"{out}/t/s1")
    run([(1, "a"), (2, "b")], "s2")
    assert not os.path.exists(f"{out}/t/s1")
    assert spark.read.parquet(f"{out}/t/s2").count() == 2


def test_flow_without_temp_folder_checks_the_plan(spark, sf_dir):
    """A flow without a temp folder materializes nothing: the check reads
    the label's plan over its source, and the label stays readable after
    the flow, as it always has."""
    files: list = []
    handler = CollectingAlertHandler()
    source = f"{sf_dir}/orders.parquet"
    flow = (Waimak.spark_flow(spark)
            .open_file_parquet(source, "orders")
            .transform("orders", output="t", fn=lambda d: d.limit(10))
            .add_data_quality_check(
                "t", RecordingCheck(completeness_check(
                    ["o_orderstatus"], warning_threshold=0.5), files), handler)
            .transform("t", output="u", fn=lambda d: d.select("o_orderkey")))
    prepared = flow.prepare_for_execution()
    producer = next(a for a in prepared.actions if "t" in a.output_labels)
    assert producer.parquet_cached_labels == frozenset()
    assert set(producer.post_actions) == set()
    _, final = flow.execute()
    [read] = files
    assert read and all(f.endswith("orders.parquet") for f in read)
    assert handler.alerts == []
    assert final.inputs.get("u").count() == 10


def test_explicit_cache_of_checked_label_writes_once(spark, tmp_path,
                                                     monkeypatch):
    """``cache_as_parquet`` plus a check plus two consumers: the check's
    re-wrap of the producer keeps the cache mark, so the label is written
    once and every reader reads those files."""
    temp = str(tmp_path / "flowtmp")
    writes: list = []
    parquet = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        writes.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    src = spark.createDataFrame([(i, f"s{i}") for i in range(20)],
                                "id int, s string")
    handler = CollectingAlertHandler()
    flow = (Waimak.spark_flow(spark, temp)
            .open("src", lambda c: src)
            .transform("src", output="t1", fn=lambda d: d.where("id % 2 = 0"))
            .cache_as_parquet("t1")
            .add_data_quality_check(
                "t1", completeness_check(["s"], 0.9), handler)
            .transform("t1", output="a", fn=lambda d: d.limit(3))
            .transform("t1", output="b",
                       fn=lambda d: d.agg(F.count("*").alias("n"))))
    flow.execute(ParallelDataFlowExecutor(max_jobs=4))
    assert writes.count(f"{temp}/t1") == 1
    assert handler.alerts == []
