"""flow_publish: one ``Waimak.spark_flow`` per operation.

Six parquet opens; a lineitem x orders label ``lo`` shared by three SQL
branches and cached as parquet; one independent transform; a completeness
check on one branch; a commit of four labels through
``ParquetDataCommitter`` into a fresh snapshot folder, keeping the newest
two snapshots.  Flows run on ``ParallelDataFlowExecutor(max_jobs=nproc)``.

The inputs are generated once, untimed, as single parquet files; set-up is
the Waimak flow that ingests them into one folder per label.  The flow time
is the median over the flows that lost the least CPU to other guests of the
host (``common.quiet_median``).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

from pyspark.sql import functions as F

import datagen
from common import cores, dir_bytes, median, quiet_median
from spans import TracingReporter, duration, flow_analysis
from waimak_spark import ParallelDataFlowExecutor, Waimak
from waimak_spark.dataquality import (AlertImportance, CollectingAlertHandler,
                                      completeness_check)
from waimak_spark.operators import (ParquetDataCommitter,
                                    date_based_snapshot_cleanup)

SF = 0.01
# the first flows of a session are still compiling; these run untimed
WARMUP_FLOWS = 3
INPUTS = ("lineitem", "orders", "customer", "part", "supplier", "nation")
SNAP_COL = "snap"
KEEP_SNAPSHOTS = 2

LO_SQL = """
    select l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_quantity,
           l.l_extendedprice, l.l_discount, l.l_returnflag,
           o.o_custkey, o.o_orderdate
    from lineitem l join orders o on l.l_orderkey = o.o_orderkey"""
BRANCH_SQL = {
    "revenue_by_nation": ("lo customer nation", """
        select n.n_name, year(lo.o_orderdate) as o_year, count(*) as lines,
               sum(cast(lo.l_extendedprice * (1 - lo.l_discount)
                        as decimal(18, 4))) as revenue
        from lo join customer c on lo.o_custkey = c.c_custkey
                join nation n on c.c_nationkey = n.n_nationkey
        group by n.n_name, year(lo.o_orderdate)"""),
    "part_volume": ("lo part", """
        select p.p_brand, p.p_type, sum(lo.l_quantity) as qty,
               count(*) as lines,
               sum(cast(lo.l_extendedprice as decimal(18, 2))) as gross
        from lo join part p on lo.l_partkey = p.p_partkey
        group by p.p_brand, p.p_type"""),
    "supplier_returns": ("lo supplier", """
        select s.s_nationkey, count(*) as lines,
               sum(cast(lo.l_extendedprice * lo.l_discount
                        as decimal(18, 4))) as discount_value
        from lo join supplier s on lo.l_suppkey = s.s_suppkey
        where lo.l_returnflag = 'R'
        group by s.s_nationkey"""),
}
CHECKED = "revenue_by_nation"
PUBLISHED = (*BRANCH_SQL, "customer_segments")


def customer_segments(customer):
    return customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("acctbal"))


class TimedCheck:
    """Wraps a data-quality check to record when each evaluation ran."""

    def __init__(self, check, sink: list):
        self.check = check
        self.sink = sink

    def validate_check(self):
        self.check.validate_check()

    def concat(self, other):
        return TimedCheck(self.check.concat(other), self.sink)

    def get_alerts(self, label, df):
        t0 = time.time()
        alerts = self.check.get_alerts(label, df)
        self.sink.append((t0, time.time(), len(alerts)))
        return alerts


class FlowPublish:
    name = "flow_publish"
    # about 12 s of flows: fewer left the run-to-run spread at the bound on a
    # host whose CPU is shared with other guests
    min_ops = 7

    def __init__(self, ctx):
        self.ctx = ctx
        self.staged = os.path.join(ctx.dirs.data, "staged")
        self.data = os.path.join(ctx.dirs.data, "flow")
        self.out = os.path.join(ctx.dirs.work, "published")
        self.temp = os.path.join(ctx.dirs.work, "flow_temp")
        base = datetime(2024, 1, 1) + timedelta(days=ctx.seed % 3650)
        self.stamps = (base + timedelta(minutes=i) for i in range(10**6))
        self.last_snapshot = None

    # -- set-up ---------------------------------------------------------------
    def prepare(self) -> None:
        datagen.generate(self.staged, self.ctx.seed, self.ctx.sf or SF, INPUTS)

    def setup(self) -> None:
        flow = Waimak.spark_flow(self.ctx.spark, temp_folder=self.temp)
        for t in INPUTS:
            flow = flow.open_file_parquet(f"{self.staged}/{t}.parquet", t)
        flow = flow.write_parquet(self.data, *INPUTS, overwrite=True)
        ParallelDataFlowExecutor(max_jobs=cores()).execute(flow)

    # -- one operation ----------------------------------------------------------
    def build(self, snapshot: str, dq_sink: list, alerts: CollectingAlertHandler):
        flow = Waimak.spark_flow(self.ctx.spark, temp_folder=self.temp)
        for t in INPUTS:
            flow = flow.open_file_parquet(f"{self.data}/{t}", t)
        flow = flow.sql("lineitem", "orders", output="lo", query=LO_SQL)
        flow = flow.cache_as_parquet("lo")
        for label, (inputs, query) in BRANCH_SQL.items():
            flow = flow.sql(*inputs.split(), output=label, query=query)
        flow = flow.transform("customer", output="customer_segments",
                              fn=customer_segments)
        check = TimedCheck(completeness_check(["n_name", "revenue"],
                                              warning_threshold=0.99), dq_sink)
        flow = flow.add_data_quality_check(CHECKED, check, alerts)
        committer = ParquetDataCommitter(
            self.out, snapshot_folder=snapshot,
            cleanup_strategy=date_based_snapshot_cleanup(SNAP_COL, KEEP_SNAPSHOTS))
        return flow.commit("publish", *PUBLISHED).push("publish", committer)

    def op(self, run_id: str, traced: bool) -> dict:
        snapshot = f"{SNAP_COL}={next(self.stamps):%Y%m%d%H%M%S}"
        dq_sink: list = []
        alerts = CollectingAlertHandler([AlertImportance.WARNING,
                                         AlertImportance.CRITICAL])
        spans = self.ctx.spans
        reporter = (TracingReporter(spans, run_id, self.ctx.op_span)
                    if traced else None)
        flow = self.build(snapshot, dq_sink, alerts)
        executor = ParallelDataFlowExecutor(max_jobs=cores(), reporter=reporter)
        exec_start = time.time()
        executor.execute(flow)
        exec_end = time.time()
        self.last_snapshot = snapshot
        out = {"alerts": len(alerts.alerts)}
        if traced:
            action_spans = [s for s in spans.of_run(run_id)
                            if "guid" in s["attrs"]]
            out["reporter"] = reporter
            out["flow"] = flow_analysis(action_spans, reporter.actions,
                                        exec_start, exec_end)
            out["action_spans"] = action_spans
            out["dq"] = dq_sink
            written = [dir_bytes(f"{self.out}/{l}/{snapshot}") for l in PUBLISHED]
            out["commit_bytes"] = sum(b for b, _ in written)
            out["commit_files"] = sum(f for _, f in written)
        return out

    def warmup(self) -> list[str]:
        for i in range(WARMUP_FLOWS):
            self.op(f"warmup{i}", False)
        return []

    # -- output checks ------------------------------------------------------------
    def check(self) -> list[str]:
        """Every published label of the newest snapshot equals the direct
        DataFrame computation (exceptAll both ways); older snapshots beyond
        the retention are gone."""
        spark = self.ctx.spark
        bad = []
        for t in INPUTS:
            spark.read.parquet(f"{self.data}/{t}").createOrReplaceTempView(t)
        lo = spark.sql(LO_SQL).cache()
        lo.createOrReplaceTempView("lo")
        direct = {l: spark.sql(q) for l, (_, q) in BRANCH_SQL.items()}
        direct["customer_segments"] = customer_segments(spark.table("customer"))
        for label, want in direct.items():
            got = spark.read.parquet(f"{self.out}/{label}/{self.last_snapshot}")
            got = got.select(*want.columns)
            if got.exceptAll(want).union(want.exceptAll(got)).count():
                bad.append(f"{label}: committed snapshot differs")
            snaps = [d for d in os.listdir(f"{self.out}/{label}")
                     if d.startswith(SNAP_COL + "=")]
            if len(snaps) > KEEP_SNAPSHOTS:
                bad.append(f"{label}: {len(snaps)} snapshots kept")
        lo.unpersist()
        return bad

    # -- metrics ------------------------------------------------------------------
    def op_p50(self, ops: list[dict]) -> float:
        return quiet_median((o["op_s"], o["steal"]) for o in ops)[0]

    def detail(self, ops: list[dict]) -> dict:
        value, n = quiet_median((o["op_s"], o["steal"]) for o in ops)
        return {"flow_s_p50": (value, "s", n)}

    def layers(self, traced: list[dict]) -> dict:
        def med(f):
            return median(f(o) for o in traced)

        out = {f"dataflow.{k}": (med(lambda o, k=k: o["flow"][k]), unit)
               for k, unit in (("first_action_delay_s", "s"),
                               ("actions", "count"),
                               ("action_busy_s", "s"),
                               ("queue_wait_s", "s"),
                               ("critical_path_s", "s"),
                               ("overlap", "ratio"),
                               ("finalise_s", "s"))}

        def phase(o, prefix):
            return sum(duration(s) for s in o["action_spans"]
                       if s["name"].startswith(prefix))

        def cache_s(o):
            # a cached action that also produces the checked label runs the
            # check inside its span; that time is the check's, not the cache's
            dq = sum(e - s for s, e, _ in o["dq"])
            cached = {g for g, a in o["reporter"].actions.items()
                      if getattr(a, "parquet_cached_labels", ())}
            return sum(duration(s) - (dq if CHECKED in s["attrs"]["outputs"] else 0)
                       for s in o["action_spans"] if s["attrs"]["guid"] in cached)

        out["operators.cache_s"] = (med(cache_s), "s")
        out["operators.commit.stage_s"] = (
            med(lambda o: phase(o, "commitStage:")), "s")
        out["operators.commit.move_s"] = (
            med(lambda o: phase(o, "commitMove:")), "s")
        out["operators.commit.finish_s"] = (
            med(lambda o: phase(o, "commitFinish:")), "s")
        out["operators.commit.bytes_written"] = (
            med(lambda o: o["commit_bytes"]), "bytes")
        out["operators.commit.files_written"] = (
            med(lambda o: o["commit_files"]), "count")
        out["dataquality.check_s"] = (
            med(lambda o: sum(e - s for s, e, _ in o["dq"])), "s")
        out["dataquality.alerts"] = (med(lambda o: o["alerts"]), "count")
        path = traced[-1]["flow"]["critical_path"]
        out["dataflow.critical_path"] = (" -> ".join(path), "actions")
        return out
