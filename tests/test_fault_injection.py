"""Failure-semantics depth on the orchestrator (VERDICT r6 #4): the
reference's executor tests stress what happens AROUND a failure, not just
that one propagates — in-flight actions drain before the flow fails
(DataFlowExecutor.scala:138-157 processActionResults: the failed Try is
surfaced only after every submitted action's result is folded in), and a
failed run leaves its temp folder — including commit staging — on disk
(DataFlowExecutor.scala:22-52: finaliseExecution runs only on the
successful flow), so staged commit data is quarantined for recovery
instead of being half-deleted (TestSparkDataFlow.scala failure modes)."""

import os
import threading
import time
from datetime import datetime

import pytest

from waimak_spark import Waimak
from waimak_spark.dataflow import (
    DataFlow,
    DataFlowException,
    ParallelDataFlowExecutor,
    SimpleAction,
)
from waimak_spark.operators.commit import ParquetDataCommitter
from waimak_spark.storage import AuditTableInfo, FileStorageOps
from waimak_spark.storage.audit import create_table, open_tables

SF = "/root/testdata/sf0.001"
T0 = datetime(2018, 1, 1, 10, 0, 0)
T1 = datetime(2018, 1, 2, 10, 0, 0)
T2 = datetime(2018, 1, 3, 10, 0, 0)


class TestParallelDrainThenFail:
    def test_in_flight_actions_drain_before_flow_fails(self):
        """Kill one action while another is mid-flight under the parallel
        scheduler: the executor must stop submitting NEW work immediately
        but let the in-flight action run to completion BEFORE raising —
        a Spark action mid-write would otherwise be abandoned with its
        job still running (DataFlowExecutor.scala:150-156)."""
        slow_started = threading.Event()
        release_slow = threading.Event()
        drained: list[str] = []
        late_ran: list[str] = []

        def slow(i, c):
            slow_started.set()
            assert release_slow.wait(timeout=10)
            # long enough that an executor raising without draining would
            # observably beat this append
            time.sleep(0.5)
            drained.append("slow")
            return [1]

        def boom(i, c):
            # guarantee slow is genuinely in flight when we fail
            assert slow_started.wait(timeout=10)
            release_slow.set()
            raise RuntimeError("nope")

        def late(i, c):
            late_ran.append("late")
            return [2]

        flow = (
            DataFlow()
            .add_action(SimpleAction([], ["s"], slow, name="slow"))
            .add_action(SimpleAction([], ["x"], boom, name="bad"))
            .add_action(SimpleAction(["s"], ["l"], late, name="late"))
        )
        with pytest.raises(DataFlowException, match="bad"):
            ParallelDataFlowExecutor(max_jobs=4).execute(flow)
        # the in-flight batch drained before the raise...
        assert drained == ["slow"]
        # ...but nothing newly-runnable was scheduled after the failure,
        # even though slow's success made `late` runnable
        assert late_ran == []

    def test_multiple_failures_report_the_first(self):
        """Two actions failing in the same drain window: the flow fails
        with the FIRST error off the completion queue; the second failure
        is drained, not raised over the first or lost."""
        gate = threading.Event()

        def boom_a(i, c):
            gate.wait(timeout=10)
            raise RuntimeError("first")

        def boom_b(i, c):
            gate.set()
            time.sleep(0.3)
            raise RuntimeError("second")

        flow = (
            DataFlow()
            .add_action(SimpleAction([], ["a"], boom_a, name="bad_a"))
            .add_action(SimpleAction([], ["b"], boom_b, name="bad_b"))
        )
        with pytest.raises(DataFlowException, match="bad_a"):
            ParallelDataFlowExecutor(max_jobs=4).execute(flow)


class TestCommitCrashQuarantine:
    def _flow(self, spark, tmp_path, committer):
        return (
            Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
            .open_file_parquet(f"{SF}/region.parquet", "region")
            .open_file_parquet(f"{SF}/nation.parquet", "nation")
            .commit("publish", "region", "nation")
            .push("publish", committer)
        )

    def test_failure_between_stage_and_move_quarantines_staging(
            self, spark, tmp_path):
        """Crash after stage, before move: the staged commit dir must
        survive on disk (finalise only runs on success — the reference's
        semantic), and nothing may reach the destination."""
        out = str(tmp_path / "out")
        tmp = str(tmp_path / "flowtmp")
        flow = self._flow(
            spark, tmp_path, ParquetDataCommitter(out, snapshot_folder="v1"))

        def crash(i, c):
            raise RuntimeError("crash between stage and move")

        # depends on the stage tag exactly like the move action does, so
        # it becomes runnable only after staging completes; the
        # sequential scheduler then picks it BEFORE the move because it
        # precedes the move in the action list (added at build time; the
        # commit expansion appends at prepare time)
        flow = flow.tag_dependency("commit_publish_stage")(
            lambda f: f.add_action(
                SimpleAction([], [], crash, name="crash_after_stage")))
        with pytest.raises(DataFlowException, match="crash_after_stage"):
            flow.execute()
        staged = [d for d in os.listdir(tmp) if d.startswith("commit-")]
        assert len(staged) == 1
        for label in ("region", "nation"):
            files = os.listdir(f"{tmp}/{staged[0]}/{label}")
            assert any(f.endswith(".parquet") for f in files)
        assert not os.path.exists(out)
        # the quarantined staging is readable data, not debris
        assert spark.read.parquet(f"{tmp}/{staged[0]}/region").count() == 5

    def test_mid_move_failure_keeps_unmoved_labels_staged(
            self, spark, tmp_path):
        """Move fails on the SECOND label (its destination appeared after
        validation — the concurrent-commit race the move-time recheck
        exists for): the already-moved label stays committed (per-label
        atomic rename), and the unmoved label's staged copy survives
        intact — never half-moved, never deleted by cleanup."""
        out = str(tmp_path / "out")
        tmp = str(tmp_path / "flowtmp")
        flow = self._flow(
            spark, tmp_path, ParquetDataCommitter(out, snapshot_folder="v1"))

        def sabotage(i, c):
            # simulates a concurrent committer winning the race for
            # nation's snapshot after this flow's prepare-time validation
            os.makedirs(f"{out}/nation/v1")
            return []

        flow = flow.tagged("commit_publish_stage")(
            lambda f: f.add_action(
                SimpleAction([], [], sabotage, name="concurrent_winner")))
        with pytest.raises(DataFlowException,
                           match=r"nation/v1\] already exists"):
            flow.execute()
        # region (first entry) committed atomically before the failure
        assert spark.read.parquet(f"{out}/region/v1").count() == 5
        # nation never reached the destination...
        assert os.listdir(f"{out}/nation/v1") == []
        # ...and its staged copy is quarantined, readable, complete
        staged = [d for d in os.listdir(tmp) if d.startswith("commit-")]
        assert len(staged) == 1
        assert spark.read.parquet(f"{tmp}/{staged[0]}/nation").count() == 25

    def test_rerun_after_crash_recovers_and_commits(self, spark, tmp_path):
        """The operational recovery story, end to end: a run that crashed
        between stage and move leaves quarantined staging; simply
        RE-RUNNING the flow must succeed with no manual cleanup — prepare
        wipes the stale staging, the commit lands at the destination,
        and the success path removes the temp folder."""
        out = str(tmp_path / "out")
        tmp = str(tmp_path / "flowtmp")
        crashed = self._flow(
            spark, tmp_path, ParquetDataCommitter(out, snapshot_folder="v1"))

        def crash(i, c):
            raise RuntimeError("crash between stage and move")

        crashed = crashed.tag_dependency("commit_publish_stage")(
            lambda f: f.add_action(
                SimpleAction([], [], crash, name="crash_after_stage")))
        with pytest.raises(DataFlowException):
            crashed.execute()
        assert [d for d in os.listdir(tmp) if d.startswith("commit-")]
        assert not os.path.exists(out)

        self._flow(spark, tmp_path,
                   ParquetDataCommitter(out, snapshot_folder="v1")).execute()
        assert spark.read.parquet(f"{out}/region/v1").count() == 5
        assert spark.read.parquet(f"{out}/nation/v1").count() == 25
        assert not os.path.exists(tmp)

    def test_temp_folder_survives_any_failed_flow(self, spark, tmp_path):
        """The base case of the quarantine semantic
        (TestSparkDataFlow.scala:867-880): ANY failed flow leaves its
        temp folder on disk, commit or not."""
        tmp = str(tmp_path / "flowtmp")

        def boom(c):
            raise RuntimeError("bad action")

        flow = Waimak.spark_flow(spark, tmp).open("bad", boom)
        with pytest.raises(DataFlowException, match="bad"):
            flow.execute()
        assert os.path.isdir(tmp)

    def test_stale_staging_cleaned_before_actions_run(self, spark,
                                                      tmp_path):
        """Leftovers from a previous (crashed) run are wiped at prepare
        time, BEFORE any action executes
        (TestSparkDataFlow.scala:796-820) — this is what bounds the
        quarantine semantic's disk usage across runs."""
        tmp = tmp_path / "flowtmp"
        (tmp / "commit-deadbeef").mkdir(parents=True)
        (tmp / "commit-deadbeef" / "junk.parquet").write_text("stale")
        spark.conf.set("spark.waimak.dataflow.removeTempAfterExecution",
                       "false")
        try:
            (Waimak.spark_flow(spark, str(tmp))
             .open_file_parquet(f"{SF}/region.parquet", "region")
             .execute())
            assert os.path.isdir(tmp)  # kept: conf disabled removal
            assert not os.path.exists(tmp / "commit-deadbeef")
        finally:
            spark.conf.unset("spark.waimak.dataflow.removeTempAfterExecution")

    def test_successful_run_still_cleans_temp(self, spark, tmp_path):
        """Regression guard for the success path: a clean run removes the
        temp folder (and the staging under it) exactly as before."""
        out = str(tmp_path / "out")
        tmp = str(tmp_path / "flowtmp")
        flow = self._flow(
            spark, tmp_path, ParquetDataCommitter(out, snapshot_folder="v1"))
        flow.execute()
        assert spark.read.parquet(f"{out}/region/v1").count() == 5
        assert spark.read.parquet(f"{out}/nation/v1").count() == 25
        assert not os.path.exists(tmp)


class TestAuditStorageCrashRecovery:
    """Audit-table mutations interrupted mid-way leave a table that
    reopens and keeps working: the region cache (regions + schema) is
    rewritten only after the data is in place, and compaction clears it
    before the write, so a reopen never trusts a cache that lies."""

    INFO = AuditTableInfo("persons", ["id"], {}, True)

    @staticmethod
    def _batch(spark, rows):
        return spark.createDataFrame(
            rows, "id int, name string, updated timestamp")

    def _two_appends(self, spark, ops):
        t = create_table(ops, self.INFO)
        t, _ = t.append(self._batch(spark, [(1, "alice", T0),
                                            (2, "bob", T0)]), "updated", T0)
        t, _ = t.append(self._batch(spark, [(2, "bobby", T1),
                                            (3, "carol", T1)]), "updated", T1)
        return t

    @staticmethod
    def _fail_moves(monkeypatch, ops):
        def boom(src, dest):
            raise IOError(f"injected failure moving [{src}] -> [{dest}]")

        monkeypatch.setattr(ops.fops, "move_overwrite_folder", boom)

    def test_failed_append_keeps_old_cache_and_reopens(self, spark,
                                                       tmp_path,
                                                       monkeypatch):
        base = str(tmp_path / "storage")
        ops = FileStorageOps(spark, base)
        t = self._two_appends(spark, ops)
        before = ops.read_region_cache("persons")
        assert before[1] is not None
        self._fail_moves(monkeypatch, ops)
        with pytest.raises(IOError, match="injected"):
            t.append(self._batch(spark, [(4, "dave", T2)]), "updated", T2)

        fresh = FileStorageOps(spark, base)
        assert fresh.read_region_cache("persons") == before
        t = open_tables(fresh, ["persons"])[0]["persons"]
        assert [r.count for r in t.regions] == [2, 2]
        assert t.schema == before[1]
        t, count = t.append(self._batch(spark, [(4, "dave", T2)]),
                            "updated", T2)
        assert count == 1
        assert t.schema == before[1]
        reopened = open_tables(fresh, ["persons"])[0]["persons"]
        assert [r.count for r in reopened.regions] == [2, 2, 1]
        assert reopened.all_between(None, None).count() == 5
        assert {r["id"]: r["name"] for r in reopened.snapshot(None)
                .collect()} == {1: "alice", 2: "bobby", 3: "carol",
                                4: "dave"}

    def test_failed_compaction_reopens_through_fallback_scan(
            self, spark, tmp_path, monkeypatch):
        base = str(tmp_path / "storage")
        ops = FileStorageOps(spark, base)
        t = self._two_appends(spark, ops)
        self._fail_moves(monkeypatch, ops)
        with pytest.raises(IOError, match="injected"):
            t.compact(T2, small_region_row_threshold=10)

        fresh = FileStorageOps(spark, base)
        assert fresh.read_region_cache("persons") is None
        t = open_tables(fresh, ["persons"])[0]["persons"]
        assert t.schema is None
        assert sorted(r.count for r in t.regions) == [2, 2]
        assert t.get_latest_timestamp() == T1
        assert t.all_between(None, None).count() == 4
        # the recovered table compacts cleanly and knows its schema again
        t = t.compact(T2, small_region_row_threshold=10)
        assert [r.count for r in t.regions] == [4]
        assert t.schema is not None
        assert open_tables(fresh, ["persons"])[0]["persons"] \
            .all_between(None, None).count() == 4
