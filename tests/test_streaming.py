"""Structured Streaming: file-source incremental processing through the
flow, watermarked windows, session windows, custom stateful operator."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from waimak_spark.streaming import (
    open_file_stream,
    sessionize_stream,
    stateful_running_totals,
    watermarked_window_agg,
    write_file_stream,
    write_memory_stream,
)

SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
])

T = datetime


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)


ROWS1 = [
    (1, T(2024, 1, 1, 10, 0, 10), 1.0),
    (1, T(2024, 1, 1, 10, 1, 30), 2.0),
    (2, T(2024, 1, 1, 10, 0, 40), 5.0),
]
ROWS2 = [
    (1, T(2024, 1, 1, 10, 6, 0), 3.0),
    (2, T(2024, 1, 1, 11, 0, 0), 7.0),
]


class TestFileStreamFlow:
    def test_incremental_processing_with_checkpoint(self, spark, tmp_path):
        from waimak_spark.dataflow.spark_flow import Waimak

        src = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(spark, src, ROWS1)

        def build():
            flow = Waimak.spark_flow(spark)
            flow = open_file_stream(flow, "events_stream", src,
                                    schema=SCHEMA)
            return write_file_stream(flow, "events_stream", out, ckpt)

        build().execute()
        assert spark.read.parquet(out).count() == 3
        # second run: only NEW files are processed (checkpoint advanced)
        _write_batch(spark, src, ROWS2)
        build().execute()
        assert spark.read.parquet(out).count() == 5

    def test_windowed_agg_stream_matches_batch(self, spark, tmp_path):
        from waimak_spark.dataflow.spark_flow import Waimak

        src = str(tmp_path / "in2")
        _write_batch(spark, src, ROWS1 + ROWS2)

        aggs = [F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value")]
        flow = Waimak.spark_flow(spark)
        flow = open_file_stream(flow, "ev", src, schema=SCHEMA)
        flow = flow.transform(
            "ev", output="windowed",
            fn=lambda df: watermarked_window_agg(
                df, "ts", "5 minutes", "10 minutes", aggs, ["user_id"]))
        flow = write_memory_stream(flow, "windowed", "win_tbl",
                                   output_mode="complete")
        flow.execute()
        got = {(r["user_id"], r["window_start"]): (r["n"], r["sum_value"])
               for r in spark.sql("select * from win_tbl").collect()}
        batch = watermarked_window_agg(
            spark.createDataFrame(ROWS1 + ROWS2, SCHEMA), "ts",
            "5 minutes", "10 minutes", aggs, ["user_id"])
        expected = {(r["user_id"], r["window_start"]): (r["n"], r["sum_value"])
                    for r in batch.collect()}
        assert got == expected
        assert len(got) == 4


class TestStreamStreamIntervalJoin:
    LEFT = [(1, T(2024, 1, 1, 10, 5, 0), 100.0),
            (1, T(2024, 1, 1, 10, 20, 0), 101.0),
            (2, T(2024, 1, 1, 10, 5, 0), 102.0)]
    RIGHT = [(1, T(2024, 1, 1, 10, 1, 0), 0.5),   # 4 min before trade 1
             (1, T(2024, 1, 1, 10, 4, 0), 0.6),   # 1 min before trade 1
             (1, T(2024, 1, 1, 10, 12, 0), 0.7),  # 8 min before trade 2
             (2, T(2024, 1, 1, 10, 6, 0), 0.8)]   # AFTER user-2 trade

    def _sides(self, spark, as_stream, tmp_path=None):
        from waimak_spark.streaming import stream_stream_interval_join

        def prep(rows, prefix, sub):
            if as_stream:
                path = str(tmp_path / sub)
                _write_batch(spark, path, rows)
                df = spark.readStream.schema(SCHEMA).parquet(path)
            else:
                df = spark.createDataFrame(rows, SCHEMA)
            return df.select(
                "user_id", F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_v"))

        return stream_stream_interval_join(
            prep(self.LEFT, "l", "l"), prep(self.RIGHT, "r", "r"),
            ["user_id"], "l_ts", "r_ts",
            lower="5 minutes", upper="0 seconds", watermark="10 minutes")

    EXPECTED = {(1, 100.0, 0.5), (1, 100.0, 0.6)}

    def test_batch_semantics(self, spark):
        got = {(r.user_id, r.l_v, r.r_v)
               for r in self._sides(spark, as_stream=False).collect()}
        assert got == self.EXPECTED

    def test_stream_matches_batch(self, spark, tmp_path):
        joined = self._sides(spark, as_stream=True, tmp_path=tmp_path)
        q = (joined.writeStream.format("memory").queryName("ssj_tbl")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()
        got = {(r.user_id, r.l_v, r.r_v)
               for r in spark.sql("select * from ssj_tbl").collect()}
        assert got == self.EXPECTED

    def test_rejects_colliding_columns(self, spark):
        from waimak_spark.streaming import stream_stream_interval_join

        df = spark.createDataFrame(self.LEFT, SCHEMA)
        with pytest.raises(ValueError, match="rename"):
            stream_stream_interval_join(df, df, ["user_id"], "ts", "ts",
                                        lower="1 minutes", upper="0 seconds",
                                        watermark="1 minutes")


class TestSessionWindows:
    def test_sessionize_batch_semantics(self, spark):
        df = spark.createDataFrame(ROWS1 + ROWS2, SCHEMA)
        out = sessionize_stream(df, "ts", "30 minutes", ["user_id"])
        got = sorted((r["user_id"], r["n_events"]) for r in out.collect())
        # user 1: events at 10:00/10:01/10:06 in one session (gaps < 30m);
        # user 2: 10:00 and 11:00 → two sessions
        assert got == [(1, 3), (2, 1), (2, 1)]


class TestStatefulOperator:
    def test_running_totals_across_micro_batches(self, spark, tmp_path):
        src = str(tmp_path / "in3")
        ckpt = str(tmp_path / "ckpt3")
        # two files + maxFilesPerTrigger=1 → two micro-batches in one run;
        # the per-key state must carry between them
        _write_batch(spark, src, ROWS1)
        _write_batch(spark, src, ROWS2)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        totals = stateful_running_totals(stream, "user_id", "value")
        q = (totals.writeStream.format("memory").queryName("totals_tbl")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rows = spark.sql("select * from totals_tbl").collect()
        # the memory table holds every per-batch emission; the final state
        # per key is the row with the highest running count — identical
        # regardless of file processing order
        finals = {}
        for r in rows:
            k = r["user_id"]
            if k not in finals or r["n_events"] > finals[k][0]:
                finals[k] = (r["n_events"], r["total_value"])
        assert finals == {1: (3, 6.0), 2: (2, 12.0)}
        assert len(rows) > 2  # intermediate emissions prove multi-batch run


class TestStreamToAuditTable:
    def test_incremental_regions_and_snapshot(self, spark, tmp_path):
        """Each availableNow run lands its new files as a hot region; the
        checkpoint makes the second run append ONLY the new rows, and the
        storage-layer snapshot dedups by PK across regions."""
        from waimak_spark.dataflow.spark_flow import Waimak
        from waimak_spark.storage.audit import AuditTableInfo, open_tables
        from waimak_spark.storage.file_ops import FileStorageOps
        from waimak_spark.streaming import write_stream_to_audit_table

        src = str(tmp_path / "in3")
        base = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt3")
        meta = lambda t: AuditTableInfo(t, ["user_id"])  # noqa: E731

        def run():
            flow = Waimak.spark_flow(spark)
            flow = open_file_stream(flow, "ev", src, schema=SCHEMA)
            flow = write_stream_to_audit_table(
                flow, "ev", base, "stream_events", ckpt, "ts",
                metadata_retrieval=meta)
            flow.execute()

        _write_batch(spark, src, ROWS1)
        run()
        ops = FileStorageOps(spark, base)
        tables, _ = open_tables(ops, ["stream_events"])
        assert sum(r.count for r in tables["stream_events"].regions) == 3

        _write_batch(spark, src, ROWS2)
        run()
        tables, _ = open_tables(ops, ["stream_events"])
        t = tables["stream_events"]
        assert sum(r.count for r in t.regions) == 5
        assert len(t.regions) == 2  # one hot region per availableNow run
        # snapshot: latest row per user_id by ts
        snap = t.snapshot(datetime(2024, 1, 2))
        got = {(r.user_id): r.value for r in snap.collect()}
        assert got == {1: 3.0, 2: 7.0}

    def test_replayed_batch_is_skipped_by_marker(self, spark, tmp_path):
        """Crash-replay simulation: wiping the checkpoint makes the next
        run reprocess everything under the SAME batch ids — the per-batch
        marker must turn that replay into a no-op instead of a duplicate
        hot region."""
        import shutil

        from waimak_spark.dataflow.spark_flow import Waimak
        from waimak_spark.storage.audit import AuditTableInfo, open_tables
        from waimak_spark.storage.file_ops import FileStorageOps
        from waimak_spark.streaming import write_stream_to_audit_table

        src = str(tmp_path / "in4")
        base = str(tmp_path / "store4")
        ckpt = str(tmp_path / "ckpt4")
        meta = lambda t: AuditTableInfo(t, ["user_id"])  # noqa: E731

        def run():
            flow = Waimak.spark_flow(spark)
            flow = open_file_stream(flow, "ev", src, schema=SCHEMA)
            flow = write_stream_to_audit_table(
                flow, "ev", base, "replay_events", ckpt, "ts",
                metadata_retrieval=meta)
            flow.execute()

        _write_batch(spark, src, ROWS1)
        run()
        shutil.rmtree(ckpt)  # lose the stream's own progress
        run()                # replays batch 0 with the same rows
        ops = FileStorageOps(spark, base)
        tables, _ = open_tables(ops, ["replay_events"])
        t = tables["replay_events"]
        assert sum(r.count for r in t.regions) == 3
        assert len(t.regions) == 1


class TestStatePartitionSizing:
    def test_rule_floors_caps_and_scales(self):
        from waimak_spark.streaming.ops import (
            STATE_MAX_PARTITIONS,
            STATE_MIN_PARTITIONS,
            state_partitions_for_backfill,
        )

        mib = 1 << 20
        # MB-scale backfill (the correctness gate) → the floor
        assert state_partitions_for_backfill(0) == STATE_MIN_PARTITIONS
        assert state_partitions_for_backfill(2 * mib) == STATE_MIN_PARTITIONS
        # linear region: ~32 MiB per partition
        assert state_partitions_for_backfill(320 * mib) == 10
        assert state_partitions_for_backfill(64 << 30) == 2048
        # 100 TB → the cap
        assert state_partitions_for_backfill(100 << 40) == STATE_MAX_PARTITIONS
        # monotone in volume
        vals = [state_partitions_for_backfill(n * mib)
                for n in (1, 10, 100, 1000, 10000)]
        assert vals == sorted(vals)

    def test_sizing_scope_applies_and_restores(self, spark, sf_dir):
        from waimak_spark.catalog.streaming import _stream_state_sizing

        before = spark.conf.get("spark.sql.shuffle.partitions")
        with _stream_state_sizing(spark, (f"{sf_dir}/events.parquet",)):
            inside = spark.conf.get("spark.sql.shuffle.partitions")
            assert int(inside) >= 4  # the rule's floor at MB-scale input
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_sizing_sums_directory_datasets_recursively(self, spark,
                                                        tmp_path):
        """A directory-style parquet dataset (the normal Spark-written
        layout) must size by its FILES' total bytes, not the directory
        inode size."""
        from waimak_spark.catalog.streaming import _stream_state_sizing
        from waimak_spark.streaming.ops import state_partitions_for_backfill

        import os

        d = tmp_path / "ds.parquet" / "part=0"
        d.mkdir(parents=True)
        # sparse files: getsize reports the logical length
        for p, size in ((d / "part-00000.parquet", 256 << 20),
                        (tmp_path / "ds.parquet" / "part-00001.parquet",
                         64 << 20)):
            with open(p, "wb") as f:
                os.truncate(f.fileno(), size)
        with _stream_state_sizing(spark, (str(tmp_path / "ds.parquet"),)):
            inside = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert inside == state_partitions_for_backfill(320 << 20)
        assert inside > state_partitions_for_backfill(0)

    def test_entry_scopes_sizing_to_child_session(self, spark, sf_dir,
                                                  monkeypatch):
        """The catalog entries run the backfill on spark.newSession(): the
        sizing override must be applied to that child's conf only — the
        caller's session (where the parallel executor may be planning
        concurrent actions) is never touched."""
        from pyspark.sql.conf import RuntimeConfig

        from waimak_spark.catalog.streaming import streaming_tumbling_counts

        parent_jconf = spark.conf._jconf
        shuffle_sets = []
        real_set = RuntimeConfig.set

        def spy(self, key, value):
            if key == "spark.sql.shuffle.partitions":
                shuffle_sets.append(self._jconf.equals(parent_jconf))
            return real_set(self, key, value)

        monkeypatch.setattr(RuntimeConfig, "set", spy)
        out = streaming_tumbling_counts(spark, sf_dir)
        assert out.count() > 0
        # the sizing DID apply (set + restore on the child) ...
        assert len(shuffle_sets) >= 2
        # ... but never to the calling session's conf
        assert not any(shuffle_sets)

    def test_large_sink_drain_goes_distributed(self, spark, sf_dir,
                                               monkeypatch, tmp_path):
        """Above DRAIN_LOCAL_MAX_ROWS the drain must not round-trip the
        answer through the driver (a ~1M-row complete-mode sink OOMs a
        default-sized driver): it writes parquet from the child and
        reads it back in the caller.  Forcing the threshold to 0 must
        yield exactly the pandas path's rows, a caller-owned result
        whose plan scans parquet (no LocalTableScan of driver rows),
        and no leftover sink view."""
        import waimak_spark.catalog.streaming as st

        baseline = st.streaming_tumbling_counts(spark, sf_dir)
        expect = {tuple(r) for r in baseline.collect()}

        monkeypatch.setattr(st, "DRAIN_LOCAL_MAX_ROWS", 0)
        drain_root = str(tmp_path / "drain")
        spark.conf.set(st.DRAIN_DIR_CONF, drain_root)
        try:
            out = st.streaming_tumbling_counts(spark, sf_dir)
        finally:
            spark.conf.unset(st.DRAIN_DIR_CONF)
        assert os.path.isdir(
            f"{drain_root}/stream_tumbling_counts_sink")  # conf honored
        assert out.sparkSession is spark
        assert "Scan parquet" in out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple")
        assert {tuple(r) for r in out.collect()} == expect
        assert not [t.name for t in spark.catalog.listTables()
                    if t.name.endswith("_sink")]

    @pytest.mark.parametrize("entry,complete", [
        ("streaming_tumbling_counts", True),
        ("streaming_dedup_pairs", False),
    ])
    def test_progress_count_matches_sink(self, spark, sf_dir, monkeypatch,
                                         entry, complete):
        """The drain's threshold decision now comes from the query's own
        progress metadata (a count() job's fixed overhead rivaled the
        actual drain copy — round-8 decomposition): complete mode takes
        the final batch's sink numOutputRows, append mode sums batches.
        The metadata must equal the sink's true count, and the drain must
        actually receive it (no None fallback on the happy path)."""
        import waimak_spark.catalog.streaming as st

        seen = {}
        orig = st._collect_into_caller

        def spy(spark_, run, name, n_rows=None):
            seen["n_rows"] = n_rows
            seen["actual"] = run.table(name).count()
            return orig(spark_, run, name, n_rows)

        monkeypatch.setattr(st, "_collect_into_caller", spy)
        out = getattr(st, entry)(spark, sf_dir)
        assert seen["n_rows"] is not None, "progress metadata not used"
        assert seen["n_rows"] == seen["actual"] == out.count()

    def test_progress_count_untrusted_falls_back(self):
        """None/negative/capped progress histories must return None so the
        drain falls back to a real count — an undercount would route an
        oversized sink through the driver."""
        import waimak_spark.catalog.streaming as st

        class Q:
            def __init__(self, counts):
                self.recentProgress = [
                    {"sink": {"numOutputRows": c}} for c in counts]

        assert st._sink_rows_from_progress(Q([]), True) is None
        assert st._sink_rows_from_progress(Q([5, -1]), True) is None
        assert st._sink_rows_from_progress(Q([3, 7]), True) == 7
        assert st._sink_rows_from_progress(Q([3, 7]), False) == 10
        assert st._sink_rows_from_progress(Q([1] * 100), False) is None
        assert st._sink_rows_from_progress(Q([1] * 100), True) == 1
        assert st._sink_rows_from_progress(object(), True) is None

        class FakeRun:
            class conf:
                @staticmethod
                def get(key, default=None):
                    return "50"

        # a LOWERED retention cap must lower the append-mode guard: 50
        # retained events AT a cap of 50 may have dropped earlier ones
        assert st._sink_rows_from_progress(Q([1] * 50), False,
                                           FakeRun()) is None
        assert st._sink_rows_from_progress(Q([1] * 49), False,
                                           FakeRun()) == 49

    def test_stale_drain_dirs_pruned_live_kept(self, spark, tmp_path,
                                               monkeypatch):
        """The app-id scoping must not leak one folder per finished
        process: siblings older than the stale age are pruned when a
        root is derived, while fresh (possibly live) siblings survive."""
        import os
        import time

        import waimak_spark.catalog.streaming as st

        base = str(tmp_path / "drain_base")
        os.makedirs(f"{base}/dead-app/sink1", exist_ok=True)
        os.makedirs(f"{base}/live-app", exist_ok=True)
        old = time.time() - st._DRAIN_STALE_S - 60
        os.utime(f"{base}/dead-app", (old, old))
        monkeypatch.setattr(st, "_DRAIN_DIR_DEFAULT", base)
        root = st._drain_root(spark)
        assert root == f"{base}/{spark.sparkContext.applicationId}"
        assert not os.path.exists(f"{base}/dead-app")
        assert os.path.exists(f"{base}/live-app")

    def test_drain_root_touch_keeps_own_folder_live(self, spark, tmp_path,
                                                    monkeypatch):
        """ADVICE r8: a caller can hold the lazily-read drain frame past
        _DRAIN_STALE_S; liveness must therefore follow process ACTIVITY,
        not the last subdir create/delete.  Every _drain_root call
        touches the session's own folder, so a sibling pruner never sees
        a draining process's folder as stale — even when its contents
        haven't churned since before the stale horizon."""
        import os
        import time

        import waimak_spark.catalog.streaming as st

        base = str(tmp_path / "drain_touch")
        app = spark.sparkContext.applicationId
        os.makedirs(f"{base}/{app}/sink1", exist_ok=True)
        old = time.time() - st._DRAIN_STALE_S - 60
        os.utime(f"{base}/{app}", (old, old))
        monkeypatch.setattr(st, "_DRAIN_DIR_DEFAULT", base)
        st._drain_root(spark)
        assert os.path.getmtime(f"{base}/{app}") > old + st._DRAIN_STALE_S

    def test_drain_root_is_session_scoped(self, spark):
        """VERDICT r7 #8: the default drain folder must be scoped by the
        Spark application id so two concurrent bench/verify PROCESSES
        cannot race on one path; the conf override stays absolute."""
        import waimak_spark.catalog.streaming as st

        root = st._drain_root(spark)
        assert root.startswith(st._DRAIN_DIR_DEFAULT + "/")
        assert spark.sparkContext.applicationId in root
        spark.conf.set(st.DRAIN_DIR_CONF, "/tmp/custom_drain")
        try:
            assert st._drain_root(spark) == "/tmp/custom_drain"
        finally:
            spark.conf.unset(st.DRAIN_DIR_CONF)

    def test_entry_releases_child_session_state(self, spark, sf_dir):
        """ADVICE r6: the entries used to return the child session's
        memory-sink table directly, leaking one child session + one
        in-memory sink result per invocation across bench/verify laps.
        The returned frame must now belong to the CALLER's session, and
        the sink view must be gone from every session sharing the
        context (memory-sink tables are registered globally enough to
        enumerate: a fresh child sees leftovers if any survive)."""
        from waimak_spark.catalog.streaming import streaming_dedup_pairs

        out = streaming_dedup_pairs(spark, sf_dir)
        assert out.sparkSession is spark
        assert out.count() > 0
        # no sink view left behind in the caller or a fresh child
        leftover = [t.name for t in spark.catalog.listTables()
                    if t.name.endswith("_sink")]
        assert leftover == []
        probe = spark.newSession()
        assert not probe.catalog.tableExists("stream_dedup_pairs_sink")


class TestStatefulCatalogEntry:
    """The custom applyInPandasWithState operator as an oracle-checked
    catalog surface (the streaming_running_totals_stateful entry): the
    max-n_events extraction must be deterministic under ANY micro-batch
    split (n strictly increases per emission), and the final totals
    must equal the batch groupBy."""

    def test_matches_batch_oracle(self, spark, sf_dir):
        import duckdb

        from waimak_spark.catalog.streaming import (
            STREAMING_STATEFUL_TOTALS_ORACLE,
            streaming_running_totals_stateful,
        )

        got = [(r.user_id, r.n_events, r.total_value) for r in
               streaming_running_totals_stateful(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view events as "
                    f"select * from '{sf_dir}/events.parquet'")
        want = [tuple(r) for r in
                con.execute(STREAMING_STATEFUL_TOTALS_ORACLE).fetchall()]
        assert len(got) == len(want) > 0
        for (gu, gn, gt), (wu, wn, wt) in zip(got, want):
            assert (gu, gn) == (wu, wn)
            assert gt == pytest.approx(wt, abs=1e-3)

    def test_extraction_invariant_to_batch_split(self, spark, tmp_path):
        """Force multiple micro-batches (maxFilesPerTrigger=1 over two
        files) and check the max-n extraction still equals the batch
        totals — the determinism claim the catalog entry's docstring
        makes."""
        from waimak_spark.streaming.ops import stateful_running_totals

        src = str(tmp_path / "in_se")
        _write_batch(spark, src, ROWS1)
        _write_batch(spark, src, ROWS2)
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = (stateful_running_totals(stream, "user_id", "value")
             .writeStream.format("memory").queryName("se_tbl")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt_se"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rows = spark.sql("select * from se_tbl").collect()
        finals = {}
        for r in rows:
            if (r.user_id not in finals
                    or r.n_events > finals[r.user_id][0]):
                finals[r.user_id] = (r.n_events, r.total_value)
        batch = {r.user_id: (r.n, r.t) for r in
                 spark.read.parquet(src).groupBy("user_id")
                 .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
                 .collect()}
        assert set(finals) == set(batch)
        for u in finals:
            assert finals[u][0] == batch[u][0]
            assert finals[u][1] == pytest.approx(batch[u][1], abs=1e-9)


class TestSlidingWindowEntry:
    def test_matches_oracle_and_overlap_property(self, spark, sf_dir):
        """Sliding 10-min/5-min windows: lockstep with the containment
        oracle, and every event lands in EXACTLY two windows (the
        overlap tumbling cannot express): sum of per-window counts is
        twice the event count."""
        import duckdb

        from waimak_spark.catalog.streaming import (
            STREAMING_SLIDING_ORACLE,
            streaming_sliding_counts,
        )

        got = [(r.window_start, r.event_type, r.n, r.sum_value) for r in
               streaming_sliding_counts(spark, sf_dir)
               .orderBy("window_start", "event_type").collect()]
        con = duckdb.connect()
        con.execute(f"create view events as "
                    f"select * from '{sf_dir}/events.parquet'")
        want = [tuple(r) for r in con.execute(
            STREAMING_SLIDING_ORACLE
            + " order by window_start, event_type").fetchall()]
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-3)
        n_events = spark.read.parquet(
            f"{sf_dir}/events.parquet").count()
        assert sum(g[2] for g in got) == 2 * n_events
