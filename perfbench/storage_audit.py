"""storage_audit: appends, compactions and reads on one audit table.

The orders are generated once, untimed; set-up creates a fresh table and
appends every order to it.  One operation is a cycle of four steps and a
compaction.  A step opens the table, appends a seeded update batch (a slice
of orders re-stamped later with a changed price), then forces one
``snapshot(ts)`` read and one ``all_between`` range read at seeded
timestamps.  Writes and reads share the table, so a change that makes
appends cheaper by leaving more hot regions shows up as slower reads and
more bytes stored.

The cycle time is estimated from per-call medians (four of each step call
plus one compaction), so every call of a run contributes a sample.  Each
median is taken over the calls that lost the least CPU to other guests of
the host (``common.quiet_median``).
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import cpu_times, dir_bytes, median, quiet_median, steal_share
from waimak_spark.storage import AuditTableInfo, FileStorageOps
from waimak_spark.storage.audit import create_table, open_tables

SF = 0.05
TABLE = "orders_audit"
BATCH_ROWS = 5_000
STEPS_PER_CYCLE = 4
UPDATES_FROM = datetime(2002, 1, 1)
CALLS = ("open", "append", "compact", "snapshot", "range_read")
SAMPLES = (*(f"{c}_s" for c in CALLS), *(f"{c}_steal" for c in CALLS),
           "regions_hot", "regions_cold", "compact_bytes", "trash_bytes",
           "snapshot_construct_s", "snapshot_exec_s", "range_rows",
           "region_rows")
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "last_updated"]


def base_batch(seed: int, sf: float = SF) -> pa.Table:
    orders = datagen.build_tables(seed, sf, ("orders",))["orders"]
    return orders.select(COLUMNS[:-1]).append_column(
        "last_updated", orders["o_orderdate"])


def update_batch(base: pa.Table, seed: int, step: int) -> pa.Table:
    """Step ``step``'s update batch: distinct keys, a changed price, and
    stamps inside day ``step`` after UPDATES_FROM, so every key's versions
    are strictly ordered in time."""
    rng = np.random.default_rng([seed, 17, step])
    n = min(BATCH_ROWS, base.num_rows // 3)
    idx = np.sort(rng.choice(base.num_rows, n, replace=False))
    rows = base.take(pa.array(idx))
    price = np.round(rows["o_totalprice"].to_numpy()
                     + rng.integers(1, 1000, n) / 100.0, 2)
    start = np.datetime64(UPDATES_FROM + timedelta(days=step), "us").astype("int64")
    stamps = start + rng.integers(0, datagen.US_PER_DAY, n)
    return pa.table({
        "o_orderkey": rows["o_orderkey"],
        "o_custkey": rows["o_custkey"],
        "o_orderstatus": pa.array(["U"] * n, pa.string()),
        "o_totalprice": pa.array(price),
        "last_updated": pa.array(stamps, pa.timestamp("us")),
    })


def write_batch(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


class StorageAudit:
    name = "storage_audit"
    # three cycles give twelve samples of each step call: fewer left the
    # run-to-run spread at the bound on a host whose CPU is shared with
    # other guests
    min_ops = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.batches = os.path.join(ctx.dirs.data, "batches")
        self.base_path = os.path.join(ctx.dirs.work, "storage")
        self.rng = np.random.default_rng([ctx.seed, 29])
        self.steps = 0
        self.batch_files: list[str] = []
        self.user_bytes = 0
        self.range_reads: list[tuple[int, datetime, datetime, int]] = []

    # -- set-up ---------------------------------------------------------------
    def prepare(self) -> None:
        os.makedirs(self.batches)
        self.base = base_batch(self.ctx.seed, self.ctx.sf or SF)
        path = os.path.join(self.batches, "batch_00000.parquet")
        self.batch_files = [path]
        self.user_bytes = write_batch(self.base, path)

    def setup(self) -> None:
        """A fresh audit table holding every order."""
        shutil.rmtree(self.base_path, ignore_errors=True)
        spark = self.ctx.spark
        self.ops = FileStorageOps(spark, self.base_path)
        table = create_table(self.ops, AuditTableInfo(TABLE, ["o_orderkey"]))
        table.append(spark.read.parquet(self.batch_files[0]), "last_updated")

    # -- one operation ----------------------------------------------------------
    def _call(self, run_id, traced, name, fn, *a, **kw):
        """Run one storage call; when traced, as a span whose Spark jobs
        carry the span's job group."""
        if not traced:
            return fn(*a, **kw)
        spans, sc = self.ctx.spans, self.ctx.spark.sparkContext
        with spans.span(name, run_id, self.ctx.op_span) as s:
            group = f"{run_id}:{s['id']}"
            s["attrs"]["group"] = group
            sc.setJobGroup(group, f"storage {name}")
            try:
                return fn(*a, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def _sample(out: dict, call: str, t0: float, cpu0: list[int]) -> float:
        """Record one call's time and the host CPU share stolen meanwhile;
        returns the end time."""
        t1 = time.perf_counter()
        out[f"{call}_s"].append(t1 - t0)
        out[f"{call}_steal"].append(steal_share(cpu0, cpu_times()))
        return t1

    def step(self, run_id: str, traced: bool, compact: bool, out: dict) -> None:
        spark = self.ctx.spark
        self.steps += 1
        batch = update_batch(self.base, self.ctx.seed, self.steps)
        path = os.path.join(self.batches, f"batch_{self.steps:05d}.parquet")
        self.user_bytes += write_batch(batch, path)
        self.batch_files.append(path)

        t0, c0 = time.perf_counter(), cpu_times()
        tables, _ = self._call(run_id, traced, "open", open_tables,
                               self.ops, [TABLE])
        self._sample(out, "open", t0, c0)
        table = tables[TABLE]
        out["regions_hot"].append(sum(r.store_type == "hot" for r in table.regions))
        out["regions_cold"].append(sum(r.store_type == "cold" for r in table.regions))
        t0, c0 = time.perf_counter(), cpu_times()
        table, _ = self._call(run_id, traced, "append", table.append,
                              spark.read.parquet(path), "last_updated")
        self._sample(out, "append", t0, c0)
        if compact:
            t0, c0 = time.perf_counter(), cpu_times()
            table = self._call(run_id, traced, "compact", table.compact)
            self._sample(out, "compact", t0, c0)
            if traced:
                # compaction merges every region into one cold region, so
                # the table's bytes afterwards are the bytes it rewrote
                out["compact_bytes"].append(
                    dir_bytes(f"{self.base_path}/{TABLE}")[0])
                out["trash_bytes"].append(
                    dir_bytes(self.ops.trash_folder)[0])

        lo = UPDATES_FROM - timedelta(days=1)
        span_days = self.steps + 1
        snap_ts = lo + timedelta(seconds=float(self.rng.uniform(0, span_days * 86400)))
        t0, c0 = time.perf_counter(), cpu_times()
        df = self._call(run_id, traced, "snapshot.construct", table.snapshot,
                        snap_ts)
        t1 = time.perf_counter()
        self._call(run_id, traced, "snapshot.exec",
                   lambda: df.write.format("noop").mode("overwrite").save())
        t2 = self._sample(out, "snapshot", t0, c0)
        out["snapshot_construct_s"].append(t1 - t0)
        out["snapshot_exec_s"].append(t2 - t1)

        frm = lo + timedelta(seconds=float(self.rng.uniform(0, span_days * 86400)))
        to = frm + timedelta(days=2)
        t0, c0 = time.perf_counter(), cpu_times()
        rows = self._call(run_id, traced, "range_read",
                          lambda: table.all_between(frm, to).count())
        self._sample(out, "range_read", t0, c0)
        self.range_reads.append((len(self.batch_files), frm, to, rows))
        out["range_rows"].append(rows)
        # all_between prunes by region id only, so a range read scans every
        # row the active regions hold
        out["region_rows"].append(sum(r.count for r in table.regions))

    def op(self, run_id: str, traced: bool) -> dict:
        out = {k: [] for k in SAMPLES}
        for i in range(STEPS_PER_CYCLE):
            self.step(run_id, traced, i == STEPS_PER_CYCLE - 1, out)
        return out

    def warmup(self) -> list[str]:
        """Two steps and a compaction: every call of a cycle, once."""
        out = {k: [] for k in SAMPLES}
        for i in range(2):
            self.step("warmup", False, i == 1, out)
        return []

    # -- output checks ------------------------------------------------------------
    def check(self) -> list[str]:
        """The final snapshot equals a DuckDB latest-per-key query over the
        same batches; every range read's row count matches DuckDB's."""
        import duckdb

        bad = []
        tables, _ = open_tables(self.ops, [TABLE])
        got = os.path.join(self.ctx.dirs.work, "check_snapshot")
        tables[TABLE].snapshot().select(*COLUMNS).write.mode(
            "overwrite").parquet(got)
        con = duckdb.connect()

        def files(n=None):
            return ", ".join(f"'{f}'" for f in self.batch_files[:n])

        con.execute(f"create view batches as select * "
                    f"from read_parquet([{files()}])")
        cols = ", ".join(COLUMNS)
        con.execute(f"""create view oracle as select {cols} from (
            select *, row_number() over (partition by o_orderkey
                                         order by last_updated desc) as rn
            from batches) where rn = 1""")
        con.execute(f"create view got as select {cols} "
                    f"from read_parquet('{got}/*.parquet')")
        extra = con.execute("select count(*) from (select * from got except all "
                            "select * from oracle)").fetchone()[0]
        missing = con.execute("select count(*) from (select * from oracle "
                              "except all select * from got)").fetchone()[0]
        if extra or missing:
            bad.append(f"snapshot: {extra} extra rows, {missing} missing rows")
        for n_files, frm, to, rows in self.range_reads:
            want = con.execute(
                f"select count(*) from read_parquet([{files(n_files)}]) "
                "where last_updated between ? and ?", [frm, to]).fetchone()[0]
            if want != rows:
                bad.append(f"all_between({frm}, {to}): {rows} rows, "
                           f"oracle {want}")
        return bad

    # -- metrics ------------------------------------------------------------------
    @staticmethod
    def call_p50(ops: list[dict], call: str) -> tuple[float, int]:
        return quiet_median((t, s) for o in ops
                            for t, s in zip(o[f"{call}_s"], o[f"{call}_steal"]))

    def op_p50(self, ops: list[dict]) -> float:
        """Cycle time from per-call medians: four steps and a compaction."""
        step = sum(self.call_p50(ops, c)[0]
                   for c in ("open", "append", "snapshot", "range_read"))
        return STEPS_PER_CYCLE * step + self.call_p50(ops, "compact")[0]

    def detail(self, ops: list[dict]) -> dict:
        out = {}
        for c in CALLS:
            value, n = self.call_p50(ops, c)
            out[f"{c}_s_p50"] = (value, "s", n)
        table_bytes = dir_bytes(f"{self.base_path}/{TABLE}")[0]
        out["storage_bytes_per_user_byte"] = (
            table_bytes / self.user_bytes, "ratio", 1)
        return out

    def layers(self, traced: list[dict]) -> dict:
        def med(key):
            return median(x for o in traced for x in o[key])

        by_name: dict[str, list[float]] = {}
        for s in self.ctx.spans.spans:
            by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
        table_bytes, files = dir_bytes(f"{self.base_path}/{TABLE}")
        scanned = sum(x for o in traced for x in o["region_rows"])
        returned = sum(x for o in traced for x in o["range_rows"])
        return {
            "storage.open_s": (median(by_name.get("open", [])), "s"),
            "storage.snapshot.construct_s": (med("snapshot_construct_s"), "s"),
            "storage.snapshot.exec_s": (med("snapshot_exec_s"), "s"),
            "storage.regions_hot": (med("regions_hot"), "count"),
            "storage.regions_cold": (med("regions_cold"), "count"),
            "storage.files": (files, "count"),
            "storage.bytes_on_disk": (table_bytes, "bytes"),
            "storage.compact.bytes_rewritten": (med("compact_bytes"), "bytes"),
            "storage.compact.trash_bytes": (med("trash_bytes"), "bytes"),
            "storage.read.rows_scanned_per_row": (
                scanned / max(returned, 1), "ratio"),
        }
