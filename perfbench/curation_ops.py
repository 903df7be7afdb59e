"""curation_ops: laps over three catalog entries.

Each entry is built by its catalog function and forced with the ``noop``
sink; operator caches are released between entries.  The lap order is
derived from the seed.  The entries split three ways:

* a driver loop, where construction dominates: bpe_merges;
* a scan, where execution dominates: corpus_distinct_hll;
* the Python/Arrow boundary: dedup_semantic_kmeans.

The inputs are generated once, untimed; set-up warms the Python worker
pool that the Arrow-batched entries share.

The untimed first lap collects every entry and compares it with its
catalog DuckDB oracle by value hash; ``bpe_merges`` has no oracle and is
compared with its own first-lap hash at the end of the run.

The lap time is a sum of per-entry medians, each over the runs of the entry
that lost the least CPU to other guests of the host
(``common.quiet_median``).
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np

import datagen
from common import cpu_times, median, quiet_median, rts, steal_share, timed
from waimak_spark.catalog import ALL_ENTRIES, EXTRA_ENTRIES, RETIRED_ENTRIES
from waimak_spark.functions.cache_registry import release_tracked

SF = 0.001
ENTRIES = ("bpe_merges", "corpus_distinct_hll", "dedup_semantic_kmeans")


def entry_fn(name: str):
    for registry in (ALL_ENTRIES, RETIRED_ENTRIES):
        if name in registry:
            return registry[name]["fn"]
    if name in EXTRA_ENTRIES:
        return EXTRA_ENTRIES[name]
    raise SystemExit(f"unknown catalog entry: {name}")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bool):
        return int(v)
    return v


def canonical(rows, columns) -> list[tuple]:
    """Rows with columns in name order, sorted with the float columns last
    in the key, so a last-digit float difference cannot reorder rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]

    def key(t):
        exact = [x for x in t if not isinstance(x, float)]
        floats = [x for x in t if isinstance(x, float)]
        return tuple((x is None, str(x)) for x in exact) + tuple(floats)

    return sorted(out, key=key)


def value_hash(rows, columns) -> str:
    return hashlib.sha256(repr(canonical(rows, columns)).encode()).hexdigest()


def same_values(a: list[tuple], b: list[tuple], tol: float = 1.5e-4) -> bool:
    """Row sets equal, floats within ``tol``: the catalog rounds float
    outputs to four places, and a one-ulp difference between engines can
    flip that last digit."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=tol):
                    return False
            elif x != y:
                return False
    return True


def warm_session(spark) -> None:
    """Python-worker warm-up shared by every entry: the first Arrow-batched
    UDF otherwise pays the worker pool's spawn."""
    n = spark.sparkContext.defaultParallelism
    (spark.range(n * 2).repartition(n * 2)
     .mapInPandas(lambda it: it, "id long").count())


class CurationOps:
    name = "curation_ops"
    min_ops = 3

    def __init__(self, ctx, entries=ENTRIES):
        self.ctx = ctx
        self.entries = tuple(entries)
        self.data = os.path.join(ctx.dirs.data, "catalog")
        self.laps = 0
        self.bpe_hash = None

    def prepare(self) -> None:
        datagen.generate(self.data, self.ctx.seed, self.ctx.sf or SF)

    def setup(self) -> None:
        warm_session(self.ctx.spark)

    def lap_order(self) -> list[str]:
        self.laps += 1
        rng = np.random.default_rng([self.ctx.seed, 41, self.laps])
        return [self.entries[i] for i in rng.permutation(len(self.entries))]

    def _release(self) -> None:
        release_tracked()
        self.ctx.spark.catalog.clearCache()

    # -- one traced or untimed entry ----------------------------------------------
    def run_entry(self, name: str, run_id: str, traced: bool) -> dict:
        """Construct, (when traced) plan, and sink one entry.  Traced phases
        are spans whose Spark jobs carry the job group
        ``<run_id>:<entry>:<phase>``."""
        spark = self.ctx.spark
        sc = spark.sparkContext
        fn = entry_fn(name)
        rec: dict = {"entry": name}

        def phase(kind, body):
            if not traced:
                return timed(body)
            group = f"{run_id}:{name}:{kind}"
            with self.ctx.spans.span(f"{kind}:{name}", run_id,
                                     self.ctx.op_span, group=group):
                sc.setJobGroup(group, f"{kind} {name}")
                return timed(body)

        rts0, cpu0 = rts(), cpu_times()
        rec["construct_t0"] = time.time()
        df, rec["construct_s"] = phase("construct", lambda: fn(spark, self.data))
        rec["construct_t1"] = time.time()
        rec["rts"] = rts() - rts0
        if traced:
            _, rec["plan_s"] = phase(
                "plan", lambda: df._jdf.queryExecution().executedPlan())
        _, rec["exec_s"] = phase(
            "sink", lambda: df.write.format("noop").mode("overwrite").save())
        rec["steal"] = steal_share(cpu0, cpu_times())
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self._release()
        return rec

    def op(self, run_id: str, traced: bool) -> dict:
        recs = [self.run_entry(n, run_id, traced) for n in self.lap_order()]
        return {"lap_s": sum(r["construct_s"] + r["exec_s"] for r in recs),
                "entries": recs}

    # -- output checks ------------------------------------------------------------
    def warmup(self) -> list[str]:
        """Untimed first lap: every entry collected and compared with its
        catalog DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"create view {t} as select * "
                        f"from '{self.data}/{t}.parquet'")
        bad = []
        for name in self.lap_order():
            df = entry_fn(name)(self.ctx.spark, self.data)
            got = canonical([tuple(r) for r in df.collect()], df.columns)
            self._release()
            oracle = ALL_ENTRIES[name].get("oracle")
            if oracle is None:
                self.bpe_hash = value_hash(got, sorted(df.columns))
                continue
            res = con.execute(oracle)
            want = canonical(res.fetchall(), [d[0] for d in res.description])
            if not same_values(got, want):
                bad.append(f"{name}: values differ from its oracle")
        return bad

    def check(self) -> list[str]:
        if self.bpe_hash is None:
            return []
        df = entry_fn("bpe_merges")(self.ctx.spark, self.data)
        got = value_hash([tuple(r) for r in df.collect()], df.columns)
        self._release()
        return [] if got == self.bpe_hash else ["bpe_merges: hash changed"]

    # -- metrics ------------------------------------------------------------------
    @staticmethod
    def entry_p50(ops: list[dict], name: str) -> tuple[float, int]:
        return quiet_median((r["construct_s"] + r["exec_s"], r["steal"])
                            for o in ops for r in o["entries"]
                            if r["entry"] == name)

    def op_p50(self, ops: list[dict]) -> float:
        """Lap time from per-entry medians: each entry contributes the
        median of its timed runs, so one disturbed entry moves one term."""
        return sum(self.entry_p50(ops, name)[0] for name in self.entries)

    def detail(self, ops: list[dict]) -> dict:
        out = {"curation_lap_s": (self.op_p50(ops), "s", len(ops))}
        for name in self.entries:
            value, n = self.entry_p50(ops, name)
            out[f"curation.{name}.entry_s"] = (value, "s", n)
        return out

    def layers(self, traced: list[dict]) -> dict:
        out = {}
        recs = [r for o in traced for r in o["entries"]]
        for name in self.entries:
            mine = [r for r in recs if r["entry"] == name]
            for k in ("construct_s", "rts", "plan_s", "exec_s"):
                out[f"curation.{name}.{k}"] = (
                    median(r[k] for r in mine), "count" if k == "rts" else "s")
        out["curation.rts_total"] = (
            median(sum(r["rts"] for r in o["entries"]) for o in traced), "count")
        return out
