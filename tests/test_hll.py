"""HyperLogLog distinct counting (Flajolet et al. 2007) — the
distinct-counting sibling of the count-min sketch.  The reference
(waimak) has no sketch surface; this is the training-data-pipeline
extension family, with its oracle lockstep here."""

import hashlib
import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from waimak_spark.functions.sketch import (
    HLL_M,
    HLL_P,
    HLL_SEED_REG,
    HLL_SEED_RHO,
    HLL_W,
    _hll_alpha,
    hll_distinct_grams,
    hll_distinct_grams_sql,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _py_hash(item: str, seed: int) -> int:
    return int(hashlib.md5(f"{seed}:{item}".encode())
               .hexdigest()[:8], 16)


def _py_registers(items, p: int = HLL_P, w: int = HLL_W) -> dict:
    """Independent reference: the same seeded-md5 registers in pure
    Python (register = max rho; rho = 1 + leading zeros of the w-bit
    value hash)."""
    m = 1 << p
    regs: dict[int, int] = {}
    for it in items:
        if it is None:
            continue
        j = _py_hash(it, HLL_SEED_REG) % m
        v = _py_hash(it, HLL_SEED_RHO) % (1 << w)
        rho = (w + 1) if v == 0 else (w + 1) - len(bin(v)[2:])
        regs[j] = max(regs.get(j, 0), rho)
    return regs


def _py_estimate(regs: dict, p: int = HLL_P) -> float:
    """The same estimator arithmetic, same operation order."""
    m = 1 << p
    occ = len(regs)
    s = sum(2.0 ** -r for r in regs.values()) + (m - occ)
    raw = _hll_alpha(m) * float(m * m) / s
    if raw <= 2.5 * m and (m - occ) > 0:
        return round(float(m) * math.log(float(m) / (m - occ)), 4)
    return round(raw, 4)


def _py_grams(text: str, n: int = 3) -> list[str]:
    toks = [t for t in text.lower().split() if t]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


class TestHllOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.text import (
            _distinct_hll_oracle,
            corpus_distinct_hll,
        )

        got = [tuple(r) for r in
               corpus_distinct_hll(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_distinct_hll_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want

    def test_within_tol_on_testdata(self, spark, sf_dir):
        """The certification gate holds at the real register fill: every
        language's estimate is within 5% of the exact distinct count
        (std err at m=4096 is ~1.6%)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = hll_distinct_grams(docs).collect()
        assert len(rows) > 0
        assert all(r.within_tol == 1 for r in rows)
        assert all(r.n_est > 0 and r.n_exact > 0 for r in rows)

    def test_registers_match_pure_python(self, spark):
        texts = ["the quick brown fox jumps", "the quick brown cow",
                 "unique words appear exactly once here",
                 None, ""]
        df = spark.createDataFrame(
            [Row(doc_id=i, gram=g) for i, t in enumerate(texts)
             if t for g in _py_grams(t)])
        got = {r.j: r.r for r in hll_registers(df, "gram").collect()}
        want = _py_registers(
            [g for t in texts if t for g in _py_grams(t)])
        assert got == want
        [e] = hll_estimate(hll_registers(df, "gram")).collect()
        assert abs(e.n_est - _py_estimate(want)) <= 1e-4

    def test_raw_branch_matches_pure_python(self, spark):
        """Small m forces the raw harmonic-mean branch (E_raw > 2.5m);
        the branch condition and estimate are exact doubles, so the
        comparison is exact up to the final 4dp round."""
        p, w = 4, 20
        items = [f"item-{i}" for i in range(400)]
        df = spark.createDataFrame([Row(gram=g) for g in items])
        regs = _py_registers(items, p, w)
        assert len(regs) == 1 << p  # every register occupied -> raw path
        [e] = hll_estimate(hll_registers(df, "gram", p=p, w=w),
                           p=p).collect()
        assert abs(e.n_est - _py_estimate(regs, p)) <= 1e-4

    def test_merge_equals_sketch_of_union(self, spark, sf_dir):
        """Mergeability — the property that lets 1000 executors sketch
        shards independently: per-register max over two shard sketches
        is EXACTLY the sketch of the union."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        g = docs.where("text is not null").selectExpr(
            "doc_id", "explode(filter(split(lower(text), '\\\\s+'), "
            "x -> length(x) > 0)) as gram")
        a = hll_registers(g.where("doc_id % 2 = 0"), "gram")
        b = hll_registers(g.where("doc_id % 2 = 1"), "gram")
        merged = {(r.j, r.r) for r in hll_merge(a, b).collect()}
        full = {(r.j, r.r) for r in hll_registers(g, "gram").collect()}
        assert merged == full

    def test_nulls_and_empty_groups_contribute_nothing(self, spark):
        df = spark.createDataFrame(
            [Row(gram=None), Row(gram="a"), Row(gram="a")])
        regs = hll_registers(df, "gram").collect()
        assert len(regs) == 1  # the two "a" rows collapse, null dropped

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.text(alphabet="abcd", min_size=1, max_size=6),
                    min_size=0, max_size=30),
           st.lists(st.text(alphabet="abcd", min_size=1, max_size=6),
                    min_size=0, max_size=30))
    def test_property_merge_is_union(self, xs, ys):
        """Pure-Python property behind test_merge_equals_sketch_of_union:
        max-merge of shard registers == registers of the concatenation,
        in both orders (commutative) and idempotently."""
        ra, rb = _py_registers(xs, 6, 8), _py_registers(ys, 6, 8)
        merged = {j: max(ra.get(j, 0), rb.get(j, 0))
                  for j in set(ra) | set(rb)}
        assert merged == _py_registers(xs + ys, 6, 8)
        assert merged == _py_registers(ys + xs, 6, 8)
        assert {j: max(v, ra.get(j, 0))
                for j, v in merged.items()} == merged

    def test_register_frame_bounded(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        g = docs.where("text is not null").selectExpr(
            "explode(filter(split(lower(text), '\\\\s+'), "
            "x -> length(x) > 0)) as gram")
        regs = hll_registers(g, "gram").collect()
        assert len(regs) <= HLL_M
        assert all(0 <= r.j < HLL_M and 1 <= r.r <= HLL_W + 1
                   for r in regs)
        keys = [r.j for r in regs]
        assert len(keys) == len(set(keys))


class TestHllPlan:
    def test_no_python_no_cartesian(self, spark, sf_dir):
        """The whole family is JVM expressions: the register build is
        one keyed max (map-side partial agg collapses duplicates), the
        estimate one keyed sum — no Python stages, no cross joins; the
        exact-vs-estimate join is a plain hash join on the tiny group
        key."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (hll_distinct_grams(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_registers_partial_aggregate(self, spark, sf_dir):
        """The register build must show a two-phase hash aggregate
        (partial_max before the exchange) so repeated grams collapse on
        the mappers and the shuffle carries at most m rows per group
        per mapper."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        g = docs.where("text is not null").selectExpr(
            "lang", "explode(filter(split(lower(text), '\\\\s+'), "
            "x -> length(x) > 0)) as gram")
        plan = (hll_registers(g, "gram", ("lang",))
                ._jdf.queryExecution().executedPlan().toString())
        assert "partial_max" in plan


class TestStreamingHll:
    """Streaming HLL entry (catalog/streaming.py): the HLL
    registers as bounded Structured-Streaming state — final state must
    equal the batch sketch EXACTLY (register max is associative/
    commutative/idempotent, so micro-batch splits are invisible),
    which is why the entry shares the batch oracle verbatim."""

    def test_streaming_matches_oracle_and_batch(self, spark, sf_dir):
        from waimak_spark.catalog.streaming import (
            _streaming_hll_oracle,
            streaming_distinct_hll,
        )
        from waimak_spark.catalog.text import corpus_distinct_hll

        got = [tuple(r) for r in
               streaming_distinct_hll(spark, sf_dir).collect()]
        batch = [tuple(r) for r in
                 corpus_distinct_hll(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_streaming_hll_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want
        assert got == batch

    def test_streaming_state_is_bounded(self, spark, sf_dir):
        """The production point: the drained register table holds at
        most m rows per group however long the stream ran — the state
        an exact streaming count-distinct could never bound."""
        import pyspark.sql.functions as F
        from waimak_spark.catalog.streaming import streaming_distinct_hll

        streaming_distinct_hll(spark, sf_dir)  # builds + drains
        # the sink itself lives in a throwaway child session; re-derive
        # the bound from the batch registers the stream must equal
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        g = docs.where("text is not null and lang is not null").selectExpr(
            "lang as grp",
            "explode(filter(split(lower(text), '\\\\s+'), "
            "x -> length(x) > 0)) as gram")
        regs = hll_registers(g, "gram", ("grp",))
        per_group = regs.groupBy("grp").count().collect()
        assert all(r["count"] <= HLL_M for r in per_group)


class TestCertifyFastPath:
    """Round-12 (VERDICT r11 #9): certify=False returns (group, n_est)
    from the registers alone — no persist, no exact count-distinct —
    and the estimates match the certified report's n_est bit-for-bit
    (same hll_estimate expression)."""

    def test_estimates_match_certified(self, spark, sf_dir):
        from waimak_spark.functions.sketch import hll_distinct_grams

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        certified = {r["lang"]: r["n_est"]
                     for r in hll_distinct_grams(docs).collect()}
        fast = {r["lang"]: r["n_est"]
                for r in hll_distinct_grams(docs,
                                            certify=False).collect()}
        assert fast == certified and len(fast) > 0

    def test_fast_path_plan_has_no_exact_side(self, spark, sf_dir):
        from waimak_spark.functions.sketch import hll_distinct_grams
        from waimak_spark.functions.cache_registry import \
            release_tracked

        # the certified runs above may have left their persisted
        # projection cached; the cache manager would transparently
        # substitute it into the fast path's identical subplan and
        # fake an InMemoryRelation here
        release_tracked()
        spark.catalog.clearCache()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = hll_distinct_grams(docs, certify=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan
        assert "distinct" not in plan.lower().replace(
            "array_distinct", "")
