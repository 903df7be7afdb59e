"""Fixed-size weighted sampling without replacement (Efraimidis &
Spiliotis 2006, IPL 97(5): priority / A-ES sampling) — the
fixed-budget counterpart to weighted_sample_keep's Bernoulli thinning.
The reference (waimak) has no sampling surface; this is the
training-data-pipeline extension family, with its oracle lockstep
here."""

import hashlib
import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from waimak_spark.functions.curation import (
    priority_sample_k,
    priority_sample_k_sql,
)


def _py_key(doc_id: int, weight: float, seed: int = 1) -> float:
    u = (int(hashlib.md5(f"{seed}:{doc_id}".encode())
             .hexdigest()[:8], 16) + 1) / 4294967297.0
    return round(math.log(u) / weight, 6) + 0.0


def _py_select(weights: dict[int, float], k: int, seed: int = 1):
    """Reference: top-k by (rounded key desc, id asc) over positive
    weights."""
    keyed = [(_py_key(i, w, seed), i) for i, w in weights.items()
             if w is not None and w > 0]
    keyed.sort(key=lambda t: (-t[0], t[1]))
    return keyed[:k]


class TestPrioritySample:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            _priority_topk_oracle,
            sample_priority_topk,
        )

        got = [tuple(r) for r in
               sample_priority_topk(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_priority_topk_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want
        # the -0.0 fold must hold bit-for-bit, not just == (a
        # value-hashing comparator formats "-0" differently)
        for g, w in zip(got, want):
            assert math.copysign(1, g[3]) == math.copysign(1, w[3])

    def test_matches_pure_python_reference(self, spark):
        weights = {0: 10.0, 1: 1.0, 2: 1000.0, 3: 0.5, 4: None,
                   5: -2.0, 6: 0.0, 7: 3.25}
        df = spark.createDataFrame(
            [Row(doc_id=i, w=w) for i, w in weights.items()])
        got = [(r.priority_key, r.doc_id) for r in
               priority_sample_k(df, F.col("w"), k=4).collect()]
        assert got == _py_select(weights, 4)

    def test_k_larger_than_corpus_returns_all_positive(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, w=1.0), Row(doc_id=1, w=None),
             Row(doc_id=2, w=2.0)])
        got = priority_sample_k(df, F.col("w"), k=100).collect()
        assert sorted(r.doc_id for r in got) == [0, 2]

    def test_weight_signal_survives_on_testdata(self, spark, sf_dir):
        """Inclusion probability must actually track the weight: the
        selected docs' mean length sits above the corpus mean."""
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "n_chars"))
        sel = priority_sample_k(docs, F.col("n_chars"), k=100)
        mean_sel = sel.agg(F.avg("n_chars")).first()[0]
        mean_all = docs.agg(F.avg("n_chars")).first()[0]
        assert mean_sel > mean_all

    @settings(max_examples=40, deadline=None)
    @given(st.integers(min_value=0, max_value=10 ** 6))
    def test_property_heavier_item_wins_more_seeds(self, seed_base):
        """Pure-Python A-ES property: across seeds, an item with 50x
        the weight beats the light item in the vast majority of
        pairwise contests (P(heavy first) = 50/51 exactly for
        exponential clocks; the md5-derandomised form tracks it)."""
        wins = sum(
            1 for s in range(seed_base, seed_base + 40)
            if _py_select({1: 50.0, 2: 1.0}, 1, seed=s)[0][1] == 1)
        assert wins >= 30

    def test_determinism_and_seed_sensitivity(self, spark, sf_dir):
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "n_chars"))
        a = [r.doc_id for r in
             priority_sample_k(docs, F.col("n_chars"), 50, seed=3)
             .collect()]
        b = [r.doc_id for r in
             priority_sample_k(docs, F.col("n_chars"), 50, seed=3)
             .collect()]
        c = [r.doc_id for r in
             priority_sample_k(docs, F.col("n_chars"), 50, seed=4)
             .collect()]
        assert a == b
        assert a != c


class TestPrioritySamplePlan:
    def test_map_only_take_ordered(self, spark, sf_dir):
        """The 100 TB shape: scoring is map-only and selection is
        TakeOrderedAndProject (per-partition top-k, k-row merge) — no
        Exchange anywhere, no Python stages."""
        from waimak_spark.catalog.curation import sample_priority_topk

        plan = (sample_priority_topk(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
