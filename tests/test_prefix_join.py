"""Exact set-similarity join with lossless prefix filtering (Bayardo,
Ma & Srikant 2007, WWW) — the provably-complete counterpart to the
heuristic LSH/df-cap candidate generators.  The reference (waimak) has
no similarity surface; this is the training-data-pipeline extension
family, with its oracle lockstep here."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from waimak_spark.functions.dedup import (
    PPJOIN_TAU,
    jaccard_prefix_join,
    jaccard_prefix_join_sql,
)


def _py_shingles(text: str, n: int = 3) -> list[str]:
    toks = [t for t in text.lower().split() if t]
    return list(dict.fromkeys(
        " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))


def _py_all_pairs(texts: dict[int, str], tau: float = PPJOIN_TAU,
                  n: int = 3):
    """Brute-force reference: EVERY pair's exact Jaccard, no pruning —
    the completeness yardstick the prefix filter must reproduce."""
    sets = {i: set(_py_shingles(t, n)) for i, t in texts.items()
            if t is not None}
    out = {}
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and round(inter / union, 4) >= tau:
                out[(a, b)] = (inter, round(inter / union, 4))
    return out


class TestPrefixJoinOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.text import (
            _jaccard_prefix_oracle,
            dedup_jaccard_prefix,
        )

        got = [tuple(r) for r in
               dedup_jaccard_prefix(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_jaccard_prefix_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want

    def test_complete_vs_brute_force_on_testdata(self, spark, sf_dir):
        """The lossless claim, on the real corpus: the prefix-filtered
        join emits EXACTLY the pairs a no-pruning all-pairs scan finds
        at the same threshold."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        texts = {r.doc_id: r.text for r in
                 docs.select("doc_id", "text").collect()}
        want = _py_all_pairs(texts)
        got = {(r.doc_a, r.doc_b): (r.shared, r.jaccard)
               for r in jaccard_prefix_join(docs).collect()}
        assert got == want
        assert len(got) > 0

    def test_matches_brute_force_at_other_taus(self, spark):
        texts = {0: "a b c d e f g h", 1: "a b c d e f g x",
                 2: "a b c d e f y z", 3: "p q r s t u v w",
                 4: "p q r s t u v w", 5: None, 6: "one two"}
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        for tau in (0.3, 0.5, 0.8):
            want = _py_all_pairs(texts, tau)
            got = {(r.doc_a, r.doc_b): (r.shared, r.jaccard)
                   for r in jaccard_prefix_join(df, tau=tau).collect()}
            assert got == want, tau

    @settings(max_examples=20, deadline=None)
    @given(st.lists(st.lists(st.sampled_from("abcdef"), min_size=3,
                             max_size=10), min_size=2, max_size=8),
           st.sampled_from([0.25, 0.5, 0.75]))
    def test_property_prefix_filter_is_complete(self, docs, tau):
        """Pure-Python completeness property: for random tiny corpora
        and thresholds, the prefix-filtered candidate set covers every
        qualifying pair (the theorem the operator rests on)."""
        texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
        import math

        sets = {i: _py_shingles(t) for i, t in texts.items()}
        dfreq: dict[str, int] = {}
        for s in sets.values():
            for sh in s:
                dfreq[sh] = dfreq.get(sh, 0) + 1
        import hashlib

        def prefix(s):
            ordered = sorted(s, key=lambda sh: (
                dfreq[sh], hashlib.md5(sh.encode()).hexdigest()))
            keep = len(s) - math.ceil(len(s) * tau) + 1
            return set(ordered[:keep])

        for (a, b) in _py_all_pairs(texts, tau):
            assert prefix(sets[a]) & prefix(sets[b]), (
                f"qualifying pair ({a},{b}) missed by prefix filter")

    def test_short_and_null_docs_excluded(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="one two"),     # < n tokens: empty set
             Row(doc_id=1, text=None),
             Row(doc_id=2, text="x y z w"), Row(doc_id=3, text="x y z w")])
        got = [tuple(r) for r in jaccard_prefix_join(df).collect()]
        assert got == [(2, 3, 2, 1.0)]


class TestCollapsedComposition:
    """`jaccard_prefix_join_collapsed` (VERDICT r9 #4): the
    exact-dedup → prefix-join-on-representatives → fan-back
    composition must be OUTPUT-IDENTICAL to the raw operator — the raw
    form is the oracle, and the corpora here carry real exact-duplicate
    multiplicity (the regime the composition exists for)."""

    # 3 copies of one text, 2 of another, a near-dup pair, two distinct
    # texts sharing an identical shingle SET via an n-boundary trick is
    # impossible at word level, so the J=1-across-classes case uses
    # token-identical different-whitespace texts (same tokens -> same
    # shingles, different md5(text) -> different classes)
    MULTIPLICITY_CORPUS = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta epsilon",
        3: "one two three four five six",
        4: "one two three four five six",
        5: "one two three four five seven",   # near-dup of 3/4
        6: "alpha  beta gamma delta epsilon",  # same tokens as class 0
        7: "totally unrelated words here now",
        8: "one two",                          # < n tokens
        9: None,
    }

    def _identity(self, spark, texts, tau):
        from waimak_spark.functions.dedup import (
            jaccard_prefix_join_collapsed,
        )

        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        raw = [tuple(r) for r in
               jaccard_prefix_join(df, tau=tau).collect()]
        composed = [tuple(r) for r in
                    jaccard_prefix_join_collapsed(df, tau=tau).collect()]
        assert composed == raw
        return raw

    def test_output_identical_on_multiplicity_corpus(self, spark):
        got = self._identity(spark, self.MULTIPLICITY_CORPUS, PPJOIN_TAU)
        # the corpus genuinely exercises every leg: intra-class pairs
        # (J=1 within the copies), an inter-class J=1 pair (class 0 vs
        # the whitespace variant), and a near-dup inter-class pair
        assert (0, 1) in {(a, b) for a, b, *_ in got}
        assert (0, 6) in {(a, b) for a, b, *_ in got}
        assert len(got) >= 6

    def test_output_identical_at_lower_tau(self, spark):
        self._identity(spark, self.MULTIPLICITY_CORPUS, 0.5)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.lists(st.sampled_from("abcd"), min_size=3,
                             max_size=7), min_size=2, max_size=6),
           st.sampled_from([0.5, 0.75]),
           st.lists(st.integers(0, 5), min_size=0, max_size=4))
    def test_property_identity_with_random_duplication(self, docs, tau,
                                                       dup_of):
        """Random corpora with random exact-duplicate injection: the
        composition equals the raw operator on every draw."""
        from waimak_spark.functions.dedup import (
            jaccard_prefix_join_collapsed,
        )

        texts = {i: " ".join(d) for i, d in enumerate(docs)}
        base_n = len(texts)
        for j, src in enumerate(d for d in dup_of if d < base_n):
            texts[base_n + j] = texts[src]
        spark = self._spark
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        raw = sorted(map(tuple, jaccard_prefix_join(df, tau=tau)
                         .collect()))
        composed = sorted(map(tuple,
                              jaccard_prefix_join_collapsed(df, tau=tau)
                              .collect()))
        assert composed == raw

    @pytest.fixture(autouse=True)
    def _grab_spark(self, spark):
        self._spark = spark

    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        """The catalog wrapper runs the composition on the DOUBLED
        documents table (multiplicity >= 2 everywhere) and must match
        the raw SQL oracle over the same doubled corpus."""
        from waimak_spark.catalog.text import (
            _jaccard_prefix_collapsed_oracle,
            dedup_jaccard_prefix_collapsed,
        )

        got = [tuple(r) for r in
               dedup_jaccard_prefix_collapsed(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in con.execute(
            _jaccard_prefix_collapsed_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-9)

    def test_plan_stays_jvm(self, spark, sf_dir):
        from waimak_spark.catalog.text import (
            dedup_jaccard_prefix_collapsed,
        )

        plan = (dedup_jaccard_prefix_collapsed(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestPrefixJoinPlan:
    def test_no_python_no_cartesian_partial_aggs(self, spark, sf_dir):
        """All JVM: the df/sizes aggregates partial-aggregate map-side,
        the prefix rank is a per-document window (no hot global key),
        and the candidate join is an equi-join on the prefix shingle —
        no Python stages, no cross joins."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (jaccard_prefix_join(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "partial_count" in plan
