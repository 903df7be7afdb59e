"""Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
SIGMOD — the MOSS algorithm).  The reference (waimak) has no text
surface; this extends the fingerprinting family (doc_fingerprint is the
single-global-min form).  Strategy: DuckDB lockstep, a pure-Python
reference, the paper's two guarantees (window coverage; shared-run
detection), the density expectation, and a hypothesis property."""

import hashlib

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from waimak_spark.functions.text import (
    WINNOW_K,
    WINNOW_SEED,
    WINNOW_W,
    winnow_fingerprints,
    winnow_fingerprints_sql,
)


def _h(gram: str, seed: int = WINNOW_SEED) -> int:
    return int(hashlib.md5(f"{seed}:{gram}".encode()).hexdigest()[:8], 16)


def _py_winnow(text: str, k: int = WINNOW_K, w: int = WINNOW_W,
               seed: int = WINNOW_SEED) -> set[tuple]:
    toks = [t for t in text.lower().split() if t]
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    gh = [_h(g, seed) for g in grams]
    if not gh:
        return set()
    out = set()
    for i in range(max(len(gh) - w + 1, 1)):
        win = gh[i:i + w]
        m = min(win)
        idx = max(j for j, v in enumerate(win) if v == m)
        out.add((i + idx + 1, m))  # 1-based global gram position
    return out


class TestWinnowOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.text import (
            _winnow_oracle,
            doc_winnow_fingerprints,
        )

        got = [tuple(r) for r in
               doc_winnow_fingerprints(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_winnow_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want

    def test_density_near_expectation(self, spark, sf_dir):
        """Expected fingerprint density is 2/(w+1) of the gram count
        (the paper's Theorem in §4) — the testdata corpus must land
        near it, proving the selection is genuinely local (a global-min
        scheme would give density ~1/n_grams)."""
        from waimak_spark.catalog.text import doc_winnow_fingerprints

        n_fps = doc_winnow_fingerprints(spark, sf_dir).count()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        from pyspark.sql import functions as F

        from waimak_spark.functions.text import shingles_sexpr, tokens_sexpr

        n_grams = (docs.where("text is not null")
                   .selectExpr(f"{tokens_sexpr('text')} as t")
                   .selectExpr(f"size({shingles_sexpr('t', WINNOW_K)}) as n")
                   .agg(F.sum(F.greatest(F.col("n"), F.lit(0))))
                   .collect()[0][0])
        density = n_fps / n_grams
        assert 0.5 * 2 / (WINNOW_W + 1) < density < 2.0 * 2 / (WINNOW_W + 1)


class TestWinnowSemantics:
    def _fps(self, spark, texts: dict) -> dict:
        df = spark.createDataFrame(
            [Row(doc_id=d, text=t) for d, t in sorted(texts.items())],
            schema="doc_id long, text string")
        out = {}
        for r in winnow_fingerprints(df).collect():
            out.setdefault(r.doc_id, set()).add((r.pos, r.fp))
        return out

    def test_matches_pure_python_reference(self, spark):
        texts = {1: "the quick brown fox jumps over the lazy dog today",
                 2: "a b c", 3: "one two", 4: None, 5: "   ",
                 6: "x " * 20}
        got = self._fps(spark, texts)
        want = {d: _py_winnow(t) for d, t in texts.items()
                if t is not None and _py_winnow(t)}
        assert got == want
        # doc 2 has exactly one gram -> one fingerprint at pos 1
        assert got[2] == {(1, _h("a b c"))}
        # doc 3 has < k tokens -> no grams -> absent
        assert 3 not in got

    def test_window_coverage_guarantee(self, spark, sf_dir):
        """Every window of w consecutive grams contains >= 1 selected
        position — winnowing's defining local-coverage property (checked
        in pure Python against real corpus text)."""
        rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .where("text is not null").limit(30).collect())
        for r in rows:
            fps = _py_winnow(r.text)
            toks = [t for t in r.text.lower().split() if t]
            n_grams = len(toks) - WINNOW_K + 1
            if n_grams < 1:
                continue
            pos = {p for p, _ in fps}
            for i in range(1, max(n_grams - WINNOW_W + 2, 2)):
                assert any(i <= p < i + WINNOW_W for p in pos), (
                    f"window at {i} uncovered for doc {r.doc_id}")

    def test_shared_run_yields_shared_fingerprint(self, spark):
        """The MOSS guarantee: two documents sharing a token run of
        length >= w + k - 1 share at least one fingerprint VALUE."""
        shared = "alpha beta gamma delta epsilon zeta"  # 6 >= 4+3-1
        texts = {1: f"completely different prefix {shared}",
                 2: f"{shared} and another unrelated suffix here",
                 3: "nothing in common with either document at all"}
        got = self._fps(spark, texts)
        f1 = {fp for _, fp in got[1]}
        f2 = {fp for _, fp in got[2]}
        f3 = {fp for _, fp in got[3]}
        assert f1 & f2, "shared run produced no shared fingerprint"
        assert not (f1 & f3) and not (f2 & f3)

    def test_rightmost_tie_break(self, spark):
        """A repeated gram whose hash ties within a window selects the
        RIGHTMOST occurrence (the paper's rule) — pinned via a text
        where the same gram appears twice inside one window."""
        # 'x x x x x x' -> grams all identical -> every window's min is
        # the same hash; rightmost-in-window selection walks forward
        texts = {1: "x x x x x x x x"}
        got = self._fps(spark, texts)[1]
        assert got == _py_winnow(texts[1])
        # 8 tokens -> 6 identical grams; every window's min ties, so the
        # rightmost slot of each window is selected: windows starting at
        # 1..3 pick positions 4..6 — position 1-3 must NEVER be selected
        assert {p for p, _ in got} == {WINNOW_W, WINNOW_W + 1, WINNOW_W + 2}
        assert all(fp == _h("x x x") for _, fp in got)

    def test_param_validation(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
        with pytest.raises(ValueError, match="must be >= 1"):
            winnow_fingerprints(df, k=0)
        with pytest.raises(ValueError, match="must be >= 1"):
            winnow_fingerprints(df, w=0)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.sampled_from("aa bb cc dd ee".split()),
                    min_size=0, max_size=25))
    def test_property_matches_reference(self, toks):
        from pyspark.sql import SparkSession

        spark = (SparkSession.getActiveSession()
                 or SparkSession.builder.getOrCreate())
        text = " ".join(toks)
        df = spark.createDataFrame([Row(doc_id=1, text=text)],
                                   schema="doc_id long, text string")
        got = {(r.pos, r.fp) for r in winnow_fingerprints(df).collect()}
        assert got == _py_winnow(text)


class TestWinnowPlan:
    def test_plan_stays_jvm_no_cartesian(self, spark, sf_dir):
        from waimak_spark.catalog.text import doc_winnow_fingerprints

        plan = (doc_winnow_fingerprints(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
