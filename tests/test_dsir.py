"""DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169) —
hashed-n-gram target-vs-raw log-likelihood-ratio weights plus Gumbel
top-k resampling. The reference (waimak) has no data-selection surface;
this is the training-data-pipeline extension family, with its oracle
lockstep here."""

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from waimak_spark.functions.curation import (
    dsir_importance,
    dsir_importance_sql,
    dsir_select,
    dsir_select_sql,
)

from test_catalog_oracle import normalise


@pytest.fixture(scope="module")
def duck():
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{sf}/documents.parquet'")
    return con


def _compare(spark_df, duck_con, sql):
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]
    res = duck_con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows)
    ns = normalise(spark_rows, spark_cols)
    nd = normalise(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"first mismatches: {mismatches[:3]}"
    return spark_rows


class TestDsirOracle:
    @pytest.mark.parametrize("buckets,alpha", [
        (4096, 1.0),   # the defaults a future catalog entry would pin
        (512, 1.0),    # heavy bucket collisions — different llr surface
        (4096, 0.25),  # sharper smoothing
    ])
    def test_importance_matches_duckdb(self, spark, sf_dir, duck,
                                       buckets, alpha):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.where("lang = 'en'")
        rows = _compare(
            dsir_importance(docs, target, buckets=buckets, alpha=alpha),
            duck, dsir_importance_sql("lang = 'en'", buckets, alpha))
        assert len(rows) == docs.count()  # linear: one verdict row per doc

    def test_select_matches_duckdb(self, spark, sf_dir, duck):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.where("lang = 'en'")
        sel = dsir_select(docs, target, k=50, seed=7)
        srows = [tuple(r) for r in sel.collect()]
        drows = duck.execute(dsir_select_sql("lang = 'en'", 50, seed=7)
                             ).fetchall()
        # ordered compare: selection is a ranked top-k, not a set
        assert normalise(srows, sel.columns) == normalise(
            [tuple(r) for r in drows], sel.columns)
        assert len(srows) == 50

    def test_select_is_deterministic_and_seed_sensitive(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.where("lang = 'en'")
        a = [r.doc_id for r in dsir_select(docs, target, 30, seed=1).collect()]
        b = [r.doc_id for r in dsir_select(docs, target, 30, seed=1).collect()]
        c = [r.doc_id for r in dsir_select(docs, target, 30, seed=2).collect()]
        assert a == b
        assert a != c  # a different seed reshuffles the Gumbel keys


class TestDsirSemantics:
    def test_target_like_docs_score_higher(self, spark):
        """Docs drawn from the target phrase distribution must out-score
        docs from a disjoint vocabulary."""
        target_like = [f"the quick brown fox number {i}" for i in range(10)]
        off_target = [f"zebra quantum {i} violet umbrella xylophone"
                      for i in range(10)]
        rows = [Row(doc_id=i, text=t)
                for i, t in enumerate(target_like + off_target)]
        df = spark.createDataFrame(rows)
        target = df.where("doc_id < 10")
        w = {r.doc_id: r.log_weight
             for r in dsir_importance(df, target).collect()}
        avg_t = sum(w[i] for i in range(10)) / 10
        avg_o = sum(w[i] for i in range(10, 20)) / 10
        assert avg_t > avg_o

    def test_zero_gram_docs_kept_with_zero_weight(self, spark):
        df = spark.createDataFrame([
            Row(doc_id=1, text="hello world"),
            Row(doc_id=2, text=""),
            Row(doc_id=3, text=None),
            Row(doc_id=4, text="   "),
        ])
        target = df.where("doc_id = 1")
        out = {r.doc_id: (r.n_grams, r.log_weight)
               for r in dsir_importance(df, target).collect()}
        assert set(out) == {1, 2, 3, 4}
        # "hello world" -> 2 unigrams + 1 bigram
        assert out[1][0] == 3
        for d in (2, 3, 4):
            assert out[d] == (0, 0.0)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
                 min_size=0, max_size=6),
        min_size=2, max_size=8))
    def test_matches_pure_python_reference(self, spark, token_lists):
        """Exact llr model recomputed in Python (md5-bucketed, add-a
        smoothed) must agree with the Spark plan to the 4dp gate."""
        import hashlib

        buckets, alpha = 64, 1.0
        docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in docs])
        target_ids = {i for i, _ in docs if i % 2 == 0}
        target = df.where("doc_id % 2 = 0")

        def grams(toks):
            return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

        def bucket(g):
            return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets

        cr, ct = {}, {}
        for i, toks in enumerate(token_lists):
            for g in grams(toks):
                b = bucket(g)
                cr[b] = cr.get(b, 0) + 1
                if i in target_ids:
                    ct[b] = ct.get(b, 0) + 1
        r_tot, t_tot = sum(cr.values()), sum(ct.values())
        expected = {}
        for i, toks in enumerate(token_lists):
            w = 0.0
            for g in grams(toks):
                b = bucket(g)
                w += (math.log((ct.get(b, 0) + alpha)
                               / (t_tot + alpha * buckets))
                      - math.log((cr[b] + alpha)
                                 / (r_tot + alpha * buckets)))
            expected[i] = (len(grams(toks)), round(w, 4))

        got = {r.doc_id: (r.n_grams, r.log_weight)
               for r in dsir_importance(df, target,
                                        buckets=buckets).collect()}
        for i in expected:
            assert got[i][0] == expected[i][0]
            assert got[i][1] == pytest.approx(expected[i][1], abs=2e-4)


class TestDsirPlanShape:
    def test_llr_join_broadcasts_and_no_python_udfs(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.where("lang = 'en'")
        explained = dsir_importance(docs, target)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BatchEvalPython" not in explained
        assert "BroadcastHashJoin" in explained  # the B-row llr table
        sel_plan = dsir_select(docs, target, 10)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "TakeOrderedAndProject" in sel_plan  # never a global sort


def test_subset_predicate_path_equals_two_frame_path(spark, sf_dir):
    """The tokenize-once subset-target path (target_predicate) must
    return exactly the two-frame path's rows — same gram multiset by
    construction, locked tuple-for-tuple here.  Passing both or neither
    target forms must raise."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pred = F.col("lang") == "en"
    via_pred = sorted(tuple(r) for r in dsir_select(
        docs, None, 40, seed=3, target_predicate=pred).collect())
    via_frame = sorted(tuple(r) for r in dsir_select(
        docs, docs.where(pred), 40, seed=3).collect())
    assert via_pred == via_frame
    with pytest.raises(ValueError, match="exactly one"):
        dsir_select(docs, docs, 5, target_predicate=pred)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_select(docs, None, 5)


def test_catalog_wrapper_matches_its_admission_oracle(spark, sf_dir):
    """The catalog entry dsir_select matches its oracle
    (_dsir_select_oracle)."""
    import duckdb

    from waimak_spark.catalog.curation import (
        _dsir_select_oracle,
        dsir_select as catalog_dsir_select,
    )

    got = sorted(tuple(r)
                 for r in catalog_dsir_select(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(f"create view documents as "
                f"select * from '{sf_dir}/documents.parquet'")
    want = sorted(tuple(r) for r in
                  con.execute(_dsir_select_oracle()).fetchall())
    assert len(got) == len(want) == 100
    for g, w in zip(got, want):
        assert g[0] == w[0]
        for gv, wv in zip(g[1:], w[1:]):
            assert gv == pytest.approx(wv, abs=1e-9)
