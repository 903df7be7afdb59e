"""Cross-document substring dedup (ExactSubstr, Lee et al. 2022,
arXiv:2107.06499). The reference (waimak) has no substring dedup; this
is the training-data-pipeline extension surface."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from waimak_spark.functions.dedup import (
    substring_ngram_dedup,
    substring_ngram_dedup_sql,
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


class TestSubstringDedupOracle:
    @pytest.mark.parametrize("window,threshold", [
        (16, 0.5),   # the defaults round 8's catalog entry will pin
        (8, 0.5),    # denser duplication
        (16, 0.2),   # stricter gate — different keep frontier
    ])
    def test_matches_duckdb_on_real_corpus(self, spark, sf_dir, duck,
                                           window, threshold):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = _compare(
            substring_ngram_dedup(docs, window=window,
                                  max_dup_fraction=threshold),
            duck, substring_ngram_dedup_sql(window, threshold))
        # the rule fires on real data: some docs are duplicated-substring
        # carriers (45/500 at window=8, sf0.001), and output is linear
        assert len(rows) == docs.count()
        by_col = {c: i for i, c in enumerate(
            substring_ngram_dedup(docs).columns)}
        assert any(r[by_col["dup_ngrams"]] > 0 for r in rows)
        if threshold == 0.2 and window == 16:
            assert any(r[by_col["keep"]] == 0 for r in rows)


class TestSubstringDedupSemantics:
    def test_short_null_and_self_repeating_docs(self, spark):
        """Boundary rows: shorter than the window (no grams, kept), null
        text (kept), verbatim SELF-repetition (duplicated — the paper
        removes intra-document repeats too), and a cross-document
        verbatim window shared by two docs."""
        shared = "the quick brown fox jumps over the lazy dog again"
        docs = spark.createDataFrame([
            Row(doc_id=1, text="too short"),
            Row(doc_id=2, text=None),
            # 10 tokens twice (20 tokens, 11 windows): positions 0 and 10
            # are both the full `shared` window (verbatim SELF-repetition
            # counts), the 9 seam windows are unique
            Row(doc_id=3, text=shared + " " + shared),
            # 13 tokens, 4 windows; only the opening window is shared
            Row(doc_id=4, text=shared + " unique tail one"),
            Row(doc_id=5, text=shared + " different tail two"),
            Row(doc_id=6, text="completely unrelated words only here "
                               "nothing repeats in this document at all"),
            # exactly one window, and it is duplicated -> dropped
            Row(doc_id=7, text=shared),
        ])
        out = {r["doc_id"]: r for r in
               substring_ngram_dedup(docs, window=10,
                                     max_dup_fraction=0.3).collect()}
        assert len(out) == 7
        assert out[1]["n_grams"] == 0 and out[1]["keep"] == 1
        assert out[2]["n_grams"] == 0 and out[2]["keep"] == 1
        assert (out[3]["n_grams"], out[3]["dup_ngrams"]) == (11, 2)
        assert out[3]["dup_fraction"] == pytest.approx(0.1818, abs=0)
        assert out[3]["keep"] == 1  # 0.1818 <= 0.3
        for d in (4, 5):
            assert (out[d]["n_grams"], out[d]["dup_ngrams"]) == (4, 1)
            assert out[d]["keep"] == 1  # 0.25 <= 0.3
        assert out[6]["dup_ngrams"] == 0 and out[6]["keep"] == 1
        assert (out[7]["n_grams"], out[7]["dup_ngrams"]) == (1, 1)
        assert out[7]["dup_fraction"] == 1.0 and out[7]["keep"] == 0

    def test_no_duplication_all_kept(self, spark):
        docs = spark.createDataFrame([
            Row(doc_id=i,
                text=" ".join(f"w{i}x{j}" for j in range(20)))
            for i in range(5)
        ])
        out = substring_ngram_dedup(docs, window=10).collect()
        assert all(r["dup_ngrams"] == 0 and r["keep"] == 1 for r in out)

    def test_matches_pure_python_reference(self, spark):
        """Independent-implementation lockstep on tiny random corpora
        over a 3-word vocabulary (maximal collision pressure): a naive
        Python dict-count reimplementation of the window rule must agree
        exactly — string ops have no float ambiguity beyond the one
        rounded division, which both sides round identically."""
        from collections import Counter

        from hypothesis import HealthCheck

        W = 3

        @settings(max_examples=15, deadline=None,
                  suppress_health_check=[
                      HealthCheck.function_scoped_fixture,
                      HealthCheck.too_slow])
        @given(docs_tokens=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]),
                     min_size=0, max_size=12),
            min_size=1, max_size=8))
        def check(docs_tokens):
            rows = [Row(doc_id=i, text=" ".join(t))
                    for i, t in enumerate(docs_tokens)]
            got = {r["doc_id"]: r for r in substring_ngram_dedup(
                spark.createDataFrame(
                    rows, schema="doc_id bigint, text string"),
                window=W, max_dup_fraction=0.5).collect()}

            grams = {}
            for i, toks in enumerate(docs_tokens):
                grams[i] = [" ".join(toks[j:j + W])
                            for j in range(len(toks) - W + 1)]
            counts = Counter(g for gs in grams.values() for g in gs)
            assert set(got) == set(grams)
            for i, gs in grams.items():
                dup = sum(1 for g in gs if counts[g] >= 2)
                frac = round(dup / len(gs), 4) if gs else 0.0
                r = got[i]
                assert r["n_grams"] == len(gs)
                assert r["dup_ngrams"] == dup
                assert r["dup_fraction"] == pytest.approx(frac, abs=0)
                assert r["keep"] == int(frac <= 0.5)

        check()


class TestSubstringDedupPlan:
    def test_no_python_udf_no_cartesian(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = substring_ngram_dedup(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_key_bits_paths_agree_and_widen_the_key(self, spark, sf_dir):
        """ADVICE r8: the 64-bit gram key is birthday-exposed at the
        operator's 100 TB posture (~1e11 grams → hundreds of expected
        collisions, each SILENTLY over-flagging), so 128-bit (two
        salted xxhash64 longs) is the default; 64 stays for bounded
        corpora.  Both paths must agree exactly on real data (no
        collisions at sandbox scale), the wide path must carry a second
        hash column into the aggregate, and an unknown width must
        raise."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        wide = {r.doc_id: (r.n_grams, r.dup_ngrams, r.dup_fraction, r.keep)
                for r in substring_ngram_dedup(docs).collect()}
        narrow = {r.doc_id: (r.n_grams, r.dup_ngrams, r.dup_fraction,
                             r.keep)
                  for r in substring_ngram_dedup(docs,
                                                 key_bits=64).collect()}
        assert wide == narrow
        wide_plan = substring_ngram_dedup(docs)._jdf.queryExecution() \
            .optimizedPlan().toString()
        narrow_plan = substring_ngram_dedup(docs, key_bits=64)._jdf \
            .queryExecution().optimizedPlan().toString()
        assert wide_plan.count("xxhash64") > narrow_plan.count("xxhash64")
        assert "g2" in wide_plan and "g2" not in narrow_plan
        with pytest.raises(ValueError, match="key_bits"):
            substring_ngram_dedup(docs, key_bits=32)
