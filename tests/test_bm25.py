"""BM25 ranked retrieval (Robertson & Zaragoza 2009) — query-targeted
corpus curation.  The reference (waimak) has no retrieval surface;
this is the training-data-pipeline extension family, with its oracle
lockstep here."""

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from waimak_spark.functions.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_QUERIES,
    BM25_SALT,
    BM25_TOPK,
    _qtokens,
    bm25_topk,
    bm25_topk_sql,
)


def _py_bm25(texts: dict[int, str], queries=BM25_QUERIES,
             k1: float = BM25_K1, b: float = BM25_B):
    """Independent reference: same tokenizer, same Lucene-form idf,
    same operation order, rounded to 4dp."""
    toks = {i: [t for t in s.lower().split() if t]
            for i, s in texts.items() if s is not None}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df: dict[str, int] = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    scores: dict[tuple[str, int], float] = {}
    for qid, q in queries:
        for doc_id, t in toks.items():
            s = 0.0
            for term in _qtokens(q):
                tf = t.count(term)
                if tf == 0 or term not in df:
                    continue
                idf = math.log(1.0 + (n - df[term] + 0.5)
                               / (df[term] + 0.5))
                s += (idf * (tf * (k1 + 1.0))
                      / (tf + k1 * (1.0 - b + b * len(t) / avgdl)))
            if s > 0.0:
                scores[(qid, doc_id)] = round(s, 4)
    return scores


class TestBm25Oracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.text import _bm25_oracle, bm25_search

        got = [tuple(r) for r in bm25_search(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = [tuple(r) for r in con.execute(_bm25_oracle()).fetchall()]
        assert len(got) == len(want) == len(BM25_QUERIES) * BM25_TOPK
        assert got == want

    def test_matches_pure_python_reference(self, spark):
        texts = {
            0: "hash join merge order by key",
            1: "stream window batch stream stream",
            2: "spark table scan filter scan",
            3: "completely unrelated words only",
            4: "hash hash hash join",
            5: None,
        }
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        want = _py_bm25(texts)
        got = bm25_topk(df, k=10).collect()
        assert {(r.qid, r.doc_id): r.score for r in got} == want
        # ranks: per query, descending rounded score, doc_id tiebreak
        for qid in {r.qid for r in got}:
            rows = sorted([r for r in got if r.qid == qid],
                          key=lambda r: r.rank)
            assert [(-(r.score), r.doc_id) for r in rows] == sorted(
                (-(s), d) for (q, d), s in want.items() if q == qid)

    def test_quoted_query_term_produces_valid_oracle_sql(self, spark):
        """ADVICE r9: a query term containing a single quote must be
        escaped in the interpolated oracle SQL (and stay lockstep)."""
        from waimak_spark.functions.retrieval import bm25_topk_sql

        queries = (("q'uid", "don't alpha"),)
        df = spark.createDataFrame(
            [Row(doc_id=0, text="don't stop alpha"),
             Row(doc_id=1, text="dont stop beta")])
        got = [tuple(r) for r in bm25_topk(df, queries=queries,
                                           k=5).collect()]
        con = duckdb.connect()
        con.register("documents", df.toPandas())
        want = [tuple(r) for r in con.execute(
            bm25_topk_sql(queries=queries, k=5)).fetchall()]
        assert got == want and len(got) > 0
        assert got[0][0] == "q'uid"

    def test_repeated_query_term_scores_once(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="alpha beta gamma"),
             Row(doc_id=1, text="beta beta delta")])
        once = bm25_topk(df, queries=(("q", "beta"),), k=5).collect()
        twice = bm25_topk(df, queries=(("q", "beta beta"),),
                          k=5).collect()
        assert [tuple(r) for r in once] == [tuple(r) for r in twice]

    def test_salted_topk_equals_unsalted(self, spark, sf_dir):
        """The two-phase salt pre-prune must be invisible: its result
        equals a plain single-window rank (which the oracle uses)."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = [tuple(r) for r in bm25_topk(docs).collect()]
        # rebuild with an unsalted window: rank directly over qid
        per_doc = (bm25_topk(docs, k=10 ** 9)  # no pruning: all docs
                   .select("qid", "doc_id", "score"))
        w = W.partitionBy("qid").orderBy(F.desc("score"),
                                         F.asc("doc_id"))
        plain = (per_doc.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= BM25_TOPK)
                 .select("qid", "doc_id", "score", "rank")
                 .orderBy("qid", "rank"))
        assert got == [tuple(r) for r in plain.collect()]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.lists(st.sampled_from(
        ["hash", "join", "stream", "scan", "other", "words"]),
        min_size=1, max_size=8), min_size=2, max_size=8))
    def test_property_reference_scores_positive_and_bounded(self, docs):
        """Pure-Python property: every score is positive, and a document
        containing a query term always outscores zero (BM25 with the
        Lucene idf is non-negative by construction)."""
        texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
        scores = _py_bm25(texts, queries=(("q", "hash stream"),))
        for (qid, d), s in scores.items():
            assert s > 0
            assert ("hash" in texts[d].split()
                    or "stream" in texts[d].split())

    def test_docs_without_query_terms_absent(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="hash join"),
             Row(doc_id=1, text="nothing relevant whatsoever")])
        got = bm25_topk(df, queries=(("q", "hash"),), k=5).collect()
        assert [r.doc_id for r in got] == [0]


class TestBm25Plan:
    def test_small_sides_broadcast_no_python(self, spark, sf_dir):
        """Query terms and document frequencies must come back as
        broadcast hash joins (both bounded by the literal query
        vocabulary); the only nested-loop is the whitelisted 1-row
        corpus-stats broadcast cross (the tfidf_top_terms pattern); no
        Python stages anywhere; the vocabulary filter sits on the token
        stream BEFORE the tf exchange."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (bm25_topk(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        assert "BroadcastHashJoin" in plan
