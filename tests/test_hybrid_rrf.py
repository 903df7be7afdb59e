"""Hybrid sparse+dense retrieval with Reciprocal Rank Fusion (Cormack,
Clarke & Buettcher 2009) — the standard calibration-free combination of
a lexical ranker (BM25) and an embedding ranker (cosine top-k).  The
reference (waimak) has no retrieval surface; this is the
training-data-pipeline extension family, with its oracle lockstep
here."""

import duckdb
from pyspark.sql import Row

from waimak_spark.functions.retrieval import (
    HYBRID_DEPTH,
    HYBRID_QUERIES,
    HYBRID_TOPK,
    RRF_K,
    hybrid_topk,
    hybrid_topk_sql,
    rrf_fuse,
)


def _py_rrf(lists, k_rrf=RRF_K, k=HYBRID_TOPK):
    """Independent reference: lists = [{(qid, doc_id): rank}];
    score = sum of 1/(k_rrf + rank) over lists, rounded 6dp; final rank
    by (-score, doc_id)."""
    fused: dict[tuple, list] = {}
    for lst in lists:
        for (qid, d), r in lst.items():
            fused.setdefault((qid, d), []).append(r)
    scored = {key: (round(sum(1.0 / (k_rrf + r) for r in rs), 6), len(rs))
              for key, rs in fused.items()}
    out = {}
    for qid in {q for q, _ in scored}:
        rows = sorted(((d, s, n) for (q, d), (s, n) in scored.items()
                       if q == qid), key=lambda x: (-x[1], x[0]))
        for rank, (d, s, n) in enumerate(rows[:k], 1):
            out[(qid, d)] = (s, n, rank)
    return out


class TestHybridOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.text import (
            _hybrid_rrf_oracle,
            hybrid_search_rrf,
        )

        got = [tuple(r) for r in hybrid_search_rrf(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        con.execute(f"create view embeddings as "
                    f"select * from '{sf_dir}/embeddings.parquet'")
        want = [tuple(r) for r in con.execute(
            _hybrid_rrf_oracle()).fetchall()]
        assert len(got) == len(want) == len(HYBRID_QUERIES) * HYBRID_TOPK
        assert got == want

    def test_rrf_fuse_matches_pure_python(self, spark):
        a = {("q1", 0): 1, ("q1", 1): 2, ("q1", 2): 3,
             ("q2", 5): 1, ("q2", 6): 2}
        b = {("q1", 1): 1, ("q1", 3): 2,
             ("q2", 6): 1, ("q2", 7): 2}
        fa = spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in a.items()])
        fb = spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in b.items()])
        got = {(r.qid, r.doc_id): (r.rrf_score, r.n_lists, r.rank)
               for r in rrf_fuse([fa, fb], k=10).collect()}
        assert got == _py_rrf([a, b], k=10)

    def test_both_list_doc_outranks_single_list_doc(self, spark):
        """The RRF property the fusion exists for: a document surfaced
        by BOTH modalities at middling rank beats a document at a
        similar rank in only one list (1/(K+2)+1/(K+2) > 1/(K+1))."""
        a = {("q", 1): 1, ("q", 9): 2}
        b = {("q", 8): 1, ("q", 9): 2}
        fa = spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in a.items()])
        fb = spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in b.items()])
        rows = {r.doc_id: r for r in rrf_fuse([fa, fb], k=10).collect()}
        assert rows[9].n_lists == 2 and rows[9].rank == 1
        assert rows[1].n_lists == 1 and rows[1].rank > 1

    def test_modality_exclusive_docs_fuse_from_one_list(self, spark):
        """Disjoint lists: every doc scores from its one list, ranks
        interleave across modalities purely by rank position."""
        a = {("q", 0): 1, ("q", 1): 2}
        b = {("q", 10): 1, ("q", 11): 2}
        fa = spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in a.items()])
        fb = spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in b.items()])
        got = rrf_fuse([fa, fb], k=10).collect()
        assert all(r.n_lists == 1 for r in got)
        # equal ranks tie on rrf_score -> doc_id ascending breaks
        assert [r.doc_id for r in got] == [0, 10, 1, 11]

    def test_depth_caps_each_modality(self, spark, sf_dir):
        """Every fused doc must appear in at least one modality's
        top-HYBRID_DEPTH list (fusion invents no candidates)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        from waimak_spark.functions.retrieval import bm25_candidates
        from waimak_spark.functions.similarity import brute_force_topk

        fused = hybrid_topk(docs, emb).collect()
        sparse = {(r.qid, r.doc_id) for r in bm25_candidates(
            docs, [(q, t) for q, t, _ in HYBRID_QUERIES],
            k=HYBRID_DEPTH).collect()}
        vec_to_qid = {v: q for q, _, v in HYBRID_QUERIES}
        dense = {(vec_to_qid[r.query_id], r.neighbor_id)
                 for r in brute_force_topk(
                     emb, [v for _, _, v in HYBRID_QUERIES],
                     k=HYBRID_DEPTH).collect()}
        for r in fused:
            assert (r.qid, r.doc_id) in sparse | dense
            expect_n = int((r.qid, r.doc_id) in sparse) + int(
                (r.qid, r.doc_id) in dense)
            assert r.n_lists == expect_n


class TestHybridPlan:
    def test_no_row_udfs_and_bounded_crosses(self, spark, sf_dir):
        """No Python stages anywhere; the only nested-loop joins are the
        two whitelisted tiny-side broadcasts the composed rankers carry
        (BM25's 1-row corpus-stats cross + brute-force's <=|queries|-row
        query cross); fusion itself is hash aggregation over the bounded
        candidate rows.  A catalog entry built on it joins CROSS_OK in
        tests/test_plans.py with the same rationale."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        plan = (hybrid_topk(docs, emb)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") <= 2
        assert "BroadcastHashJoin" in plan


class TestHybridPluggableRanker:
    def test_ivf_dense_ranker_slots_in(self, spark, sf_dir):
        """The 100 TB steer the docstring makes: any
        (emb, query_ids, k) -> ranked callable works as the dense side
        — here the IVF probe replaces brute force; the fusion schema
        and per-query row bound are unchanged, and every IVF-surfaced
        candidate fuses with a valid rank."""
        from waimak_spark.functions.similarity import ivf_topk

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        got = hybrid_topk(docs, emb, dense_topk=ivf_topk).collect()
        assert got, "IVF-backed fusion returned nothing"
        assert {r.qid for r in got} <= {q for q, _, _ in HYBRID_QUERIES}
        for r in got:
            assert 1 <= r.rank <= HYBRID_TOPK
            assert r.n_lists in (1, 2)
        # per query at most k rows, ranks dense from 1
        for qid in {r.qid for r in got}:
            ranks = sorted(r.rank for r in got if r.qid == qid)
            assert ranks == list(range(1, len(ranks) + 1))

    def test_three_list_fusion_matches_reference(self, spark):
        """rrf_fuse is n-ary (tri-modal retrieval: lexical + dense +
        e.g. a metadata ranker) — three lists against the reference."""
        a = {("q", 0): 1, ("q", 1): 2}
        b = {("q", 1): 1, ("q", 2): 2}
        c = {("q", 1): 1, ("q", 0): 2, ("q", 3): 3}
        frames = [spark.createDataFrame(
            [Row(qid=q, doc_id=d, rank=r) for (q, d), r in lst.items()])
            for lst in (a, b, c)]
        got = {(r.qid, r.doc_id): (r.rrf_score, r.n_lists, r.rank)
               for r in rrf_fuse(frames, k=10).collect()}
        assert got == _py_rrf([a, b, c], k=10)
        assert got[("q", 1)][1] == 3  # surfaced by all three lists
