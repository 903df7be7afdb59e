"""BM25 ranked retrieval over the document corpus (Robertson &
Zaragoza 2009, Foundations and Trends in IR 3(4); idf in the
always-positive Lucene form ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

The reference (waimak) has no retrieval surface; this is the
training-data-pipeline extension family — the standard tool for
query-targeted corpus curation (pulling the documents most relevant to
a benchmark/topic before a finer importance weighting like DSIR).

The 100 TB story, stage by stage:

* the token stream is filtered to the QUERY VOCABULARY (a handful of
  literal strings) before the only corpus-sized shuffle, so the
  ``(doc_id, term)`` tf aggregation shuffles a stream bounded by
  corpus occurrences OF QUERY TERMS, not the corpus token stream;
* document frequencies reuse the tf frame (one extra ≤|vocab|-row agg)
  and come back as a broadcast hash join; the corpus-level constants
  (N, avgdl) are a 1-row in-plan broadcast cross (the tfidf_top_terms
  pattern — no driver collect);
* per-document scores sum ≤|query| term contributions after a keyed
  groupBy with map-side partial agg;
* top-k per query is TWO-PHASE: a first row_number inside
  ``(qid, doc_id % BM25_SALT)`` salt buckets prunes to ≤ k·SALT rows
  per query, then the final row_number ranks those — the single-
  partition-per-query window that a naive top-k implies never sees
  more than k·SALT rows, so one hot query cannot pin a full corpus
  partition on one executor.

Cross-engine float lockstep: every constant is emitted as the same
Python-computed double literal on both engines (DuckDB numeric
literals otherwise parse as DECIMAL and change the arithmetic), the
score expression has identical operation order on both sides, and
scores are ROUNDED to 4dp before ranking — per-document sums run in
shuffle order, so the last ulp is the only engine-dependent bit and
the round absorbs it (the DSIR/tfidf precedent).  Ties at equal
rounded score break on ascending doc_id: the two-phase rank is then a
total order and equals the oracle's single-phase rank exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import spread_for_compute
from .text import TOKENS_SQL, tokens_sexpr
from .util import local_rows_df

#: BM25 shape parameters (the standard defaults)
BM25_K1 = 1.2
BM25_B = 0.75
#: documents reported per query by the catalog entry
BM25_TOPK = 5
#: salt buckets for the two-phase per-query top-k
BM25_SALT = 32
#: the catalog entry's fixed query set (terms from the corpus domain)
BM25_QUERIES = (
    ("q_join", "hash join merge order"),
    ("q_stream", "stream window batch"),
    ("q_scan", "spark table scan filter"),
)


def _sql_str(t: str) -> str:
    """Escape a term for interpolation as a SQL string literal —
    the fixed BM25_QUERIES are safe, but the function is parameterized
    on arbitrary query text and a single quote in a term would
    otherwise produce malformed oracle SQL."""
    return "'" + t.replace("'", "''") + "'"


def _qtokens(query: str) -> list[str]:
    """Query-side tokenizer — the same lowercase/whitespace semantics
    as the document tokenizer; duplicate terms dropped (first
    occurrence wins), so a repeated query term scores once."""
    return list(dict.fromkeys(t for t in query.lower().split() if t))


def bm25_topk(docs: DataFrame, queries=BM25_QUERIES,
              text_col: str = "text", id_col: str = "doc_id",
              k: int = BM25_TOPK, k1: float = BM25_K1,
              b: float = BM25_B) -> DataFrame:
    """``(qid, doc_id, score, rank)`` — the ``k`` highest-BM25
    documents per query, rank 1 best; ties at equal rounded score break
    on ascending doc_id."""
    k1f, bf = float(k1), float(b)
    vocab = sorted({t for _, q in queries for t in _qtokens(q)})
    # NOT persisted, on measurement: the token frame feeds both the tf
    # stream and the (N, avgdl) stats aggregate — the HLL/CMS
    # double-tokenize shape — but here the second consumer only
    # aggregates array sizes, and caching the WIDE token arrays costs
    # what the saved pass saves (back-to-back isolated A/B at sf0.1:
    # 1.96 s persisted vs 1.90 unpersisted; 10× one-shot 3.48 vs 3.51
    # — parity, so the persist write is pure overhead at 1×)
    base = (spread_for_compute(docs)
            .where(F.col(text_col).isNotNull())
            .selectExpr(f"`{id_col}` as doc_id",
                        f"{tokens_sexpr(f'`{text_col}`')} as _t"))
    # dl rides the explode so tf and length need one pass; the vocab
    # filter lands BEFORE the (doc_id, term) shuffle
    tf = (base.select("doc_id", F.size("_t").alias("dl"),
                      F.explode("_t").alias("term"))
          .where(F.col("term").isin(vocab))
          .groupBy("doc_id", "term")
          .agg(F.count("*").alias("tf"), F.max("dl").alias("dl")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = base.select(F.count("*").alias("_n"),
                        F.avg(F.size("_t")).alias("_avgdl"))
    qterms = local_rows_df(
        docs.sparkSession,
        [(qid, t) for qid, q in queries for t in _qtokens(q)],
        "qid string, term string")
    idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = F.lit(k1f) * (F.lit(1.0 - bf)
                         + F.lit(bf) * F.col("dl") / F.col("_avgdl"))
    contrib = (idf * (F.col("tf") * F.lit(k1f + 1.0))
               / (F.col("tf") + norm))
    per_doc = (tf.join(F.broadcast(qterms), "term")
               .join(F.broadcast(dfreq), "term")
               .crossJoin(F.broadcast(stats))
               .groupBy("qid", "doc_id")
               .agg(F.round(F.sum(contrib), 4).alias("score")))
    from pyspark.sql import Window as W

    w1 = (W.partitionBy("qid", F.pmod(F.col("doc_id"), F.lit(BM25_SALT)))
          .orderBy(F.desc("score"), F.asc("doc_id")))
    w2 = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (per_doc
            .withColumn("_pr", F.row_number().over(w1))
            .where(F.col("_pr") <= k)
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("qid", "doc_id", "score", "rank")
            .orderBy("qid", "rank"))


def bm25_candidates(docs: DataFrame, queries=BM25_QUERIES,
                    text_col: str = "text", id_col: str = "doc_id",
                    k: int = BM25_TOPK) -> DataFrame:
    """``(qid, doc_id, rank)`` — the BM25 ranked list projected to the
    fusion schema (:func:`rrf_fuse` consumes rank lists, not scores)."""
    return bm25_topk(docs, queries, text_col, id_col, k).select(
        "qid", "doc_id", "rank")


def bm25_topk_sql(queries=BM25_QUERIES, k: int = BM25_TOPK,
                  k1: float = BM25_K1, b: float = BM25_B,
                  table: str = "documents", text: str = "text",
                  id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`bm25_topk` — identical constants
    (``::DOUBLE``-cast so DuckDB doesn't fall into DECIMAL arithmetic),
    identical operation order, rank over the same rounded score
    (single-phase: the salt pre-prune is exact, so the final rank is
    the same total order)."""
    k1f, bf = float(k1), float(b)
    vocab = sorted({t for _, q in queries for t in _qtokens(q)})
    vocab_sql = ", ".join(_sql_str(t) for t in vocab)
    qvals = ", ".join(f"({_sql_str(str(qid))}, {_sql_str(t)})"
                      for qid, q in queries for t in _qtokens(q))
    return f"""
        with q(qid, term) as (values {qvals}),
        base as (
            select {id_col} as doc_id,
                   {TOKENS_SQL.format(col=text)} as t
            from {table} where {text} is not null
        ), tf as (
            select doc_id, term, count(*)::BIGINT as tf,
                   max(dl)::BIGINT as dl
            from (select doc_id, len(t) as dl, unnest(t) as term
                  from base)
            where term in ({vocab_sql})
            group by doc_id, term
        ), dfreq as (
            select term, count(*)::BIGINT as df from tf group by term
        ), stats as (
            select count(*)::BIGINT as _n, avg(len(t)) as _avgdl
            from base
        ), per_doc as (
            select q.qid, tf.doc_id,
                   round(sum(
                       ln(1.0::DOUBLE + (stats._n - dfreq.df
                                         + 0.5::DOUBLE)
                          / (dfreq.df + 0.5::DOUBLE))
                       * (tf.tf * {k1f + 1.0!r}::DOUBLE)
                       / (tf.tf + {k1f!r}::DOUBLE
                          * ({1.0 - bf!r}::DOUBLE
                             + {bf!r}::DOUBLE * tf.dl / stats._avgdl))
                   ), 4) as score
            from tf join q using (term) join dfreq using (term)
            cross join stats
            group by q.qid, tf.doc_id
        )
        select qid, doc_id, score, rank from (
            select qid, doc_id, score,
                   row_number() over (
                       partition by qid
                       order by score desc, doc_id asc) as rank
            from per_doc
        ) where rank <= {k}
        order by qid, rank
    """


# ---------------------------------------------------------------------------
# Hybrid sparse+dense retrieval with Reciprocal Rank Fusion
# (Cormack, Clarke & Buettcher 2009, SIGIR: RRF(d) = sum over rank
# lists of 1/(K + rank_list(d)), K=60 — the standard fusion for
# combining a lexical ranker with an embedding ranker without score
# calibration).  The reference (waimak) has no retrieval surface; this
# is the training-data-pipeline extension family — the standard
# query-targeted curation front-end when the corpus carries BOTH text
# and embeddings (the testdata documents/embeddings tables share one
# id space by construction).
#
# The 100 TB story: each modality's ranked list is produced by an
# operator that already carries its own scale posture (BM25's
# vocab-filtered tf stream + salted two-phase top-k; ANN's
# broadcast-query scan — swap in `ivf_pq_topk_from_index` for the
# stored build-once/probe-many path at corpus scale, the fusion is
# rank-only so any ranker slots in).  Fusion itself touches ONLY the
# ≤ |queries| x depth x n_lists candidate rows: a groupBy on
# (qid, doc_id) with map-side partial agg, then the salt-free per-qid
# row_number window is bounded by the same candidate count — nothing
# here scales with the corpus.
#
# Cross-engine float lockstep: each RRF term is 1/(K + rank) with
# integer rank — the per-doc sum has at most n_lists=2 terms, and
# two-term IEEE addition is order-independent, so Spark and DuckDB
# agree bit-for-bit even before the round(…, 6); ties at equal rounded
# score break on ascending doc_id (the BM25 precedent).
# ---------------------------------------------------------------------------

#: the standard RRF smoothing constant (Cormack et al. 2009)
RRF_K = 60
#: candidate depth pulled from each modality before fusion
HYBRID_DEPTH = 20
#: fused documents reported per query
HYBRID_TOPK = 5
#: the catalog entry's fixed query set: (qid, BM25 text, dense-query
#: vec_id) — doc_id and vec_id share the 0..N-1 id space in the
#: testdata tables, so the fused doc ids are one namespace
HYBRID_QUERIES = (
    ("q_join", "hash join merge order", 0),
    ("q_stream", "stream window batch", 1),
    ("q_scan", "spark table scan filter", 2),
)


def rrf_fuse(ranked: list[DataFrame], k_rrf: int = RRF_K,
             k: int = HYBRID_TOPK) -> DataFrame:
    """``(qid, doc_id, rrf_score, n_lists, rank)`` — Reciprocal Rank
    Fusion of the given ``(qid, doc_id, rank)`` lists: per (qid, doc),
    score = sum of 1/(k_rrf + rank) over the lists that surfaced it
    (a document missing from a list simply contributes nothing — RRF's
    native handling of modality-specific hits), ``n_lists`` = how many
    lists surfaced it, final rank over the rounded score with ascending
    doc_id tie-break."""
    from functools import reduce

    from pyspark.sql import Window as W

    u = reduce(lambda a, b: a.unionByName(b),
               [r.select("qid", "doc_id", "rank") for r in ranked])
    fused = (u.groupBy("qid", "doc_id")
             .agg(F.round(F.sum(F.lit(1.0) / (F.lit(k_rrf)
                                              + F.col("rank"))), 6)
                  .alias("rrf_score"),
                  F.count("*").alias("n_lists")))
    w = W.partitionBy("qid").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (fused.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "doc_id", "rrf_score", "n_lists", "rank")
            .orderBy("qid", "rank"))


def hybrid_topk(docs: DataFrame, emb: DataFrame,
                queries=HYBRID_QUERIES, depth: int = HYBRID_DEPTH,
                k: int = HYBRID_TOPK, k_rrf: int = RRF_K,
                dense_topk=None) -> DataFrame:
    """``(qid, doc_id, rrf_score, n_lists, rank)`` — the ``k`` best
    documents per query under RRF fusion of a BM25 lexical list and a
    cosine embedding list, each pulled to ``depth`` candidates.

    ``dense_topk``: the dense ranker, any callable
    ``(emb, query_ids, k) -> (query_id, neighbor_id, rank, …)`` —
    defaults to the exact :func:`~waimak_spark.functions.similarity.
    brute_force_topk` (the oracle-friendly baseline; at corpus scale
    pass a closure over the stored IVF/IVF-PQ probe, the fusion is
    rank-only so recall is the only thing that changes).  Note the
    dense list never contains the query vector itself (neighbour != 
    query by construction) while BM25 may rank the query's own source
    document — RRF fuses whatever each modality surfaces."""
    from .similarity import brute_force_topk

    if dense_topk is None:
        dense_topk = brute_force_topk
    sparse = bm25_candidates(docs, [(qid, q) for qid, q, _ in queries],
                             k=depth)
    dense = dense_topk(emb, [v for _, _, v in queries], k=depth)
    qmap = local_rows_df(docs.sparkSession,
                         [(qid, v) for qid, _, v in queries],
                         "qid string, query_id long")
    dense = (dense.join(F.broadcast(qmap), "query_id")
             .select("qid", F.col("neighbor_id").alias("doc_id"), "rank"))
    return rrf_fuse([sparse, dense], k_rrf=k_rrf, k=k)


def hybrid_topk_sql(queries=HYBRID_QUERIES, depth: int = HYBRID_DEPTH,
                    k: int = HYBRID_TOPK, k_rrf: int = RRF_K) -> str:
    """DuckDB oracle for :func:`hybrid_topk` — composes the BM25 and
    brute-force oracles as CTEs and fuses with identical arithmetic
    (integer rank into 1/(K+rank): two-term IEEE sums are
    order-independent, so the 6dp round is belt-and-braces)."""
    sparse_sql = bm25_topk_sql([(qid, q) for qid, q, _ in queries],
                               k=depth)
    from .similarity import brute_force_topk_sql

    dense_sql = brute_force_topk_sql([v for _, _, v in queries], k=depth)
    qvals = ", ".join(f"({_sql_str(str(qid))}, {v})"
                      for qid, _, v in queries)
    return f"""
        with sparse as ({sparse_sql}),
        dense as ({dense_sql}),
        qmap(qid, query_id) as (values {qvals}),
        u as (
            select qid, doc_id, rank from sparse
            union all
            select qmap.qid, dense.neighbor_id as doc_id, dense.rank
            from dense join qmap using (query_id)
        ), fused as (
            select qid, doc_id,
                   round(sum(1.0::DOUBLE / ({k_rrf} + rank)), 6)
                       as rrf_score,
                   count(*)::BIGINT as n_lists
            from u group by qid, doc_id
        )
        select qid, doc_id, rrf_score, n_lists, rank from (
            select *, row_number() over (
                       partition by qid
                       order by rrf_score desc, doc_id asc) as rank
            from fused
        ) where rank <= {k}
        order by qid, rank
    """


# ---------------------------------------------------------------------------
# "build once, probe many" stored BM25 inverted index
# ---------------------------------------------------------------------------
#
# The inline bm25_topk re-tokenizes the corpus per query batch — right
# for ad-hoc queries, wrong at 100 TB where retrieval runs
# continuously.  The stored form is the classic inverted index: the
# full (term, doc_id, tf, dl) postings table is built and shuffled
# exactly ONCE (bucketed by term so the shuffle is never repaid), the
# 2-value corpus stats ride as table properties (a metadata lookup,
# not a data collect), and a probe scans ONLY the buckets holding its
# query terms (bucket pruning on the term-literal isin — the stored-IVF
# SelectedBucketsCount posture applied to lexical retrieval).  Document
# frequencies are recomputed from the pruned postings scan (the pruned
# scan sees every posting of each query term, so df is exact).  The
# probe is OUTPUT-IDENTICAL to bm25_topk by construction — same tf/dl/
# df integers, same stats doubles, same score expression and rank
# windows — asserted bit-for-bit every pytest run, which is why the
# entry lives in the permanent output-identity-sibling class of the
# extras registry (bm25_search keeps the family's official driver row).

#: buckets for the stored postings table (a probe scans ~|vocab| of them)
BM25_IDX_BUCKETS = 32


def bm25_postings_frame(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """``(term, doc_id, tf, dl)`` — the full inverted index, one row per
    distinct (term, document) pair; ``dl`` denormalized onto every
    posting so probe-side scoring needs no second table."""
    base = (docs.where(F.col(text_col).isNotNull())
            .selectExpr(f"`{id_col}` as doc_id",
                        f"{tokens_sexpr(f'`{text_col}`')} as _t"))
    return (base.select("doc_id", F.size("_t").alias("dl"),
                        F.explode("_t").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"), F.max("dl").alias("dl")))


def bm25_corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple:
    """(n_docs, avgdl) — the two corpus constants the BM25 score needs,
    computed with the exact expressions the inline path crosses in (one
    1-row aggregate; stored as table properties at build time)."""
    row = (docs.where(F.col(text_col).isNotNull())
           .selectExpr("count(*) as _n",
                       f"avg(size({tokens_sexpr(f'`{text_col}`')})) as _avgdl")
           ).collect()[0]
    return int(row["_n"]), float(row["_avgdl"])


def bm25_topk_from_postings(postings: DataFrame, n_docs: int,
                            avgdl: float, queries=BM25_QUERIES,
                            k: int = BM25_TOPK, k1: float = BM25_K1,
                            b: float = BM25_B) -> DataFrame:
    """``(qid, doc_id, score, rank)`` from a stored postings table —
    bit-identical to :func:`bm25_topk` on the same corpus: the vocab
    isin prunes the bucketed scan to the query terms' buckets, df is
    recomputed exactly from the pruned postings, and the score/rank
    expressions are shared verbatim."""
    from pyspark.sql import Window as W

    k1f, bf = float(k1), float(b)
    vocab = sorted({t for _, q in queries for t in _qtokens(q)})
    tf = postings.where(F.col("term").isin(vocab))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = local_rows_df(
        postings.sparkSession,
        [(qid, t) for qid, q in queries for t in _qtokens(q)],
        "qid string, term string")
    # the same literals the inline path's 1-row stats cross evaluates to
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = F.lit(k1f) * (F.lit(1.0 - bf)
                         + F.lit(bf) * F.col("dl") / F.lit(avgdl))
    contrib = (idf * (F.col("tf") * F.lit(k1f + 1.0))
               / (F.col("tf") + norm))
    per_doc = (tf.join(F.broadcast(qterms), "term")
               .join(F.broadcast(dfreq), "term")
               .groupBy("qid", "doc_id")
               .agg(F.round(F.sum(contrib), 4).alias("score")))
    w1 = (W.partitionBy("qid", F.pmod(F.col("doc_id"), F.lit(BM25_SALT)))
          .orderBy(F.desc("score"), F.asc("doc_id")))
    w2 = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (per_doc
            .withColumn("_pr", F.row_number().over(w1))
            .where(F.col("_pr") <= k)
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("qid", "doc_id", "score", "rank")
            .orderBy("qid", "rank"))
