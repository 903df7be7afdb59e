"""Quality classifier: multinomial Naive Bayes over hashed
bag-of-words features (McCallum & Nigam 1998, AAAI workshop on
learning for text categorization; Manning, Raghavan & Schütze 2008,
IIR §13.2), trained on weak labels and scored as a per-document
log-likelihood-ratio — the classic model-based quality filter for
training-data pipelines (the role fastText plays in CCNet, Wenzek et
al. 2020: label a small "looks high-quality" slice, fit a fast linear
text classifier, score the whole corpus).  The reference (waimak) has
no classifier surface; this is the training-data-pipeline extension
family.

Shape of the model: features are token-hash buckets (md5 % B — the
DSIR hashing), the class-conditional token model is add-alpha
multinomial, and the per-document score is

    score(d) = log((n_pos + a)/(n_neg + a))                 [prior odds]
             + sum over d's tokens t of llr[bucket(t)]
    llr[b]   = log((c_pos[b] + a)/(T_pos + aB))
             - log((c_neg[b] + a)/(T_neg + aB))

with pred = 1 iff score >= 0.  Weak labels here come from the repo's
own quality heuristic (stopword_ratio >= threshold on its 4dp-rounded
value — engine-stable by construction), and the fit uses only the
TRAIN slice of a deterministic seeded 80/20 split so the entry reports
an honest held-out evaluation (measured: held-out accuracy 0.76-0.83
vs 0.52-0.54 majority across the three test SFs).

A full-batch logistic-GD variant was prototyped and REJECTED on
measurement: with a unit bias feature against ~0.05-magnitude
normalized tf features the bias direction dominates every gradient
step, and at any learning rate large enough to move the feature
weights the trajectory oscillates (all-positive/all-negative
predictions, held-out accuracy = majority or 1-majority at every
tested (lr, iters) point) — the conditioning fix is Newton/IRLS, which
has no SQL-expressible oracle.  NB is the closed-form member of the
same linear-classifier family and fits in ONE aggregation pass.

Scale shape (100 TB posture — the audited DSIR recipe): the token
stream is map-only; the class-conditional counts are ONE groupBy on
(y, bucket) whose output is bounded by 2B rows regardless of corpus
size (map-side partial agg collapses everything before the exchange);
those counts plus the 2-row train-label tally are BOUNDED COLLECTS
(the fixpoint/DSIR pattern) from which the llr table is rebuilt as a
local B-row frame and BROADCAST to the scoring join — zero token-
stream shuffle for scoring; the per-doc rollup is one keyed
aggregation.  Output is one verdict row per document (linear).

Cross-engine float lockstep: bucket counts and totals are exact
integers; each llr value is computed once per bucket as an ENGINE log
expression over integer literals (Spark's JVM log vs DuckDB's ln can
differ in the last ulp — absorbed, with per-doc summation order, by
the round(score, 4) gate: the DSIR/tfidf precedent); pred compares
the ROUNDED score to zero on both engines."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .curation import split_bucket, split_bucket_sql
from .text import TOKENS_SQL, md5_hash32_sexpr, md5_hash32_sql, tokens_sexpr
from .util import local_rows_df

#: hashed feature buckets (collisions trade accuracy for a bounded
#: model; 256 keeps the llr table broadcast-tiny and the oracle compact)
QC_BUCKETS = 256
#: add-alpha smoothing for the class-conditional multinomial and prior
QC_ALPHA = 1.0
#: weak-label threshold on the 4dp-rounded stopword ratio
QC_THRESHOLD = 0.06
#: percent of docs in the training slice of the seeded split
QC_TRAIN_PCT = 80
#: per-document score rounding (absorbs engine log/summation ulps)
QC_ROUND = 4


def _weak_label(text_col: str) -> Column:
    """1 iff the 4dp-rounded stopword ratio of the column named
    ``text_col`` clears QC_THRESHOLD — the same rounded expression
    :func:`~waimak_spark.functions.text.quality_columns` publishes, so
    the comparison is engine-stable."""
    from .text import quality_columns

    ratio = quality_columns(text_col)["stopword_ratio"]
    return (ratio >= F.lit(QC_THRESHOLD)).cast("int")


def nb_fit(docs: DataFrame, text_col: str = "text",
           id_col: str = "doc_id", buckets: int = QC_BUCKETS,
           alpha: float = QC_ALPHA, train_pct: int = QC_TRAIN_PCT,
           seed: int = 1):
    """Fit the NB model; returns ``(labeled, grams, llr_rows, lp)`` —
    the two persisted narrow frames (reused by the batch scorer), the
    collected per-bucket llr weights ``[(b, w)] * buckets`` and the
    prior log-odds, both ENGINE-evaluated doubles (JVM log over the
    exact-integer counts), so every scorer — the batch broadcast join,
    the streaming map-literal — carries bit-identical model values."""
    from .cache_registry import tracked_persist

    a = float(alpha)
    # TWO narrow persisted frames, not one wide one.  Measured (stash
    # A/B, fresh-JVM isolated min-of-6 at sf0.1, same session): the
    # wide form — persist (doc_id, token_array, y, is_train) once and
    # let the gram explode+shuffle lineage run twice off it — reads
    # 1.93-2.10 s vs 2.20-2.26 s here, i.e. ~0.25 s FASTER locally.
    # The narrow shape is kept anyway for the at-scale contract: the
    # wide form's persisted footprint is the corpus's full token
    # arrays (at 100 TB the evict-and-recompute-lineage shape the
    # kmeans materializer note warns about), while this persists only
    # 3-scalar-column frames — labels, and the (doc_id, b, cnt)
    # aggregate whose corpus-sized explode+shuffle then runs ONCE
    # instead of twice.  The corpus tokenizes twice (label ratio +
    # gram stream, both map-only single passes); that second scan is
    # the measured local price of not caching the token arrays.
    labeled = tracked_persist(
        docs.select(F.col(id_col).alias("doc_id"),
                    _weak_label(text_col).alias("y"))
        .withColumn(
            "is_train",
            (split_bucket(F.col("doc_id"), seed)
             < F.lit(train_pct)).cast("int")))
    grams = tracked_persist(
        docs.selectExpr(f"`{id_col}` as doc_id",
                        f"explode({tokens_sexpr(f'`{text_col}`')}) as term")
        .selectExpr("doc_id", f"{md5_hash32_sexpr('term')} % {buckets} as b")
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cnt")))
    # class-conditional bucket counts: bounded at 2*buckets rows BY
    # CONSTRUCTION after map-side partial agg -> bounded collect (the
    # DSIR recipe); likewise the 2-row train-label tally
    cls_rows = (grams.join(labeled.where(F.col("is_train") == 1)
                           .select("doc_id", "y"), "doc_id")
                .groupBy("y", "b").agg(F.sum("cnt").alias("c"))
                .collect())
    lbl_rows = (labeled.where(F.col("is_train") == 1)
                .groupBy("y").agg(F.count("*").alias("n")).collect())
    n_pos = next((r["n"] for r in lbl_rows if r["y"] == 1), 0)
    n_neg = next((r["n"] for r in lbl_rows if r["y"] == 0), 0)
    t_pos = sum(r["c"] for r in cls_rows if r["y"] == 1)
    t_neg = sum(r["c"] for r in cls_rows if r["y"] == 0)
    pos_by_b = {r["b"]: r["c"] for r in cls_rows if r["y"] == 1}
    neg_by_b = {r["b"]: r["c"] for r in cls_rows if r["y"] == 0}
    spark = docs.sparkSession
    # ALL buckets get an llr row — a bucket unseen in the train slice
    # scores the smoothed default ln(a/(T_pos+aB)) - ln(a/(T_neg+aB)),
    # not a silent zero (proper add-alpha NB for out-of-train tokens)
    counts = local_rows_df(
        spark,
        [(b, pos_by_b.get(b, 0), neg_by_b.get(b, 0))
         for b in range(buckets)],
        "b long, cp long, cn long")
    ab = F.lit(a * buckets)
    llr = counts.select(
        "b",
        (F.log((F.col("cp") + F.lit(a)) / (F.lit(float(t_pos)) + ab))
         - F.log((F.col("cn") + F.lit(a)) / (F.lit(float(t_neg)) + ab))
         ).alias("w"))
    # prior odds as an engine log over exact-int literals — evaluated
    # (with the llr column) in the SAME JVM that scores, so the model
    # doubles are identical wherever they are re-embedded (DuckDB
    # computes its own ln — the 4dp score round absorbs that ulp)
    lp_expr = F.log((F.lit(float(n_pos)) + F.lit(a))
                    / (F.lit(float(n_neg)) + F.lit(a)))
    llr_rows = sorted((r["b"], r["w"]) for r in llr.collect())
    lp = spark.range(1).select(lp_expr.alias("lp")).collect()[0]["lp"]
    return labeled, grams, llr_rows, lp


def quality_classifier_scores(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              buckets: int = QC_BUCKETS,
                              alpha: float = QC_ALPHA,
                              train_pct: int = QC_TRAIN_PCT,
                              seed: int = 1) -> DataFrame:
    """``(doc_id, y, is_train, score, pred)`` — every document scored
    by the NB quality model fitted on the train slice: ``y`` the weak
    label, ``is_train`` the split membership, ``score`` the rounded
    log-likelihood-ratio (positive = high-quality side), ``pred`` the
    thresholded verdict.  Zero-token documents score the prior odds
    alone (an empty product of likelihoods)."""
    labeled, grams, llr_rows, lp = nb_fit(
        docs, text_col, id_col, buckets, alpha, train_pct, seed)
    llr = local_rows_df(docs.sparkSession, llr_rows, "b long, w double")
    per_doc = (grams.join(F.broadcast(llr), "b")
               .groupBy("doc_id")
               .agg(F.sum(F.col("cnt") * F.col("w")).alias("_s")))
    scored = (labeled.join(per_doc, "doc_id", "left")
              .select("doc_id", "y", "is_train",
                      F.round(F.lit(float(lp))
                              + F.coalesce(F.col("_s"), F.lit(0.0)),
                              QC_ROUND).alias("score")))
    # degenerate all-one-class train slices stay finite: alpha > 0 keeps
    # every log argument strictly positive (e.g. n_neg=0 -> prior
    # ln((n_pos+a)/a)), so pred just degrades toward the seen class
    return scored.withColumn(
        "pred", (F.col("score") >= F.lit(0.0)).cast("int"))


def nb_score_columns(text_col: str, llr_rows, lp: float,
                     buckets: int = QC_BUCKETS) -> dict[str, Column]:
    """Map-only per-row scoring columns of the column named ``text_col``
    from a COLLECTED model — the
    streaming/serving form: the ``buckets``-entry llr map and the prior
    ride the plan as a folded literal, each row's score is one
    ``aggregate`` over its own token array (same 4dp round as the batch
    scorer; summation order is array order vs the batch's shuffle
    order — inside the round's absorption band like every aggregate in
    the family).  ZERO state and ZERO shuffle: the proof is that the
    streaming entry runs in append mode, which Spark refuses for any
    stateful plan."""
    m = "map(" + ", ".join(f"{int(b)}, {float(w)!r}D"
                           for b, w in llr_rows) + ")"
    toks = f"coalesce({tokens_sexpr(f'`{text_col}`')}, array())"
    score = (f"round(aggregate({toks}, cast({float(lp)!r}D as double), "
             f"(acc, t) -> acc + element_at({m}, "
             f"{md5_hash32_sexpr('t')} % {buckets})), {QC_ROUND})")
    return {"y": _weak_label(text_col), "score": F.expr(score)}


def quality_classifier_scores_sql(table: str = "documents",
                                  text: str = "text",
                                  id_col: str = "doc_id",
                                  buckets: int = QC_BUCKETS,
                                  alpha: float = QC_ALPHA,
                                  train_pct: int = QC_TRAIN_PCT,
                                  seed: int = 1) -> str:
    """DuckDB oracle for :func:`quality_classifier_scores` — identical
    hashing, identical split, identical add-alpha arithmetic with the
    same exact-integer totals, scores rounded to the same 4dp before
    the zero-threshold verdict."""
    from .text import STOPWORDS_SQL

    a = repr(float(alpha))
    return f"""
        with tok as (
            select {id_col} as doc_id,
                   {TOKENS_SQL.format(col=text)} as t
            from {table}
        ), labels as (
            select doc_id,
                   case when round(case when len(t) > 0
                        then len(list_filter(t,
                                 x -> list_contains({STOPWORDS_SQL}, x)
                             ))::DOUBLE / len(t)
                        else 0.0 end, 4) >= {QC_THRESHOLD}
                        then 1 else 0 end as y,
                   case when {split_bucket_sql('doc_id', seed)}
                             < {train_pct} then 1 else 0 end as is_train
            from tok
        ), grams as (
            select doc_id, {md5_hash32_sql('term')} % {buckets} as b,
                   count(*)::BIGINT as cnt
            from (select doc_id, unnest(t) as term from tok)
            group by doc_id, b
        ), cls as (
            select l.y, g.b, sum(g.cnt)::BIGINT as c
            from grams g join labels l using (doc_id)
            where l.is_train = 1
            group by l.y, g.b
        ), tally as (
            select coalesce(sum(case when y = 1 then 1 end), 0)::DOUBLE
                       as n_pos,
                   coalesce(sum(case when y = 0 then 1 end), 0)::DOUBLE
                       as n_neg
            from labels where is_train = 1
        ), tot as (
            select coalesce(sum(case when y = 1 then c end), 0)::DOUBLE
                       as t_pos,
                   coalesce(sum(case when y = 0 then c end), 0)::DOUBLE
                       as t_neg
            from cls
        ), cpiv as (
            select b,
                   coalesce(sum(case when y = 1 then c end), 0)::BIGINT
                       as cp,
                   coalesce(sum(case when y = 0 then c end), 0)::BIGINT
                       as cn
            from cls group by b
        ), llr as (
            -- every bucket scores: unseen-in-train buckets get the
            -- smoothed default, mirroring the Spark side's full range
            select r.range as b,
                   ln((coalesce(cpiv.cp, 0) + {a}::DOUBLE)
                      / (tot.t_pos + {a}::DOUBLE * {buckets}))
                 - ln((coalesce(cpiv.cn, 0) + {a}::DOUBLE)
                      / (tot.t_neg + {a}::DOUBLE * {buckets})) as w
            from range({buckets}) r
            left join cpiv on r.range = cpiv.b
            cross join tot
        ), per_doc as (
            select g.doc_id, sum(g.cnt * llr.w) as _s
            from grams g join llr using (b)
            group by g.doc_id
        ), scored as (
            select l.doc_id, l.y, l.is_train,
                   round(ln((tally.n_pos + {a}::DOUBLE)
                            / (tally.n_neg + {a}::DOUBLE))
                         + coalesce(p._s, 0.0), {QC_ROUND}) as score
            from labels l
            left join per_doc p using (doc_id)
            cross join tally
        )
        select doc_id, y, is_train, score,
               case when score >= 0.0 then 1 else 0 end as pred
        from scored
    """
