"""Count-min sketch over corpus n-grams (Cormode & Muthukrishnan 2005,
J. Algorithms 55(1)) — bounded-memory approximate frequency counting,
the counting sibling of the Bloom membership filter in
:mod:`waimak_spark.functions.dedup`.

The reference (waimak) has no sketch surface; this is the
training-data-pipeline extension family.  The 100 TB story: a full gram
``groupBy`` keyed on the gram string shuffles one row per DISTINCT gram
— unbounded state that grows with the corpus; the sketch's state is
``CMS_DEPTH × CMS_WIDTH`` cells REGARDLESS of corpus size (65 536 longs
at the defaults — broadcastable), map-side partial aggregation collapses
hot grams on the mappers, and any gram's frequency ESTIMATE is d seeded
hashes + a broadcast join.  Estimates never undercount (each of a gram's
d cells counts every occurrence of the gram, plus colliding strangers;
the min over d is still ≥ the true count); overshoot is bounded by the
classic εN with ε = e/width at depth ln(1/δ).  Every position comes from
the same seeded md5 the Bloom filter uses, so sketch content — including
which grams collide — is bit-reproducible on any engine, which is what
licenses an exact DuckDB oracle for an "approximate" operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import spread_for_compute
from .text import (
    TOKENS_SQL,
    seeded_hash_sexpr,
    seeded_hash_sql,
    shingles_sexpr,
    shingles_sql,
    tokens_sexpr,
)

#: depth d: independent seeded hash rows (error probability δ = e^-d)
CMS_DEPTH = 4
#: width w: cells per row (overshoot ε = e/w of total gram mass)
CMS_WIDTH = 1 << 14
#: seed base — disjoint from the Bloom (7001+), IVF (1000+), k-means
#: (2000+), and PQ (3000+) ranges so no two operators share a hash stream
CMS_SEED_BASE = 8000
#: word-gram order for the corpus boilerplate entry
CMS_NGRAM = 3
#: heavy hitters reported by the catalog entry
CMS_TOPK = 20


def cms_gram_stream(df: DataFrame, text_col: str = "text",
                    n: int = CMS_NGRAM, spread: bool = True) -> DataFrame:
    """One ``gram`` row per word-``n``-gram position (overlapping,
    position-counted — frequency semantics, not the distinct-set
    semantics of the Jaccard family).  Null/short texts contribute
    nothing, which both engines agree on (explode of an empty array).
    ``spread=False`` skips the compute-spreading repartition for
    STREAMING sources (``spread_for_compute`` reads driver-side file
    metadata a streaming plan doesn't have; the streaming caller
    spreads with an explicit round-robin exchange instead — the
    :func:`hll_gram_stream` contract)."""
    base = spread_for_compute(df) if spread else df
    # selectExpr: one py4j call per projection
    return (base
            .where(f"`{text_col}` is not null")
            .selectExpr(f"{tokens_sexpr(f'`{text_col}`')} as _t")
            .selectExpr(f"explode({shingles_sexpr('_t', n)}) as gram"))


def _cms_probes(gram_sql: str, depth: int, width: int) -> Column:
    """``array(struct(j, cell), ...)`` — the d (row, cell) probes of a
    gram, parsed as ONE expression (the Column-loop form cost ~40 py4j
    round-trips per construction site)."""
    return F.expr("array(" + ", ".join(
        f"struct({j} as j, "
        f"cast({seeded_hash_sexpr(gram_sql, CMS_SEED_BASE + j)} % {width} "
        f"as int) as cell)" for j in range(depth)) + ")")


def cms_sketch(df: DataFrame, text_col: str = "text", n: int = CMS_NGRAM,
               depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """The sketch itself: ``(j, cell, c)`` — row j's cell counters, at
    most ``depth × width`` rows by construction.  ONE pass over the gram
    stream: each gram explodes into its d (row, cell) probes and a keyed
    count aggregates them; map-side partial aggregation collapses hot
    grams (boilerplate repeated millions of times) on the mappers, so
    the shuffle carries at most d × width rows per mapper, not the gram
    stream."""
    return cms_sketch_from_grams(cms_gram_stream(df, text_col, n),
                                 depth, width)


def cms_sketch_from_grams(grams: DataFrame, depth: int = CMS_DEPTH,
                          width: int = CMS_WIDTH) -> DataFrame:
    """:func:`cms_sketch` over an already-built ``gram`` frame — the
    entry point for callers that share one persisted gram stream across
    the sketch and an exact certification branch (the shingle_base
    recipe; see :func:`cms_heavy_hitters`)."""
    probes = _cms_probes("gram", depth, width)
    return (grams
            .select(F.explode(probes).alias("p"))
            .select("p.j", "p.cell")
            .groupBy("j", "cell")
            .agg(F.count("*").cast("bigint").alias("c")))


def cms_estimate(sketch: DataFrame, grams: DataFrame,
                 gram_col: str = "gram", depth: int = CMS_DEPTH,
                 width: int = CMS_WIDTH) -> DataFrame:
    """Point-estimate each input gram's corpus frequency: min over the
    gram's d cells, 0 when a cell is empty.  The sketch side carries an
    explicit broadcast hint — its row count is bounded by d × width BY
    CONSTRUCTION, but Catalyst's size estimate derives from the
    (unbounded) corpus child, so without the hint the planner would
    shuffle the probe stream at scale (the Bloom position-set
    argument)."""
    probes = _cms_probes(f"`{gram_col}`", depth, width)
    p = (grams.select(F.col(gram_col).alias("gram"))
         .select("gram", F.explode(probes).alias("p"))
         .select("gram", "p.j", "p.cell"))
    return (p.join(F.broadcast(sketch), ["j", "cell"], "left")
            .groupBy("gram")
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .cast("bigint").alias("c_est")))


def cms_heavy_hitters(df: DataFrame, text_col: str = "text",
                      k: int = CMS_TOPK, n: int = CMS_NGRAM,
                      depth: int = CMS_DEPTH,
                      width: int = CMS_WIDTH) -> DataFrame:
    """``(gram, c_exact, c_est, over)`` for the k most frequent word
    n-grams: the exact top-k (count desc, gram asc — deterministic at
    the rank-k boundary) is the VERIFICATION GATE for the sketch (the
    ann_ivf_recall pattern): ``c_est`` must never undercount
    (``over = 1`` on every row), and for true heavy hitters the
    estimate is tight.  At 100 TB the exact side is the expensive path
    you run once to certify; the sketch is what the pipeline keeps.
    The gram stream is persisted so the exact and sketch branches share
    ONE tokenize pass (the same double-tokenize shape the HLL entry's
    first measurement caught).  Measured isolated A/B: parity at sf0.1
    (1.91 vs 1.92 s — the persist write costs what the saved pass
    saves) and −5% on the 10× replica (min-of-4: 2.82 vs 2.98 s);
    kept for the at-scale shape — the saved pass grows with the corpus
    while the cache write stays one memory-bandwidth pass."""
    from .cache_registry import tracked_persist

    g = tracked_persist(cms_gram_stream(df, text_col, n))
    return cms_heavy_hitters_from_sketch(
        cms_sketch_from_grams(g, depth, width), g, k, depth, width)


def cms_heavy_hitters_from_sketch(sketch: DataFrame, grams: DataFrame,
                                  k: int = CMS_TOPK,
                                  depth: int = CMS_DEPTH,
                                  width: int = CMS_WIDTH) -> DataFrame:
    """The certification report of :func:`cms_heavy_hitters` against a
    PREBUILT ``(j, cell, c)`` sketch frame — the entry point for callers
    whose sketch was accumulated elsewhere (the streaming catalog entry
    drains its sketch from Structured-Streaming state; count is
    associative/commutative, so the drained state equals the batch
    sketch bit-for-bit and this report is identical either way).
    ``grams`` is the batch-side gram stream the exact top-k certifies
    from (the run-once expensive path at 100 TB)."""
    from .cache_registry import tracked_persist

    # the k-row exact top-k feeds BOTH the estimate's probe stream and
    # the final certification join — persist it, or the full
    # groupBy-over-the-gram-stream aggregation runs once per consumer
    # (event-log profile at sf0.1: two ~1.2 s jobs for one answer)
    exact = tracked_persist(
        grams.groupBy("gram").agg(F.count("*").cast("bigint")
                                  .alias("c_exact"))
        .orderBy(F.desc("c_exact"), F.asc("gram")).limit(k))
    est = cms_estimate(sketch, exact.select("gram"),
                       depth=depth, width=width)
    return (exact.join(est, "gram")
            .select("gram", "c_exact", "c_est",
                    (F.col("c_est") >= F.col("c_exact")).cast("int")
                    .alias("over"))
            .orderBy(F.desc("c_exact"), F.asc("gram")))


def _cms_cells_sql(expr: str, depth: int, width: int) -> str:
    """Parallel-unnest lists: DuckDB zips equal-length unnests in one
    SELECT, giving the same (j, cell) probe rows as the Spark explode."""
    js = ", ".join(str(j) for j in range(depth))
    cells = ", ".join(
        f"({seeded_hash_sql(expr, CMS_SEED_BASE + j)} % {width})::INT"
        for j in range(depth))
    return f"unnest([{js}]) as j, unnest([{cells}]) as cell"


def cms_heavy_hitters_sql(k: int = CMS_TOPK, n: int = CMS_NGRAM,
                          depth: int = CMS_DEPTH,
                          width: int = CMS_WIDTH,
                          table: str = "documents",
                          text: str = "text") -> str:
    """DuckDB oracle for :func:`cms_heavy_hitters` over ``table``."""
    return f"""
        with tok as (
            select {TOKENS_SQL.format(col=text)} as t
            from {table} where {text} is not null
        ), g as (
            select unnest({shingles_sql('t', n)}) as gram from tok
        ), sk as (
            select j, cell, count(*)::BIGINT as c
            from (select {_cms_cells_sql('gram', depth, width)} from g)
            group by j, cell
        ), exact as (
            select gram, count(*)::BIGINT as c_exact
            from g group by gram
            order by c_exact desc, gram limit {k}
        ), probe as (
            select gram, {_cms_cells_sql('gram', depth, width)} from exact
        ), est as (
            select probe.gram,
                   min(coalesce(sk.c, 0))::BIGINT as c_est
            from probe left join sk using (j, cell)
            group by probe.gram
        )
        select e.gram, e.c_exact, est.c_est,
               case when est.c_est >= e.c_exact then 1 else 0 end as over
        from exact e join est using (gram)
        order by e.c_exact desc, e.gram
    """


# ---------------------------------------------------------------------------
# HyperLogLog distinct counting (Flajolet, Fusy, Gandouet & Meunier 2007,
# AofA/DMTCS proceedings) — the DISTINCT-counting sibling of the
# count-min frequency sketch above.  The 100 TB story: an exact
# count-distinct over corpus n-grams shuffles one row per distinct gram
# per group — state that grows with the corpus (the reason Spark ships
# approx_count_distinct at all); the HLL register frame is at most
# ``HLL_M`` rows PER GROUP regardless of corpus size (4096 ints at the
# defaults — broadcastable, mergeable by a plain max), and map-side
# partial aggregation collapses repeated grams on the mappers so the
# shuffle carries register rows, not the gram stream.  Spark's own
# approx_count_distinct (HLL++) is the same idea but its estimates are
# not reproducible outside the JVM; these registers come from the same
# seeded-md5 recipe as the Bloom/CMS sketches, so every register value —
# and therefore the estimate, including its error — is bit-reproducible
# on any engine, which is what licenses an exact DuckDB oracle for an
# "approximate" operator (the CMS argument).  Standard error is
# 1.04/sqrt(m) ≈ 1.6% at m=4096.
# ---------------------------------------------------------------------------

#: register index bits p: m = 2^p registers per group
HLL_P = 12
HLL_M = 1 << HLL_P
#: rho observation window bits (independent seeded hash; max rho = W+1)
HLL_W = 20
#: seed pair — disjoint from CMS (8000..8003), Bloom (7001+), IVF
#: (1000+), k-means (2000+), PQ (3000+)
HLL_SEED_REG = 8100
HLL_SEED_RHO = 8101
#: certification gate reported by the catalog entry (std err ~1.6%)
HLL_REL_TOL = 0.05


def _hll_alpha(m: int) -> float:
    """Bias constant for m >= 128 (Flajolet et al. 2007, Fig. 3)."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, col: str = "gram",
                  group_cols: tuple[str, ...] = (),
                  p: int = HLL_P, w: int = HLL_W) -> DataFrame:
    """The sketch itself: ``(*group_cols, j, r)`` — register j's value is
    the max over items of rho(item) = 1 + leading zeros of a w-bit
    seeded hash, at most ``2^p`` rows per group BY CONSTRUCTION.  One
    pass, one keyed max; duplicates collapse map-side (a duplicate can
    never change a max).  ``length(bin(v))`` is floor(log2 v)+1 exactly
    (integer string length, no float log), identical in Spark and
    DuckDB."""
    m = 1 << p
    # single-parse SQL fragments; the v subexpression repeats in both
    # CASE branches
    item_s = f"`{col}`"
    j_s = f"cast(({seeded_hash_sexpr(item_s, HLL_SEED_REG)}) % {m} as int)"
    v_s = f"({seeded_hash_sexpr(item_s, HLL_SEED_RHO)}) % {1 << w}"
    rho_s = (f"cast(case when ({v_s}) = 0 then {w + 1} "
             f"else {w + 1} - length(bin({v_s})) end as int)")
    return (df.where(F.expr(f"{item_s} is not null"))
            .groupBy(*group_cols, F.expr(j_s).alias("j"))
            .agg(F.expr(f"max({rho_s})").alias("r")))


def hll_merge(a: DataFrame, b: DataFrame,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union two register frames: per-register max.  Exactly equals the
    sketch of the unioned inputs (max is associative/commutative/
    idempotent), so shards sketch independently and merge for free —
    the property that makes HLL state mergeable across 1000 executors
    without ever re-reading data."""
    return (a.unionByName(b)
            .groupBy(*group_cols, "j")
            .agg(F.max("r").alias("r")))


def hll_estimate(reg: DataFrame, group_cols: tuple[str, ...] = (),
                 p: int = HLL_P, est_col: str = "n_est") -> DataFrame:
    """Distinct-count estimate per group from a register frame, rounded
    to 4dp.  The harmonic sum S = sum(2^-r) + (m - occupied) is EXACT in
    double (each term a power of two, mantissa span < 53 bits), so the
    raw estimate alpha*m^2/S and the small-range branch condition are
    bit-identical across engines; only ln() in the linear-counting
    branch can differ in the last ulp, absorbed by the 4dp round."""
    m = 1 << p
    alpha = _hll_alpha(m)
    agg = reg.groupBy(*group_cols).agg(
        F.count("*").alias("_occ"),
        F.expr("sum(pow(2.0D, -r))").alias("_s"))
    # one parsed string: the raw-estimate subexpression repeats in both
    # CASE branches; repr literals round-trip the doubles exactly
    raw_s = f"{alpha!r}D * {float(m * m)!r}D / (_s + ({m} - _occ))"
    est_s = (f"case when ({raw_s}) <= {2.5 * m!r}D and ({m} - _occ) > 0 "
             f"then {float(m)!r}D * ln({float(m)!r}D "
             f"/ cast({m} - _occ as double)) "
             f"else ({raw_s}) end")
    return agg.selectExpr(*group_cols,
                          f"round({est_s}, 4) as {est_col}")


def hll_gram_stream(df: DataFrame, text_col: str = "text",
                    group_col: str = "lang", n: int = CMS_NGRAM,
                    spread: bool = True) -> DataFrame:
    """``(grp, gram)`` — one row per word-n-gram occurrence with its
    group key.  ``spread=False`` skips the compute-spreading
    repartition: a STREAMING source must keep this frame a pure map so
    the only shuffle is the register aggregation itself (and
    ``spread_for_compute`` reads driver-side file metadata a streaming
    plan doesn't have)."""
    base = spread_for_compute(df) if spread else df
    # one parsed SQL string per projection
    return (base
            .where(F.expr(f"`{text_col}` is not null "
                          f"and `{group_col}` is not null"))
            .selectExpr(f"`{group_col}` as grp",
                        f"{tokens_sexpr(f'`{text_col}`')} as _t")
            .selectExpr("grp",
                        f"explode({shingles_sexpr('_t', n)}) as gram"))


def hll_report(exact: DataFrame, est: DataFrame,
               group_col: str = "lang") -> DataFrame:
    """Join the exact certification side to the estimate and emit the
    catalog shape ``(group, n_exact, n_est, within_tol)`` — the flag
    compares the ROUNDED estimate so both engines evaluate the
    identical boundary."""
    return (exact.join(est, "grp")
            .select(F.col("grp").alias(group_col), "n_exact", "n_est",
                    (F.abs(F.col("n_est") / F.col("n_exact") - 1)
                     <= F.lit(HLL_REL_TOL)).cast("int")
                    .alias("within_tol"))
            .orderBy(group_col))


def hll_distinct_grams(df: DataFrame, text_col: str = "text",
                       group_col: str = "lang", n: int = CMS_NGRAM,
                       p: int = HLL_P, w: int = HLL_W,
                       certify: bool = True) -> DataFrame:
    """``(lang, n_exact, n_est, within_tol)`` — per-group distinct word
    n-gram counts: the exact count-distinct (the expensive
    run-once-to-certify path at 100 TB) next to the HLL estimate and a
    relative-error bit at :data:`HLL_REL_TOL` (the ann_ivf_recall
    certification pattern).  The flag compares the ROUNDED estimate so
    both engines evaluate the identical boundary.  The gram stream is
    persisted (shingle_base recipe) so the exact and register branches
    share ONE tokenize pass — unpersisted, the 10× replica paid the
    interpreted shingle pipeline twice (38.9 → 3.0 s at 10×, 1× ratio
    1.3; the unpersisted 10× figure carried host load, but the 1× side
    alone reproduced 4.9 → 2.3 s).

    ``certify=False`` is the production 100 TB path made explicit:
    ``(lang, n_est)`` from the registers alone — one
    tokenize pass into the keyed-max register aggregation, no persist
    (single consumer), no exact count-distinct.  The estimate is the
    SAME ``hll_estimate`` expression the certified report embeds, so
    the values match its ``n_est`` column exactly (locked in
    tests/test_hll.py)."""
    from .cache_registry import tracked_persist

    if not certify:
        g = hll_gram_stream(df, text_col, group_col, n)
        est = hll_estimate(hll_registers(g, "gram", ("grp",), p, w),
                           ("grp",), p)
        return (est.select(F.col("grp").alias(group_col), "n_est")
                .orderBy(group_col))
    g = tracked_persist(hll_gram_stream(df, text_col, group_col, n))
    exact = g.groupBy("grp").agg(
        F.countDistinct("gram").cast("bigint").alias("n_exact"))
    est = hll_estimate(hll_registers(g, "gram", ("grp",), p, w),
                       ("grp",), p)
    return hll_report(exact, est, group_col)


def hll_distinct_grams_sql(n: int = CMS_NGRAM, p: int = HLL_P,
                           w: int = HLL_W, table: str = "documents",
                           text: str = "text",
                           group_col: str = "lang") -> str:
    """DuckDB oracle for :func:`hll_distinct_grams` — the same seeded
    registers, harmonic sum, branch condition, and rounded-estimate
    flag."""
    m = 1 << p
    alpha = _hll_alpha(m)
    est_expr = (f"case when {alpha!r}::DOUBLE * {m * m} / (s + ({m} - occ)) "
                f"<= {2.5 * m!r} and ({m} - occ) > 0 "
                f"then round({m}::DOUBLE * ln({m}::DOUBLE "
                f"/ ({m} - occ)), 4) "
                f"else round({alpha!r}::DOUBLE * {m * m} / (s + ({m} - occ)), 4) "
                f"end")
    return f"""
        with tok as (
            select {group_col} as grp,
                   {TOKENS_SQL.format(col=text)} as t
            from {table}
            where {text} is not null and {group_col} is not null
        ), g as (
            select grp, unnest({shingles_sql('t', n)}) as gram from tok
        ), probe as (
            select grp,
                   ({seeded_hash_sql('gram', HLL_SEED_REG)} % {m})::INT
                       as j,
                   ({seeded_hash_sql('gram', HLL_SEED_RHO)} % {1 << w})
                       as v
            from g
        ), reg as (
            select grp, j,
                   max(case when v = 0 then {w + 1}
                       else {w + 1} - length(bin(v)) end)::INT as r
            from probe group by grp, j
        ), agg as (
            select grp, count(*) as occ,
                   sum(power(2, -r)) as s
            from reg group by grp
        ), est as (
            select grp, {est_expr} as n_est from agg
        ), exact as (
            select grp, count(distinct gram)::BIGINT as n_exact
            from g group by grp
        )
        select e.grp as {group_col}, e.n_exact, est.n_est,
               case when abs(est.n_est / e.n_exact - 1) <= {HLL_REL_TOL!r}
                    then 1 else 0 end as within_tol
        from exact e join est using (grp)
        order by {group_col}
    """


# ---------------------------------------------------------------------------
# KMV bottom-k quantile sketch — the QUANTILE member of the
# sketch triad (CMS = frequencies, HLL = distinct counts, KMV = value
# distribution), built on the k-minimum-values idea (Bar-Yossef et al.
# 2002, RANDOM: the k smallest values of a uniform hash are a uniform
# size-k sample without replacement).  The 100 TB story: an exact
# quantile needs a per-group sort of the whole corpus; the sketch's
# state is k rows per group REGARDLESS of corpus size, selection is one
# map pass + a salted top-k (no per-group full sort, no hot single
# partition), and bottom-k MERGES exactly — bottomk(A ∪ B) ==
# bottomk(bottomk(A) ∪ bottomk(B)), the union-commutes identity the
# stored-index family uses, so per-batch sketches roll up to the
# corpus sketch with k-row state per batch.  The seeded md5 hash makes
# the SAMPLE itself engine-reproducible — which estimate errors occur
# is deterministic — licensing an exact DuckDB oracle (the Bloom/CMS/
# HLL recipe).  The catalog entry reports, per group and quantile, the
# exact value (run-once certification, the ann_ivf_recall pattern),
# the sketch estimate, and the exactly-computed rank error with a
# DKW-style tolerance flag.
# ---------------------------------------------------------------------------

#: sample size per group (rank-error std ~ sqrt(q(1-q)/k) <= 0.031)
KMV_K = 256
#: seed — disjoint from CMS (8000+), HLL (8100+), Bloom (7001+)
KMV_SEED = 8200
#: salt buckets for the two-phase per-group top-k (the BM25 pattern: a
#: hot group can never pin a full corpus partition on one task)
KMV_SALT = 32
#: quantiles the catalog entry certifies
KMV_QS = (0.5, 0.95, 0.99)
#: rank-error tolerance: 2/sqrt(k) (DKW-flavored two-sided bound)
KMV_RANK_TOL = 2.0 / (KMV_K ** 0.5)


def kmv_bottomk(df: DataFrame, value_col: str = "value",
                group_col: str = "event_type", id_col: str = "event_id",
                k: int = KMV_K, seed: int = KMV_SEED,
                salt: int = KMV_SALT, spread: bool = True) -> DataFrame:
    """``(g, id, v, _u)`` — per group, the ``k`` rows with the smallest
    seeded hash of the row id: a uniform size-k sample without
    replacement, selected in TWO phases (row_number inside
    ``(g, id % salt)`` buckets prunes to <= k*salt rows per group
    before the final per-group rank) so the only per-group-keyed window
    runs over a bounded frame.  Rows with a null group or value are
    excluded on both engines.  ``spread=False`` skips the input
    round-robin for callers whose frame is already well-partitioned
    (e.g. the persisted :func:`_kmv_full` projection — spreading a
    cached frame is a pure extra exchange immediately re-shuffled by
    the first window)."""
    from pyspark.sql import Window as W

    base = ((spread_for_compute(df) if spread else df)
            .where(F.col(value_col).isNotNull()
                   & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("g"),
                    F.col(id_col).alias("id"),
                    F.col(value_col).alias("v"))
            .withColumn("_u", F.expr(
                seeded_hash_sexpr("cast(id as string)", seed))))
    w1 = (W.partitionBy("g", F.pmod(F.col("id"), F.lit(salt)))
          .orderBy(F.asc("_u"), F.asc("id")))
    w2 = W.partitionBy("g").orderBy(F.asc("_u"), F.asc("id"))
    return (base.withColumn("_pr", F.row_number().over(w1))
            .where(F.col("_pr") <= k)
            .withColumn("_r", F.row_number().over(w2))
            .where(F.col("_r") <= k)
            .select("g", "id", "v", "_u"))


def _qtag(q: float) -> str:
    return str(q).replace(".", "_")


def kmv_quantiles(df: DataFrame, qs: tuple = KMV_QS,
                  value_col: str = "value",
                  group_col: str = "event_type",
                  id_col: str = "event_id", k: int = KMV_K,
                  seed: int = KMV_SEED, certify: bool = True) -> DataFrame:
    """``(group, q, n, exact_q, est_q, rank_err, within_tol)`` — per
    group and quantile: the exact type-1 (discrete) quantile from a
    full per-group rank (the run-once CERTIFICATION side), the KMV
    sketch estimate (the same pick rule over the bottom-k sample), and
    the exactly-computed rank error ``|F(est_q) - q|`` with a
    ``<= 2/sqrt(k)`` tolerance bit.  Every pick is rank
    ``greatest(1, ceil(q*n))`` in ``(value asc, id asc)`` order — a
    total order, so both engines pick the identical row; the rank-error
    division is rounded to 4dp (the aggregate-family gate).

    Plan shape: the null-filtered ``(g, id, v)`` projection persists
    once and feeds (a) the per-group counts, (b) the exact-rank window,
    (c) the rank-error conditional count — each one pass with map-side
    partial aggregation; the sample side is bounded at ``k`` rows per
    group.  The per-group full-sort window is the certification side
    only — a production 100 TB run keeps the sketch path (one map pass
    + salted top-k) and certifies on a slice.

    ``certify=False`` IS that production path, made explicit (VERDICT
    r11 #9): returns ``(group, q, est_q)`` from the sketch alone — one
    map pass + the salted bottom-k, no persist, no corpus-wide rank
    window, no exact side.  The estimates are computed by the SAME
    shared pick-rule code the certified report embeds, so they are
    bit-identical to the report's ``est_q`` column (locked in
    tests/test_kmv.py)."""
    if not certify:
        proj = (df.where(F.col(value_col).isNotNull()
                         & F.col(group_col).isNotNull())
                .select(F.col(group_col).alias("g"),
                        F.col(id_col).alias("id"),
                        F.col(value_col).alias("v")))
        samp = kmv_bottomk(proj, "v", "g", "id", k, seed, spread=False)
        return _kmv_estimates_long(samp, qs, group_col)
    full = _kmv_full(df, value_col, group_col, id_col)
    # sample from the persisted projection (already named g/id/v) so the
    # bottom-k side is a cache read, not a second corpus scan+filter;
    # spread=False — the projection was spread BEFORE persisting, so the
    # cache is already parallel and the window exchange redistributes
    samp = kmv_bottomk(full, "v", "g", "id", k, seed, spread=False)
    return _kmv_report(full, samp, qs, group_col, 2.0 / (k ** 0.5))


def _kmv_full(df: DataFrame, value_col: str, group_col: str,
              id_col: str) -> DataFrame:
    """Null-filtered persisted ``(g, id, v)`` projection — feeds the
    per-group counts, the exact-rank window, the rank-error count, and
    the bottom-k sample (one cache write, four cache reads).  No spread:
    the projection is narrow (no interpreted per-row pipeline), every
    consumer's window/aggregate re-shuffles anyway, and an interleaved
    same-JVM A/B at sf0.1 measured the round-robin exchange as pure
    cost (min-of-5: 5.16 s with it, 2.95 s without; spreading inside
    the bottom-k sampler instead was slower too)."""
    from .cache_registry import tracked_persist

    return tracked_persist(
        df.where(F.col(value_col).isNotNull()
                 & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("g"), F.col(id_col).alias("id"),
                F.col(value_col).alias("v")))


def _kmv_sample_estimates(samp: DataFrame, qs: tuple) -> DataFrame:
    """Per-group wide estimate frame ``(g, e_<q>...)`` from any bounded
    ``(g, id, v)`` sample: the same type-1 pick rule the exact side
    uses, over the sample's own rank.  Shared verbatim by the
    certification report and the ``certify=False`` sketch-only path so
    the estimates cannot drift between them (locked in
    tests/test_kmv.py).  Per-q aggregates are SQL strings, one parse
    each (``1L`` and ``ceil(double)`` keep the rank arithmetic
    bigint)."""
    from pyspark.sql import Window as W

    ws = W.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    wn = W.partitionBy("g")
    # sample size as an unordered window over the SAME g-partition the
    # rank establishes (guide §2.4: no second exchange, no join);
    # aggregating sn separately and broadcast-joining it back would
    # make every unpersisted consumer recompute the sample subplan twice
    return (samp.withColumn("_sr", F.row_number().over(ws))
            .withColumn("sn", F.count("*").over(wn))
            .groupBy("g").agg(*[
                F.expr(f"max(case when _sr = greatest(1L, "
                       f"ceil({float(q)!r} * sn)) then v end)")
                .alias(f"e_{_qtag(q)}")
                for q in qs]))


def _kmv_estimates_long(samp: DataFrame, qs: tuple,
                        group_col: str) -> DataFrame:
    """``(group, q, est_q)`` — the sketch-only answer shape of the
    ``certify=False`` fast path: one stack over the wide per-group
    estimates, no corpus-wide rank window, no exact side."""
    est_wide = _kmv_sample_estimates(samp, qs)
    stack_args = ", ".join(
        f"cast({float(q)!r} as double), e_{_qtag(q)}" for q in qs)
    return (est_wide.select(
        F.col("g").alias(group_col),
        F.expr(f"stack({len(qs)}, {stack_args}) as (q, est_q)"))
        .orderBy(group_col, "q"))


def _kmv_report(full: DataFrame, samp: DataFrame, qs: tuple,
                group_col: str, tol: float) -> DataFrame:
    """The shared certification report over any ``(g, id, v)`` sample
    frame: exact type-1 quantiles from the full per-group rank, the
    same pick rule over the sample, and the exactly-computed rank
    error with a ``<= tol`` bit — used by the global bottom-k sketch
    (:func:`kmv_quantiles`) and the bucketed-minima sketch
    (:func:`kmv_bucket_quantiles`, whose keyed-min state is also the
    streaming form)."""
    from pyspark.sql import Window as W

    # ONE windowed pass over the full projection (guide §2.4 "remove
    # shuffles outright"): the per-group count
    # rides the SAME hash-partition(g) exchange as the rank window (an
    # unordered window count adds a WindowExec but no exchange or extra
    # scan), and with the tiny per-group estimate frame broadcast in,
    # the rank-error conditional counts become extra aggregates of the
    # SAME groupBy, instead of three separate full passes (count
    # aggregate, rank window, error count) each with its own exchange
    # over the persisted projection.  Values identical: same
    # picks, same counts, same rounding.
    wv = W.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    wn = W.partitionBy("g")
    est_wide = _kmv_sample_estimates(samp, qs)
    ranked = (full.withColumn("_rn", F.row_number().over(wv))
              .withColumn("n", F.count("*").over(wn))
              .join(F.broadcast(est_wide), "g"))
    merged = ranked.groupBy("g", "n").agg(*(
        [F.expr(f"max(case when _rn = greatest(1L, "
                f"ceil({float(q)!r} * n)) then v end)")
         .alias(f"x_{_qtag(q)}")
         for q in qs]
        + [F.expr(f"cast(sum(case when v <= e_{_qtag(q)} then 1 else 0 "
                  f"end) as bigint)").alias(f"c_{_qtag(q)}")
           for q in qs]))
    # re-attach the per-group estimates for the stack (k-group frames —
    # a broadcast join of two tiny aggregates, not a corpus pass)
    wide = merged.join(F.broadcast(est_wide), "g")
    stack_args = ", ".join(
        f"cast({float(q)!r} as double), x_{_qtag(q)}, e_{_qtag(q)}, "
        f"c_{_qtag(q)}" for q in qs)
    long = wide.select(
        "g", "n",
        F.expr(f"stack({len(qs)}, {stack_args}) "
               f"as (q, exact_q, est_q, c_le)"))
    rank_err = F.round(F.abs(F.col("c_le") / F.col("n") - F.col("q")), 4)
    return (long.select(
        F.col("g").alias(group_col), "q", "n", "exact_q", "est_q",
        rank_err.alias("rank_err"),
        (rank_err <= F.lit(float(tol))).cast("int")
        .alias("within_tol"))
        .orderBy(group_col, "q"))


def _kmv_report_sql(qs: tuple, samp_cte: str, tol: float, table: str,
                    value_col: str, group_col: str, id_col: str) -> str:
    """The shared DuckDB report skeleton (the SQL twin of
    :func:`_kmv_report`): callers supply only the ``samp`` CTE body —
    any query over ``hashed``/``vals`` producing ``(g, id, v)`` — and
    the tolerance, so the two oracles can never desynchronize on the
    pick/round/flag rules."""
    x_cols = ", ".join(
        f"max(case when rn = greatest(1, ceil({float(q)!r}::DOUBLE * n))"
        f" then v end) as x_{_qtag(q)}" for q in qs)
    e_cols = ", ".join(
        f"max(case when sr = greatest(1, ceil({float(q)!r}::DOUBLE * sn))"
        f" then v end) as e_{_qtag(q)}" for q in qs)
    c_cols = ", ".join(
        f"sum(case when f.v <= e.e_{_qtag(q)} then 1 else 0 end)::BIGINT"
        f" as c_{_qtag(q)}" for q in qs)
    branches = " union all ".join(
        f"select g, {float(q)!r}::DOUBLE as q, n, x_{_qtag(q)} as exact_q,"
        f" e_{_qtag(q)} as est_q, c_{_qtag(q)} as c_le"
        f" from wide" for q in qs)
    return f"""
        with vals as (
            select {group_col} as g, {id_col} as id, {value_col} as v
            from {table}
            where {value_col} is not null and {group_col} is not null
        ), ng as (
            select g, count(*)::BIGINT as n from vals group by g
        ), ranked as (
            select g, v,
                   row_number() over (partition by g
                                      order by v asc, id asc) as rn
            from vals
        ), exact_wide as (
            select g, n, {x_cols}
            from ranked join ng using (g) group by g, n
        ), samp as (
            {samp_cte}
        ), sn as (
            select g, count(*)::BIGINT as sn from samp group by g
        ), est_wide as (
            select g, {e_cols} from (
                select g, v, sn,
                       row_number() over (partition by g
                                          order by v asc, id asc) as sr
                from samp join sn using (g)
            ) group by g
        ), errs as (
            select f.g, {c_cols}
            from vals f join est_wide e using (g) group by f.g
        ), wide as (
            select * from exact_wide join est_wide using (g)
            join errs using (g)
        )
        select g as {group_col}, q, n, exact_q, est_q,
               round(abs(c_le::DOUBLE / n - q), 4) as rank_err,
               case when round(abs(c_le::DOUBLE / n - q), 4)
                         <= {float(tol)!r} then 1 else 0 end
                   as within_tol
        from ({branches})
        order by {group_col}, q
    """


def kmv_quantiles_sql(qs: tuple = KMV_QS, k: int = KMV_K,
                      seed: int = KMV_SEED, table: str = "events",
                      value_col: str = "value",
                      group_col: str = "event_type",
                      id_col: str = "event_id") -> str:
    """DuckDB oracle for :func:`kmv_quantiles` — the same seeded
    bottom-k selection (single-phase: the salt pre-prune is exact, so
    the sample is the identical row set), the same pick ranks in the
    same total order, the same rounded rank error, the same
    ``2/sqrt(k)`` tolerance."""
    # the samp CTE selects from vals, where the id column is aliased
    # `id` whatever the table's id column is called
    u = seeded_hash_sql("id::VARCHAR", seed)
    samp_cte = f"""select g, id, v from (
                select g, id, v,
                       row_number() over (partition by g
                                          order by u asc, id asc) as r
                from (select g, id, v, {u} as u from vals)
            ) where r <= {k}"""
    return _kmv_report_sql(qs, samp_cte, 2.0 / (k ** 0.5), table,
                           value_col, group_col, id_col)


# ---------------------------------------------------------------------------
# bucketed-minima KMV — the STREAMING-STATE form of the
# quantile sketch: global bottom-k is a rank, which Structured Streaming
# cannot maintain incrementally, but a keyed MIN is associative,
# commutative, and idempotent, so assigning each row to one of B buckets
# by a second seeded hash and keeping the (order-hash)-minimum row per
# (group, bucket) gives a <= B-rows-per-group state that streams in
# complete mode and equals the batch computation BIT-FOR-BIT however the
# micro-batches split (the streaming-HLL recipe; stochastic-averaging /
# one-permutation-hashing flavor — Li, Owen & Zhang 2012, NIPS).  The
# bucket hash (seed 8201) is independent of the order hash (seed 8200),
# so each bucket's minimum is a uniformly random member of that bucket;
# estimation quality is not assumed — the report computes the exact rank
# error, the same measure-don't-guess gate as the global-bottom-k form.
# ---------------------------------------------------------------------------

#: bucket count — the sample size ceiling (non-empty buckets <= B)
KMV_BUCKETS = 256
#: bucket-assignment seed, independent of the order stream (KMV_SEED)
KMV_SEED_BUCKET = 8201


def kmv_bucket_minima(df: DataFrame, value_col: str = "value",
                      group_col: str = "event_type",
                      id_col: str = "event_id", b: int = KMV_BUCKETS,
                      seed_bucket: int = KMV_SEED_BUCKET,
                      seed_order: int = KMV_SEED) -> DataFrame:
    """``(g, bucket, id, v)`` — per (group, bucket-hash % b), the row
    with the smallest (order-hash, id): a bounded keyed-min aggregation
    (state <= b rows per group) whose batch and streaming forms are
    identical by min's associativity/idempotence.  The min runs over
    ``struct(_u, id, v)`` — lexicographic struct ordering IS the
    (order-hash, id) total order (ids are unique, so ``v`` is never
    consulted), keeping the whole aggregation one JVM expression."""
    base = (df.where(F.col(value_col).isNotNull()
                     & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("g"),
                    F.col(id_col).alias("id"),
                    F.col(value_col).alias("v"))
            .withColumn("_u", F.expr(
                seeded_hash_sexpr("cast(id as string)", seed_order)))
            .withColumn("bucket", F.expr(
                f"pmod({seeded_hash_sexpr('cast(id as string)', seed_bucket)}"
                f", {b})")))
    return (base.groupBy("g", "bucket")
            .agg(F.min(F.struct("_u", "id", "v")).alias("m"))
            .select("g", "bucket", F.col("m.id").alias("id"),
                    F.col("m.v").alias("v")))


def kmv_bucket_quantiles(df: DataFrame, qs: tuple = KMV_QS,
                         value_col: str = "value",
                         group_col: str = "event_type",
                         id_col: str = "event_id",
                         b: int = KMV_BUCKETS,
                         certify: bool = True) -> DataFrame:
    """:func:`kmv_quantiles` with the bucketed-minima sample — the
    report shape and certification gate are identical; the sample is
    the one a stream maintains as bounded keyed-min state.
    ``certify=False`` returns the sketch-only ``(group, q, est_q)``
    (one map pass + the keyed-min aggregation, no persist, no exact
    side) — the estimates are bit-identical to the certified report's
    ``est_q`` column (shared pick-rule code; locked in
    tests/test_kmv.py)."""
    if not certify:
        proj = (df.where(F.col(value_col).isNotNull()
                         & F.col(group_col).isNotNull())
                .select(F.col(group_col).alias("g"),
                        F.col(id_col).alias("id"),
                        F.col(value_col).alias("v")))
        samp = kmv_bucket_minima(proj, "v", "g", "id", b)
        return _kmv_estimates_long(samp.select("g", "id", "v"), qs,
                                   group_col)
    full = _kmv_full(df, value_col, group_col, id_col)
    # sample from the persisted projection (already named g/id/v) so
    # the minima side is a cache read, not a second corpus scan
    samp = kmv_bucket_minima(full, "v", "g", "id", b)
    return _kmv_report(full, samp.select("g", "id", "v"), qs,
                       group_col, 2.0 / (b ** 0.5))


def kmv_bucket_quantiles_sql(qs: tuple = KMV_QS, b: int = KMV_BUCKETS,
                             seed_bucket: int = KMV_SEED_BUCKET,
                             seed_order: int = KMV_SEED,
                             table: str = "events",
                             value_col: str = "value",
                             group_col: str = "event_type",
                             id_col: str = "event_id") -> str:
    """DuckDB oracle for :func:`kmv_bucket_quantiles` (and, by the
    state==batch identity, for the streaming entry): the same seeded
    bucket assignment, the same per-bucket (order-hash, id) argmin, the
    same picks and rounded rank error — the report skeleton is the
    shared :func:`_kmv_report_sql`, so the two oracles cannot drift."""
    u = seeded_hash_sql("id::VARCHAR", seed_order)
    bk = f"(({seeded_hash_sql('id::VARCHAR', seed_bucket)}) % {b})"
    samp_cte = f"""select g, id, v from (
                select g, id, v,
                       row_number() over (partition by g, bucket
                                          order by u asc, id asc) as r
                from (select g, id, v, {u} as u, {bk} as bucket
                      from vals)
            ) where r = 1"""
    return _kmv_report_sql(qs, samp_cte, 2.0 / (b ** 0.5), table,
                           value_col, group_col, id_col)


# ---------------------------------------------------------------------------
# Bottom-k set-similarity BETWEEN GROUPS (Cohen & Kaplan 2007, "Summarizing
# data using bottom-k sketches", PODC; Broder 1997's min-wise resemblance
# idea at k hashes from ONE hash function) — the document-level MinHash
# family estimates pairwise Jaccard between DOCUMENTS; this estimates
# Jaccard between LARGE SETS (per-language vocabularies, per-source gram
# sets) whose exact intersection at 100 TB is a full shuffle of every
# distinct element: the k-row-per-group sketch makes the estimate
# constant-cost regardless of set size, and the k smallest hashes of the
# UNION are a uniform sample of the union, so the fraction present in
# both sketches estimates |A∩B|/|A∪B|.  Seeded md5 keeps the sketch —
# and therefore which estimate errors occur — engine-reproducible,
# licensing the exact DuckDB oracle (the sketch-family recipe).
# ---------------------------------------------------------------------------

#: element-sketch size per group (estimate std = sqrt(j(1-j)/k) <= 0.031)
KMVJ_K = 256
KMVJ_SEED = 8500


def kmv_group_jaccard(df: DataFrame, text_col: str = "text",
                      group_col: str = "lang", k: int = KMVJ_K,
                      seed: int = KMVJ_SEED,
                      tol: float = 2.0 / (KMVJ_K ** 0.5)) -> DataFrame:
    """``(group_a, group_b, n_a, n_b, exact_j, est_j, within_tol)`` for
    every unordered group pair (a < b): the exact vocabulary Jaccard
    (the run-once certification side — one distinct-token shuffle) next
    to the bottom-k estimate computed ONLY from the two groups' k-row
    sketches.  Determinism: hash ties break on the token string, so
    the sketch and the union-sample are total-ordered on any engine."""
    from pyspark.sql import Window as W

    from .dedup import spread_for_compute
    from .cache_registry import tracked_persist

    base = (spread_for_compute(df)
            .where(F.col(text_col).isNotNull()
                   & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("g"),
                    F.explode(F.expr(tokens_sexpr(f"`{text_col}`")))
                    .alias("tok"))
            .distinct())
    dt = tracked_persist(base)
    # per-group bottom-k element sketch (two-phase: salt bucket prunes
    # to <= k rows per (g, bucket) before the per-group rank)
    u = F.expr(seeded_hash_sexpr("tok", seed))
    w1 = (W.partitionBy("g", F.pmod(F.col("_u"), F.lit(KMV_SALT)))
          .orderBy(F.asc("_u"), F.asc("tok")))
    w2 = W.partitionBy("g").orderBy(F.asc("_u"), F.asc("tok"))
    sk = tracked_persist(
        dt.withColumn("_u", u)
        .withColumn("_pr", F.row_number().over(w1))
        .where(F.col("_pr") <= k)
        .withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") <= k)
        .select("g", "tok", "_u"))
    groups = dt.groupBy("g").agg(F.countDistinct("tok").alias("n"))
    pairs = (groups.alias("ga").crossJoin(groups.alias("gb"))
             .where(F.col("ga.g") < F.col("gb.g"))
             .select(F.col("ga.g").alias("la"), F.col("ga.n").alias("n_a"),
                     F.col("gb.g").alias("lb"), F.col("gb.n").alias("n_b")))
    # estimate: k smallest union elements, fraction present in BOTH
    both = (pairs.select("la", "lb")
            .join(sk, (sk["g"] == F.col("la")) | (sk["g"] == F.col("lb")))
            .groupBy("la", "lb", "tok", "_u")
            .agg(F.max((F.col("g") == F.col("la")).cast("int"))
                 .alias("in_a"),
                 F.max((F.col("g") == F.col("lb")).cast("int"))
                 .alias("in_b")))
    wp = W.partitionBy("la", "lb").orderBy(F.asc("_u"), F.asc("tok"))
    est = (both.withColumn("_r", F.row_number().over(wp))
           .where(F.col("_r") <= k)
           .groupBy("la", "lb")
           .agg((F.sum(F.col("in_a") * F.col("in_b"))
                 / F.count("*")).alias("_est")))
    inter = (dt.alias("a").join(dt.alias("b"),
                                (F.col("a.tok") == F.col("b.tok"))
                                & (F.col("a.g") < F.col("b.g")))
             .groupBy(F.col("a.g").alias("la"), F.col("b.g").alias("lb"))
             .agg(F.count("*").alias("_inter")))
    return (pairs.join(inter, ["la", "lb"], "left")
            .join(est, ["la", "lb"])
            .select(F.col("la").alias("group_a"),
                    F.col("lb").alias("group_b"),
                    F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"),
                    F.round(F.coalesce("_inter", F.lit(0))
                            / (F.col("n_a") + F.col("n_b")
                               - F.coalesce("_inter", F.lit(0))), 4)
                    .alias("exact_j"),
                    F.round(F.col("_est"), 4).alias("est_j"),
                    (F.abs(F.col("_est")
                           - (F.coalesce("_inter", F.lit(0))
                              / (F.col("n_a") + F.col("n_b")
                                 - F.coalesce("_inter", F.lit(0)))))
                     <= F.lit(tol)).cast("int").alias("within_tol"))
            .orderBy("group_a", "group_b"))


def kmv_group_jaccard_sql(k: int = KMVJ_K, seed: int = KMVJ_SEED,
                          tol: float = 2.0 / (KMVJ_K ** 0.5),
                          table: str = "documents", text: str = "text",
                          group: str = "lang") -> str:
    """DuckDB oracle for :func:`kmv_group_jaccard`."""
    u = seeded_hash_sql("tok", seed)
    return f"""
        with dt as (
            select distinct {group} as g, unnest(
                {TOKENS_SQL.format(col=text)}) as tok
            from {table}
            where {text} is not null and {group} is not null
        ), sk as (
            select g, tok, u from (
                select g, tok, u,
                       row_number() over (partition by g
                                          order by u asc, tok asc) as r
                from (select g, tok, {u} as u from dt)
            ) where r <= {k}
        ), grp as (
            select g, count(distinct tok)::BIGINT as n from dt group by g
        ), pairs as (
            select a.g as la, a.n as n_a, b.g as lb, b.n as n_b
            from grp a join grp b on a.g < b.g
        ), flags as (
            select p.la, p.lb, s.tok, s.u,
                   max((s.g = p.la)::INT) as in_a,
                   max((s.g = p.lb)::INT) as in_b
            from pairs p join sk s on s.g = p.la or s.g = p.lb
            group by p.la, p.lb, s.tok, s.u
        ), est as (
            select la, lb, sum(in_a * in_b)::DOUBLE / count(*) as e
            from (
                select la, lb, in_a, in_b,
                       row_number() over (partition by la, lb
                                          order by u asc, tok asc) as r
                from flags
            ) where r <= {k}
            group by la, lb
        ), inter as (
            select a.g as la, b.g as lb, count(*)::BIGINT as i
            from dt a join dt b on a.tok = b.tok and a.g < b.g
            group by a.g, b.g
        )
        select p.la as group_a, p.lb as group_b, p.n_a, p.n_b,
               round(coalesce(i.i, 0)
                     / (p.n_a + p.n_b - coalesce(i.i, 0)), 4) as exact_j,
               round(est.e, 4) as est_j,
               (abs(est.e - coalesce(i.i, 0)
                    / (p.n_a + p.n_b - coalesce(i.i, 0)))
                <= {tol!r})::INT as within_tol
        from pairs p
        left join inter i on i.la = p.la and i.lb = p.lb
        join est on est.la = p.la and est.lb = p.lb
        order by group_a, group_b
    """
