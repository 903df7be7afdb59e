"""Entity resolution / record linkage: blocking + deterministic
Fellegi-Sunter-style scoring + ground-truth evaluation (Fellegi &
Sunter 1969, JASA 64(328); blocking taxonomy per Christen 2012,
"Data Matching", Springer ch. 4).  The reference (waimak) has no
linkage surface; this is the training-data-pipeline extension family —
the structured-records sibling of the text dedup family: the same
"bucket then compare" shape, applied to typed columns instead of
shingles.

The catalog surface links the customer table against a DETERMINISTIC
perturbed copy of itself (names mutated in 0-2 characters, balances
shifted 0-6 cents, both keyed on a seeded md5 of the key — the
standard synthetic-corruption evaluation setup, cf. Christen's
GeCo/febrl corruptors), so every emitted pair carries an exact truth
bit and the entry is self-certifying like ``ann_ivf_recall``.

Blocking is DUAL-OFFSET balance bucketing: pass 1 buckets on
``(nationkey, mktsegment, floor(bal/W))``, pass 2 on the same with
``floor((bal+W/2)/W)`` — two grids whose boundaries are disjoint, so a
pair whose balances differ by less than W/2 cannot be split by BOTH
grids (completeness is provable, and test-locked): the classic remedy
for boundary-straddling pairs that single-grid blocking misses.
Candidate union is deduplicated on the pair key before scoring, so
each pair is scored once.

Scoring: ``score = round(0.7 * name_sim + 0.3 * bal_sim, 4)`` with
``name_sim = 1 - lev/greatest(len_a, len_b)`` (normalized Levenshtein
— a builtin on BOTH engines, so the whole kernel is JVM/SQL-native,
no UDFs) and ``bal_sim = 1 - least(|bal_a - bal_b| / 5.0, 1.0)``;
predicted match iff score >= threshold.

100 TB posture: the perturbed side is a map-only projection; the only
corpus-sized shuffle is the two blocking equi-joins, each bounded by
sum of per-block |A_b| x |B_b| (the block key carries three columns
precisely to keep blocks small; a skewed block is a salting candidate
like any hot join key); scoring is per-row expressions on the
candidate pairs; output is predicted matches only (≈ linear in the
true-match count at a sane threshold).  Cross-engine: levenshtein is
integer on both engines, the sim/score arithmetic has identical
operation order, and the 4dp round absorbs the division ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import md5_hash32_sexpr, md5_hash32_sql

#: seeded stream for the perturbation (disjoint from the other families)
ER_SEED = 9100
#: disjoint id space for the perturbed copy
ER_OFFSET = 500_000_000
#: balance blocking-bucket width (dual grids offset by ER_BAL_W / 2)
ER_BAL_W = 100.0
#: score weights and decision threshold
ER_W_NAME = 0.7
ER_W_BAL = 0.3
ER_THRESHOLD = 0.9


def perturbed_customers(customers: DataFrame,
                        seed: int = ER_SEED) -> DataFrame:
    """The deterministic dirty copy: ``(b_key, b_name, b_nationkey,
    b_mktsegment, b_acctbal)`` with keys offset into a disjoint range,
    0-2 name characters overwritten (positions 10-11 — inside the
    digit run of the TPC-H name pattern) and the balance shifted by
    0-6 cents, both selected by the seeded hash."""
    h = F.expr(md5_hash32_sexpr(
        f"concat('er:{seed}:', cast(c_custkey as string))"))
    n = F.col("c_name")
    p1 = F.concat(F.substring(n, 1, 9), F.lit("X"),
                  F.substring(n, 11, 1000))
    p2 = F.concat(F.substring(n, 1, 9), F.lit("XY"),
                  F.substring(n, 12, 1000))
    name = (F.when(h % 3 == 1, p1)
            .when(h % 3 == 2, p2)
            .otherwise(n))
    bal = F.round(F.col("c_acctbal") + (h % 7) * F.lit(0.01), 2)
    return customers.select(
        (F.col("c_custkey") + F.lit(ER_OFFSET)).alias("b_key"),
        name.alias("b_name"),
        F.col("c_nationkey").alias("b_nationkey"),
        F.col("c_mktsegment").alias("b_mktsegment"),
        bal.alias("b_acctbal"))


def link_records(a: DataFrame, b: DataFrame,
                 threshold: float = ER_THRESHOLD) -> DataFrame:
    """``(a_key, b_key, name_sim, bal_sim, score, is_true)`` — the
    predicted matches (score >= threshold) from dual-offset blocked
    scoring of clean side ``a`` (customer columns) against dirty side
    ``b`` (:func:`perturbed_customers` columns); ``is_true`` compares
    against the offset-encoded ground truth."""
    blk_a0 = F.floor(F.col("c_acctbal") / F.lit(ER_BAL_W))
    blk_a1 = F.floor((F.col("c_acctbal") + F.lit(ER_BAL_W / 2.0))
                     / F.lit(ER_BAL_W))
    blk_b0 = F.floor(F.col("b_acctbal") / F.lit(ER_BAL_W))
    blk_b1 = F.floor((F.col("b_acctbal") + F.lit(ER_BAL_W / 2.0))
                     / F.lit(ER_BAL_W))
    a0 = a.select(F.col("c_custkey").alias("a_key"), "c_name",
                  "c_nationkey", "c_mktsegment", "c_acctbal",
                  blk_a0.alias("_b0"), blk_a1.alias("_b1"))
    b0 = b.select("b_key", "b_name", "b_nationkey", "b_mktsegment",
                  "b_acctbal", blk_b0.alias("_c0"), blk_b1.alias("_c1"))
    # TWO equi-joins with the grid bucket IN the hash key (blocks are
    # (nation, segment, bucket) — small by construction), unioned and
    # deduped on the pair key, NOT one join with an OR-of-grids
    # residual: Spark can only hash-join the conjunctive equalities, so
    # the OR form would fan out on the coarse (nation, segment) blocks
    # and filter after — exactly the blocking blow-up blocking exists
    # to avoid.  The result set is identical (union-of-grids == OR).
    def grid(ga: str, gb: str) -> DataFrame:
        return a0.join(
            b0,
            (F.col("c_nationkey") == F.col("b_nationkey"))
            & (F.col("c_mktsegment") == F.col("b_mktsegment"))
            & (F.col(ga) == F.col(gb)))

    pairs = (grid("_b0", "_c0").unionByName(grid("_b1", "_c1"))
             .dropDuplicates(["a_key", "b_key"]))
    lev = F.levenshtein(F.col("c_name"), F.col("b_name"))
    name_sim = (F.lit(1.0) - lev
                / F.greatest(F.length("c_name"), F.length("b_name")))
    bal_sim = (F.lit(1.0)
               - F.least(F.abs(F.col("c_acctbal") - F.col("b_acctbal"))
                         / F.lit(5.0), F.lit(1.0)))
    score = F.round(F.lit(ER_W_NAME) * name_sim
                    + F.lit(ER_W_BAL) * bal_sim, 4)
    return (pairs.select(
        "a_key", "b_key",
        F.round(name_sim, 4).alias("name_sim"),
        F.round(bal_sim, 4).alias("bal_sim"),
        score.alias("score"),
        (F.col("b_key") - F.lit(ER_OFFSET) == F.col("a_key"))
        .cast("int").alias("is_true"))
            .where(F.col("score") >= F.lit(float(threshold))))


def link_customers(customers: DataFrame,
                   seed: int = ER_SEED,
                   threshold: float = ER_THRESHOLD) -> DataFrame:
    """The catalog surface: link the customer table against its
    deterministic perturbed copy."""
    return link_records(customers, perturbed_customers(customers, seed),
                        threshold)


def link_customers_sql(seed: int = ER_SEED,
                       threshold: float = ER_THRESHOLD,
                       table: str = "customer") -> str:
    """DuckDB oracle for :func:`link_customers` — identical hash,
    perturbation, similarity arithmetic and rounding.  Blocking is the
    OR of the two grid equalities in one join here (the oracle needs
    the RESULT, not the plan); the Spark side's union-of-grids +
    pair-key dedup produces the identical pair set."""
    h = md5_hash32_sql(f"'er:{seed}:' || c_custkey::VARCHAR")
    w = repr(ER_BAL_W)
    half = repr(ER_BAL_W / 2.0)
    return f"""
        with b as (
            select c_custkey + {ER_OFFSET} as b_key,
                   case when {h} % 3 = 1
                        then substr(c_name, 1, 9) || 'X'
                             || substr(c_name, 11)
                        when {h} % 3 = 2
                        then substr(c_name, 1, 9) || 'XY'
                             || substr(c_name, 12)
                        else c_name end as b_name,
                   c_nationkey as b_nationkey,
                   c_mktsegment as b_mktsegment,
                   round(c_acctbal + ({h} % 7) * 0.01::DOUBLE, 2)
                       as b_acctbal
            from {table}
        ), pairs as (
            select a.c_custkey as a_key, b.b_key,
                   a.c_name, b.b_name, a.c_acctbal, b.b_acctbal
            from {table} a join b
              on a.c_nationkey = b.b_nationkey
             and a.c_mktsegment = b.b_mktsegment
             and (floor(a.c_acctbal / {w}::DOUBLE)
                      = floor(b.b_acctbal / {w}::DOUBLE)
                  or floor((a.c_acctbal + {half}::DOUBLE) / {w}::DOUBLE)
                      = floor((b.b_acctbal + {half}::DOUBLE)
                              / {w}::DOUBLE))
        )
        select a_key, b_key,
               round(1.0::DOUBLE - levenshtein(c_name, b_name)
                     / greatest(length(c_name), length(b_name)), 4)
                   as name_sim,
               round(1.0::DOUBLE
                     - least(abs(c_acctbal - b_acctbal) / 5.0::DOUBLE,
                             1.0::DOUBLE), 4) as bal_sim,
               round({ER_W_NAME!r}::DOUBLE
                     * (1.0::DOUBLE - levenshtein(c_name, b_name)
                        / greatest(length(c_name), length(b_name)))
                     + {ER_W_BAL!r}::DOUBLE
                     * (1.0::DOUBLE
                        - least(abs(c_acctbal - b_acctbal)
                                / 5.0::DOUBLE, 1.0::DOUBLE)), 4)
                   as score,
               case when b_key - {ER_OFFSET} = a_key
                    then 1 else 0 end as is_true
        from pairs
        where round({ER_W_NAME!r}::DOUBLE
                    * (1.0::DOUBLE - levenshtein(c_name, b_name)
                       / greatest(length(c_name), length(b_name)))
                    + {ER_W_BAL!r}::DOUBLE
                    * (1.0::DOUBLE
                       - least(abs(c_acctbal - b_acctbal)
                               / 5.0::DOUBLE, 1.0::DOUBLE)), 4)
              >= {threshold!r}::DOUBLE
    """
