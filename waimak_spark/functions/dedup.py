"""Deduplication operators for large-scale corpus pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — each as pure DataFrame
compositions (no UDFs), with matching DuckDB-oracle SQL builders.

Generalises the reference storage layer's only dedup kernel (latest-per-PK
window, waimak-storage/.../AuditTableFile.scala:72-82) to content dedup.

Scale notes (100 TB posture):
* exact dedup: one shuffle on the md5 content hash — the canonical
  hash-groupBy; never compares full text across the wire, only 32 hex chars;
* MinHash: per-row narrow array math; signatures are k bigints per doc;
* LSH: band keys turn all-pairs into a groupBy; candidate pairs are
  generated *inside* each bucket (collect_list + array pair expansion) so
  the expensive signature pipeline is computed exactly once and there is no
  self-join — one shuffle on the band key, one on the distinct;
* SimHash: 64-bit signature; near-dup candidates come from a pigeonhole
  equi-join on 4×16-bit segments (65 536 distinct values per segment, so
  bucket fan-out stays ~n/65 536 on random data — survives 100× corpus
  growth, unlike narrow-segment schemes);
* n-gram Jaccard: exact similarity restricted to docs sharing ≥1
  discriminative shingle; the pruned shingle table is persisted once and
  pairs are bucket-generated, never an O(n²) cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .cache_registry import tracked_persist
from .text import (
    TOKENS_SQL,
    md5_hash32_sexpr,
    md5_hash32_sql,
    seeded_hash_sexpr,
    shingles_sexpr,
    shingles_sql,
    tokens_sexpr,
)

# ---------------------------------------------------------------------------
# shared: input spreading + in-bucket pair generation
# ---------------------------------------------------------------------------


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the session's shuffle parallelism
    before a CPU-heavy per-row pipeline (tokenize/shingle/hash are
    interpreted higher-order expressions — the scan's partition count caps
    their parallelism, and a small parquet file arrives as ONE partition).

    The skip-heuristic reads ``inputFiles()`` — driver-side file metadata
    only. (``df.rdd.getNumPartitions()`` would finalize the physical plan,
    which under AQE *executes* upstream shuffle stages when the operator is
    composed over a derived frame — an eager action hidden in plan-build.)
    At cluster scale a table arrives as many files and this is a no-op; a
    frame with no file provenance is repartitioned, which is the safe side."""
    spark = df.sparkSession
    try:
        # non-numeric on some platforms (e.g. "auto" under Databricks
        # AQE auto-optimized shuffle) — fall back to cluster parallelism
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        target = spark.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)


def pairs_of_sexpr(arr: str) -> str:
    """All ordered (a < b) element pairs of the pre-sorted array ``arr``,
    as ``array<struct<a,b>>`` — the per-bucket pair expansion that lets
    LSH / Jaccard / SimHash candidate generation run as
    ``groupBy + explode`` instead of a self-join, so each upstream
    pipeline is evaluated once."""
    return (f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), "
            f"y -> named_struct('a', x, 'b', y))))")


# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy on full content
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: canonical (min) id + duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"),
             F.count("*").alias("n_dups"))
    )


EXACT_DEDUP_SQL = """
    select md5(text) as content_hash,
           min(doc_id) as canonical_id,
           count(*) as n_dups
    from documents
    group by md5(text)
"""


# ---------------------------------------------------------------------------
# MinHash signatures over n-word shingles
# ---------------------------------------------------------------------------

DEFAULT_SEEDS = list(range(8))
SHINGLE_N = 3

# Universal-hash mixing for the signature family: each shingle is md5-hashed
# ONCE (the expensive part), then the k signature functions are cheap
# arithmetic mixes h -> (a_i * h + b_i) mod P over that base hash — the
# textbook minhash construction. k FULL md5 passes (seed-prefixed strings)
# would make the signature ~k x the md5 cost (measured ~3x slower
# end-to-end at sf0.1), with identical values on both engines. P is the
# smallest prime > 2^32; a_i < 2^20 keeps a*h + b < 2^52, exact in signed
# int64 on Spark AND DuckDB.
MINHASH_PRIME = 4294967311


def _mix_params(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) per seed via md5 — odd a for a full-period
    multiplier, both engine-independent Python-computed literals."""
    import hashlib

    a = (int(hashlib.md5(f"a:{seed}".encode()).hexdigest()[:8], 16)
         % (1 << 20)) | 1
    b = int(hashlib.md5(f"b:{seed}".encode()).hexdigest()[:8],
            16) % MINHASH_PRIME
    return a, b


def shingle_base(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = SHINGLE_N,
                 use_kernel: bool = False) -> DataFrame:
    """(id, _sh) with ``_sh`` = distinct n-word shingles, spread across the
    session's parallelism and persisted. Built identically by every
    shingle-consuming operator (MinHash, LSH, n-gram Jaccard) so the plans
    are equal and Spark's cache manager serves them all from ONE
    materialization of the tokenize→shingle→distinct pipeline.

    The token array is projected in its OWN select step before shingling:
    interpreted higher-order expressions get no common-subexpression
    elimination, so inlining the tokenizer into the shingle fragment
    re-runs the whole split+filter once per ``element_at`` reference —
    i.e. 3× per shingle, O(tokens²) per row. The two-step projection
    turns those into bound-reference lookups (measured 10× faster at
    sf0.1).

    ``use_kernel=True`` swaps in the Arrow-batched Python kernel
    (functions/text.py:distinct_shingle_kernel, bit-identical —
    property-locked by test_kernel_parity.py). Interleaved A/B at sf0.1
    (~300-char docs) measured the expression form FASTER warm (Arrow
    serde of the text+shingle arrays outweighs the interpreted-HOF cost
    at this document size), so the expression form is the default; the
    kernel wins when documents are long (many tokens per row)."""
    df = spread_for_compute(df)
    if use_kernel:
        from .text import distinct_shingle_kernel

        return tracked_persist(df.select(
            F.col(id_col),
            distinct_shingle_kernel(n)(F.col(text_col)).alias("_sh"),
        ))
    # selectExpr: each projection is ONE py4j call parsing all its
    # expressions JVM-side
    tk = df.selectExpr(f"`{id_col}`",
                       f"{tokens_sexpr(f'`{text_col}`')} as _t")
    return tracked_persist(tk.selectExpr(
        f"`{id_col}`",
        f"array_distinct({shingles_sexpr('_t', n)}) as _sh",
    ))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      seeds: list[int] = DEFAULT_SEEDS,
                      n: int = SHINGLE_N) -> DataFrame:
    """doc_id + one min-hash column per seed (NULL when doc has <n tokens).

    Two-stage: the distinct-shingle array is materialized ONCE (persist),
    each shingle md5-hashed ONCE into ``_h``, then the k signature columns
    are mins over cheap (a*h+b) mod P mixes of that base hash (see
    MINHASH_PRIME above). Higher-order expressions are interpreted (no
    whole-stage codegen, no common-subexpression elimination), so without
    the persist barrier and the single-md5-pass construction each of the k
    seed columns would re-run tokenize→shingle→distinct→md5 — measured 8×
    the cost at k=8 pre-barrier, and ~3× the cost with per-seed md5."""
    base = shingle_base(df, text_col, id_col, n)
    # selectExpr: the md5 pass and the k mixed mins parse JVM-side in
    # ONE py4j call per projection
    hashed = base.selectExpr(
        f"`{id_col}`",
        f"transform(_sh, s -> {md5_hash32_sexpr('s')}) as _h")
    exprs = [f"`{id_col}`"]
    for i, seed in enumerate(seeds):
        a, b = _mix_params(seed)
        exprs.append(f"array_min(transform(_h, h -> ({a} * h + {b}) "
                     f"% {MINHASH_PRIME})) as mh{i}")
    return hashed.selectExpr(*exprs)


def minhash_signature_sql(seeds: list[int] = DEFAULT_SEEDS,
                          n: int = SHINGLE_N, where: str = "") -> str:
    def mix(seed: int) -> str:
        a, b = _mix_params(seed)
        return f"({a} * h + {b}) % {MINHASH_PRIME}"

    mh = ",\n               ".join(
        f"list_min(list_transform(hs, h -> {mix(seed)})) as mh{i}"
        for i, seed in enumerate(seeds)
    )
    cond = f"where {where}" if where else ""
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col='text')} as t
            from documents {cond}
        ), shingled as (
            select doc_id, list_distinct({shingles_sql('t', n)}) as sh from tok
        ), hashed as (
            select doc_id,
                   list_transform(sh, s -> {md5_hash32_sql('s')}) as hs
            from shingled
        )
        select doc_id,
               {mh}
        from hashed
    """


# ---------------------------------------------------------------------------
# LSH candidate pairs: docs sharing at least one band of the signature
# ---------------------------------------------------------------------------

BAND_SIZE = 4  # 8 minhashes → 2 bands of 4
MAX_BUCKET = 50  # frequent-bucket pruning: skip buckets larger than this


def lsh_collision_probability(s: float, n_bands: int,
                              band_size: int) -> float:
    """P(candidate | Jaccard = s) for banded MinHash LSH:
    ``1 - (1 - s^r)^b`` (Leskovec, Rajaraman & Ullman, MMDS §3.4.2)."""
    return 1.0 - (1.0 - s ** band_size) ** n_bands


def lsh_plan(threshold: float, n_hashes: int = 8,
             n_points: int = 1000) -> dict:
    """Pick the banding ``(band_size r, n_bands b)`` with ``b*r =
    n_hashes`` whose collision S-curve best approximates the ideal step
    at ``threshold`` — the standard MinHash-LSH planning rule (MMDS
    §3.4.3).  Cost = false-positive mass below the threshold plus
    false-negative mass above it, each a midpoint-rule integral of the
    S-curve (deterministic, no randomness); ties break toward the
    smaller band_size (cheaper keys).  Returns ``{"band_size",
    "n_bands", "n_hashes", "cost", "s50"}`` where ``s50 =
    (1 - 0.5^(1/b))^(1/r)`` is the curve's EXACT 50 %-collision
    similarity (the folklore ``(1/b)^(1/r)`` is an approximation that
    degenerates to 1.0 at b=1).  Feed the result into
    :func:`lsh_candidate_pairs` / the resolve family by sizing
    ``seeds`` to ``n_hashes`` and passing ``band_size``."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1)")
    if n_hashes < 1:
        raise ValueError(f"n_hashes={n_hashes} must be >= 1")
    best = None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        fp = fn = 0.0
        for i in range(n_points):
            s = (i + 0.5) / n_points
            p = lsh_collision_probability(s, b, r)
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        cost = (fp + fn) / n_points
        if best is None or cost < best["cost"] - 1e-12:
            best = {"band_size": r, "n_bands": b, "n_hashes": n_hashes,
                    "cost": cost,
                    "s50": (1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r)}
    return best


def lsh_candidate_pairs(sig: DataFrame, seeds: list[int] = DEFAULT_SEEDS,
                        band_size: int = BAND_SIZE,
                        max_bucket: int = MAX_BUCKET,
                        id_col: str = "doc_id") -> DataFrame:
    """Distinct (a < b) candidate pairs of docs sharing ≥1 LSH band.

    .. note:: **At 100 TB, prefer** :func:`minhash_dedup_resolve` (or
       :func:`minhash_verified_resolve`): a pair LISTING is quadratic in
       per-document duplicate multiplicity — PARITY.md's 10× replica
       experiment measured ~1000× true-pair growth for 10× data — while
       the resolve variants collapse the same candidates to ONE keep/drop
       row per document (output linear in corpus size).

    Plan shape (the 100-TB-safe one): the signature frame is consumed
    exactly once — band keys are emitted with a single ``posexplode`` (no
    per-band unions), buckets are built with one ``groupBy`` collecting the
    member ids, and pairs are expanded *inside* each bucket with an array
    expression. No self-join, no window, so the expensive
    tokenize→shingle→minhash pipeline runs once instead of ~4×.

    Buckets with more than ``max_bucket`` members are dropped before pair
    expansion (frequent-bucket pruning): a bucket shared by thousands of
    docs carries no near-dup signal but quadratic cost — the standard LSH
    guard that bounds per-bucket fan-out to max_bucket² at any corpus size.

    Docs with NULL signatures (fewer than n tokens) are filtered out first
    on BOTH engines: Spark's concat_ws would silently skip NULLs and lump
    every short doc into one md5('') bucket while SQL ``||`` propagates
    NULL — filtering keeps the engines in lockstep.
    """
    # min_bucket=2: singleton buckets can't pair. The count window is
    # sort-based (no arrays), and the groupBy that follows hashes on the
    # same keys so Spark reuses the exchange — no extra shuffle
    bounded = _banded_keys(sig, "id", seeds, band_size, max_bucket,
                           id_col, min_bucket=2)
    buckets = (
        bounded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    return (
        buckets.selectExpr(f"explode({pairs_of_sexpr('ids')}) as p")
        .selectExpr("p.a as doc_a", "p.b as doc_b")
        .distinct()
    )


def lsh_candidate_pairs_sql(seeds: list[int] = DEFAULT_SEEDS,
                            band_size: int = BAND_SIZE,
                            max_bucket: int = MAX_BUCKET,
                            n: int = SHINGLE_N) -> str:
    n_bands = len(seeds) // band_size
    band_selects = " union all ".join(
        "select doc_id as id, {b} as band, md5({key}) as band_key from sig "
        "where mh0 is not null".format(
            b=b,
            key=" || '_' || ".join(
                f"mh{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
        with sig as ({minhash_signature_sql(seeds, n)}),
        banded_all as ({band_selects}),
        banded as (
            select * from (
                select *, count(*) over (partition by band, band_key) as bn
                from banded_all
            ) where bn <= {max_bucket}
        )
        select distinct a.id as doc_a, b.id as doc_b
        from banded a join banded b
          on a.band = b.band and a.band_key = b.band_key and a.id < b.id
    """


def _band_key_rows(sig: DataFrame, out_id: str, seeds: list[int],
                   band_size: int, id_col: str) -> DataFrame:
    """ROW-LOCAL banded LSH keys: ``(out_id, band, band_key)`` via one
    posexplode over the signature frame — no corpus-level pruning, so
    the output for a document depends on that document's text alone
    (the property the stored-index append path needs: keys(A) ∪ keys(B)
    == keys(A ∪ B) exactly).  Null-signature docs (< n tokens) are
    dropped on both engines (see lsh_candidate_pairs)."""
    n_bands = len(seeds) // band_size
    band_keys = "array(" + ", ".join(
        "md5(concat_ws('_', " + ", ".join(
            f"mh{b * band_size + j}" for j in range(band_size)) + "))"
        for b in range(n_bands)) + ")"
    return (sig.where("mh0 is not null")
            .selectExpr(f"`{id_col}` as `{out_id}`",
                        f"posexplode({band_keys}) as (band, band_key)"))


def _banded_keys(sig: DataFrame, out_id: str, seeds: list[int],
                 band_size: int, max_bucket: int, id_col: str,
                 min_bucket: int = 1) -> DataFrame:
    """Banded LSH keys for bucket joins: band keys via a single posexplode
    over the persisted signature (interpreted HOFs get no CSE — without
    the persist the tokenize→shingle→minhash pipeline re-runs per band),
    buckets outside [min_bucket, max_bucket] pruned with a pre-count
    window BEFORE any member arrays exist (a degenerate bucket would
    otherwise materialize its full member list in one aggregation
    buffer)."""
    sig = tracked_persist(sig)
    banded = _band_key_rows(sig, out_id, seeds, band_size, id_col)
    # bucket-size guard stays a count-over-window deliberately: md5 band
    # keys distribute near-uniformly (no hot-key sort risk — hotness
    # needs a giant EXACT-duplicate cluster, which exact-dedup upstream
    # removes), and the one sorted exchange beats a groupBy + join-back's
    # extra shuffle stage — measured 10x replica: window 5.5 s vs
    # groupBy 9.2 s on dedup_minhash_verified_resolve (1x: 2.2 vs 2.4).
    # Contrast ngram_jaccard_pairs' shingle-DF pruning, where the keys
    # ARE hot by definition and the groupBy form wins at 10x.
    w = W.partitionBy("band", "band_key")
    return (banded.withColumn("bn", F.count("*").over(w))
            .where((F.col("bn") >= min_bucket) & (F.col("bn") <= max_bucket))
            .drop("bn"))


def lsh_pairs_against_corpus(new_sig: DataFrame, corpus_sig: DataFrame,
                             seeds: list[int] = DEFAULT_SEEDS,
                             band_size: int = BAND_SIZE,
                             max_bucket: int = MAX_BUCKET,
                             id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates BETWEEN a new batch and an existing corpus:
    distinct (corpus_id, new_id) pairs sharing ≥1 LSH band — the
    incremental form of ``lsh_candidate_pairs`` for refreshing a training
    corpus, generating no corpus×corpus or new×new pairs.

    Plan shape: each side's signature pipeline runs exactly once, band
    keys are an equi-join key (shuffle bounded by n_bands × rows), and
    the per-side frequent-bucket guard caps any bucket's fan-out at
    max_bucket² — at 100 TB the corpus side's banded keys are computed
    once and reused across batches. The caller supplies DISJOINT doc
    sets (the ids are namespaced by side, not deduped here)."""
    nb = _banded_keys(new_sig, "new_id", seeds, band_size, max_bucket,
                      id_col)
    cb = _banded_keys(corpus_sig, "corpus_id", seeds, band_size,
                      max_bucket, id_col)
    return (nb.join(cb, ["band", "band_key"])
            .select("corpus_id", "new_id").distinct())


def lsh_pairs_against_corpus_sql(corpus_where: str, new_where: str,
                                 seeds: list[int] = DEFAULT_SEEDS,
                                 band_size: int = BAND_SIZE,
                                 max_bucket: int = MAX_BUCKET,
                                 n: int = SHINGLE_N) -> str:
    n_bands = len(seeds) // band_size

    def band_selects(src: str) -> str:
        return " union all ".join(
            "select doc_id as id, {b} as band, md5({key}) as band_key "
            "from {src} where mh0 is not null".format(
                b=b, src=src,
                key=" || '_' || ".join(
                    f"mh{b * band_size + j}" for j in range(band_size)
                ),
            )
            for b in range(n_bands)
        )

    return f"""
        with sig_c as ({minhash_signature_sql(seeds, n, corpus_where)}),
        sig_n as ({minhash_signature_sql(seeds, n, new_where)}),
        banded_c_all as ({band_selects('sig_c')}),
        banded_n_all as ({band_selects('sig_n')}),
        banded_c as (
            select * from (
                select *, count(*) over (partition by band, band_key) as bn
                from banded_c_all
            ) where bn <= {max_bucket}
        ),
        banded_n as (
            select * from (
                select *, count(*) over (partition by band, band_key) as bn
                from banded_n_all
            ) where bn <= {max_bucket}
        )
        select distinct c.id as corpus_id, n.id as new_id
        from banded_c c join banded_n n
          on c.band = n.band and c.band_key = n.band_key
    """


# ---------------------------------------------------------------------------
# stored LSH dedup index (build once / append batches / probe many) — the
# text-dedup sibling of the stored IVF index family in
# catalog/similarity.py.  lsh_pairs_against_corpus above recomputes the
# CORPUS side's tokenize→shingle→minhash→band pipeline on every call; at
# 100 TB the corpus side dominates and never changes between batches, so
# the production shape is: persist the corpus's (doc_id, band, band_key)
# rows ONCE as a table bucketed by band_key, APPEND each new batch's rows
# after probing (row-local keys ⇒ index(A) ∪ index(B) == index(A ∪ B)
# exactly — no rebuild, resident files untouched), and per probe scan
# only the narrow key table (24-ish bytes/row) instead of the corpus
# text.  Bucketing by band_key means BOTH the frequent-bucket guard's
# count window AND the probe join consume the stored side with ZERO
# exchange (HashPartitioning(band_key) satisfies clustering on
# (band, band_key)).
# ---------------------------------------------------------------------------


def lsh_index_frame(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    seeds: list[int] = DEFAULT_SEEDS,
                    band_size: int = BAND_SIZE) -> DataFrame:
    """``(doc_id, band, band_key)`` — the stored dedup index's content:
    row-local banded minhash keys (no corpus-level bucket guard — that
    is PROBE-time policy, see :func:`lsh_probe_stored`), so appending a
    batch writes exactly the batch's rows and the union equals a full
    rebuild bit-for-bit.  Docs with null/short text have no signature
    and contribute no rows."""
    sig = tracked_persist(
        minhash_signature(df, text_col, id_col, seeds))
    return _band_key_rows(sig, "doc_id", seeds, band_size, id_col)


def lsh_probe_stored(index: DataFrame, new: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     seeds: list[int] = DEFAULT_SEEDS,
                     band_size: int = BAND_SIZE,
                     max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Near-dup verdicts for a NEW batch against a stored index:
    ``(doc_id, n_candidates, maybe_dup)`` — one row per new doc with
    non-null text (sig-less docs report 0), ``n_candidates`` = distinct
    stored docs sharing ≥1 band.  Semantics equal
    :func:`lsh_pairs_against_corpus` aggregated per new doc (both sides
    carry the same ``max_bucket`` frequent-bucket guard; the stored
    side's guard runs as a count window OVER THE NARROW INDEX — no
    corpus text, and on a band_key-bucketed table no exchange either).
    Because stored rows equal freshly computed rows exactly, the probe
    is bit-identical to the inline form — which licenses a static
    full-recompute oracle."""
    nb = _banded_keys(
        minhash_signature(new, text_col, id_col, seeds),
        "new_id", seeds, band_size, max_bucket, id_col)
    w = W.partitionBy("band", "band_key")
    cb = (index.select(F.col("doc_id").alias("corpus_id"),
                       "band", "band_key")
          .withColumn("bn", F.count("*").over(w))
          .where(F.col("bn") <= max_bucket).drop("bn"))
    hits = (nb.join(cb, ["band", "band_key"])
            .select("new_id", "corpus_id").distinct()
            .groupBy("new_id")
            .agg(F.count("*").cast("bigint").alias("n_candidates")))
    base = (new.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id")))
    return (base.join(hits.withColumnRenamed("new_id", "doc_id"),
                      "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_candidates"), F.lit(0))
                    .cast("bigint").alias("n_candidates"),
                    (F.coalesce(F.col("n_candidates"), F.lit(0)) > 0)
                    .cast("int").alias("maybe_dup"))
            .orderBy("doc_id"))


def lsh_probe_stored_sql(corpus_where: str, new_where: str,
                         seeds: list[int] = DEFAULT_SEEDS,
                         band_size: int = BAND_SIZE,
                         max_bucket: int = MAX_BUCKET,
                         n: int = SHINGLE_N) -> str:
    """DuckDB oracle for :func:`lsh_probe_stored`: the stored index's
    content is recomputed from the corpus predicate (append == full
    build exactly, so the recompute IS the stored table), then the same
    per-new-doc aggregate."""
    pairs = lsh_pairs_against_corpus_sql(corpus_where, new_where,
                                         seeds, band_size, max_bucket, n)
    return f"""
        with pairs as ({pairs}),
        base as (
            select doc_id from documents
            where ({new_where}) and text is not null
        ),
        agg as (
            select new_id as doc_id, count(*)::BIGINT as n_candidates
            from pairs group by new_id
        )
        select b.doc_id,
               coalesce(a.n_candidates, 0)::BIGINT as n_candidates,
               case when coalesce(a.n_candidates, 0) > 0
                    then 1 else 0 end as maybe_dup
        from base b left join agg a using (doc_id)
        order by b.doc_id
    """


# ---------------------------------------------------------------------------
# SimHash (64-bit) + near-dup pairs by Hamming distance
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
# two independent 32-bit md5-derived hashes per token supply bits 0-31 /
# 32-63 of the 64-bit token hash (md5 is reproducible in DuckDB, unlike
# xxhash64 whose DuckDB counterpart uses a different algorithm)
# bit value of each of the 64 simhash bits; bit 63 is the (negative)
# two's-complement sign bit so the packed value stays a valid BIGINT
_BIT_VALUES = [1 << i for i in range(63)] + [-(1 << 63)]


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit simhash over the distinct-token set in ONE pass: each token
    is md5-hashed ONCE and the digest's first 16 hex chars split into two
    independent 32-bit halves (a seeded two-md5-pass form would pay the
    md5 twice per token), then a single ``aggregate`` with an
    array-of-64-counters accumulator tallies the per-bit ±1 votes (instead
    of 64 separate passes over the token array); the sign of each vote
    packs into the result. Per-row narrow compute, no shuffle."""
    df = spread_for_compute(df)
    # The whole packed-simhash expression is ONE SQL string, parsed in a
    # single F.expr call.  Two-step transform: each token's md5 is
    # computed ONCE (interpreted HOFs get no CSE).  Each element uses a
    # literal shift amount (a dynamic bit index would pay a division and
    # a branch per token per bit); the vote is ±1 = 2*bit−1; the
    # bit-value packing's shiftleft(1L, i) constant-folds into a literal
    # array (bit 63 folds to Long.MIN_VALUE = the two's-complement
    # -(1<<63)).  Locked by the DuckDB lockstep oracles and the catalog
    # hash gate.
    signs = ", ".join(
        f"(shiftright(h.{'lo' if i < 32 else 'hi'}, {i % 32}) & 1) * 2 - 1"
        for i in range(SIMHASH_BITS))
    bitvals = ", ".join(
        f"shiftleft(1L, {i})" for i in range(SIMHASH_BITS))
    packed = F.expr(f"""
        aggregate(
          zip_with(
            aggregate(
              transform(
                transform(array_distinct(filter(split(lower(`{text_col}`),
                                                      '\\\\s+'),
                                                x -> length(x) > 0)),
                          t -> md5(t)),
                m -> struct(
                  cast(conv(substring(m, 1, 8), 16, 10) as bigint) as lo,
                  cast(conv(substring(m, 9, 8), 16, 10) as bigint) as hi)),
              array_repeat(0L, {SIMHASH_BITS}),
              (acc, h) -> zip_with(acc,
                                   cast(array({signs}) as array<bigint>),
                                   (a, s) -> a + s)),
            array({bitvals}),
            (v, bv) -> if(v > 0, bv, 0L)),
          0L,
          (a, x) -> a + x)
    """)
    return df.select(F.col(id_col), packed.alias("simhash"))


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    terms = []
    for i in range(bits):
        arr, k = ("lo", i) if i < 32 else ("hi", i - 32)
        vote = (
            f"list_sum(list_transform({arr}, h -> case when (h >> {k}) & 1 = 1 "
            f"then 1 else -1 end))"
        )
        bv = _BIT_VALUES[i]
        lit = str(bv) if bv >= 0 else "(-9223372036854775807 - 1)"
        terms.append(f"case when {vote} > 0 then {lit}::BIGINT else 0 end")
    packed = " + ".join(terms)
    return f"""
        with tok as (
            select doc_id, list_distinct({TOKENS_SQL.format(col='text')}) as t
            from documents
        ), digests as (
            select doc_id, list_transform(t, s -> md5(s)) as ms from tok
        ), hashed as (
            select doc_id,
                   list_transform(ms,
                       m -> ('0x' || substr(m, 1, 8))::BIGINT) as lo,
                   list_transform(ms,
                       m -> ('0x' || substr(m, 9, 8))::BIGINT) as hi
            from digests
        )
        select doc_id, ({packed})::BIGINT as simhash
        from hashed
    """


# pigeonhole: with 64 bits in (max_hamming+1)=4 segments, any pair within
# max_hamming=3 Hamming distance agrees exactly on ≥1 segment → candidate
# generation is an equi-join on (segment_idx, segment_value). Each segment
# is 16 bits ⇒ 65 536 distinct join keys per segment, so bucket sizes stay
# ~n/65 536 on random data — no cross-product degeneration at 100× scale.
_SEGMENTS = [(0, 16), (16, 16), (32, 16), (48, 16)]  # (shift, width)
DEFAULT_MAX_HAMMING = 3
SIMHASH_MAX_BUCKET = 200  # frequent-bucket pruning, same guard as LSH


def simhash_near_dups(sig: DataFrame, max_hamming: int = DEFAULT_MAX_HAMMING,
                      max_bucket: int = SIMHASH_MAX_BUCKET,
                      id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ ``max_hamming`` over the 64-bit
    simhash. Segments are emitted with one ``explode`` (signature pipeline
    runs once, not once per segment), buckets built by ``groupBy``
    (seg, segv), and pairs expanded in-bucket — no self-join.

    Buckets with more than ``max_bucket`` members are dropped before pair
    expansion (frequent-bucket pruning): a 16-bit segment value shared by
    thousands of docs makes the expansion quadratic while carrying little
    near-dup signal — the guard bounds per-bucket fan-out to max_bucket²
    at any corpus size (without it a template-heavy corpus degenerates:
    the synthetic documents table already produces 67 200 pairs from 500
    docs).

    .. note:: **At 100 TB, prefer** :func:`simhash_dedup_resolve`: pair
       listings are quadratic in duplicate multiplicity (PARITY.md's 10×
       replica measured ~1000× true-pair growth for 10× data); the
       resolve variant collapses the same candidates to one keep/drop row
       per document — output linear in corpus size."""
    # materialize the (tiny: id + one long) signature before fanning it out
    # into 4 segment references — same no-CSE reasoning as in LSH banding
    sig = tracked_persist(sig)
    # one parsed SQL string per projection
    segs_s = "array(" + ", ".join(
        f"named_struct('seg', {s}, 'segv', "
        f"shiftright(simhash, {shift}) & {(1 << width) - 1})"
        for s, (shift, width) in enumerate(_SEGMENTS)) + ")"
    parts = (
        sig.selectExpr(f"`{id_col}` as id", "simhash",
                       f"explode({segs_s}) as s")
        .selectExpr("id", "simhash", "s.seg as seg", "s.segv as segv")
    )
    # precount window before collecting (bounded aggregation buffers —
    # same skew-safety reasoning as in lsh_candidate_pairs)
    w = W.partitionBy("seg", "segv")
    bounded = (parts.withColumn("bn", F.count("*").over(w))
               .where((F.col("bn") >= 2) & (F.col("bn") <= max_bucket)))
    buckets = (
        bounded.groupBy("seg", "segv")
        .agg(F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("ms"))
    )
    return (
        buckets.selectExpr(f"explode({pairs_of_sexpr('ms')}) as p")
        .selectExpr("p.a.id as doc_a", "p.b.id as doc_b",
                    "cast(bit_count(p.a.simhash ^ p.b.simhash) as int) "
                    "as hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dups_sql(max_hamming: int = DEFAULT_MAX_HAMMING,
                          max_bucket: int = SIMHASH_MAX_BUCKET,
                          bits: int = SIMHASH_BITS) -> str:
    seg_selects = " union all ".join(
        f"select doc_id as id, simhash, {seg} as seg, "
        f"(simhash >> {shift}) & {(1 << width) - 1} as segv from sig"
        for seg, (shift, width) in enumerate(_SEGMENTS)
    )
    return f"""
        with sig as ({simhash_sql(bits)}),
        parts_all as ({seg_selects}),
        parts as (
            select * from (
                select *, count(*) over (partition by seg, segv) as bn
                from parts_all
            ) where bn <= {max_bucket}
        )
        select distinct a.id as doc_a, b.id as doc_b,
               bit_count(xor(a.simhash, b.simhash))::INTEGER as hamming
        from parts a join parts b
          on a.seg = b.seg and a.segv = b.segv and a.id < b.id
        where bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard: exact similarity on docs sharing ≥1 shingle hash
# ---------------------------------------------------------------------------


MAX_DF_FRACTION = 0.01  # stop-shingle pruning: drop shingles in >1% of docs
MIN_DF_FLOOR = 5
# absolute cap regardless of corpus size: 1% of a billion-doc corpus is
# still a 10M-member bucket (quadratic pairs + unbounded collect) — the
# cap bounds per-bucket fan-out the same way MAX_BUCKET does for LSH
MAX_DF_CAP = 100


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = SHINGLE_N,
                        min_jaccard: float = 0.1) -> DataFrame:
    """Jaccard over n-word shingle sets, restricted to docs sharing ≥1
    *discriminative* shingle: shingles occurring in more than
    max(MIN_DF_FLOOR, 1% of docs) documents are dropped first (stop-shingle
    / IDF pruning). A shingle shared by half the corpus carries no
    similarity signal but makes candidate generation quadratic — pruning
    bounds fan-out at any corpus size.

    .. note:: **At 100 TB, prefer** :func:`minhash_verified_resolve`,
       which applies the same exact-Jaccard check to LSH candidates only
       and emits one keep/drop row per document.  A pair LISTING like
       this one is inherently quadratic in duplicate multiplicity —
       PARITY.md's 10× replica measured ~1000× true-pair growth for 10×
       data; the df caps bound the worst case but not the output size.

    Plan shape: the doc-count threshold is derived INSIDE the plan (1-row
    count aggregate broadcast-cross-joined — no driver-side ``.count()``
    action, so the operator stays lazy/composable); the pruned shingle
    table is persisted once and feeds both the per-doc sizes and the
    in-bucket pair expansion (groupBy + explode, no self-join).
    """
    n_docs = df.select(F.count("*").alias("n_docs"))
    sh_all = (
        shingle_base(df, text_col, id_col, n)
        .select(F.col(id_col).alias("id"), F.explode("_sh").alias("shingle"))
        .select("id", F.md5("shingle").alias("sh"))
    )
    threshold = F.least(
        F.greatest(
            F.lit(MIN_DF_FLOOR).cast("bigint"),
            F.floor(F.col("n_docs") * F.lit(MAX_DF_FRACTION)),
        ),
        F.lit(MAX_DF_CAP).cast("bigint"),
    )
    # document frequency via groupBy + join-back, NOT count-over-window:
    # map-side partial aggregation collapses hot boilerplate shingles on
    # the mappers, while a window partitioned by the shingle key would
    # sort EVERY occurrence row and make the hottest shingle one
    # unsplittable partition; the join reuses the same exchange key.
    # Measured 10x replica: 16.6 s vs the window form's 21.4 s (1x: flat,
    # 2.61 vs 2.67) — shingle DF keys are hot BY DEFINITION (the prune
    # targets shingles in >=1% of docs), unlike the near-uniform md5 band
    # buckets in _banded_keys where the window form stays faster.
    # No extra persist here: sh_all is a cheap md5+explode projection of
    # shingle_base's already-persisted arrays, and materializing the
    # exploded stream (window-tokens x corpus rows) cost more cold than
    # the double projection it saved.
    df_counts = sh_all.groupBy("sh").agg(F.count("*").alias("df"))
    sh = (
        sh_all.join(df_counts, "sh")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") <= threshold)
        .select("id", "sh")
    )
    # materialize once: both the sizes agg and the bucket pair expansion
    # read it (at cluster scale the flow's cache_as_parquet plan-cut is the
    # equivalent; persist suffices for a single operator invocation)
    sh = tracked_persist(sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    buckets = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    shared = (
        buckets.selectExpr(f"explode({pairs_of_sexpr('ids')}) as p")
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared
        .join(sizes.withColumnRenamed("id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("id", "doc_b")
                   .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared")
                    / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(n: int = SHINGLE_N, min_jaccard: float = 0.1) -> str:
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col='text')} as t from documents
        ), sh_all as (
            select doc_id as id, md5(unnest(list_distinct({shingles_sql('t', n)}))) as sh
            from tok
        ), sh as (
            select id, sh from (
                select *, count(*) over (partition by sh) as df from sh_all
            )
            where df <= least(greatest({MIN_DF_FLOOR},
                                       floor((select count(*) from documents)
                                             * {MAX_DF_FRACTION})::BIGINT),
                              {MAX_DF_CAP})
        ), sizes as (
            select id, count(*) as n_sh from sh group by id
        ), shared as (
            select a.id as doc_a, b.id as doc_b, count(*) as shared
            from sh a join sh b on a.sh = b.sh and a.id < b.id
            group by 1, 2
        )
        select doc_a, doc_b,
               round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4) as jaccard
        from shared
        join sizes sa on sa.id = doc_a
        join sizes sb on sb.id = doc_b
        where round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4) >= {min_jaccard}
    """


# ---------------------------------------------------------------------------
# exact set-similarity join with PREFIX FILTERING (Bayardo, Ma & Srikant
# 2007, WWW — "Scaling Up All Pairs Similarity Search"; the prefix
# principle PPJoin builds on, Xiao et al. 2008).  The LOSSLESS
# counterpart to the heuristic candidate generators above: LSH banding
# misses pairs with probability (1-s^r)^b, and ngram_jaccard_pairs'
# stop-shingle df-cap can drop a true pair whose overlap rides on
# common shingles — the prefix filter provably cannot.  Order every
# doc's shingle set by GLOBAL RARITY (df asc, key asc); if
# J(a,b) >= tau, then a and b must share a shingle within each other's
# first |s| - ceil(tau*|s|) + 1 shingles (else too few remain to reach
# the required overlap) — so joining on PREFIX shingles only is
# complete, and because prefixes hold each doc's RAREST shingles the
# join buckets are small by construction (the boilerplate shingle that
# makes the naive inverted-index join quadratic is exactly the one the
# ordering pushes OUT of every prefix).  Everything is integer set
# math + one tau multiply, so the DuckDB oracle — and a brute-force
# all-pairs check — match exactly.
# ---------------------------------------------------------------------------

#: default Jaccard threshold — 0.75 (= 3/4, exactly representable, so
#: the ceil(tau*|s|) prefix-length arithmetic has no float-boundary
#: risk; any tau works — both engines share IEEE rounding at e.g.
#: 0.6*5 = 3.0000000000000004, and the pure-Python reference
#: reproduces it — but an exact default keeps the boundary above
#: suspicion).  0.75 over 0.5 on measurement: prefix length ~0.25|s|
#: instead of ~0.5|s| cuts the candidate stage ~5x on the tiny-vocab
#: test corpus (310k -> ~65k pairs at sf0.1) while the corpus's true
#: near-dups sit at J >= 0.95 — the reported pair set barely changes
PPJOIN_TAU = 0.75


def jaccard_prefix_join(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = SHINGLE_N,
                        tau: float = PPJOIN_TAU) -> DataFrame:
    """All pairs with shingle-set Jaccard >= ``tau``, exactly:
    ``(doc_a, doc_b, shared, jaccard)`` — candidate generation via the
    lossless prefix filter, verification via exact per-pair
    ``array_intersect``.

    Plan shape / 100 TB posture: one persisted distinct-shingle-array
    base feeds everything — the exploded (id, sh) stream derives from
    it for document frequencies (groupBy + join-back, map-side partial
    agg collapses hot shingles) and the per-doc prefix rank (a window
    partitioned BY DOCUMENT, never a hot global key); the prefix
    equi-join's buckets hold only docs whose RAREST shingles coincide,
    plus the tau length filter ``min(sz) >= tau*max(sz)`` inside the
    join; verification moves each candidate doc's (already-distinct)
    array to its pairs via two hash joins and computes one JVM
    set-intersect per pair.

    Measured shapes (isolated min-of-6 at sf0.1, tau=0.5 where noted):
    persisting the prefix frame (BOTH self-join sides read it —
    unpersisted, the df-join + window pipeline ran twice) 7.4 → 4.6 s;
    array-intersect verify vs the exploded alternative (re-join
    candidates against the shingle stream and count matches — shuffles
    candidate-count × set-size rows) 4.6 → 2.7 s; the tau=0.75 default
    (see PPJOIN_TAU) lands at 1.8 s; an exact-duplicate CLASS collapse
    built INTO this operator (fingerprint identical sets in-line) was
    measured and REJECTED on this corpus: the distinct-set factor is
    1.0 (no exact dups to collapse, 4.1 vs 2.7 s isolated) and the 10×
    replica perturbs each copy's text so copies are NEAR-dups that
    cannot collapse either.  On a genuinely duplication-heavy corpus
    use :func:`jaccard_prefix_join_collapsed` — the
    exact_dedup → prefix-join-on-representatives → fan-back
    composition, OUTPUT-IDENTICAL to this operator (locked in
    tests/test_prefix_join.py) with the expensive machinery scaling in
    DISTINCT texts instead of documents.

    Output is inherently quadratic in near-duplicate multiplicity (the
    pair-lister contract shared by lsh/simhash/ngram listings here —
    prefer the resolve family as the 100 TB product; this operator is
    the exact AUDIT surface the heuristics are checked against, the
    role its catalog entry plays).  No df-cap, no band probability —
    every emitted pair is exact and NO qualifying pair can be missed
    (completeness is hypothesis-tested against brute force)."""
    base = tracked_persist(
        shingle_base(df, text_col, id_col, n)
        .select(F.col(id_col).alias("id"),
                F.transform(F.col("_sh"), F.md5).alias("arr")))
    sh_all = base.select("id", F.explode("arr").alias("sh"))
    dfreq = sh_all.groupBy("sh").agg(F.count("*").alias("df"))
    sizes = base.select("id", F.size("arr").alias("sz"))
    w = W.partitionBy("id").orderBy(F.asc("df"), F.asc("sh"))
    # persisted: BOTH sides of the candidate self-join read this frame
    prefix = tracked_persist(
        sh_all.join(dfreq, "sh").join(sizes, "id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("sz")
               - F.ceil(F.col("sz") * F.lit(float(tau))) + 1)
        .select("id", "sz", "sh"))
    pa = prefix.select("sh", F.col("id").alias("doc_a"),
                       F.col("sz").alias("sz_a"))
    pb = prefix.select("sh", F.col("id").alias("doc_b"),
                       F.col("sz").alias("sz_b"))
    cand = (pa.join(pb, "sh")
            .where((F.col("doc_a") < F.col("doc_b")) &
                   (F.least("sz_a", "sz_b")
                    >= F.lit(float(tau)) * F.greatest("sz_a", "sz_b")))
            .select("doc_a", "doc_b").distinct())
    return (cand
            .join(base.select(F.col("id").alias("doc_a"),
                              F.col("arr").alias("_aa")), "doc_a")
            .join(base.select(F.col("id").alias("doc_b"),
                              F.col("arr").alias("_ab")), "doc_b")
            .withColumn("shared",
                        F.size(F.array_intersect("_aa", "_ab"))
                        .cast("bigint"))
            .withColumn("jaccard", F.round(
                F.col("shared")
                / (F.size("_aa") + F.size("_ab") - F.col("shared")), 4))
            .where(F.col("jaccard") >= F.lit(float(tau)))
            .select("doc_a", "doc_b", "shared", "jaccard")
            .orderBy("doc_a", "doc_b"))


def jaccard_prefix_join_sql(n: int = SHINGLE_N,
                            tau: float = PPJOIN_TAU,
                            table: str = "documents") -> str:
    """DuckDB oracle for :func:`jaccard_prefix_join` — the same prefix
    construction (window per doc over (df, sh)), the same length
    filter, the same exact verification.  ``table`` may be a view name
    or a parenthesized subquery (a trusted SQL fragment); because the
    composed form is output-identical, this same oracle certifies
    :func:`jaccard_prefix_join_collapsed` over any corpus."""
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col='text')} as t
            from {table}
        ), sh_all as (
            select doc_id as id,
                   md5(unnest(list_distinct({shingles_sql('t', n)}))) as sh
            from tok
        ), dfreq as (
            select sh, count(*) as df from sh_all group by sh
        ), sizes as (
            select id, count(*) as sz from sh_all group by id
        ), prefix as (
            select id, sz, sh from (
                select s.id, z.sz, s.sh,
                       row_number() over (
                           partition by s.id
                           order by d.df asc, s.sh asc) as rn
                from sh_all s
                join dfreq d using (sh) join sizes z using (id)
            ) where rn <= sz - ceil(sz * {float(tau)!r}::DOUBLE) + 1
        ), cand as (
            select distinct a.id as doc_a, b.id as doc_b
            from prefix a join prefix b on a.sh = b.sh and a.id < b.id
            where least(a.sz, b.sz)
                  >= {float(tau)!r}::DOUBLE * greatest(a.sz, b.sz)
        ), shared as (
            select c.doc_a, c.doc_b, count(*)::BIGINT as shared
            from cand c
            join sh_all ta on ta.id = c.doc_a
            join sh_all tb on tb.id = c.doc_b and tb.sh = ta.sh
            group by c.doc_a, c.doc_b
        )
        select doc_a, doc_b, shared,
               round(shared::DOUBLE / (sa.sz + sb.sz - shared), 4)
                   as jaccard
        from shared
        join sizes sa on sa.id = doc_a
        join sizes sb on sb.id = doc_b
        where round(shared::DOUBLE / (sa.sz + sb.sz - shared), 4)
              >= {float(tau)!r}::DOUBLE
        order by doc_a, doc_b
    """


def jaccard_prefix_join_collapsed(df: DataFrame, text_col: str = "text",
                                  id_col: str = "doc_id",
                                  n: int = SHINGLE_N,
                                  tau: float = PPJOIN_TAU) -> DataFrame:
    """:func:`jaccard_prefix_join` composed AFTER an exact-duplicate
    collapse — OUTPUT-IDENTICAL to the raw form (locked in
    tests/test_prefix_join.py on corpora with real multiplicity), built
    for duplication-heavy corpora.

    At 100 TB, exact-duplicate multiplicity is precisely the amplifier
    that makes the raw pair-lister quadratic (PARITY's 10× text replica
    measured ~1000× pair growth): m copies of one document contribute
    m² of every pair they appear in, and the raw operator re-tokenizes,
    re-shingles, and re-joins every copy.  Here the expensive machinery
    runs once per DISTINCT content: documents group by ``md5(text)``
    (the :func:`exact_dedup` identity), the min-id representative of
    each class feeds the prefix join, and the rep-level pairs fan back
    to member pairs with the SAME ``shared``/``jaccard`` values —
    licensed exactly because identical text ⇒ identical shingle set ⇒
    identical Jaccard against everything.  Intra-class pairs (J = 1 by
    construction, qualifying at any tau ≤ 1) are emitted directly from
    the membership frame without touching text at all; classes whose
    text yields no shingles emit nothing, matching the raw form (an
    empty set never generates a candidate and its Jaccard is null).
    The output stays inherently quadratic in near-dup multiplicity —
    that is the pair-lister CONTRACT — but the compute no longer is:
    tokenize/shingle/df/prefix-join cost scales with distinct texts,
    and the fan-out is two hash joins against a narrow (class, id)
    frame.  On a corpus with no exact dups this adds one md5-groupBy
    pass over the raw form (why the collapse is not built into
    :func:`jaccard_prefix_join`); the steer: raw for audit sweeps on curated
    corpora, composed wherever exact multiplicity is expected."""
    mem = tracked_persist(
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("_ch"),
                F.col(id_col).alias("_id")))
    cls = mem.groupBy("_ch").agg(F.min("_id").alias("_rep"))
    # (class rep, member id) — persisted: read by the two inter-class
    # fan-out joins AND the intra-class self-join
    memx = tracked_persist(
        mem.join(cls, "_ch").select("_rep", "_id"))
    reps = df.join(cls.select(F.col("_rep").alias(id_col)), id_col)
    rp = jaccard_prefix_join(reps, text_col, id_col, n, tau)
    ea = memx.select(F.col("_rep").alias("doc_a"),
                     F.col("_id").alias("_ida"))
    eb = memx.select(F.col("_rep").alias("doc_b"),
                     F.col("_id").alias("_idb"))
    inter = (rp.join(ea, "doc_a").join(eb, "doc_b")
             .select(F.least("_ida", "_idb").alias("doc_a"),
                     F.greatest("_ida", "_idb").alias("doc_b"),
                     "shared", "jaccard"))
    # rep shingle-set sizes: the identical shingle_base plan the prefix
    # join persisted, so this is a cache read, not a second tokenize
    rsz = (shingle_base(reps, text_col, id_col, n)
           .select(F.col(id_col).alias("_rep"),
                   F.size("_sh").alias("_sz"))
           .where(F.col("_sz") > 0))
    intra = (memx.join(memx.select(F.col("_rep"),
                                   F.col("_id").alias("_idb")), "_rep")
             .where(F.col("_id") < F.col("_idb"))
             .join(rsz, "_rep")
             .select(F.col("_id").alias("doc_a"),
                     F.col("_idb").alias("doc_b"),
                     F.col("_sz").cast("bigint").alias("shared"),
                     F.lit(1.0).alias("jaccard")))
    return inter.unionByName(intra).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# end-to-end resolution: candidate PAIRS -> one keep/drop row per document.
# Pair listings are output-quadratic on duplicate-heavy corpora (the 10x
# scaling experiment in PARITY.md measured ~1000x pair growth on the text
# path); canonical assignment is linear in corpus size and is what a
# 100 TB dedup pipeline actually materializes.
# ---------------------------------------------------------------------------


def _resolve_pairs(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   local_max_edges: int | None = None) -> DataFrame:
    """Collapse candidate pairs to per-doc canonical assignment via
    min-label propagation over the edge subgraph
    (:func:`~waimak_spark.functions.similarity.resolve_duplicates_fixpoint`);
    ``keep`` marks the component minimum — the one row a dedup pipeline
    retains.  ``local_max_edges=None`` keeps the resolve's default
    sub-threshold local solve; pass ``0`` to force the distributed loop."""
    from .similarity import (
        FIXPOINT_LOCAL_MAX_EDGES,
        resolve_duplicates_fixpoint,
    )

    if local_max_edges is None:
        local_max_edges = FIXPOINT_LOCAL_MAX_EDGES
    ids = df.select(F.col(id_col).alias("id"))
    edges = pairs.select(F.col("doc_a").alias("id_a"),
                         F.col("doc_b").alias("id_b"))
    out = resolve_duplicates_fixpoint(ids, edges,
                                      local_max_edges=local_max_edges)
    return out.select(
        F.col("id").alias(id_col),
        F.col("canonical_id"),
        (F.col("id") == F.col("canonical_id")).alias("keep"))


def minhash_dedup_resolve(df: DataFrame, seeds: list[int] = DEFAULT_SEEDS,
                          band_size: int = BAND_SIZE,
                          max_bucket: int = MAX_BUCKET,
                          id_col: str = "doc_id") -> DataFrame:
    """MinHash-LSH dedup resolved to one keep/drop row per doc: LSH
    candidate pairs (computed once, shared shape with
    :func:`lsh_candidate_pairs`) collapsed by connected-component
    canonical assignment — chains A~B~C with A≁C still resolve to one
    canonical, matching the embedding path's fixpoint semantics."""
    sig = minhash_signature(df, id_col=id_col)
    pairs = lsh_candidate_pairs(sig, seeds, band_size, max_bucket, id_col)
    return _resolve_pairs(df, pairs, id_col)


def simhash_dedup_resolve(df: DataFrame,
                          max_hamming: int = DEFAULT_MAX_HAMMING,
                          max_bucket: int = SIMHASH_MAX_BUCKET,
                          id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup dedup resolved to one keep/drop row per doc."""
    sig = simhash(df, id_col=id_col)
    pairs = simhash_near_dups(sig, max_hamming, max_bucket, id_col)
    return _resolve_pairs(df, pairs.drop("hamming"), id_col)


def _resolve_pairs_oracle(pairs_sql: str) -> str:
    """Recursive-CTE transitive closure over symmetric pair edges, then
    the component minimum per doc — the SQL fixpoint the propagation
    converges to (same oracle shape as
    embedding_cosine_dedup_fixpoint_sql)."""
    return f"""
        with recursive pairs as ({pairs_sql}),
        edges as (
            select doc_a as id, doc_b as peer from pairs
            union all
            select doc_b as id, doc_a as peer from pairs
        ),
        reach(id, peer) as (
            select id, peer from edges
            union
            select e.id, r.peer
            from edges e join reach r on r.id = e.peer
            where e.id != r.peer
        )
        select d.doc_id,
               coalesce(least(d.doc_id, min(r.peer)), d.doc_id)
                   as canonical_id,
               coalesce(least(d.doc_id, min(r.peer)), d.doc_id) = d.doc_id
                   as keep
        from documents d left join reach r on r.id = d.doc_id
        group by d.doc_id
    """


def minhash_dedup_resolve_sql(seeds: list[int] = DEFAULT_SEEDS,
                              band_size: int = BAND_SIZE,
                              max_bucket: int = MAX_BUCKET,
                              n: int = SHINGLE_N) -> str:
    return _resolve_pairs_oracle(
        lsh_candidate_pairs_sql(seeds, band_size, max_bucket, n))


def simhash_dedup_resolve_sql(max_hamming: int = DEFAULT_MAX_HAMMING,
                              max_bucket: int = SIMHASH_MAX_BUCKET,
                              bits: int = SIMHASH_BITS) -> str:
    return _resolve_pairs_oracle(
        "select doc_a, doc_b from ({})".format(
            simhash_near_dups_sql(max_hamming, max_bucket, bits)))


# ---------------------------------------------------------------------------
# the full production dedup pipeline: LSH candidates -> exact-Jaccard
# verification on CANDIDATES ONLY -> canonical resolution. Verification
# cost is O(candidate pairs), not O(bucket^2 * full shingle join) — the
# shape that survives 100 TB (candidates are ~linear in corpus size under
# the bucket caps; only those pairs ever see a shingle-set intersection).
# ---------------------------------------------------------------------------

VERIFY_MIN_JACCARD = 0.5


def minhash_verified_pairs(df: DataFrame,
                           min_jaccard: float = VERIFY_MIN_JACCARD,
                           seeds: list[int] = DEFAULT_SEEDS,
                           band_size: int = BAND_SIZE,
                           max_bucket: int = MAX_BUCKET,
                           id_col: str = "doc_id") -> DataFrame:
    """LSH candidate pairs verified with EXACT n-gram Jaccard ≥ threshold.

    The distinct-shingle base is materialized once (``shingle_base`` is
    persisted) and serves three consumers: the minhash signature, and the
    two sides of the verification join. Verification joins the candidate
    list (small) against the shingle table twice on the doc id — two
    shuffles proportional to candidates + corpus, no quadratic surface.
    """
    base = shingle_base(df, id_col=id_col)
    sig = minhash_signature(df, id_col=id_col, seeds=seeds)
    cand = lsh_candidate_pairs(sig, seeds, band_size, max_bucket, id_col)
    a = base.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sha"))
    b = base.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    jac = F.round(
        inter.cast("double")
        / (F.size("_sha") + F.size("_shb") - inter), 4)
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= min_jaccard))


def minhash_verified_resolve(df: DataFrame,
                             min_jaccard: float = VERIFY_MIN_JACCARD,
                             id_col: str = "doc_id",
                             local_max_edges: int | None = None) -> DataFrame:
    """End-to-end dedup: candidates → verify → one keep/drop row per doc."""
    pairs = minhash_verified_pairs(df, min_jaccard, id_col=id_col)
    return _resolve_pairs(df, pairs.drop("jaccard"), id_col,
                          local_max_edges)


def minhash_verified_pairs_sql(min_jaccard: float = VERIFY_MIN_JACCARD,
                               seeds: list[int] = DEFAULT_SEEDS,
                               band_size: int = BAND_SIZE,
                               max_bucket: int = MAX_BUCKET,
                               n: int = SHINGLE_N) -> str:
    return f"""
        with cand as ({lsh_candidate_pairs_sql(seeds, band_size,
                                               max_bucket, n)}),
        sh as (
            select doc_id, list_distinct({shingles_sql('t', n)}) as sh
            from (select doc_id, {TOKENS_SQL.format(col='text')} as t
                  from documents)
        ),
        verified as (
            select c.doc_a, c.doc_b,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                         (len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh))), 4) as jaccard
            from cand c
            join sh a on a.doc_id = c.doc_a
            join sh b on b.doc_id = c.doc_b
        )
        select doc_a, doc_b, jaccard from verified
        where jaccard >= {min_jaccard}
    """


def minhash_verified_resolve_sql(min_jaccard: float = VERIFY_MIN_JACCARD
                                 ) -> str:
    return _resolve_pairs_oracle(
        "select doc_a, doc_b from ({})".format(
            minhash_verified_pairs_sql(min_jaccard)))


# ---------------------------------------------------------------------------
# cross-document substring dedup: flag documents dominated by VERBATIM
# token windows that occur more than once in the corpus (ExactSubstr,
# Lee et al. 2022, arXiv:2107.06499). The paper builds a corpus-wide
# suffix array on one machine; the Spark-first re-expression slides a
# fixed window of `window` tokens over every document and counts each
# window string's corpus frequency — EXACT for detection at the window
# granularity (two docs share a >= window-token verbatim substring iff
# they share a window-gram; a suffix array additionally recovers the
# maximal match length, which a threshold verdict doesn't need).
# ---------------------------------------------------------------------------

# window length in TOKENS a verbatim match must reach to count as
# duplication. Lee et al. use 50 BPE tokens on real web corpora; the
# synthetic testdata's documents run 10-99 whitespace tokens (avg ~56),
# so the default is tuned down to keep the operator meaningful there
# (41/500 docs carry a duplicated 16-gram at sf0.001).
SUBSTRING_WINDOW = 16
# drop a document when more than this fraction of its window positions
# are corpus-duplicated (the whole-doc verdict analogue of the paper's
# span-removal: a doc that is mostly repeated text carries little novel
# signal).
SUBSTRING_MAX_DUP_FRACTION = 0.5


def substring_ngram_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          window: int = SUBSTRING_WINDOW,
                          max_dup_fraction: float = SUBSTRING_MAX_DUP_FRACTION,
                          key_bits: int = 128) -> DataFrame:
    """Per-document substring-duplication verdict: ``(doc_id, n_grams,
    dup_ngrams, dup_fraction, keep)`` — linear output (one row per input
    document, never a pair list or span list).

    A document's ``window``-token windows (every position, overlapping —
    NOT the distinct-set semantics of the Jaccard family: position count
    is what makes the fraction a coverage measure) are hashed and
    counted across the whole corpus; a window is *duplicated* when its
    text occurs >= 2 times corpus-wide, which covers both cross-document
    duplication and verbatim self-repetition (the paper treats both as
    removable). ``dup_fraction = dup_ngrams / n_grams`` rounded to 4dp
    on BOTH engines before the ``<= max_dup_fraction`` keep gate (the
    q11 float-threshold recipe). Documents shorter than ``window``
    tokens have no windows and are always kept.

    Plan shape / 100 TB posture: windows are hashed before the shuffle
    — the hash NEVER leaves the plan, only per-gram frequency counts
    feed the verdict, so Spark and the DuckDB oracle may hash
    differently and still agree exactly, barring a within-engine
    collision.  ``key_bits`` picks the key (the error
    direction of a collision is SILENT over-flagging — distinct grams
    merge and extra data gets dropped):

    * ``128`` (default, the at-scale path): TWO differently-salted
      ``xxhash64`` longs — collisions birthday-bounded at ~n²/2¹²⁹,
      <1e-16 expected even at the operator's stated 100 TB posture
      (~1e11 grams).  16 bytes/gram on the wire, still 2x smaller than
      a 32-hex-char md5 STRING.
    * ``64``: ONE ``xxhash64`` long — 4x smaller than md5 but
      birthday-bounded at ~n²/2⁶⁵ (hundreds of expected collisions at
      1e11 grams); acceptable for bounded corpora only, kept for the
      shuffle-bound regime where the last 8 bytes/gram matter and the
      corpus is known small.

    Local timing is noise-level either way (isolated min-of-6: md5
    1.37 s, 64-bit 1.32 s at sf0.1 — tokenize/slide/explode dominate at
    this scale); corpus
    frequencies come from a groupBy (map-side partial aggregation
    collapses hot grams — boilerplate repeated millions of times — on
    the mappers, which a count-over-window could not: a single hot gram
    would become one unsplittable sort partition) and join back against
    the gram stream on the same key, so Spark reuses the exchange; the
    per-doc rollup is one more keyed aggregation. Three shuffles total,
    all linear in token count; no UDFs, no driver collects.
    """
    # spread + two-step projection: same recipe as shingle_base — a small
    # parquet arrives as ONE partition, and inlining the tokenizer into
    # the shingle fragment would re-run the whole split pipeline once per
    # element_at reference (window× per gram position; measured 40 s for
    # 196k grams at sf0.1 inlined, ~1 s split)
    tk = (spread_for_compute(df)
          .select(F.col(id_col).alias("doc_id"),
                  F.expr(tokens_sexpr(f"`{text_col}`")).alias("_t")))
    base = tk.select("doc_id",
                     F.expr(shingles_sexpr("_t", window)).alias("grams"))
    # explode_outer keeps zero-gram docs as a null-gram row, so the
    # per-doc rollup needs no join back onto the corpus frame
    if key_bits not in (64, 128):
        raise ValueError(f"key_bits must be 64 or 128, got {key_bits}")
    # xxhash64 returns its SEED for an all-null input where md5
    # propagated NULL — the explode_outer null-gram sentinel of every
    # zero-gram doc would otherwise collide at one key and count as a
    # duplicated window, so null grams are guarded to null keys
    nn = F.col("gram").isNotNull()
    key_cols = [F.when(nn, F.xxhash64("gram")).alias("g")]
    if key_bits == 128:
        # second independent long: same xxhash64 with a literal salt
        # prepended (changes the input stream, decorrelating the hash)
        key_cols.append(
            F.when(nn, F.xxhash64(F.lit("s2"), F.col("gram"))).alias("g2"))
    keys = ["g", "g2"][:len(key_cols)]
    g = (base.select("doc_id", F.size("grams").cast("bigint")
                     .alias("n_grams"),
                     F.explode_outer("grams").alias("gram"))
         .select("doc_id", "n_grams", *key_cols))
    counts = (g.where(F.col("g").isNotNull())
              .groupBy(*keys).agg(F.count("*").alias("c")))
    flagged = g.join(counts.where(F.col("c") >= 2), keys, "left")
    per_doc = flagged.groupBy("doc_id", "n_grams").agg(
        F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("dup_ngrams"))
    frac = F.when(F.col("n_grams") > 0,
                  F.round(F.col("dup_ngrams") / F.col("n_grams"), 4)
                  ).otherwise(F.lit(0.0))
    return per_doc.select(
        "doc_id", "n_grams", "dup_ngrams", frac.alias("dup_fraction"),
        (frac <= F.lit(float(max_dup_fraction))).cast("int").alias("keep"))


def substring_ngram_dedup_sql(window: int = SUBSTRING_WINDOW,
                              max_dup_fraction: float =
                              SUBSTRING_MAX_DUP_FRACTION) -> str:
    frac = ("case when len(b.grams) = 0 then 0.0 else "
            "round(coalesce(d.dup_ngrams, 0)::DOUBLE / len(b.grams), 4) "
            "end")
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col='text')} as t
            from documents
        ), base as (
            select doc_id, {shingles_sql('t', window)} as grams from tok
        ), g as (
            select doc_id, md5(unnest(grams)) as g from base
        ), cnt as (
            select g, count(*) as c from g group by g
        ), dup as (
            select doc_id, count(*) as dup_ngrams
            from g join cnt using (g) where c >= 2
            group by doc_id
        )
        select b.doc_id,
               len(b.grams)::BIGINT as n_grams,
               coalesce(d.dup_ngrams, 0)::BIGINT as dup_ngrams,
               {frac} as dup_fraction,
               case when {frac} <= {max_dup_fraction} then 1 else 0
               end as keep
        from base b left join dup d using (doc_id)
    """


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup against a corpus: the BOUNDED-MEMORY
# approximate sibling of the exact anti-join (catalog
# `dedup_against_corpus`).  Classic Bloom (1970, CACM 13(7)): the corpus
# sets k seeded bit positions per document in an m-bit filter; a probe
# is a *maybe-duplicate* iff ALL its k positions are set — NO false
# negatives ever, false positives at the standard (1 - e^{-kn/m})^k.
# The Spark-first representation of the bit array is the DISTINCT set
# of set positions: <= m rows of one int REGARDLESS of corpus size, so
# at 100 TB the membership state broadcasts (m = 2^20 -> <= 1M ints)
# while the exact anti-join's right side keeps growing with the corpus.
# Every position comes from a seeded md5, so filter behavior INCLUDING
# which false positives occur is bit-reproducible on any engine — that
# is what licenses an exact DuckDB oracle for an "approximate" operator.
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 20
BLOOM_HASHES = 5
_BLOOM_SEED_BASE = 7001


def bloom_positions(col_sql: str, k: int = BLOOM_HASHES,
                    m: int = BLOOM_BITS) -> Column:
    """The k seeded positions a text sets/probes (duplicates possible
    when two seeds collide mod m — callers distinct/dedup as needed).
    ``col_sql`` is a SQL column reference/expression string — the array
    parses as ONE expression.  A ``Column`` argument fails loudly here
    instead of silently interpolating ``Column<...>`` repr into broken
    SQL."""
    if isinstance(col_sql, Column):
        raise TypeError(
            "bloom_positions takes a SQL expression STRING (e.g. "
            "'`text`'); pass the column's SQL form, not a Column")
    return F.expr("array(" + ", ".join(
        f"cast({seeded_hash_sexpr(col_sql, _BLOOM_SEED_BASE + i)} % {m} "
        f"as int)" for i in range(k)) + ")")


def bloom_corpus_positions(corpus: DataFrame, text_col: str = "text",
                           k: int = BLOOM_HASHES,
                           m: int = BLOOM_BITS) -> DataFrame:
    """The corpus's set bit positions — one distinct-int frame standing
    in for the filter's bit array.  Build once, reuse across batches
    (persist or write; bounded by m rows, it only ever SHRINKS relative
    to the corpus)."""
    # null-text rows carry no content to member — dropped on BOTH
    # engines (a seeded hash of NULL is a NULL position, and Spark's
    # array_distinct KEEPS a null while DuckDB's list_distinct drops it,
    # so nulls anywhere in this pipeline break oracle lockstep — the
    # same engine difference functions/curation.py handles)
    return (corpus
            .where(F.col(text_col).isNotNull())
            .select(F.explode(bloom_positions(f"`{text_col}`", k, m))
                    .alias("pos"))
            .distinct())


def bloom_dedup_against_corpus(new: DataFrame, corpus: DataFrame,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               k: int = BLOOM_HASHES,
                               m: int = BLOOM_BITS) -> DataFrame:
    """Per new-batch doc: ``(doc_id, n_probes, n_hits, maybe_dup)`` —
    ``maybe_dup = 1`` iff every distinct probed position is set in the
    corpus filter.  A doc whose exact text IS in the corpus always
    flags (its positions were all set by itself — no false negatives);
    a flagged doc may still be novel (false positive, rate bounded by
    the k/m choice), which is the accepted trade for O(m) membership
    state.  Plan shape: map-only probe explode, ONE join against the
    bounded position set (broadcastable by construction), one keyed
    rollup — no text ever crosses the wire.  Null-text docs are dropped
    on both sides (no content to probe; see bloom_corpus_positions).
    The rollup key is ``(doc_id, probe-set)`` — NOT ``(doc_id,
    n_probes)`` — so duplicate ``doc_id`` rows in ``new`` cannot merge
    probe groups (with two same-id copies in one ``(doc_id,
    n_probes)`` group, n_hits could reach 2×n_probes and an exact
    corpus member would report ``maybe_dup = 0``, silently breaking the
    no-false-negative guarantee).  Identical (id, text) copies collapse
    to one output row; same-id-different-text rows each keep their own
    verdict row.  The probe-set key is ≤k ints, so the wider shuffle
    key costs k×4 bytes per probe row — noise next to the text scan.
    The position-set side carries an explicit broadcast hint: its row
    count is bounded by m BY CONSTRUCTION, but Catalyst's size estimate
    derives from the (unbounded) corpus child, so without the hint the
    planner would shuffle the whole probe stream at scale."""
    pos_set = bloom_corpus_positions(corpus, text_col, k, m)
    probes = (new.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(bloom_positions(f"`{text_col}`", k, m))
        .alias("_ps"))
        .distinct()
        .select("doc_id", "_ps", F.explode("_ps").alias("pos")))
    hits = probes.join(
        F.broadcast(pos_set.withColumn("_hit", F.lit(1))), "pos", "left")
    return (hits.groupBy("doc_id", "_ps")
            .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                 .cast("bigint").alias("n_hits"))
            .select("doc_id",
                    F.size("_ps").cast("bigint").alias("n_probes"),
                    "n_hits",
                    (F.col("n_hits") == F.size("_ps")).cast("int")
                    .alias("maybe_dup")))


def bloom_dedup_against_corpus_sql(corpus_where: str, new_where: str,
                                   k: int = BLOOM_HASHES,
                                   m: int = BLOOM_BITS) -> str:
    from .text import seeded_hash_sql

    def pos_list(expr: str) -> str:
        return "[" + ", ".join(
            f"({seeded_hash_sql(expr, _BLOOM_SEED_BASE + i)} % {m})::INT"
            for i in range(k)) + "]"

    return f"""
        with corp as (
            select distinct unnest({pos_list('text')}) as pos
            from documents where ({corpus_where}) and text is not null
        ), new_probes as (
            select distinct doc_id, list_distinct({pos_list('text')}) as probes
            from documents where ({new_where}) and text is not null
        ), probe as (
            select doc_id, probes, unnest(probes) as pos
            from new_probes
        ), hit as (
            select probe.doc_id, probe.probes,
                   count(corp.pos)::BIGINT as n_hits
            from probe left join corp on probe.pos = corp.pos
            group by probe.doc_id, probe.probes
        )
        select doc_id, len(probes)::BIGINT as n_probes, n_hits,
               case when n_hits = n_probes then 1 else 0 end as maybe_dup
        from hit
    """


# ---------------------------------------------------------------------------
# Repeated-segment (boilerplate) removal — the C4 / CCNet line-dedup
# family (Raffel et al. 2020 JMLR 21(140) §2.2 drops any three-sentence
# span occurring more than once in the corpus; Wenzek et al. 2020 LREC
# CCNet dedups paragraphs by hash).  The synthetic corpus has no line
# breaks, so the segment unit here is the deterministic non-overlapping
# k-token window — the same exact-span semantics, SQL-expressible on
# both engines (vs the OVERLAPPING n-gram keys of the ExactSubstr-style
# ``substring_dedup_flags`` above, which FLAGS suspect docs; this one
# REWRITES them).  The 100 TB shape: one shuffle keyed on the segment
# text for the corpus-wide document-frequency count (map-side partial
# distinct collapses within-doc repeats), one anti-join against the
# frequent-segment set (AQE converts it to broadcast when the set is
# small — boilerplate is by definition a tiny fraction of distinct
# segments), and the per-doc rebuild groups on doc_id — output rows are
# one per document, linear in corpus size, never pairwise.
# ---------------------------------------------------------------------------

#: non-overlapping segment width in tokens (the "line" stand-in)
SEG_K = 3
#: a segment appearing in at least this many DISTINCT documents is
#: boilerplate and is removed from every document
SEG_MIN_DF = 3


def segment_stream(df: DataFrame, text_col: str = "text",
                   k: int = SEG_K) -> DataFrame:
    """``(doc_id, pos, seg)`` — one row per non-overlapping ``k``-token
    window in document order.  The final window may be shorter (both
    engines truncate the slice the same way); empty/null texts
    contribute nothing."""
    base = (spread_for_compute(df)
            .where(F.col(text_col).isNotNull())
            .selectExpr("doc_id", f"{tokens_sexpr(f'`{text_col}`')} as _t"))
    nseg = F.ceil(F.size("_t") / F.lit(float(k))).cast("int")
    mk = lambda i: F.struct(  # noqa: E731
        i.cast("int").alias("pos"),
        F.array_join(F.slice(F.col("_t"), i * k + 1, k), " ").alias("seg"))
    arr = (F.when(nseg > 0, F.transform(F.sequence(F.lit(0), nseg - 1), mk))
           .otherwise(F.array().cast("array<struct<pos:int,seg:string>>")))
    return base.select("doc_id", F.inline(arr))


def repeated_segment_removal(df: DataFrame, text_col: str = "text",
                             k: int = SEG_K,
                             min_df: int = SEG_MIN_DF) -> DataFrame:
    """``(doc_id, clean_text, n_kept, n_removed)`` — every document
    rewritten with its boilerplate segments removed: a segment whose
    corpus document frequency reaches ``min_df`` is dropped from ALL
    documents (including the first), the C4 repeated-span rule.  A
    document made entirely of boilerplate survives with
    ``clean_text = ''`` (the caller decides whether to then drop it —
    length filtering is ``text_quality``'s job, not this operator's).
    The segment stream is persisted: the frequency count and the rebuild
    pass share ONE tokenize pass.

    The rebuild is ONE conditional aggregation (guide §2.4): marking
    frequency with a left join and aggregating once computes
    clean_text / n_kept / n_seg in a single doc_id pass (collect_list
    skips the CASE's nulls, so the kept set, its pos order, and the
    counts are value-identical — oracle-locked).  Anti-joining the
    frequent set and grouping survivors and totals separately would
    take 5 Exchanges and two groupBy(doc_id) plus a join; this takes
    3 and one."""
    segs = tracked_persist(segment_stream(df, text_col, k))
    frequent = (segs.groupBy("seg")
                .agg(F.countDistinct("doc_id").alias("df"))
                .where(F.col("df") >= min_df)
                .select("seg", F.lit(True).alias("_freq")))
    marked = segs.join(frequent, "seg", "left")
    return (marked.groupBy("doc_id").agg(
        F.expr("array_join(transform(array_sort(collect_list("
               "case when _freq is null then struct(pos, seg) end)), "
               "s -> s.seg), ' ')").alias("clean_text"),
        F.expr("cast(count(case when _freq is null then 1 end) as int)")
        .alias("n_kept"),
        F.expr("cast(count(*) as int)").alias("_n_seg"))
        .select("doc_id", "clean_text", "n_kept",
                F.expr("cast(_n_seg - n_kept as int)").alias("n_removed"))
        .orderBy("doc_id"))


def repeated_segment_removal_sql(k: int = SEG_K, min_df: int = SEG_MIN_DF,
                                 table: str = "documents",
                                 text: str = "text") -> str:
    """DuckDB oracle for :func:`repeated_segment_removal`."""
    seg_struct = (f"{{'pos': i, 'seg': "
                  f"array_to_string(t[i*{k}+1 : i*{k}+{k}], ' ')}}")
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col=text)} as t
            from {table} where {text} is not null
        ), seg as (
            select doc_id, u.pos::INT as pos, u.seg as seg
            from (
                select doc_id,
                       unnest(list_transform(
                           range(0, cast(ceil(len(t) / {k}.0) as int)),
                           i -> {seg_struct})) as u
                from tok)
        ), freq as (
            select seg from seg group by seg
            having count(distinct doc_id) >= {min_df}
        ), kept as (
            select s.doc_id, s.pos, s.seg
            from seg s anti join freq f using (seg)
        ), agg as (
            select doc_id,
                   string_agg(seg, ' ' order by pos) as clean_text,
                   count(*)::INT as n_kept
            from kept group by doc_id
        ), tot as (
            select doc_id, count(*)::INT as n_seg from seg group by doc_id
        )
        select t.doc_id,
               coalesce(a.clean_text, '') as clean_text,
               coalesce(a.n_kept, 0)::INT as n_kept,
               (t.n_seg - coalesce(a.n_kept, 0))::INT as n_removed
        from tot t left join agg a using (doc_id)
        order by t.doc_id
    """
