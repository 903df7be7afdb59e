"""Training-data curation operators: deterministic sampling, leakage-safe
splitting, PII redaction, repetition quality signals, and incremental
dedup against an existing corpus.

These are capability fills (the reference has no LLM-pipeline surface;
SURVEY.md asks for them as first-class) — all pure built-in ``F``
expressions (JVM-side, whole-stage codegen), no Python UDFs anywhere.

Cross-engine determinism: randomness is replaced by md5 everywhere.
``rand()``/``TABLESAMPLE`` are non-deterministic across engines, retries,
and task re-runs — a retried task would sample a *different* subset, which
at 100 TB means a non-reproducible training set.  Hashing a stable key
gives the same sample on every engine, every run, every re-run of a
failed task, and lets DuckDB reproduce the exact row set for the oracle.

Scale notes (100 TB posture):
* ``stratified_sample`` / ``assign_split`` / ``redact_pii`` /
  ``repetition_columns`` are narrow map-only projections — zero shuffle,
  zero driver traffic; they scale linearly with input splits.
* ``dedup_against_corpus`` is one shuffle anti-join on a 32-bit content
  hash — document text never crosses the wire; Spark's runtime bloom
  filter (``spark.sql.optimizer.runtime.bloomFilter.enabled``) prunes the
  probe side before the shuffle when the corpus is selective.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import local_rows_df

# ---------------------------------------------------------------------------
# deterministic sampling: keep iff first 4 md5 hex chars < threshold
# ---------------------------------------------------------------------------
#
# P(keep) = floor(fraction * 65536) / 65536, exact and engine-independent:
# md5 hex is lowercase in both Spark and DuckDB, so plain string comparison
# of the 4-char prefix against a 4-char lowercase hex threshold is identical
# on both sides — no integer conversion needed in the keep predicate.


def _threshold_hex(fraction: float) -> str:
    n = max(0, min(65536, int(fraction * 65536)))
    if n >= 65536:
        # every 4-hex-char prefix sorts below 'g' (hex digits are 0-9a-f),
        # so 'g' means keep-all; '10000' would NOT ('ffff' > '10000')
        return "g"
    return format(n, "04x")


def sample_keep(key: Column, fraction: float, seed: int = 1) -> Column:
    """Boolean keep-predicate: deterministic ``fraction`` sample by key."""
    prefix = F.substring(F.md5(F.concat(F.lit(f"sample:{seed}:"),
                                        key.cast("string"))), 1, 4)
    return prefix < F.lit(_threshold_hex(fraction))


def sample_keep_sql(key_expr: str, fraction: float, seed: int = 1) -> str:
    return (f"substr(md5('sample:{seed}:' || ({key_expr})::VARCHAR), 1, 4) "
            f"< '{_threshold_hex(fraction)}'")


def stratified_sample(df: DataFrame, key: str, stratum: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0,
                      seed: int = 1) -> DataFrame:
    """Deterministic per-stratum sample: each stratum value gets its own
    keep-rate; unknown strata fall back to ``default_fraction``.

    Map-only (the per-stratum threshold is a CASE over the stratum column,
    the keep test a string compare on an md5 prefix) — no shuffle, no
    driver-side stratum discovery pass.
    """
    thr: Column = F.lit(_threshold_hex(default_fraction))
    for value, fraction in sorted(fractions.items()):
        thr = F.when(F.col(stratum) == value,
                     F.lit(_threshold_hex(fraction))).otherwise(thr)
    prefix = F.substring(
        F.md5(F.concat(F.lit(f"sample:{seed}:"),
                       F.col(key).cast("string"))), 1, 4)
    return df.where(prefix < thr)


def stratified_sample_sql(key: str, stratum: str,
                          fractions: dict[str, float],
                          default_fraction: float = 0.0,
                          seed: int = 1) -> str:
    """DuckDB WHERE-clause fragment matching :func:`stratified_sample`."""
    cases = " ".join(
        f"when {stratum} = '{value}' then '{_threshold_hex(fraction)}'"
        for value, fraction in sorted(fractions.items())
    )
    thr = f"(case {cases} else '{_threshold_hex(default_fraction)}' end)"
    return (f"substr(md5('sample:{seed}:' || ({key})::VARCHAR), 1, 4) "
            f"< {thr}")


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split: hash the GROUP key, not the row
# ---------------------------------------------------------------------------
#
# Splitting by row leaks near-duplicates across train/test (the classic
# contamination bug); hashing a group key (source/domain/url-host) pins
# every document of a group to one split.  Bucket = md5-prefix mod 100.


def split_bucket(group: Column, seed: int = 1) -> Column:
    """Deterministic 0..99 bucket from the group key."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"split:{seed}:"), group.cast("string"))),
        1, 8), 16, 10).cast("long")
    return (h % 100).cast("int")


def split_bucket_sql(group_expr: str, seed: int = 1) -> str:
    return (f"(('0x' || substr(md5('split:{seed}:' || "
            f"({group_expr})::VARCHAR), 1, 8))::BIGINT % 100)::INT")


def assign_split(df: DataFrame, group: str,
                 train: int = 80, val: int = 10,
                 seed: int = 1) -> DataFrame:
    """Add a ``split`` column (train/val/test) constant within ``group``.

    ``train`` + ``val`` are percentages; the remainder is test.  Map-only.
    """
    b = split_bucket(F.col(group), seed)
    split = (F.when(b < train, F.lit("train"))
             .when(b < train + val, F.lit("val"))
             .otherwise(F.lit("test")))
    return df.withColumn("split", split)


def assign_split_sql(group_expr: str, train: int = 80, val: int = 10,
                     seed: int = 1) -> str:
    b = split_bucket_sql(group_expr, seed)
    return (f"case when {b} < {train} then 'train' "
            f"when {b} < {train + val} then 'val' else 'test' end")


# ---------------------------------------------------------------------------
# PII redaction: ordered regexp_replace chain, shared Java/RE2 dialect
# ---------------------------------------------------------------------------
#
# Patterns stick to the syntax subset Java regex and RE2 (DuckDB) agree on:
# explicit classes, bounded repetition, \d as [0-9], \b word boundaries.
# Order matters: SSN before PHONE so 123-45-6789 is not half-eaten by a
# looser number pattern.

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}", "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Replace emails / SSNs / IPv4s / intl phone numbers with tags."""
    out = col
    for _, pattern, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return out


def redact_pii_sql(expr: str) -> str:
    out = expr
    for _, pattern, tag in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pattern}', '{tag}', 'g')"
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts (audit columns for a redaction report)."""
    return {
        f"n_{name}": F.regexp_count(col, F.lit(pattern)).cast("bigint")
        for name, pattern, _ in PII_PATTERNS
    }


def pii_counts_sql(expr: str) -> dict[str, str]:
    return {
        f"n_{name}": f"len(regexp_extract_all({expr}, '{pattern}'))::BIGINT"
        for name, pattern, _ in PII_PATTERNS
    }


# ---------------------------------------------------------------------------
# repetition / boilerplate quality signals (Gopher-style dup-ngram fractions)
# ---------------------------------------------------------------------------


def dup_fraction_sexpr(arr: str) -> str:
    """Fraction of the elements of array ``arr`` that are repeats of an
    earlier element.

    NULL elements are excluded from the distinct count (every NULL beyond
    the first counts as a repeat): DuckDB's ``list_distinct`` drops NULLs
    while Spark's ``array_distinct`` keeps one, so the Spark side filters
    NULLs before distinct to keep the paired SQL fragment bit-identical.
    """
    return (f"case when size({arr}) > 0 then "
            f"round(1.0D - size(array_distinct(filter({arr}, "
            f"x -> x is not null))) / size({arr}), 4) "
            f"else 0.0D end")


def dup_fraction_sql(arr_expr: str) -> str:
    return (f"round(case when len({arr_expr}) > 0 then "
            f"1.0 - len(list_distinct({arr_expr}))::DOUBLE / len({arr_expr}) "
            f"else 0.0 end, 4)")


# ---------------------------------------------------------------------------
# sequence chunking + packing: split docs into fixed-token chunks, then
# pack chunks into fixed-budget training sequences — the final layout step
# of a pretraining data pipeline. Packing is PER PARTITION COLUMN (source):
# a window over (source) with a deterministic order, so there is no global
# sort — each source packs independently, which is exactly how a 100 TB
# run shards the work (a global greedy pack would serialize on one sort).
# A chunk never splits across sequences; a sequence may therefore overrun
# the budget by < chunk_size tokens (the standard streaming-packing
# approximation — downstream pad/truncate handles the tail).
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32    # tokens per chunk (synthetic docs run 10-100 tokens)
SEQ_BUDGET = 128   # token budget per packed sequence


def chunk_and_pack(df: DataFrame, chunk_size: int = CHUNK_SIZE,
                   seq_budget: int = SEQ_BUDGET, text_col: str = "text",
                   id_col: str = "doc_id",
                   part_col: str = "source") -> DataFrame:
    """One row per chunk: (part, doc, chunk_idx, chunk_tokens, seq_id).

    ``seq_id`` is the running-sum bucket within the partition's
    deterministic (doc, chunk) order: a chunk starts a new sequence when
    the tokens packed before it already fill the budget. Whitespace
    tokenization (``functions.text.tokens_sexpr``) keeps both engines
    identical.
    """
    from pyspark.sql import Window as W

    from .text import tokens_sexpr

    nt = df.selectExpr(f"`{part_col}`", f"`{id_col}`",
                       f"size({tokens_sexpr(f'`{text_col}`')}) as _n")
    nz = nt.where(F.col("_n") > 0)
    chunks = nz.select(
        part_col, id_col, "_n",
        F.explode(F.expr(
            f"sequence(0, cast(ceil(_n / {chunk_size}.0) as int) - 1)"
        )).alias("chunk_idx"))
    chunks = chunks.select(
        part_col, id_col, "chunk_idx",
        F.least(F.lit(chunk_size),
                F.col("_n") - F.col("chunk_idx") * chunk_size)
        .cast("bigint").alias("chunk_tokens"))
    w = (W.partitionBy(part_col).orderBy(id_col, "chunk_idx")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = F.sum("chunk_tokens").over(w)
    return chunks.select(
        part_col, id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        "chunk_tokens",
        F.floor((cum - F.col("chunk_tokens")) / seq_budget)
        .cast("bigint").alias("seq_id"))


def chunk_and_pack_sql(chunk_size: int = CHUNK_SIZE,
                       seq_budget: int = SEQ_BUDGET) -> str:
    from .text import TOKENS_SQL

    toks = TOKENS_SQL.format(col="text")
    return f"""
        with nt as (
            select source, doc_id, len({toks}) as n from documents
        ), chunks as (
            select source, doc_id, i as chunk_idx,
                   least({chunk_size}, n - i * {chunk_size})::BIGINT
                       as chunk_tokens
            from (select * from nt where n > 0),
                 unnest(generate_series(
                     0, cast(ceil(n / {chunk_size}.0) as int) - 1)) as t(i)
        )
        select source, doc_id, chunk_idx::BIGINT as chunk_idx, chunk_tokens,
               cast(floor((sum(chunk_tokens) over (
                        partition by source order by doc_id, chunk_idx
                        rows between unbounded preceding and current row)
                    - chunk_tokens) / {seq_budget}) as bigint) as seq_id
        from chunks
    """


WINDOW_TOKENS = 64   # tokens per overlapping window
WINDOW_OVERLAP = 16  # tokens shared between consecutive windows


def chunk_sliding_windows(df: DataFrame,
                          window_tokens: int = WINDOW_TOKENS,
                          overlap: int = WINDOW_OVERLAP,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Overlapping token windows per document — the RAG / context-window
    chunking stage: windows of ``window_tokens`` tokens starting every
    ``window_tokens − overlap`` tokens, the last window shortened to the
    document tail.  One row per window: (doc_id, chunk_index,
    start_token, n_chunk_tokens, chunk_hash) — the HASH of the joined
    window text, not the text itself, so the output stays metadata-sized
    (and driver-canonicalizable) while remaining value-checkable.

    Scale shape: map-only — tokenize once per row (own projection, so
    the token array is a bound reference for the explode and slices, not
    a re-run of the tokenizer), one Generate over the in-row window
    structs, no shuffle.  Empty docs produce no rows on both engines."""
    from .text import md5_hash32_sexpr, tokens_sexpr

    if overlap >= window_tokens:
        raise ValueError("overlap must be smaller than window_tokens")
    stride = window_tokens - overlap
    base = df.selectExpr(f"`{id_col}` as doc_id",
                         f"{tokens_sexpr(f'`{text_col}`')} as _t")
    n = F.size("_t")
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)),
                        F.lit(stride))
    wins = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.slice(F.col("_t"), s, window_tokens).alias("toks")))
    exploded = (base.where(n > 0)
                .select("doc_id", F.posexplode(wins).alias("_i", "w")))
    return exploded.select(
        "doc_id",
        (F.col("_i") + 1).cast("int").alias("chunk_index"),
        F.col("w.start").cast("int").alias("start_token"),
        F.size("w.toks").alias("n_chunk_tokens"),
        F.expr(md5_hash32_sexpr("concat_ws(' ', w.toks)"))
        .alias("chunk_hash"))


def chunk_sliding_windows_sql(window_tokens: int = WINDOW_TOKENS,
                              overlap: int = WINDOW_OVERLAP) -> str:
    """DuckDB mirror: window starts from an exclusive-stop ``range`` (==
    Spark's inclusive ``sequence``), index derived arithmetically."""
    from .text import TOKENS_SQL, md5_hash32_sql

    stride = window_tokens - overlap
    toks = TOKENS_SQL.format(col="text")
    return f"""
        with tok as (
            select doc_id, {toks} as t from documents
        ), st as (
            select doc_id, t,
                   unnest(range(1, greatest(len(t) - {overlap}, 1) + 1,
                                {stride})) as start
            from tok where len(t) > 0
        )
        select doc_id,
               ((start - 1) // {stride} + 1)::INTEGER as chunk_index,
               start::INTEGER as start_token,
               len(t[start : start + {window_tokens - 1}])::INTEGER
                   as n_chunk_tokens,
               {md5_hash32_sql(
                   f"array_to_string(t[start : start + {window_tokens - 1}],"
                   f" ' ')")} as chunk_hash
        from st
    """


# ---------------------------------------------------------------------------
# weighted (importance) sampling: keep-probability per ROW, derived from a
# data column — deterministic via the same md5-prefix trick as sample_keep,
# with the threshold computed per row from the weight. Map-only, no
# shuffle, engine-identical.
# ---------------------------------------------------------------------------


def weighted_sample_keep(key: Column, weight: Column,
                         seed: int = 1) -> Column:
    """Keep predicate with P(keep) = floor(weight*65536)/65536 per row
    (weight clamped to [0,1]); same md5-prefix ordering as
    :func:`sample_keep` so a row kept at weight w is also kept at any
    w' > w (nested samples — handy for ablation subsets)."""
    w16 = F.floor(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), weight)) * 65536
    ).cast("int")
    thresh = F.when(w16 >= 65536, F.lit("g")).otherwise(
        F.lpad(F.lower(F.hex(w16)), 4, "0"))
    prefix = F.substring(F.md5(F.concat(F.lit(f"wsample:{seed}:"),
                                        key.cast("string"))), 1, 4)
    return prefix < thresh


def weighted_sample_keep_sql(key_expr: str, weight_expr: str,
                             seed: int = 1) -> str:
    w16 = (f"cast(floor(greatest(0.0, least(1.0, {weight_expr})) * 65536) "
           f"as int)")
    thresh = (f"case when {w16} >= 65536 then 'g' "
              f"else lpad(lower(hex({w16})), 4, '0') end")
    return (f"substr(md5('wsample:{seed}:' || ({key_expr})::VARCHAR), 1, 4) "
            f"< {thresh}")


# ---------------------------------------------------------------------------
# language-mixture re-weighting (temperature sampling)
# ---------------------------------------------------------------------------
#
# Multilingual training mixtures up-sample low-resource languages via
# temperature scaling: p_temp(l) ∝ p_raw(l)^alpha with alpha < 1 (the
# multilingual-LM convention; alpha = 0.5 here, expressed as sqrt so both
# engines use the identical primitive).  Output is one row per language
# with the raw share, the temperature share, and the resulting
# up/down-sampling factor a pipeline multiplies into per-doc weights.
#
# Scale shape: one groupBy on the language key (lang-cardinality output,
# i.e. tiny), the totals as a 1-row broadcast — wholly map-side after the
# single small shuffle; no per-doc work at all.


def lang_mixture_weights(df: DataFrame, lang_col: str = "lang") -> DataFrame:
    from pyspark.sql import functions as F

    langs = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").alias("n_docs"))
    totals = langs.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("sum_w"))
    p_raw = F.col("n_docs") / F.col("n_total")
    p_temp = F.sqrt(F.col("n_docs").cast("double")) / F.col("sum_w")
    return (langs.join(F.broadcast(totals))
            .select("lang", "n_docs",
                    F.round(p_raw, 6).alias("p_raw"),
                    F.round(p_temp, 6).alias("p_temp"),
                    F.round(p_temp / p_raw, 4).alias("sample_factor")))


def lang_mixture_weights_sql(table: str = "documents",
                             lang_col: str = "lang") -> str:
    return f"""
        with langs as (
            select {lang_col} as lang, count(*) as n_docs
            from {table} group by {lang_col}
        ), tot as (
            select sum(n_docs) as n_total,
                   sum(sqrt(n_docs::DOUBLE)) as sum_w
            from langs
        )
        select lang, n_docs,
               round(n_docs / n_total, 6) as p_raw,
               round(sqrt(n_docs::DOUBLE) / sum_w, 6) as p_temp,
               round((sqrt(n_docs::DOUBLE) / sum_w)
                     / (n_docs / n_total), 4) as sample_factor
        from langs cross join tot
    """


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169):
# score raw documents by how target-like they are under two hashed
# bag-of-n-grams language models, then resample with Gumbel top-k.
# The reference (waimak) has no data-selection surface; this is the
# training-data-pipeline extension family.
#
# log w(x) = sum over x's grams g of  llr[bucket(g)]
#   llr[b] = ln((ct_b + a) / (T + aB)) - ln((cr_b + a) / (R + aB))
# with ct/cr the hashed (unigram+bigram -> B buckets) counts over the
# target / raw corpora, T/R their totals, a the add-a smoothing.
#
# Scale shape (100 TB posture): the gram stream is a map-only projection
# (token slices zipped in place, no window/self-join) persisted once and
# read twice (raw-model fit + scoring); the two model fits are groupBys
# on the bucket key whose output is bounded by B (4096) regardless of
# corpus size — map-side partial aggregation collapses everything before
# the exchange; the per-bucket llr table is B rows, BROADCAST to the
# scoring join (zero gram-stream shuffle for scoring); the per-doc rollup
# is one keyed aggregation.  Selection is orderBy+limit = Spark's
# TakeOrderedAndProject (per-partition partial top-k, merged on the
# driver — k rows, never a global sort).
#
# Cross-engine determinism: buckets come from md5_hash32 % B (identical
# in DuckDB); each llr value is computed ONCE per bucket in the llr
# table, so the only engine divergence is per-doc summation order —
# absorbed by the round(..., 4) gate (the unigram/bigram_logprob recipe).
# Gumbel noise derives from seeded md5, u in (0,1) strictly, and the
# selection key is rounded to 4dp with a doc_id tiebreak so both engines
# rank identically.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_ALPHA = 1.0


def _dsir_gram_stream(df: DataFrame, text_col: str, id_col: str,
                      flag=None) -> DataFrame:
    """(doc_id, gram) with one row per unigram AND bigram occurrence;
    zero-gram docs survive as a single null-gram row (explode_outer).
    ``flag`` (a boolean Column over ``df``'s columns) is carried through
    as ``_t`` so a subset-target caller can split one tokenized stream
    instead of tokenizing the corpus twice.

    The token array is projected in its OWN select step before the gram
    expressions (the shingle_base recipe): interpreted higher-order
    expressions get no common-subexpression elimination, so inlining
    the tokenizer re-ran the whole split+filter once per reference —
    five references here (size + two slices + concat) — and
    CollapseProject keeps the boundary because the projected column is
    non-cheap and multiply-referenced.  Plan-verified: the executed
    plan carries ONE split(lower(...)) where the inline form carried
    five.  Wall-clock effect on dsir_select is modest at sandbox scale
    (isolated min-of-6: 3.11 → 2.99 s — the bucket aggregations and
    scoring join dominate there), but four redundant tokenize passes
    over 100 TB of text is exactly the class of waste the shingle_base
    recipe exists to remove."""
    from .text import tokens_sexpr

    pre = [F.col(id_col).alias("doc_id"),
           F.expr(tokens_sexpr(f"`{text_col}`")).alias("_tk")]
    if flag is not None:
        pre.append(F.coalesce(flag, F.lit(False)).alias("_t"))
    tk = df.select(*pre)
    toks = F.col("_tk")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b))
    grams = F.concat(toks, bigrams)
    cols = ["doc_id", F.explode_outer(grams).alias("gram")]
    if flag is not None:
        cols.append("_t")
    return tk.select(*cols)


def dsir_importance(raw_df: DataFrame, target_df: DataFrame | None,
                    text_col: str = "text", id_col: str = "doc_id",
                    buckets: int = DSIR_BUCKETS,
                    alpha: float = DSIR_ALPHA,
                    target_predicate=None) -> DataFrame:
    """(doc_id, n_grams, log_weight): per raw document, the DSIR
    log-importance weight of its hashed n-gram features under the
    target-vs-raw bag-of-n-grams models, rounded to 4dp.  Zero-gram docs
    (empty/null text) get log_weight 0.0 (an empty product of ratios).

    Two ways to name the target corpus:

    * ``target_df`` — any frame; its gram stream is tokenized
      separately (the general path).
    * ``target_predicate`` — a boolean Column over ``raw_df``'s columns
      when the target IS a subset of the raw corpus (the common DSIR
      deployment: "docs that look like Wikipedia" out of the crawl).
      The corpus is then tokenized ONCE: the persisted gram stream
      carries the flag, and the target model is a filter over it —
      identical values by construction (same gram multiset; equality
      test-locked), one fewer tokenize pass over the target subset.
      Measured back-to-back isolated min-of-6 at sf0.1 (stash A/B,
      same day): 2.591 s two-frame vs 2.572 s predicate — parity; the
      persist of the flagged stream absorbs the saved pass locally.
      The win is the at-scale shape: the subset's tokenize work (its
      fraction of the corpus) disappears, and nothing new is added but
      one boolean column on the already-persisted stream.
    """
    from .cache_registry import tracked_persist
    from .dedup import spread_for_compute
    from .text import md5_hash32_sexpr

    if (target_df is None) == (target_predicate is None):
        raise ValueError(
            "pass exactly one of target_df / target_predicate")
    bucket = F.expr(f"{md5_hash32_sexpr('gram')} % {buckets}").alias("b")
    # spread: a single small parquet file arrives as ONE scan partition,
    # serializing the tokenize/explode pass that builds the persisted
    # gram stream (no-op at cluster scale — see spread_for_compute)
    raw_grams = tracked_persist(
        _dsir_gram_stream(spread_for_compute(raw_df), text_col, id_col,
                          flag=target_predicate))
    if target_predicate is not None:
        # subset-target path: ONE aggregation pass + ONE collect computes
        # both bucket counts — cr over every gram, ct as the flagged
        # conditional count (previously two jobs, each a full scan of
        # the persisted stream).  A bucket with zero target grams gets
        # ct = 0, which the llr coalesce treated identically when it
        # arrived as a missing row — values unchanged.
        both_rows = (raw_grams.where(F.col("gram").isNotNull())
                     .select(bucket, "_t")
                     .groupBy("b")
                     .agg(F.count("*").alias("cr"),
                          F.count(F.when(F.col("_t"), True)).alias("ct"))
                     ).collect()
        cr_rows = [(r["b"], r["cr"]) for r in both_rows]
        ct_rows = [(r["b"], r["ct"]) for r in both_rows if r["ct"] > 0]
    else:
        cr = (raw_grams.where(F.col("gram").isNotNull()).select(bucket)
              .groupBy("b").agg(F.count("*").alias("cr")))
        tgt_grams = _dsir_gram_stream(spread_for_compute(target_df),
                                      text_col, id_col)
        ct = (tgt_grams
              .where(F.col("gram").isNotNull()).select(bucket)
              .groupBy("b").agg(F.count("*").alias("ct")))
        cr_rows = [(r["b"], r["cr"]) for r in cr.collect()]
        ct_rows = [(r["b"], r["ct"]) for r in ct.collect()]
    # cr/ct are bucket-count rows bounded at `buckets` BY CONSTRUCTION
    # (B=4096 default) — collected once (the bounded-collect pattern the
    # fixpoint/probe operators already use; the subset-target path
    # collects both columns in ONE aggregation job) and the llr INPUT
    # rebuilt as a local frame, rather than two keyless 1-row total
    # joins, for two measured reasons:
    # (a) the totals' only physical form was the BroadcastNestedLoopJoin
    # the catalog-wide plan sweep (rightly) refuses to whitelist, and
    # (b) the lazy plan computed the UN-persisted target gram stream
    # twice (llr's ct + t_total's ct); collecting runs each stream
    # exactly once.  Isolated min-of-6 at sf0.1, same day: 2.53 s (old
    # joins) vs 2.51 s — parity; the plan-lock compliance is the win.
    # Totals become exact-int literals (< 2^53, so the double
    # equals the old cast(long as double) bit-for-bit); the llr MATH
    # stays an engine expression, so Spark-vs-DuckDB divergence remains
    # summation-order-only, absorbed by the 4dp gate.  A gram-less
    # corpus has zero rows here — totals coalesce to 0 so the
    # empty-target boundary degrades to the uniform (all-alpha) model
    # instead of null-ing every llr.
    r_total = float(sum(c for _, c in cr_rows))
    t_total = float(sum(c for _, c in ct_rows))
    ct_by_b = dict(ct_rows)
    spark = raw_df.sparkSession
    counts = local_rows_df(
        spark, [(b, c, ct_by_b.get(b)) for b, c in cr_rows],
        "b long, cr long, ct long")
    a, ab = F.lit(float(alpha)), F.lit(float(alpha) * buckets)
    # only raw-present buckets are ever looked up, so cr is the base side
    llr = counts.select(
        "b",
        (F.log((F.coalesce(F.col("ct"), F.lit(0)) + a)
               / (F.lit(t_total) + ab))
         - F.log((F.col("cr") + a) / (F.lit(r_total) + ab))
         ).alias("llr"))
    scored = (raw_grams.select("doc_id", F.col("gram"), bucket)
              .join(F.broadcast(llr), "b", "left"))
    return (scored.groupBy("doc_id")
            .agg(F.count("gram").alias("n_grams"),
                 F.round(F.coalesce(F.sum("llr"), F.lit(0.0)), 4)
                 .alias("log_weight")))


def dsir_select(raw_df: DataFrame, target_df: DataFrame | None, k: int,
                seed: int = 1, text_col: str = "text",
                id_col: str = "doc_id", buckets: int = DSIR_BUCKETS,
                alpha: float = DSIR_ALPHA,
                target_predicate=None) -> DataFrame:
    """Gumbel-top-k importance resampling: the paper's sampling-without-
    replacement, derandomised via seeded md5 so every engine/run/retry
    selects the same k documents.  Returns (doc_id, n_grams, log_weight,
    gumbel_key) for the k selected docs.  ``target_predicate`` is the
    tokenize-once subset-target path (see :func:`dsir_importance`)."""
    from .text import seeded_hash_sexpr

    w = dsir_importance(raw_df, target_df, text_col, id_col, buckets,
                        alpha, target_predicate=target_predicate)
    # (0,1) strictly: hash is 0..2^32-1
    u = F.expr(f"({seeded_hash_sexpr('cast(doc_id as string)', seed)} + 1)"
               f" / 4294967297.0D")
    key = F.round(F.col("log_weight") - F.log(-F.log(u)), 4)
    return (w.withColumn("gumbel_key", key)
            .orderBy(F.desc("gumbel_key"), "doc_id").limit(k))


def _dsir_grams_sql(table: str, where: str, text: str, id_: str) -> str:
    """Gram-stream CTE body matching :func:`_dsir_gram_stream` (non-null
    grams only — SQL callers handle zero-gram docs with a left join)."""
    from .text import TOKENS_SQL

    cond = f"where {where}" if where else ""
    return f"""
        select {id_} as doc_id, unnest(
            t || case when len(t) >= 2 then
                 list_transform(generate_series(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1])
                 else [] end) as gram
        from (select {id_}, {TOKENS_SQL.format(col=text)} as t
              from {table} {cond})
    """


def dsir_importance_sql(target_where: str,
                        buckets: int = DSIR_BUCKETS,
                        alpha: float = DSIR_ALPHA,
                        raw_table: str = "documents",
                        text: str = "text", id_: str = "doc_id") -> str:
    """DuckDB oracle for :func:`dsir_importance`; the target corpus is
    ``raw_table`` filtered by ``target_where`` (how the catalog-style
    oracle pins a target set without a second table)."""
    from .text import md5_hash32_sql

    a, ab = float(alpha), float(alpha) * buckets
    return f"""
        with rg as ({_dsir_grams_sql(raw_table, "", text, id_)}),
        tg as ({_dsir_grams_sql(raw_table, target_where, text, id_)}),
        cr as (select {md5_hash32_sql('gram')} % {buckets} as b,
                      count(*) as cr from rg group by 1),
        ct as (select {md5_hash32_sql('gram')} % {buckets} as b,
                      count(*) as ct from tg group by 1),
        rt as (select coalesce(sum(cr), 0) as r_total from cr),
        tt as (select coalesce(sum(ct), 0) as t_total from ct),
        llr as (
            select b, ln((coalesce(ct, 0) + {a}) / (t_total + {ab}))
                      - ln((cr + {a}) / (r_total + {ab})) as llr
            from cr left join ct using (b) cross join rt cross join tt
        ), per_doc as (
            select doc_id, count(*) as n_grams, sum(llr) as w
            from (select doc_id,
                         {md5_hash32_sql('gram')} % {buckets} as b
                  from rg)
            join llr using (b) group by doc_id
        )
        select d.{id_} as doc_id,
               coalesce(p.n_grams, 0) as n_grams,
               round(coalesce(p.w, 0.0), 4) as log_weight
        from {raw_table} d left join per_doc p on d.{id_} = p.doc_id
    """


def dsir_select_sql(target_where: str, k: int, seed: int = 1,
                    buckets: int = DSIR_BUCKETS,
                    alpha: float = DSIR_ALPHA,
                    raw_table: str = "documents",
                    text: str = "text", id_: str = "doc_id") -> str:
    from .text import seeded_hash_sql

    u = (f"(({seeded_hash_sql(f'doc_id::VARCHAR', seed)}) + 1)"
         f" / 4294967297.0")
    return f"""
        with w as ({dsir_importance_sql(target_where, buckets, alpha,
                                        raw_table, text, id_)})
        select doc_id, n_grams, log_weight,
               round(log_weight - ln(-ln({u})), 4) as gumbel_key
        from w
        order by gumbel_key desc, doc_id
        limit {k}
    """


# ---------------------------------------------------------------------------
# fixed-size weighted sampling WITHOUT replacement (Efraimidis &
# Spiliotis 2006, IPL 97(5): priority/A-ES sampling) — the fixed-BUDGET
# counterpart to weighted_sample_keep's Bernoulli thinning: keep exactly
# k rows with inclusion ∝ per-row weight, in ONE pass with NO shuffle.
# Each row gets key u^(1/w) for a uniform u — equivalently ln(u)/w,
# used here — and the k largest keys are the sample; u is the same
# seeded-md5 uniform the DSIR Gumbel selection uses, so every
# engine/run/retry picks the identical rows (derandomised).  dsir_select
# is the special case where w is the DSIR importance weight; this is the
# standalone operator for any weight column (quality scores, length
# budgets, dedup-cluster mass).  The 100 TB story: scoring is map-only
# and selection is TakeOrderedAndProject — per-partition top-k then a
# k-row merge on one reducer, never a global sort, zero data shuffle.
# ---------------------------------------------------------------------------


def priority_sample_k(df: DataFrame, weight: Column, k: int,
                      id_col: str = "doc_id", seed: int = 1) -> DataFrame:
    """The ``k`` rows with the largest ``round(ln(u)/w, 6)`` priority
    keys (ties on ascending id — with the round, ordering is total and
    engine-identical; 6dp rather than the aggregate family's 4dp
    because the only cross-engine divergence here is ln's last ulp
    (~1e-16) and large weights compress keys toward 0, where a 4dp
    grid would quantize away most of the weight signal).  ``+ 0.0``
    folds IEEE ``-0.0`` to ``0.0`` on both engines — DuckDB's round
    preserves the negative zero ln produces at u→1, Spark's does not,
    and a value-hashing comparator would see "-0" vs "0".  Rows with
    null or non-positive weight are excluded (their inclusion
    probability is 0; both engines agree).  Returns the input columns
    plus ``priority_key``."""
    from .text import seeded_hash_sexpr

    u = F.expr(f"({seeded_hash_sexpr(f'cast(`{id_col}` as string)', seed)}"
               f" + 1) / 4294967297.0D")
    key = F.round(F.log(u) / weight, 6) + F.lit(0.0)
    return (df.where(weight.isNotNull() & (weight > 0))
            .withColumn("priority_key", key)
            .orderBy(F.desc("priority_key"), F.asc(id_col))
            .limit(k))


def priority_sample_k_sql(weight_expr: str, k: int,
                          table: str = "documents",
                          cols: str = "doc_id, source, n_chars",
                          id_expr: str = "doc_id",
                          seed: int = 1) -> str:
    """DuckDB oracle for :func:`priority_sample_k` over ``table``.

    ``weight_expr`` / ``id_expr`` / ``cols`` are SQL *fragments*
    interpolated verbatim (they name columns or arithmetic over them,
    like ``n_chars`` or ``n_chars * quality``) — callers pass trusted
    expressions, never user-supplied strings."""
    from .text import md5_hash32_sql

    h = md5_hash32_sql(f"'{seed}:' || ({id_expr})::VARCHAR")
    key = (f"(round(ln(({h} + 1) / 4294967297.0::DOUBLE) "
           f"/ ({weight_expr}), 6) + 0.0)")
    return f"""
        select {cols}, {key} as priority_key
        from {table}
        where ({weight_expr}) is not null and ({weight_expr}) > 0
        order by priority_key desc, {id_expr} asc
        limit {k}
    """
