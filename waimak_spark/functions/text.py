"""Text-analysis and dedup column expressions — all built-in ``F``
expressions (JVM-side, whole-stage codegen); no Python UDFs in any hot path.

Cross-engine determinism: every hash is ``first 8 hex chars of md5 →
bigint``, which DuckDB reproduces exactly (md5 is identical everywhere);
the oracle builders in this module emit the matching DuckDB SQL fragments
so Spark and oracle stay in lockstep by construction.

Scale notes (100 TB posture): tokenisation/shingling/minhash are narrow
per-row array ops — no shuffle, no UDF serde; LSH banding turns the O(n²)
near-dup problem into an equi-join on band keys (shuffle on band hash,
prunable by band count); simhash reduces each doc to one 16-bit value so
the pair search is a cheap self-join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Kernel builders.  Each kernel has ONE Spark form, a Spark-SQL fragment
# (``_sexpr``: takes and returns expression strings, parsed JVM-side in a
# single py4j call by ``F.expr``/``selectExpr``), and one DuckDB oracle
# fragment (``_sql``).  The DuckDB lockstep oracles on every consumer lock
# the pair together.
# ---------------------------------------------------------------------------


def md5_hash32_sexpr(expr: str) -> str:
    """First 8 hex chars of md5 as a bigint (0 .. 2^32-1)."""
    return f"cast(conv(substring(md5({expr}), 1, 8), 16, 10) as bigint)"


def md5_hash32_sql(expr: str) -> str:
    """DuckDB fragment matching :func:`md5_hash32_sexpr`."""
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def seeded_hash_sexpr(expr: str, seed: int) -> str:
    """:func:`md5_hash32_sexpr` of ``'<seed>:' || expr``."""
    return md5_hash32_sexpr(f"concat('{seed}:', {expr})")


def seeded_hash_sql(expr: str, seed: int) -> str:
    return md5_hash32_sql(f"'{seed}:' || {expr}")


# ---------------------------------------------------------------------------
# tokenisation: lowercased tokens split on runs of [ \t\n\x0B\f\r]
# (Java's ``\s``), empties removed.  RE2's ``\s`` leaves out \x0B, so
# the DuckDB pattern adds ``\v`` to the class.
# ---------------------------------------------------------------------------


def tokens_sexpr(col: str) -> str:
    """Lowercased whitespace tokens of ``col`` (a column reference /
    expression string; backtick-quote raw names), empties removed."""
    return f"filter(split(lower({col}), '\\\\s+'), x -> length(x) > 0)"


TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '[\\s\\v]+'), "
    "x -> len(x) > 0)"
)


def shingles_sexpr(tok: str, n: int = 3) -> str:
    """n-word shingles of the token array ``tok`` as space-joined
    strings, empty when it has fewer than n tokens.  ``tok`` is inlined
    once per ``element_at``: pass a column reference in scope (lambdas
    read outer row columns) so the tokenizer runs once per row, not
    once per reference."""
    parts = ", ".join(
        (f"element_at({tok}, i + {k})" if k else f"element_at({tok}, i)")
        for k in range(n))
    return (f"case when size({tok}) >= {n} then "
            f"transform(sequence(1, size({tok}) - {n - 1}), "
            f"i -> concat_ws(' ', {parts})) "
            f"else cast(array() as array<string>) end")


def shingles_sql(tok_col: str = "t", n: int = 3) -> str:
    """DuckDB fragment matching :func:`shingles_sexpr`; ``tok_col`` must
    be a column name in scope (lambdas can reference outer row columns)."""
    parts = " || ' ' || ".join(f"{tok_col}[i+{k}]" for k in range(n))
    return (
        f"case when len({tok_col}) >= {n} then "
        f"list_transform(generate_series(1, len({tok_col}) - {n - 1}), "
        f"i -> {parts}) "
        f"else [] end"
    )


def distinct_shingle_kernel(n: int = 3):
    """Arrow-batched kernel computing the DISTINCT n-word shingle set per
    document — the vectorized replacement for ``array_distinct`` over
    :func:`shingles_sexpr` of :func:`tokens_sexpr` in the dedup hot path
    (interpreted higher-order expressions re-evaluate the token pipeline
    per shingle reference; measured ~5× slower at sf0.1).

    Engine-lockstep notes (string ops are exact, unlike floats, so a
    Python reimplementation is safe as long as SEMANTICS match):
    * ``re.ASCII`` makes Python's ``\\s`` the same set as Java regex's
      ``\\s`` ([ \\t\\n\\v\\f\\r]) and :data:`TOKENS_SQL`'s
      ``[\\s\\v]`` — without it Python would also split on Unicode
      whitespace and diverge from Spark/DuckDB;
    * ``str.lower()`` is the same simple case mapping as Spark/DuckDB
      ``lower`` for ASCII and the BMP one-to-one mappings;
    * first-occurrence order matches ``array_distinct``.
    """
    import re

    from pyspark.sql.types import ArrayType, StringType

    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf(ArrayType(StringType()))
    def kernel(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if t is None:
                out.append([])
                continue
            toks = [x for x in ws.split(t.lower()) if x]
            if len(toks) < n:
                out.append([])
            else:
                out.append(list(dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1))))
        return pd.Series(out)

    return kernel


# ---------------------------------------------------------------------------
# BPE-ish token counting: letter runs, digit runs, single punct marks
# ---------------------------------------------------------------------------

BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_PATTERN))


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{BPE_PATTERN}'))"


# ---------------------------------------------------------------------------
# quality metrics
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def quality_columns(text_col: str) -> dict[str, Column]:
    """Length / punctuation / stopword ratio metrics of the column named
    ``text_col`` (rounded for parity)."""
    text = f"`{text_col}`"
    tok = tokens_sexpr(text)
    n_tok = f"size({tok})"
    n_chars = f"length({text})"
    punct = (f"({n_chars} - length("
             f"regexp_replace({text}, '[^\\\\w\\\\s]', '')))")
    stop = (f"size(filter({tok}, t -> t in ("
            + ", ".join(f"'{w}'" for w in STOPWORDS) + ")))")
    avg_len = (f"aggregate({tok}, cast(0 as bigint), "
               f"(acc, t) -> acc + length(t)) / {n_tok}")
    return {name: F.expr(e) for name, e in {
        "n_tokens": f"cast({n_tok} as bigint)",
        "n_chars": f"cast({n_chars} as bigint)",
        "avg_token_len": (f"round(case when {n_tok} > 0 then {avg_len} "
                          f"else 0.0D end, 4)"),
        "punct_ratio": (f"round(case when {n_chars} > 0 "
                        f"then {punct} / {n_chars} else 0.0D end, 4)"),
        "stopword_ratio": (f"round(case when {n_tok} > 0 "
                           f"then {stop} / {n_tok} else 0.0D end, 4)"),
    }.items()}


STOPWORDS_SQL = "['" + "','".join(STOPWORDS) + "']"

QUALITY_SQL = f"""
    with tok as (
        select *, {TOKENS_SQL.format(col='text')} as t
        from documents
    )
    select doc_id,
           len(t)::BIGINT as n_tokens,
           length(text)::BIGINT as n_chars,
           round(case when len(t) > 0
                 then list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
                 else 0.0 end, 4) as avg_token_len,
           round(case when length(text) > 0
                 then (length(text) - length(regexp_replace(text, '[^\\w\\s\\v]', '', 'g')))::DOUBLE
                      / length(text)
                 else 0.0 end, 4) as punct_ratio,
           round(case when len(t) > 0
                 then len(list_filter(t, x -> list_contains({STOPWORDS_SQL}, x)))::DOUBLE / len(t)
                 else 0.0 end, 4) as stopword_ratio
    from tok
"""


# ---------------------------------------------------------------------------
# language ID: marker-word voting (n-gram-free heuristic, deterministic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def lang_id_columns(text_col: str) -> dict[str, Column]:
    """Per-language marker-word counts of the column named ``text_col``
    and the argmax language (ties to the name that sorts first)."""
    tok = tokens_sexpr(f"`{text_col}`")
    scores = {
        lang: (f"size(filter({tok}, t -> t in ("
               + ", ".join(f"'{m}'" for m in markers) + ")))")
        for lang, markers in LANG_MARKERS.items()
    }
    # deterministic argmax: highest score wins, ties broken by lang name asc
    pred = "'und'"
    best = "0"
    for lang in sorted(LANG_MARKERS, reverse=True):
        s = scores[lang]
        pred = f"case when {s} >= {best} then '{lang}' else {pred} end"
        best = f"greatest({s}, {best})"
    out = {f"score_{l}": F.expr(f"cast({scores[l]} as bigint)")
           for l in sorted(LANG_MARKERS)}
    out["lang_pred"] = F.expr(pred)
    return out


def lang_id_sql() -> str:
    score = {
        lang: (
            f"len(list_filter(t, x -> list_contains(['"
            + "','".join(m)
            + "'], x)))"
        )
        for lang, m in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    # same argmax: iterate langs desc, >= replaces — equivalent to
    # max score with lexicographically-smallest lang on ties
    pred = "'und'"
    best = "0"
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = f"case when {score[lang]} >= {best} then '{lang}' else {pred} end"
        best = f"greatest({score[lang]}, {best})"
    cols = ",\n           ".join(
        f"{score[l]}::BIGINT as score_{l}" for l in langs
    )
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col='text')} as t from documents
        )
        select doc_id,
           {cols},
           {pred} as lang_pred
        from tok
    """


# ---------------------------------------------------------------------------
# unigram language-model quality score (perplexity proxy)
# ---------------------------------------------------------------------------
#
# Per-doc mean negative log-likelihood under the corpus's own add-1
# smoothed unigram distribution — the classic cheap perplexity proxy for
# training-data quality filtering (high score = improbable token mix:
# boilerplate, encoding damage, wrong-language fragments).
#
# Scale shape: one explode → token-frequency groupBy (vocab-bound output)
# → broadcast the 1-row totals; the per-token probability join shuffles on
# the token key (the standard inverted-index shuffle — vocab keys are
# ~Zipf but the heavy keys are exactly the frequent tokens every partition
# holds, so the join side skew matches the data skew and AQE splits
# oversized partitions). The frequency table itself is vocab-bound, NOT
# corpus-bound: at 100 TB it still fits an executor and may be broadcast
# when vocab ≤ a few tens of millions.


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, avg_neg_logp): mean −ln p(token) per document,
    p from the corpus's add-1-smoothed unigram counts.  Docs with zero
    tokens drop out (no rows to average — same on both engines)."""
    from .cache_registry import tracked_persist

    tok = df.selectExpr(f"`{id_col}` as doc_id",
                        f"explode({tokens_sexpr(f'`{text_col}`')}) as tok")
    # read twice (frequency build + scoring join) — materialize once.
    # No spread_for_compute before the tokenize: measured interleaved
    # same-JVM A/B at sf0.1, 1.31 s spread vs 0.99 s without; the
    # round-robin exchange costs more than the parallel tokenize saves.
    tok = tracked_persist(tok)
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    totals = freq.agg(F.sum("c").alias("t_total"),
                      F.count("*").alias("vocab"))
    scored = (tok.join(freq, "tok")
              .join(F.broadcast(totals))
              .withColumn(
                  "nlp",
                  -F.log((F.col("c") + F.lit(1.0))
                         / (F.col("t_total") + F.col("vocab")))))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.avg("nlp"), 4).alias("avg_neg_logp")))


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   lam: float = 0.5) -> DataFrame:
    """(doc_id, n_bigrams, avg_neg_logp): mean −ln p(wᵢ | wᵢ₋₁) per
    document under a ``lam``-interpolated add-1-smoothed bigram/unigram
    mixture — a materially better perplexity proxy than the unigram score
    (word-order damage, shuffled boilerplate and wrong-collocation text
    score high even when their token MIX looks normal).  Docs with fewer
    than two tokens drop out (no bigram positions — same on both
    engines).

    p = lam·(c(prev,cur)+1)/(c(prev)+V) + (1−lam)·(c(cur)+1)/(T+V)

    Scale shape: bigram pairs come from two SLICES of the token array
    zipped in place — no window, no positional self-join; the bigram
    frequency table shuffles on the pair key and the two unigram lookups
    shuffle on the token key (vocab-bound tables — AQE converts the
    lookup joins to broadcasts when the vocab fits, and falls back to
    sort-merge at 100 TB vocabularies; the heavy keys ARE the frequent
    tokens every partition holds, so join skew matches data skew and AQE
    splits oversized partitions)."""
    from .cache_registry import tracked_persist

    # ONE tokenize pass: the token ARRAYS persist, and both the
    # bigram-pair and unigram streams derive from the cached arrays, so
    # the corpus is tokenized once.  No spread_for_compute before the
    # tokenize: the round-robin exchange cost more than the parallel
    # tokenize saved at this corpus size (1.98 vs 1.56 s min-of-6).
    tk = tracked_persist(
        df.selectExpr(f"`{id_col}` as doc_id",
                      f"{tokens_sexpr(f'`{text_col}`')} as _tk"))
    bg = (tk.selectExpr(
            "doc_id",
            "explode(zip_with("
            "slice(_tk, 1, greatest(size(_tk) - 1, 0)), "
            "slice(_tk, 2, greatest(size(_tk) - 1, 0)), "
            "(a, b) -> named_struct('prev', a, 'cur', b))) as p")
          .selectExpr("doc_id", "p.prev as prev", "p.cur as cur"))
    # read twice (bigram freq build + scoring join) — materialize once
    bg = tracked_persist(bg)
    tok = tk.selectExpr("doc_id", "explode(_tk) as tok")
    ufreq = tracked_persist(tok.groupBy("tok").agg(F.count("*").alias("c")))
    totals = ufreq.agg(F.sum("c").alias("t_total"),
                       F.count("*").alias("vocab"))
    bfreq = (bg.groupBy("prev", "cur").agg(F.count("*").alias("bc")))
    scored = (
        bg.join(bfreq, ["prev", "cur"])
        .join(ufreq.select(F.col("tok").alias("prev"),
                           F.col("c").alias("pc")), "prev")
        .join(ufreq.select(F.col("tok").alias("cur"),
                           F.col("c").alias("cc")), "cur")
        .join(F.broadcast(totals))
        .withColumn(
            "nlp",
            F.expr(f"-ln({float(lam)!r}D * ((bc + 1.0D) / (pc + vocab)) "
                   f"+ {1.0 - float(lam)!r}D "
                   f"* ((cc + 1.0D) / (t_total + vocab)))")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg("nlp"), 4).alias("avg_neg_logp")))


def bigram_logprob_sql(lam: float = 0.5) -> str:
    """DuckDB oracle: the same mixture via lag() over per-doc token
    positions (parallel unnest zips token and position)."""
    return f"""
        with tok as (
            select doc_id, {TOKENS_SQL.format(col='text')} as t
            from documents
        ), pos as (
            select doc_id, unnest(t) as tok,
                   unnest(range(1, len(t) + 1)) as pos
            from tok
        ), bg as (
            select doc_id,
                   lag(tok) over (partition by doc_id order by pos) as prev,
                   tok as cur
            from pos
            qualify prev is not null
        ), ufreq as (
            select tok, count(*) as c from pos group by tok
        ), tot as (
            select sum(c) as t_total, count(*) as vocab from ufreq
        ), bfreq as (
            select prev, cur, count(*) as bc from bg group by prev, cur
        )
        select bg.doc_id, count(*) as n_bigrams,
               round(avg(-ln({lam} * ((bc + 1.0) / (pc + vocab))
                             + {1.0 - lam} * ((cc + 1.0)
                                              / (t_total + vocab)))), 4)
                   as avg_neg_logp
        from bg
        join bfreq using (prev, cur)
        join (select tok as prev, c as pc from ufreq) using (prev)
        join (select tok as cur, c as cc from ufreq) using (cur)
        cross join tot
        group by bg.doc_id
    """


def unigram_logprob_sql() -> str:
    return f"""
        with tok as (
            select doc_id, unnest(t) as tok from (
                select doc_id, {TOKENS_SQL.format(col='text')} as t
                from documents
            )
        ), freq as (
            select tok, count(*) as c from tok group by tok
        ), tot as (
            select sum(c) as t_total, count(*) as vocab from freq
        )
        select doc_id, count(*) as n_tokens,
               round(avg(-ln((c + 1.0) / (t_total + vocab))), 4)
                   as avg_neg_logp
        from tok join freq using (tok) cross join tot
        group by doc_id
    """


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, SIGMOD —
# the MOSS algorithm): local fingerprint selection with the GUARANTEE
# that any shared token run of length >= w + k - 1 between two documents
# yields at least one shared fingerprint — the robustness the plain
# rolling-hash doc_fingerprint (one global min) cannot give.  Per
# document: hash every k-gram (seeded md5, engine-reproducible), slide a
# window of w consecutive hashes, select each window's MINIMUM (tie ->
# RIGHTMOST, the paper's rule), dedupe selected positions.  Expected
# density 2/(w+1) of the gram count.  All array expressions — one map
# pass, no shuffle until the caller aggregates/joins fingerprints.
# ---------------------------------------------------------------------------

#: gram order k (token-level: the shared-run guarantee is w+k-1 tokens)
WINNOW_K = 3
#: window size w over consecutive gram hashes
WINNOW_W = 4
#: seed for the gram hash — disjoint from Bloom/CMS/HLL/KMV/kmeans||
WINNOW_SEED = 8400


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = WINNOW_K,
                        w: int = WINNOW_W,
                        seed: int = WINNOW_SEED) -> DataFrame:
    """``(doc_id, pos, fp)`` — the winnowed fingerprint set: ``pos`` is
    the 1-based gram index of each selected hash, ``fp`` the seeded-md5
    gram hash.  Documents with fewer grams than ``w`` contribute their
    single shorter window (the paper's boundary case); documents with
    no grams contribute nothing."""
    if k < 1 or w < 1:
        raise ValueError(f"k={k} and w={w} must be >= 1")
    sh = shingles_sexpr(tokens_sexpr(f"`{text_col}`"), k)
    gh = f"transform({sh}, g -> {seeded_hash_sexpr('g', seed)})"
    base = (df.where(F.col(text_col).isNotNull())
            .selectExpr(f"`{id_col}`", f"{gh} as _gh"))
    n = F.size(F.col("_gh"))
    nwin = F.greatest(n - (w - 1), F.lit(1))

    def pick(i):
        # Re-binding `win`/`m` as lambda variables (the _pq_unit_base
        # recipe) measured slower: at w=4 the O(w²)→O(w) savings inside
        # the filter is ~12 trivial comparisons per window, while the two
        # extra nested transform/array allocations per window measured
        # 4× SLOWER (isolated min 2.3 → 7.8 s).  The recipe pays off for
        # expensive inner expressions (an O(dims) dot), not w-element
        # slices.
        win = F.slice(F.col("_gh"), i, w)
        m = F.array_min(win)
        idx = F.element_at(
            F.filter(F.sequence(F.lit(1), F.size(win)),
                     lambda j: F.element_at(win, j) == m), -1)
        return F.struct((i - 1 + idx).cast("int").alias("pos"),
                        m.alias("fp"))

    sel = (F.when(n >= 1, F.transform(F.sequence(F.lit(1), nwin), pick))
           .otherwise(F.array().cast(
               "array<struct<pos:int,fp:bigint>>")))
    return (base.select(id_col, F.explode(sel).alias("s"))
            .select(id_col, F.col("s.pos").alias("pos"),
                    F.col("s.fp").alias("fp"))
            .distinct()
            .orderBy(id_col, "pos"))


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W,
                            seed: int = WINNOW_SEED,
                            table: str = "documents",
                            text: str = "text",
                            id_: str = "doc_id") -> str:
    """DuckDB oracle for :func:`winnow_fingerprints`."""
    win = f"gh[i:i+{w - 1}]"
    idx = (f"list_aggregate(list_filter(generate_series(1, len({win})), "
           f"j -> {win}[j] = list_min({win})), 'max')")
    struct = (f"{{'pos': i - 1 + {idx}, 'fp': list_min({win})}}")
    return f"""
        with g as (
            select {id_} as doc_id,
                   list_transform({shingles_sql('t', k)},
                                  g -> {seeded_hash_sql('g', seed)}) as gh
            from (select {id_}, {TOKENS_SQL.format(col=text)} as t
                  from {table} where {text} is not null)
        ), sel as (
            select doc_id, unnest(
                case when len(gh) >= 1 then
                    list_transform(
                        generate_series(1, greatest(len(gh) - {w - 1}, 1)),
                        i -> {struct})
                else [] end) as s
            from g
        )
        select distinct doc_id, (s.pos)::INT as pos, (s.fp)::BIGINT as fp
        from sel
        order by doc_id, pos
    """


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich, Haddow & Birch 2016, ACL — "Neural
# Machine Translation of Rare Words with Subword Units"): TOKENIZER
# TRAINING, the step upstream of every LLM data pipeline.  The standard
# scalable shape (what HF tokenizers do): the corpus-sized work is ONE
# distributed word-frequency aggregation (map-side partial counts, one
# shuffle keyed on the word), capped to the top-V words — vocabulary is
# bounded while corpora are not — and the merge loop then runs
# driver-side over that bounded frequency table (each merge touches
# only words containing the merged pair; no corpus re-scan per merge).
# Deterministic: ties on pair frequency break lexicographically, and
# the top-V cap orders (freq desc, word asc), so the learned merge
# table is run/engine-reproducible.
# ---------------------------------------------------------------------------

BPE_MERGES = 16
#: top-V word cap for the driver-side merge loop — the bounded collect
BPE_VOCAB_CAP = 30_000
#: end-of-word marker (the paper's convention)
BPE_EOW = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text",
                     cap: int = BPE_VOCAB_CAP) -> list[tuple[str, int]]:
    """Top-``cap`` (word, count) pairs by (count desc, word asc) — the
    distributed half of BPE training; the collect is bounded by ``cap``
    BY CONSTRUCTION (TakeOrderedAndProject, never a global sort)."""
    rows = (df.where(F.col(text_col).isNotNull())
            .selectExpr(f"explode({tokens_sexpr(f'`{text_col}`')}) as w")
            .groupBy("w").agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("w"))
            .limit(cap).collect())
    return [(r["w"], r["c"]) for r in rows]


def learn_bpe_merges(word_freqs: list[tuple[str, int]],
                     n_merges: int = BPE_MERGES) -> list[tuple]:
    """``[(rank, left, right, freq)]`` — the classic greedy loop over a
    word-frequency table: count adjacent symbol pairs weighted by word
    frequency, merge the most frequent pair (ties to the
    lexicographically smallest), repeat.  Stops early when no pair
    occurs twice."""
    from collections import Counter

    words = {}
    for w, c in word_freqs:
        sym = tuple(list(w) + [BPE_EOW])
        words[sym] = words.get(sym, 0) + c
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for sym, c in words.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        (left, right), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < 2:
            break
        merges.append((rank, left, right, int(freq)))
        merged = left + right
        nxt = {}
        for sym, c in words.items():
            out = []
            i = 0
            while i < len(sym):
                if (i < len(sym) - 1 and sym[i] == left
                        and sym[i + 1] == right):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + c
        words = nxt
    return merges


def bpe_learn(df: DataFrame, text_col: str = "text",
              n_merges: int = BPE_MERGES,
              cap: int = BPE_VOCAB_CAP) -> DataFrame:
    """The learned merge table as a DataFrame ``(rank, left, right,
    freq)`` — see :func:`word_frequencies` (distributed) and
    :func:`learn_bpe_merges` (bounded local loop)."""
    if n_merges < 1:
        raise ValueError(f"n_merges={n_merges} must be >= 1")
    merges = learn_bpe_merges(word_frequencies(df, text_col, cap),
                              n_merges)
    from .util import local_rows_df

    return local_rows_df(
        df.sparkSession, merges,
        "rank int, left string, right string, freq bigint")


# ---------------------------------------------------------------------------
# BPE ENCODING (the apply side of Sennrich et al. 2016): tokenize the
# corpus with a trained merge table — the step that turns "token counts"
# from a whitespace proxy into the real subword count an LLM pipeline
# budgets by.  Scalable shape (what HF tokenizers' Rust core does):
# the merge table is BOUNDED (n_merges rows) and ships to every worker
# inside the Arrow-batched kernel's closure; encoding is one map-only
# pass, no shuffle; a per-batch word→subwords cache collapses the
# Zipf-heavy repeated words to dict hits.
# ---------------------------------------------------------------------------


def _bpe_tokenize_py(text: str) -> list[str]:
    """Pure-Python mirror of :func:`tokens_sexpr` (lowercased
    ASCII-\\s+ split, empties removed) — re.ASCII matches the JVM
    regex's default \\s class, so both engines see the identical word
    stream."""
    import re

    return [w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w]


def bpe_encode_word(word: str, ranks: dict) -> tuple:
    """Subword sequence for one word under HF-style rank priority:
    start from characters + the end-of-word marker, repeatedly merge
    the adjacent pair with the LOWEST merge rank, stop when no pair is
    mergeable.  Equivalent to applying the merges sequentially in rank
    order (tests/test_bpe_encode.py proves the two against each other)."""
    sym = list(word) + [BPE_EOW]
    while len(sym) > 1:
        best_i, best_r = -1, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return tuple(sym)


def bpe_encode(df: DataFrame, merges: list, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """``(id, n_words, n_subwords, subwords_md5)`` per document —
    ``merges`` is the trained table as ``[(rank, left, right), ...]``
    (extra trailing fields like freq are ignored).  ``subwords_md5`` is
    the md5 of the space-joined subword stream: a deterministic witness
    the pure-Python reference reproduces bit-for-bit.  One Arrow-batched
    map pass; the merge table is a bounded closure constant."""
    import hashlib

    import pandas as pd

    ranks = {(m[1], m[2]): int(m[0]) for m in merges}
    id_field = df.select(id_col).schema.fields[0]
    out_schema = (f"{id_col} {id_field.dataType.simpleString()}, "
                  f"n_words bigint, n_subwords bigint, "
                  f"subwords_md5 string")

    def encode(batches):
        cache: dict = {}
        for pdf in batches:
            ids, nw, ns, digests = [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = _bpe_tokenize_py(text) if text is not None else []
                subs = []
                for w in words:
                    enc = cache.get(w)
                    if enc is None:
                        enc = bpe_encode_word(w, ranks)
                        cache[w] = enc
                    subs.extend(enc)
                ids.append(i)
                nw.append(len(words))
                ns.append(len(subs))
                digests.append(hashlib.md5(
                    " ".join(subs).encode()).hexdigest())
            yield pd.DataFrame({id_col: ids, "n_words": nw,
                                "n_subwords": ns, "subwords_md5": digests})

    return (df.select(id_col, text_col)
            .mapInPandas(encode, out_schema))
