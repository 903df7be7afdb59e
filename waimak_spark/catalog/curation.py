"""Curation catalog entries over ``documents``: deterministic stratified
sampling, leakage-safe splitting, PII redaction, repetition signals, and
incremental dedup of a new batch against an existing corpus.

Capability fills (SURVEY.md LLM-pipeline section) — the reference has no
equivalent surface; these are the operations a 100-TB training-data
pipeline runs between ingestion (reference's RDBM/storage layer) and
training.  All map-only except the two that semantically need a shuffle
(anti-join dedup, per-source rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import curation as C
from ..functions import text as T


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# deterministic stratified sample: per-language keep rates
# ---------------------------------------------------------------------------

SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 0.125}
SAMPLE_DEFAULT = 0.2
SAMPLE_SEED = 7


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = C.stratified_sample(_docs(spark, sf_dir), key="doc_id",
                             stratum="lang", fractions=SAMPLE_FRACTIONS,
                             default_fraction=SAMPLE_DEFAULT,
                             seed=SAMPLE_SEED)
    return df.select("doc_id", "lang", "source")


SAMPLE_ORACLE = f"""
    select doc_id, lang, source from documents
    where {C.stratified_sample_sql('doc_id', 'lang', SAMPLE_FRACTIONS,
                                   SAMPLE_DEFAULT, SAMPLE_SEED)}
"""


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split: hash the SOURCE, not the row
# ---------------------------------------------------------------------------

SPLIT_SEED = 3


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = C.assign_split(_docs(spark, sf_dir), group="source",
                        train=80, val=10, seed=SPLIT_SEED)
    return df.select("doc_id", "source", "split")


SPLIT_ORACLE = f"""
    select doc_id, source,
           {C.assign_split_sql('source', 80, 10, SPLIT_SEED)} as split
    from documents
"""


# ---------------------------------------------------------------------------
# PII redaction: inject deterministic synthetic PII, prove it comes out
# ---------------------------------------------------------------------------
#
# The synthetic documents contain no real PII, so the entry appends a
# deterministic per-doc suffix (email + phone + IP + SSN) and then redacts;
# the audit counts and the md5 of the redacted text are compared against
# DuckDB running the identical inject→count→redact chain.


def _synth_pii(spark_side: bool):
    if spark_side:
        return F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555 867 5309 ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789"),
        )
    return ("text || ' contact user' || doc_id::VARCHAR || "
            "'@example.com or +1 555 867 5309 ip 10.0.' || "
            "(doc_id % 256)::VARCHAR || '.7 ssn 123-45-6789'")


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn("_synth", _synth_pii(True))
    counts = C.pii_counts(F.col("_synth"))
    return df.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        F.md5(C.redact_pii(F.col("_synth"))).alias("redacted_md5"),
        F.length(C.redact_pii(F.col("_synth"))).cast("bigint")
        .alias("redacted_chars"),
    )


_pii_count_cols = ",\n           ".join(
    f"{sql} as {name}"
    for name, sql in C.pii_counts_sql("_synth").items()
)

PII_ORACLE = f"""
    with synth as (
        select doc_id, {_synth_pii(False)} as _synth from documents
    )
    select doc_id,
           {_pii_count_cols},
           md5({C.redact_pii_sql('_synth')}) as redacted_md5,
           length({C.redact_pii_sql('_synth')})::BIGINT as redacted_chars
    from synth
"""


# ---------------------------------------------------------------------------
# repetition signals: Gopher-style duplicate n-gram fractions
# ---------------------------------------------------------------------------


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged projections: interpreted higher-order expressions get no CSE,
    # so tokens and shingles are materialised as column refs before the
    # dup-fraction expressions reference them repeatedly; every stage
    # parses as ONE SQL string
    df = _docs(spark, sf_dir)
    tk = df.selectExpr("doc_id", f"{T.tokens_sexpr('`text`')} as _t")
    sh = tk.selectExpr(
        "doc_id", "_t",
        f"{T.shingles_sexpr('_t', 2)} as _s2",
        f"{T.shingles_sexpr('_t', 3)} as _s3")
    return sh.selectExpr(
        "doc_id",
        f"{C.dup_fraction_sexpr('_t')} as dup_token_frac",
        f"{C.dup_fraction_sexpr('_s2')} as dup_bigram_frac",
        f"{C.dup_fraction_sexpr('_s3')} as dup_trigram_frac")


REPETITION_ORACLE = f"""
    with tok as (
        select doc_id, {T.TOKENS_SQL.format(col='text')} as t from documents
    ), sh as (
        select doc_id, t,
               {T.shingles_sql('t', 2)} as s2,
               {T.shingles_sql('t', 3)} as s3
        from tok
    )
    select doc_id,
           {C.dup_fraction_sql('t')} as dup_token_frac,
           {C.dup_fraction_sql('s2')} as dup_bigram_frac,
           {C.dup_fraction_sql('s3')} as dup_trigram_frac
    from sh
"""


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus (anti-join on hash)
# ---------------------------------------------------------------------------

CORPUS_SOURCES = [f"src{i}" for i in range(5)]


def dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch docs whose exact content is absent from the corpus.

    One shuffle anti-join on a 32-bit content hash — text never crosses
    the wire.  At 100 TB the corpus side is pre-hashed once and reused
    across batches; Spark's runtime bloom filter prunes the probe side.
    """
    docs = _docs(spark, sf_dir)
    is_corpus = F.col("source").isin(CORPUS_SOURCES)
    h = f"{T.md5_hash32_sexpr('text')} as _h"
    corpus_h = docs.where(is_corpus).selectExpr(h)
    new = docs.where(~is_corpus).selectExpr("doc_id", "source", h)
    return (new.join(corpus_h, "_h", "left_anti")
            .select("doc_id", "source"))


_corpus_list = "'" + "','".join(CORPUS_SOURCES) + "'"


def dedup_bloom_against_corpus(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Bloom-filter membership dedup vs the corpus — the BOUNDED-MEMORY
    approximate sibling of ``dedup_against_corpus`` (no false negatives;
    deterministic seeded hashing makes even the false positives
    engine-reproducible, so the DuckDB oracle is exact); verified by
    tests/test_bloom_dedup.py's lockstep + property suite every pytest
    run."""
    from ..functions import dedup as D

    docs = _docs(spark, sf_dir)
    is_corpus = F.col("source").isin(CORPUS_SOURCES)
    return D.bloom_dedup_against_corpus(docs.where(~is_corpus),
                                        docs.where(is_corpus))


def _bloom_corpus_oracle() -> str:
    from ..functions import dedup as D

    return D.bloom_dedup_against_corpus_sql(
        corpus_where=f"source in ({_corpus_list})",
        new_where=f"source not in ({_corpus_list})")


# the dsir_select entry's shape: English documents as the target distribution, Gumbel-top-k over the
# whole corpus — the same (target_where, k, seed) the lockstep tests pin
DSIR_TARGET_WHERE = "lang = 'en'"
DSIR_K = 100
DSIR_SEED = 7


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-weighted Gumbel-top-k selection (Xie et al. 2023);
    lockstep-verified every pytest run (tests/test_dsir.py)."""
    docs = _docs(spark, sf_dir)
    # subset-target fast path (round 9): the target IS a raw-corpus
    # subset, so the corpus tokenizes once and the target model filters
    # the flagged gram stream — values identical to the two-frame path
    # by construction (same gram multiset; equality test-locked)
    return C.dsir_select(docs, None, k=DSIR_K, seed=DSIR_SEED,
                         target_predicate=F.col("lang") == "en")


def _dsir_select_oracle() -> str:
    return C.dsir_select_sql(DSIR_TARGET_WHERE, DSIR_K, seed=DSIR_SEED)


def quality_classifier_scores(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the CCNet/fastText pattern,
    Wenzek et al. 2020, via multinomial Naive Bayes, McCallum & Nigam
    1998): fit on a weak-labeled seeded train split, score every
    document with a rounded log-likelihood-ratio, report the held-out
    verdicts alongside; verified by tests/test_quality_classifier.py
    every pytest run and measured through the catalog EXTRA_ENTRIES
    registry."""
    from ..functions import classifier as QC

    return QC.quality_classifier_scores(_docs(spark, sf_dir))


def _quality_classifier_oracle() -> str:
    from ..functions import classifier as QC

    return QC.quality_classifier_scores_sql()


# fixed-budget weighted sampling: k docs with inclusion ~ n_chars via
# derandomised priority keys (Efraimidis-Spiliotis); seed 11 keeps the
# uniform stream disjoint from dsir_select's gumbel stream (seed 7)
PRIORITY_K = 200
PRIORITY_SEED = 11


def sample_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling without replacement (Efraimidis &
    Spiliotis 2006): exactly k docs, inclusion probability
    approximately proportional to document length (A-ES priority keys
    — exact probability-proportional-to-size inclusion for k > 1 is
    the Chao/A-PS variant), one map-only pass + TakeOrderedAndProject;
    verified by tests/test_priority_sample.py every pytest run and
    measured through the catalog EXTRA_ENTRIES registry."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return C.priority_sample_k(docs, F.col("n_chars"), k=PRIORITY_K,
                               seed=PRIORITY_SEED)


def _priority_topk_oracle() -> str:
    return C.priority_sample_k_sql("n_chars", PRIORITY_K,
                                   seed=PRIORITY_SEED)


DEDUP_CORPUS_ORACLE = f"""
    select n.doc_id, n.source from documents n
    where n.source not in ({_corpus_list})
      and not exists (
        select 1 from documents c
        where c.source in ({_corpus_list})
          and {T.md5_hash32_sql('c.text')} = {T.md5_hash32_sql('n.text')}
      )
"""


# ---------------------------------------------------------------------------
# incremental NEAR dedup vs the corpus: MinHash-LSH candidates BETWEEN the
# new batch and the existing corpus only (no corpus x corpus pairs) — the
# production corpus-refresh op; exact-match refresh is dedup_against_corpus
# ---------------------------------------------------------------------------


def dedup_near_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dedup as D

    docs = _docs(spark, sf_dir)
    is_corpus = F.col("source").isin(CORPUS_SOURCES)
    corpus_sig = D.minhash_signature(docs.where(is_corpus))
    new_sig = D.minhash_signature(docs.where(~is_corpus))
    return D.lsh_pairs_against_corpus(new_sig, corpus_sig)


def _near_corpus_oracle() -> str:
    from ..functions import dedup as D

    return D.lsh_pairs_against_corpus_sql(
        corpus_where=f"source in ({_corpus_list})",
        new_where=f"source not in ({_corpus_list})")


# ---------------------------------------------------------------------------
# stored LSH dedup index with incremental APPEND — the text-dedup
# sibling of catalog/similarity's stored/appended IVF indexes:
# dedup_near_against_corpus above recomputes the corpus signature pipeline
# on EVERY refresh; here the corpus's (doc_id, band, band_key) rows
# persist as a table bucketed by band_key, each accepted batch APPENDS
# its own rows (row-local keys ⇒ union == full rebuild exactly), and a
# probe scans the narrow key table instead of the corpus text.  Demo
# split (deterministic, data-independent): resident = doc_id % 4 in
# (1, 2) initially, the % 4 == 3 quarter arrives as the appended batch,
# and the % 4 == 0 quarter is the probed new batch.
# ---------------------------------------------------------------------------

_LSH_IDX_VERSION = "v1"
_LSH_DONE_PROP = "wmk.append.done"
#: stored side = resident ∪ appended; probe side = the % 4 == 0 quarter
_LSH_STORED_WHERE = "doc_id % 4 <> 0"
_LSH_PROBE_WHERE = "doc_id % 4 = 0"
#: band_key hash-buckets for the stored table — the probe join and the
#: frequent-bucket count window both run exchange-free on the stored side
_LSH_IDX_BUCKETS = 32


def _lsh_index_name(sf_dir: str) -> tuple[str, str]:
    import os
    import re

    from .similarity import _dataset_fingerprint

    tag = re.sub(r"[^0-9A-Za-z]+", "_",
                 os.path.basename(os.path.normpath(sf_dir)))
    label = (f"lshdx_{tag}_"
             f"{_dataset_fingerprint(sf_dir, 'documents.parquet')}"
             f"_{_LSH_IDX_VERSION}")
    return tag, label


def drop_lsh_index(spark: SparkSession, sf_dir: str) -> None:
    from .similarity import _IVF_IDX_DB

    _, label = _lsh_index_name(sf_dir)
    spark.sql(f"drop table if exists {_IVF_IDX_DB}.{label}")


def lsh_index_append(spark: SparkSession, table_name: str,
                     new_rows: DataFrame) -> None:
    """Append a new batch's :func:`lsh_index_frame` rows to an existing
    stored dedup index.  Only the batch is scanned, signatured, and
    written — resident files untouched; Spark refuses a drifted bucket
    spec.  The completion property is re-stamped by the CALLER once the
    batch sequence is done (the IVF-append recipe)."""
    from .. import Waimak
    from ..functions import dedup as D

    db, label = table_name.split(".", 1)
    idx = D.lsh_index_frame(new_rows)
    (Waimak.spark_flow(spark)
     .open(label, lambda c, df=idx: df)
     .write_bucketed_table(db, label, ["band_key"], _LSH_IDX_BUCKETS,
                           sort_cols=["band_key", "doc_id"], append=True)
     .execute())


def _lsh_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Get-or-build the append-demo dedup index: initial build on the
    ``% 4 in (1, 2)`` half, :func:`lsh_index_append` of the ``% 4 == 3``
    late batch, then the completion property.  A table WITHOUT the
    property is a crash leftover (build done, append lost) and is
    rebuilt — the stale-build hygiene all stored indexes share."""
    from .. import Waimak
    from ..functions import dedup as D
    from .similarity import _IVF_IDX_DB, _clear_superseded

    tag, label = _lsh_index_name(sf_dir)
    name = f"{_IVF_IDX_DB}.{label}"
    if spark.catalog.tableExists(name):
        props = {r["key"]: r["value"] for r in spark.sql(
            f"show tblproperties {name}").collect()}
        if props.get(_LSH_DONE_PROP) == "1":
            return name
        spark.sql(f"drop table if exists {name}")
    _clear_superseded(spark, f"lshdx_{tag}_", label)
    docs = _docs(spark, sf_dir)
    resident = docs.where(F.expr("doc_id % 4 in (1, 2)"))
    batch = docs.where(F.expr("doc_id % 4 = 3"))
    idx = D.lsh_index_frame(resident)
    (Waimak.spark_flow(spark)
     .open(label, lambda c, df=idx: df)
     .write_bucketed_table(_IVF_IDX_DB, label, ["band_key"],
                           _LSH_IDX_BUCKETS,
                           sort_cols=["band_key", "doc_id"])
     .execute())
    lsh_index_append(spark, name, batch)
    spark.sql(f"alter table {name} "
              f"set tblproperties('{_LSH_DONE_PROP}'='1')")
    return name


def dedup_lsh_probe_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verdicts for a new batch against a STORED dedup index
    maintained by append: the resident corpus is signatured once, the
    late batch lands via :func:`lsh_index_append` (batch-only scan,
    resident files untouched), and the probe — which must equal the
    inline :func:`waimak_spark.functions.dedup.lsh_pairs_against_corpus`
    aggregate bit-for-bit (row-local keys) — scans the narrow bucketed
    key table, never the corpus text.  Verified by
    tests/test_lsh_index.py every pytest run and measured through the
    catalog EXTRA_ENTRIES registry."""
    from ..functions import dedup as D

    tbl = _lsh_index_table(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    return D.lsh_probe_stored(spark.table(tbl),
                              docs.where(F.expr(_LSH_PROBE_WHERE)))


def _lsh_probe_stored_oracle() -> str:
    from ..functions import dedup as D

    return D.lsh_probe_stored_sql(corpus_where=_LSH_STORED_WHERE,
                                  new_where=_LSH_PROBE_WHERE)


# ---------------------------------------------------------------------------
# per-source curation report: one shuffle, partial aggregation
# ---------------------------------------------------------------------------


def source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_docs(spark, sf_dir)
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"),
                 F.countDistinct("lang").alias("n_langs")))


SOURCE_ROLLUP_ORACLE = """
    select source, count(*) as n_docs,
           round(avg(n_chars), 2) as avg_chars,
           count(distinct lang) as n_langs
    from documents
    group by source
"""


# ---------------------------------------------------------------------------
# per-label embedding centroids: fixed-dim aggregate, NO explode
# ---------------------------------------------------------------------------
#
# posexplode would multiply the row count by the dimension (64x shuffle
# volume at 100 TB); with a known dim the centroid is 64 plain avg
# aggregates over element_at — single-pass partial aggregation, whole-stage
# codegen, shuffle carries only (label, 64 doubles) per partition.
#
# The centroid is emitted as 64 scalar double columns (c00..c63), not an
# array<double>: the driver's oracle harness canonicalizes rows with a
# pandas sort, which cannot sort list-valued cells (r4: "unhashable type:
# 'list'").  Scalars hash identically on both engines; the agg plan is
# unchanged (still explode-free — see tests/test_plans.py plan lock).

EMB_DIM = 64


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # one parsed string per aggregate; `embedding[i]` subscripts are
    # 0-based GetArrayItem
    avgs = [
        F.expr(f"round(avg(cast(embedding[{i}] as double)), 4) "
               f"as c{i:02d}")
        for i in range(EMB_DIM)
    ]
    return (emb.groupBy("label")
            .agg(F.count("*").alias("n_vectors"), *avgs))


_centroid_elems = ", ".join(
    f"round(avg(embedding[{i + 1}]::DOUBLE), 4) as c{i:02d}"
    for i in range(EMB_DIM)
)

CENTROIDS_ORACLE = f"""
    select label, count(*) as n_vectors,
           {_centroid_elems}
    from embeddings
    group by label
"""


# ---------------------------------------------------------------------------
# deterministic quota sampling: exactly k docs per stratum
# ---------------------------------------------------------------------------
#
# Fraction sampling gives binomial-noisy stratum sizes; a quota needs a
# total order. Ordering by an md5 prefix of the key (tie-broken by the key)
# is a deterministic shuffle-once window — same quota on every engine and
# every re-run, unlike rand()-ordered row_number.

QUOTA_K = 10
QUOTA_SEED = 5


def sample_quota_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    df = _docs(spark, sf_dir)
    order = F.substring(
        F.md5(F.concat(F.lit(f"quota:{QUOTA_SEED}:"),
                       F.col("doc_id").cast("string"))), 1, 8)
    w = W.partitionBy("lang").orderBy(order, F.col("doc_id"))
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= QUOTA_K)
            .select("doc_id", "lang"))


QUOTA_ORACLE = f"""
    select doc_id, lang from (
        select doc_id, lang,
               row_number() over (
                   partition by lang
                   order by substr(md5('quota:{QUOTA_SEED}:' ||
                                       doc_id::VARCHAR), 1, 8), doc_id
               ) as rn
        from documents
    ) where rn <= {QUOTA_K}
"""


# ---------------------------------------------------------------------------
# composite pipeline: quality gate -> exact dedup -> sample -> split
# ---------------------------------------------------------------------------
#
# The end-to-end curation flow a training-data run executes: cheap map-side
# gates first (length, language), then the one necessary shuffle (exact
# dedup keep-min-doc_id), then map-only sampling and split assignment.
# Filter order matters at 100 TB: everything that can drop rows before the
# shuffle does.

PIPE_MIN_TOKENS = 15
PIPE_SAMPLE_FRACTION = 0.5
PIPE_SEED = 11


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir)
    gated = df.where(
        f"lang = 'en' and size({T.tokens_sexpr('text')}) >= {PIPE_MIN_TOKENS}")
    hashed = gated.selectExpr(
        "doc_id", "source", f"{T.md5_hash32_sexpr('text')} as _h")
    keep = (hashed.groupBy("_h").agg(F.min("doc_id").alias("doc_id")))
    deduped = hashed.join(keep, ["_h", "doc_id"]).select("doc_id", "source")
    sampled = deduped.where(
        C.sample_keep(F.col("doc_id"), PIPE_SAMPLE_FRACTION, PIPE_SEED))
    return (C.assign_split(sampled, group="source", train=80, val=10,
                           seed=PIPE_SEED)
            .select("doc_id", "source", "split"))


PIPELINE_ORACLE = f"""
    with gated as (
        select doc_id, source, {T.md5_hash32_sql('text')} as h
        from documents
        where lang = 'en'
          and len({T.TOKENS_SQL.format(col='text')}) >= {PIPE_MIN_TOKENS}
    ), keep as (
        select h, min(doc_id) as doc_id from gated group by h
    ), deduped as (
        select g.doc_id, g.source from gated g
        join keep k on g.h = k.h and g.doc_id = k.doc_id
    )
    select doc_id, source,
           {C.assign_split_sql('source', 80, 10, PIPE_SEED)} as split
    from deduped
    where {C.sample_keep_sql('doc_id', PIPE_SAMPLE_FRACTION, PIPE_SEED)}
"""


# ---------------------------------------------------------------------------
# benchmark decontamination: drop docs sharing any n-gram with a benchmark
# ---------------------------------------------------------------------------
#
# Test-set contamination removal: a training doc that contains any shingle
# of a held-out benchmark is dropped (the standard n-gram-overlap rule;
# production uses 13-grams — the synthetic docs are short, so the catalog
# entry uses the corpus-wide 3-word shingles).  Unlike
# ``dedup_against_corpus`` (whole-text hash equality) this matches on ANY
# shared fragment.  Shape: the benchmark's distinct shingle hashes are a
# small broadcast set; the corpus side streams through a left_anti join —
# no shuffle of the corpus at all when the benchmark side broadcasts.

BENCHMARK_DOC_MAX = 9  # doc_id <= 9 plays the held-out benchmark


def _shingle_hashes(df: DataFrame) -> DataFrame:
    # routed through shingle_base: the shared spread+persist pipeline is
    # the collapse barrier — plain staged projections get merged back by
    # CollapseProject, re-running the tokenizer per element_at
    # (O(tokens²));
    # distinct-per-doc shingles don't change membership semantics
    from ..functions.dedup import shingle_base

    base = shingle_base(df)
    return (base.select("doc_id", F.explode("_sh").alias("_e"))
            .selectExpr("doc_id", f"{T.md5_hash32_sexpr('_e')} as _h"))


def decontaminate_against_benchmark(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") <= BENCHMARK_DOC_MAX
    # each side filters BEFORE shingling: the benchmark side shingles only
    # the handful of held-out docs; the corpus side is spread for compute
    # inside shingle_base (a single parquet file would otherwise cap the
    # shingle pipeline at one partition)
    bench = _shingle_hashes(docs.where(is_bench)).select("_h").distinct()
    corpus_sh = _shingle_hashes(docs.where(~is_bench))
    contaminated = (corpus_sh
                    .join(F.broadcast(bench), "_h", "left_semi")
                    .select("doc_id").distinct())
    # anti-join carries only (doc_id, source) — the text never shuffles;
    # the contaminated set is unbounded at scale, so no broadcast hint
    # (AQE will broadcast it when it happens to be small)
    return (docs.where(~is_bench).select("doc_id", "source")
            .join(contaminated, "doc_id", "left_anti"))


DECONTAMINATE_ORACLE = f"""
    with tok as (
        select doc_id, source, {T.TOKENS_SQL.format(col='text')} as t
        from documents
    ), sh as (
        select doc_id, source,
               {T.md5_hash32_sql("unnest(" + T.shingles_sql('t', 3) + ")")} as h
        from tok
    ), bench as (
        select distinct h from sh where doc_id <= {BENCHMARK_DOC_MAX}
    )
    select distinct d.doc_id, d.source from documents d
    where d.doc_id > {BENCHMARK_DOC_MAX}
      and not exists (
        select 1 from sh join bench b on sh.h = b.h
        where sh.doc_id = d.doc_id
      )
"""


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED contamination: per
    non-benchmark doc, the fraction of its distinct shingles that occur
    in the held-out benchmark — the score a pipeline thresholds instead
    of the boolean drop `decontaminate_against_benchmark` applies.  Docs
    with fewer tokens than one shingle produce no rows (no shingles to
    score — same on both engines).

    Scale shape: the benchmark shingle set is benchmark-sized (small by
    construction — it's a held-out eval set), so it broadcasts like the
    boolean variant; the corpus side is one shingle explode + one
    groupBy(doc) — no corpus self-join."""
    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") <= BENCHMARK_DOC_MAX
    bench = (_shingle_hashes(docs.where(is_bench))
             .select("_h").distinct().withColumn("_hit", F.lit(1)))
    corpus_sh = _shingle_hashes(docs.where(~is_bench))
    return (corpus_sh.join(F.broadcast(bench), "_h", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.count("_hit").alias("n_contaminated"))
            .select("doc_id", "n_shingles", "n_contaminated",
                    F.round(F.col("n_contaminated") / F.col("n_shingles"), 4)
                    .alias("contamination")))


CONTAMINATION_ORACLE = f"""
    with tok as (
        select doc_id, {T.TOKENS_SQL.format(col='text')} as t
        from documents
    ), sh as (
        select distinct doc_id,
               unnest({T.shingles_sql('t', 3)}) as s
        from tok
    ), h as (
        select doc_id, {T.md5_hash32_sql('s')} as h from sh
    ), bench as (
        select distinct h from h where doc_id <= {BENCHMARK_DOC_MAX}
    )
    select h.doc_id,
           count(*) as n_shingles,
           count(b.h) as n_contaminated,
           round(count(b.h) * 1.0 / count(*), 4) as contamination
    from h left join bench b on h.h = b.h
    where h.doc_id > {BENCHMARK_DOC_MAX}
    group by h.doc_id
"""


def chunk_overlapping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: the
    RAG / context-window stage — overlapping 64-token windows every 48
    tokens, emitted as metadata + window-text hash."""
    return C.chunk_sliding_windows(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# corpus vocabulary: global token term/document frequencies
# ---------------------------------------------------------------------------
#
# One explode + one groupBy on the token — the canonical big-agg over a
# text corpus (partial aggregation makes the shuffle carry only distinct
# tokens per partition).  Top-k with a deterministic tie-break so the
# result is engine-stable.

VOCAB_TOP_K = 100


def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.selectExpr(
        "doc_id", f"explode({T.tokens_sexpr('text')}) as token")
    freq = tok.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"))
    return (freq.orderBy(F.desc("tf"), F.asc("token"))
            .limit(VOCAB_TOP_K))


VOCAB_ORACLE = f"""
    select t as token, count(*) as tf, count(distinct doc_id) as df
    from (
        select doc_id, unnest({T.TOKENS_SQL.format(col='text')}) as t
        from documents
    )
    group by t
    order by tf desc, token asc
    limit {VOCAB_TOP_K}
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
#
# Shuffle chain: (doc, token) term counts -> per-token doc frequencies
# (derived from the tf frame, so the token shuffle is reused) -> token join
# -> per-doc window.  All partial-aggregated; the corpus count is an
# in-plan 1-row broadcast (no driver .count()).  Scores are ROUNDED BEFORE
# ranking: ln() may differ in the last ulp between engines, and ranking on
# the rounded value keeps the top-k identical everywhere.

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    n_docs = docs.select(F.count("*").alias("_n"))
    tok = docs.selectExpr(
        "doc_id", f"explode({T.tokens_sexpr('text')}) as token")
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score", F.round(
                  F.col("tf") * F.log(F.col("_n") / F.col("df")), 4)))
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TFIDF_TOP_K)
            .select("doc_id", "token", "score", "rank"))


TFIDF_ORACLE = f"""
    with tok as (
        select doc_id, unnest({T.TOKENS_SQL.format(col='text')}) as token
        from documents
    ), tf as (
        select doc_id, token, count(*) as tf from tok group by 1, 2
    ), dfreq as (
        select token, count(*) as df from tf group by 1
    ), n as (select count(*) as _n from documents)
    select doc_id, token, score, rank from (
        select tf.doc_id, tf.token,
               round(tf.tf * ln(n._n::DOUBLE / dfreq.df), 4) as score,
               row_number() over (
                   partition by tf.doc_id
                   order by round(tf.tf * ln(n._n::DOUBLE / dfreq.df), 4)
                            desc, tf.token asc) as rank
        from tf join dfreq using (token) cross join n
    ) where rank <= {TFIDF_TOP_K}
"""




# ---------------------------------------------------------------------------
# sequence chunk + pack: the final layout step before training (per-source
# packing windows — no global sort; see functions/curation.py)
# ---------------------------------------------------------------------------


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.curation import chunk_and_pack

    return chunk_and_pack(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# weighted (importance) sampling: keep-probability proportional to doc
# length (a stand-in for any per-doc quality weight), deterministic md5
# thresholding, map-only
# ---------------------------------------------------------------------------

WEIGHT_SCALE = 1500  # n_chars at which keep-probability saturates at 1.0


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.curation import weighted_sample_keep

    docs = _docs(spark, sf_dir)
    weight = F.col("n_chars") / F.lit(float(WEIGHT_SCALE))
    return (docs.where(weighted_sample_keep(F.col("doc_id"), weight))
            .select("doc_id", "source", "n_chars"))


WEIGHTED_ORACLE = None  # assigned below (needs the functions module)


def _weighted_oracle() -> str:
    from ..functions.curation import weighted_sample_keep_sql

    return f"""
        select doc_id, source, n_chars from documents
        where {weighted_sample_keep_sql("doc_id",
                                        f"n_chars / {WEIGHT_SCALE}.0")}
    """


# ---------------------------------------------------------------------------
# NEAR-dup decontamination: drop candidate docs sharing any MinHash-LSH
# band with a held-out benchmark — the fuzzy-contamination complement of
# the exact-shingle rule in decontaminate_against_benchmark. Shape: the
# benchmark side's banded keys are tiny and computed once; candidates
# anti-join on the pair list (no candidate x candidate work).
# ---------------------------------------------------------------------------


def decontaminate_near_benchmark(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..functions import dedup as D

    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") <= BENCHMARK_DOC_MAX
    bench_sig = D.minhash_signature(docs.where(is_bench))
    cand_sig = D.minhash_signature(docs.where(~is_bench))
    pairs = D.lsh_pairs_against_corpus(cand_sig, bench_sig)
    contaminated = pairs.select(F.col("new_id").alias("doc_id")).distinct()
    return (docs.where(~is_bench)
            .join(contaminated, "doc_id", "left_anti")
            .select("doc_id", "source"))


def _near_decontaminate_oracle() -> str:
    from ..functions import dedup as D

    pairs = D.lsh_pairs_against_corpus_sql(
        corpus_where=f"doc_id <= {BENCHMARK_DOC_MAX}",
        new_where=f"doc_id > {BENCHMARK_DOC_MAX}")
    return f"""
        select d.doc_id, d.source from documents d
        where d.doc_id > {BENCHMARK_DOC_MAX}
          and d.doc_id not in (select new_id from ({pairs}))
    """


def _pack_oracle() -> str:
    from ..functions.curation import chunk_and_pack_sql

    return chunk_and_pack_sql()

def lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) language mixture weights over the
    documents table — the re-weighting step a multilingual training
    mixture applies before sampling."""
    return C.lang_mixture_weights(_docs(spark, sf_dir))



BAL_BASE_RATE = 0.3
BAL_SEED = 11


def sample_lang_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced sampling: the temperature mixture factors
    (lang_mixture_weights, alpha=0.5) scaled into per-doc keep
    probabilities (base rate x factor, clamped to 1) and applied with the
    deterministic weighted-keep predicate — the end-to-end re-balancing
    step a multilingual corpus pipeline runs."""
    docs = _docs(spark, sf_dir)
    weights = C.lang_mixture_weights(docs).select("lang", "sample_factor")
    keep = C.weighted_sample_keep(
        F.col("doc_id"),
        F.lit(BAL_BASE_RATE) * F.col("sample_factor"),
        seed=BAL_SEED)
    return (docs.join(F.broadcast(weights), "lang")
            .where(keep)
            .select("doc_id", "lang"))


SAMPLE_LANG_BALANCED_ORACLE = f"""
    with w as ({{mixture_sql}})
    select doc_id, lang
    from documents join w using (lang)
    where {{keep_sql}}
"""



ENTRIES = {
    "sample_lang_balanced": {
        "fn": sample_lang_balanced,
        "oracle": SAMPLE_LANG_BALANCED_ORACLE.format(
            mixture_sql=C.lang_mixture_weights_sql(),
            keep_sql=C.weighted_sample_keep_sql(
                "doc_id", f"{BAL_BASE_RATE}::DOUBLE * sample_factor",
                seed=BAL_SEED)),
    },
    "lang_mixture_weights": {"fn": lang_mixture,
                             "oracle": C.lang_mixture_weights_sql()},
    "sample_stratified": {"fn": sample_stratified, "oracle": SAMPLE_ORACLE},
    "split_leakage_safe": {"fn": split_leakage_safe, "oracle": SPLIT_ORACLE},
    "pii_redaction": {"fn": pii_redaction, "oracle": PII_ORACLE},
    "repetition_metrics": {"fn": repetition_metrics,
                           "oracle": REPETITION_ORACLE},
    "dedup_against_corpus": {"fn": dedup_against_corpus,
                             "oracle": DEDUP_CORPUS_ORACLE},
    "dedup_near_against_corpus": {"fn": dedup_near_against_corpus,
                                  "oracle": _near_corpus_oracle()},
    "source_rollup": {"fn": source_rollup, "oracle": SOURCE_ROLLUP_ORACLE},
    "embedding_centroids": {"fn": embedding_centroids,
                            "oracle": CENTROIDS_ORACLE},
    "sample_quota_per_stratum": {"fn": sample_quota_per_stratum,
                                 "oracle": QUOTA_ORACLE},
    "curation_pipeline": {"fn": curation_pipeline,
                          "oracle": PIPELINE_ORACLE},
    "decontaminate_against_benchmark": {
        "fn": decontaminate_against_benchmark,
        "oracle": DECONTAMINATE_ORACLE},
    "contamination_overlap": {
        "fn": contamination_overlap,
        "oracle": CONTAMINATION_ORACLE},
    "chunk_overlapping_windows": {
        "fn": chunk_overlapping_windows,
        "oracle": C.chunk_sliding_windows_sql()},
    "corpus_vocabulary": {"fn": corpus_vocabulary, "oracle": VOCAB_ORACLE},
    "tfidf_top_terms": {"fn": tfidf_top_terms, "oracle": TFIDF_ORACLE},
    "pack_sequences": {"fn": pack_sequences, "oracle": _pack_oracle()},
    "sample_weighted": {"fn": sample_weighted, "oracle": _weighted_oracle()},
    "decontaminate_near": {"fn": decontaminate_near_benchmark,
                           "oracle": _near_decontaminate_oracle()},
    "dsir_select": {"fn": dsir_select, "oracle": _dsir_select_oracle()},
    "dedup_bloom_against_corpus": {"fn": dedup_bloom_against_corpus,
                                   "oracle": _bloom_corpus_oracle()},
}
