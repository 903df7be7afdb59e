"""Bloom-filter membership dedup vs a corpus (Bloom 1970, CACM 13(7)) —
the bounded-memory approximate sibling of the exact anti-join.  The
reference (waimak) has no approximate-membership surface; this is the
training-data-pipeline extension family, with its oracle lockstep
here."""

import hashlib

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from waimak_spark.functions.dedup import (
    BLOOM_BITS,
    BLOOM_HASHES,
    _BLOOM_SEED_BASE,
    bloom_corpus_positions,
    bloom_dedup_against_corpus,
    bloom_dedup_against_corpus_sql,
)


def _py_positions(text: str, k: int = BLOOM_HASHES,
                  m: int = BLOOM_BITS) -> list[int]:
    """Independent reference: the same seeded-md5 positions in pure
    Python (seeded_hash = first 8 md5 hex chars of '<seed>:<text>')."""
    return [int(hashlib.md5(f"{_BLOOM_SEED_BASE + i}:{text}"
                            .encode()).hexdigest()[:8], 16) % m
            for i in range(k)]


def _py_bloom(new: dict[int, str], corpus: list[str],
              k: int = BLOOM_HASHES, m: int = BLOOM_BITS) -> dict[int, tuple]:
    bits = {p for t in corpus for p in _py_positions(t, k, m)}
    out = {}
    for doc_id, t in new.items():
        probes = sorted(set(_py_positions(t, k, m)))
        hits = sum(1 for p in probes if p in bits)
        out[doc_id] = (len(probes), hits, int(hits == len(probes)))
    return out


class TestBloomOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            _bloom_corpus_oracle,
            dedup_bloom_against_corpus,
        )

        got = {r.doc_id: (r.n_probes, r.n_hits, r.maybe_dup)
               for r in dedup_bloom_against_corpus(spark, sf_dir).collect()}
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf_dir}/documents.parquet'")
        want = {r[0]: (r[1], r[2], r[3])
                for r in con.execute(_bloom_corpus_oracle()).fetchall()}
        assert got == want
        assert len(got) > 0

    def test_no_false_negatives_on_testdata(self, spark, sf_dir):
        """Every new doc whose exact text exists in the corpus MUST flag
        maybe_dup — the Bloom guarantee that makes the operator safe as
        a dedup pre-filter."""
        from waimak_spark.catalog.curation import (
            CORPUS_SOURCES,
            dedup_bloom_against_corpus,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        is_corpus = F.col("source").isin(CORPUS_SOURCES)
        truly_dup = {
            r.doc_id
            for r in docs.where(~is_corpus).alias("n")
            .join(docs.where(is_corpus).alias("c"),
                  F.col("n.text") == F.col("c.text"))
            .select("n.doc_id").distinct().collect()}
        flagged = {r.doc_id
                   for r in dedup_bloom_against_corpus(spark, sf_dir)
                   .where(F.col("maybe_dup") == 1).collect()}
        assert truly_dup <= flagged

    def test_false_positive_rate_at_testdata_fill(self, spark, sf_dir):
        """At sf0.001's fill ratio (~2.5k corpus docs x 5 hashes over 2^20
        bits ≈ 1.2% set) the theoretical FP rate is (0.012)^5 ≈ 3e-10 —
        flagged docs should be EXACTLY the true dups at this scale (the
        general property is superset, asserted above; this pins the
        false-positive count so a hashing regression that floods the
        filter turns the suite red)."""
        from waimak_spark.catalog.curation import (
            CORPUS_SOURCES,
            dedup_bloom_against_corpus,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        is_corpus = F.col("source").isin(CORPUS_SOURCES)
        truly_dup = {
            r.doc_id
            for r in docs.where(~is_corpus).alias("n")
            .join(docs.where(is_corpus).alias("c"),
                  F.col("n.text") == F.col("c.text"))
            .select("n.doc_id").distinct().collect()}
        flagged = {r.doc_id
                   for r in dedup_bloom_against_corpus(spark, sf_dir)
                   .where(F.col("maybe_dup") == 1).collect()}
        assert flagged == truly_dup


class TestBloomSemantics:
    def test_matches_pure_python_reference(self, spark):
        corpus_texts = ["alpha beta", "gamma delta", "alpha beta",
                        "epsilon zeta eta"]
        new = {1: "alpha beta", 2: "novel text here", 3: "gamma delta",
               4: "another novel doc", 5: ""}
        cdf = spark.createDataFrame([Row(doc_id=100 + i, text=t)
                                     for i, t in enumerate(corpus_texts)])
        ndf = spark.createDataFrame([Row(doc_id=i, text=t)
                                     for i, t in sorted(new.items())])
        got = {r.doc_id: (r.n_probes, r.n_hits, r.maybe_dup)
               for r in bloom_dedup_against_corpus(ndf, cdf).collect()}
        assert got == _py_bloom(new, corpus_texts)
        assert got[1][2] == 1 and got[3][2] == 1  # exact members flag

    def test_duplicate_doc_id_rows_keep_no_false_negatives(self, spark):
        """ADVICE r8: with the old (doc_id, n_probes) rollup key, two
        copies of an exact corpus member landed in ONE group, n_hits
        reached 2×n_probes, and the member reported maybe_dup = 0 — a
        silent false negative.  The probe-set rollup key fixes it:
        identical (id, text) copies collapse to one row that still
        flags; same-id-DIFFERENT-text rows keep separate verdict rows.
        DuckDB runs the same shape, so lockstep is asserted too."""
        cdf = spark.createDataFrame([Row(doc_id=100, text="alpha beta")])
        ndf = spark.createDataFrame(
            [Row(doc_id=1, text="alpha beta"),   # exact member, twice
             Row(doc_id=1, text="alpha beta"),
             Row(doc_id=2, text="alpha beta"),   # member + novel, same id
             Row(doc_id=2, text="definitely novel text")])
        rows = bloom_dedup_against_corpus(ndf, cdf).collect()
        got = sorted((r.doc_id, r.n_probes, r.n_hits, r.maybe_dup)
                     for r in rows)
        by_id: dict[int, list] = {}
        for t in got:
            by_id.setdefault(t[0], []).append(t)
        assert len(by_id[1]) == 1          # identical copies collapsed
        assert by_id[1][0][3] == 1         # the member still flags
        assert len(by_id[2]) == 2          # different texts kept apart
        assert 1 in {t[3] for t in by_id[2]}  # the member row flags

        con = duckdb.connect()
        con.execute("create table documents(doc_id int, text varchar, "
                    "source varchar)")
        con.executemany(
            "insert into documents values (?, ?, ?)",
            [(100, "alpha beta", "c"),
             (1, "alpha beta", "n"), (1, "alpha beta", "n"),
             (2, "alpha beta", "n"), (2, "definitely novel text", "n")])
        want = sorted(tuple(r) for r in con.execute(
            bloom_dedup_against_corpus_sql(
                corpus_where="source = 'c'",
                new_where="source = 'n'")).fetchall())
        assert want == got

    def test_null_text_dropped_both_sides_lockstep(self, spark):
        """Null-text rows carry no content: dropped from probes AND the
        filter build, and — the lockstep point — Spark's array_distinct
        KEEPS a null where DuckDB's list_distinct drops it, so without
        the filter the oracle silently omits the doc the Spark side
        still emits."""
        cdf = spark.createDataFrame(
            [Row(doc_id=100, text="alpha"), Row(doc_id=101, text=None)])
        ndf = spark.createDataFrame(
            [Row(doc_id=1, text="alpha"), Row(doc_id=2, text=None),
             Row(doc_id=3, text="fresh")])
        got = {r.doc_id: r.maybe_dup
               for r in bloom_dedup_against_corpus(ndf, cdf).collect()}
        assert set(got) == {1, 3}
        assert got[1] == 1

        con = duckdb.connect()
        con.execute("create table documents(doc_id int, text varchar, "
                    "source varchar)")
        con.executemany(
            "insert into documents values (?, ?, ?)",
            [(100, "alpha", "c"), (101, None, "c"),
             (1, "alpha", "n"), (2, None, "n"), (3, "fresh", "n")])
        want = {r[0]: r[3] for r in con.execute(
            bloom_dedup_against_corpus_sql(
                corpus_where="source = 'c'",
                new_where="source = 'n'")).fetchall()}
        assert want == got

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=12),
                    min_size=1, max_size=8),
           st.lists(st.text(alphabet="abc ", min_size=0, max_size=12),
                    min_size=1, max_size=8))
    def test_property_no_false_negatives(self, corpus_texts, new_texts):
        """Pure-Python property: membership implies flagged, any texts."""
        new = {i: t for i, t in enumerate(new_texts)}
        out = _py_bloom(new, corpus_texts)
        for i, t in new.items():
            if t in corpus_texts:
                assert out[i][2] == 1

    def test_corpus_positions_bounded_and_distinct(self, spark):
        cdf = spark.createDataFrame(
            [Row(doc_id=i, text=f"doc number {i}") for i in range(50)])
        pos = bloom_corpus_positions(cdf).collect()
        vals = [r.pos for r in pos]
        assert len(vals) == len(set(vals))
        assert all(0 <= v < BLOOM_BITS for v in vals)
        assert len(vals) <= 50 * BLOOM_HASHES

    def test_plan_stays_jvm_single_probe_join(self, spark, sf_dir):
        from waimak_spark.catalog.curation import dedup_bloom_against_corpus

        df = dedup_bloom_against_corpus(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan   # pure expression pipeline
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the bounded position set must BROADCAST (its m-row bound is
        # invisible to Catalyst's size estimate, so the hint is load-
        # bearing: without it the whole probe stream shuffles at scale)
        assert "BroadcastHashJoin" in plan
