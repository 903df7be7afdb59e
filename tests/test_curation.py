"""Behavioral tests for the curation operators: sampling rates and
determinism, split group-consistency, PII redaction per kind, repetition
fractions on crafted docs, incremental corpus dedup."""

import pytest
from pyspark.sql import functions as F

from waimak_spark.functions import curation as C


@pytest.fixture()
def docs(spark):
    rows = [(i, f"word{i % 7} " * (i % 5 + 1), f"g{i % 10}")
            for i in range(2000)]
    return spark.createDataFrame(rows, "id bigint, text string, grp string")


class TestStratifiedSample:
    def test_rate_within_binomial_bounds(self, spark, docs):
        out = C.stratified_sample(
            docs, key="id", stratum="grp",
            fractions={"g0": 0.5}, default_fraction=0.1, seed=1)
        g0 = out.where(F.col("grp") == "g0").count()
        rest = out.where(F.col("grp") != "g0").count()
        # n=200 per group; 5 sigma on binomial(200, .5) ~ 35, (1800, .1) ~ 64
        assert abs(g0 - 100) < 40
        assert abs(rest - 180) < 70

    def test_deterministic_and_seed_sensitive(self, spark, docs):
        kw = dict(key="id", stratum="grp", fractions={"g0": 0.5},
                  default_fraction=0.1)
        a = {r.id for r in C.stratified_sample(docs, seed=1, **kw).collect()}
        b = {r.id for r in C.stratified_sample(docs, seed=1, **kw).collect()}
        c = {r.id for r in C.stratified_sample(docs, seed=2, **kw).collect()}
        assert a == b
        assert a != c

    def test_zero_and_full_fractions(self, spark, docs):
        none = C.stratified_sample(docs, key="id", stratum="grp",
                                   fractions={}, default_fraction=0.0)
        assert none.count() == 0
        full = C.stratified_sample(docs, key="id", stratum="grp",
                                   fractions={}, default_fraction=1.0)
        assert full.count() == 2000


class TestAssignSplit:
    def test_split_constant_within_group(self, spark, docs):
        out = C.assign_split(docs, group="grp", train=80, val=10)
        per_group = (out.groupBy("grp")
                     .agg(F.countDistinct("split").alias("n"))
                     .collect())
        assert all(r.n == 1 for r in per_group)

    def test_all_three_splits_reachable(self, spark):
        many = spark.range(300).withColumn("grp", F.col("id").cast("string"))
        out = C.assign_split(many, group="grp", train=60, val=20)
        splits = {r.split for r in out.select("split").distinct().collect()}
        assert splits == {"train", "val", "test"}

    def test_deterministic(self, spark, docs):
        a = C.assign_split(docs, group="grp").collect()
        b = C.assign_split(docs, group="grp").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestRedactPII:
    CASES = [
        ("mail me at jo.smith+x@corp.example.co.uk today",
         "mail me at <EMAIL> today"),
        ("ssn 123-45-6789 end", "ssn <SSN> end"),
        ("host 192.168.0.17 down", "host <IP> down"),
        ("call +44 777 123 4567 now", "call <PHONE> now"),
        ("clean text stays clean", "clean text stays clean"),
    ]

    def test_each_kind(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, (t, _) in enumerate(self.CASES)],
            "id bigint, text string")
        out = {r.id: r.red
               for r in df.select(
                   "id", C.redact_pii(F.col("text")).alias("red")).collect()}
        for i, (_, expected) in enumerate(self.CASES):
            assert out[i] == expected

    def test_counts(self, spark):
        df = spark.createDataFrame(
            [(0, "a@b.co and c@d.io, ip 1.2.3.4")], "id bigint, text string")
        cols = C.pii_counts(F.col("text"))
        row = df.select(*[c.alias(n) for n, c in cols.items()]).first()
        assert row.n_email == 2
        assert row.n_ipv4 == 1
        assert row.n_ssn == 0


class TestDupFraction:
    def test_crafted(self, spark):
        df = spark.createDataFrame(
            [(0, ["a", "a", "a", "a"]),     # 3 of 4 repeats
             (1, ["a", "b", "c"]),          # none
             (2, [])],                      # empty -> 0.0
            "id bigint, arr array<string>")
        out = {r.id: r.f for r in df.selectExpr(
            "id", f"{C.dup_fraction_sexpr('arr')} as f").collect()}
        assert out[0] == pytest.approx(0.75)
        assert out[1] == pytest.approx(0.0)
        assert out[2] == pytest.approx(0.0)


class TestDedupAgainstCorpus:
    def test_removes_exact_matches_only(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            CORPUS_SOURCES, dedup_against_corpus)

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        new = docs.where(~F.col("source").isin(CORPUS_SOURCES))
        out = dedup_against_corpus(spark, sf_dir)
        assert out.count() <= new.count()
        # survivors' texts are genuinely absent from the corpus
        corpus_texts = {
            r.text for r in
            docs.where(F.col("source").isin(CORPUS_SOURCES)).collect()}
        surv = (out.join(docs.select("doc_id", "text"), "doc_id")
                .select("text").collect())
        assert all(r.text not in corpus_texts for r in surv)


class TestQuotaSample:
    def test_exact_quota_per_stratum(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            QUOTA_K, sample_quota_per_stratum)

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        avail = {r.lang: r.n for r in
                 docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        got = {r.lang: r.n for r in
               sample_quota_per_stratum(spark, sf_dir)
               .groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert got == {k: min(v, QUOTA_K) for k, v in avail.items()}


class TestCurationPipeline:
    def test_no_duplicate_texts_and_split_consistency(self, spark, sf_dir):
        from waimak_spark.catalog.curation import curation_pipeline

        out = curation_pipeline(spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        joined = out.join(docs.select("doc_id", "text", "lang"), "doc_id")
        rows = joined.collect()
        texts = [r.text for r in rows]
        assert len(texts) == len(set(texts)), "exact dup survived pipeline"
        assert all(r.lang == "en" for r in rows)
        per_source = (out.groupBy("source")
                      .agg(F.countDistinct("split").alias("n")).collect())
        assert all(r.n == 1 for r in per_source)


class TestDecontamination:
    def test_survivors_share_no_benchmark_shingle(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            BENCHMARK_DOC_MAX, decontaminate_against_benchmark)
        from waimak_spark.functions import text as T

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sh = (docs.selectExpr("doc_id", f"{T.tokens_sexpr('text')} as t")
              .selectExpr("doc_id",
                          f"explode({T.shingles_sexpr('t', 3)}) as s"))
        bench = {r.s for r in
                 sh.where(F.col("doc_id") <= BENCHMARK_DOC_MAX).collect()}
        surv = decontaminate_against_benchmark(spark, sf_dir)
        surv_sh = (surv.join(sh, "doc_id").select("s").collect())
        assert all(r.s not in bench for r in surv_sh)
        # and contamination actually fires: at least one non-benchmark doc
        # was dropped (the synthetic corpus contains near-duplicates)
        non_bench = docs.where(F.col("doc_id") > BENCHMARK_DOC_MAX).count()
        assert surv.count() < non_bench


class TestDupFractionNulls:
    def test_null_elements_match_duckdb_semantics(self, spark):
        import duckdb

        df = spark.createDataFrame(
            [(0, ["a", "a", None, "b"]), (1, [None, None])],
            "id bigint, arr array<string>")
        got = {r.id: r.f for r in df.selectExpr(
            "id", f"{C.dup_fraction_sexpr('arr')} as f").collect()}
        for i, arr in [(0, "['a','a',NULL,'b']"), (1, "[NULL,NULL]")]:
            want = duckdb.sql(
                "select round(case when len(x) > 0 then "
                "1.0 - len(list_distinct(x))::DOUBLE / len(x) "
                f"else 0.0 end, 4) from (select {arr} as x)").fetchone()[0]
            assert got[i] == pytest.approx(want), (i, got[i], want)


class TestChunkAndPack:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def test_chunking_covers_all_tokens_without_overlap(self, spark):
        from waimak_spark.functions.curation import chunk_and_pack

        df = self._df(spark, [(1, "a", " ".join(f"t{i}" for i in range(70))),
                              (2, "a", "one two three")])
        out = chunk_and_pack(df, chunk_size=32, seq_budget=128).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
        assert [r["chunk_tokens"] for r in c1] == [32, 32, 6]  # 70 tokens
        assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
        assert [r["chunk_tokens"] for r in by_doc[2]] == [3]

    def test_packing_respects_budget_per_source(self, spark):
        from waimak_spark.functions.curation import chunk_and_pack

        # 6 docs x 32 tokens in one source: budget 64 -> 2 chunks/seq
        rows = [(i, "s", " ".join(f"w{j}" for j in range(32)))
                for i in range(1, 7)]
        out = chunk_and_pack(self._df(spark, rows),
                             chunk_size=32, seq_budget=64).collect()
        seqs = {}
        for r in out:
            seqs.setdefault(r["seq_id"], 0)
            seqs[r["seq_id"]] += r["chunk_tokens"]
        assert seqs == {0: 64, 1: 64, 2: 64}

    def test_packing_is_per_source(self, spark):
        from waimak_spark.functions.curation import chunk_and_pack

        rows = [(1, "a", "x " * 32), (2, "b", "y " * 32)]
        out = chunk_and_pack(self._df(spark, rows),
                             chunk_size=32, seq_budget=64).collect()
        # each source starts at seq 0 — no cross-source coupling
        assert {(r["source"], r["seq_id"]) for r in out} == {("a", 0), ("b", 0)}

    def test_empty_docs_dropped(self, spark):
        from waimak_spark.functions.curation import chunk_and_pack

        out = chunk_and_pack(self._df(spark, [(1, "a", "   ")])).collect()
        assert out == []


class TestWeightedSample:
    def test_weight_one_keeps_all_weight_zero_none(self, spark):
        from waimak_spark.functions import curation as C
        from pyspark.sql import functions as F

        df = spark.range(1, 201).select(F.col("id"))
        kept1 = df.where(C.weighted_sample_keep(F.col("id"), F.lit(1.0))).count()
        kept0 = df.where(C.weighted_sample_keep(F.col("id"), F.lit(0.0))).count()
        assert kept1 == 200 and kept0 == 0

    def test_nested_samples(self, spark):
        # a row kept at weight w stays kept at any w' > w
        from waimak_spark.functions import curation as C
        from pyspark.sql import functions as F

        df = spark.range(1, 501)
        lo = {r["id"] for r in
              df.where(C.weighted_sample_keep(F.col("id"), F.lit(0.3))).collect()}
        hi = {r["id"] for r in
              df.where(C.weighted_sample_keep(F.col("id"), F.lit(0.7))).collect()}
        assert lo <= hi
        assert 0.2 < len(lo) / 500 < 0.4 and 0.6 < len(hi) / 500 < 0.8

    def test_matches_sql_side(self, spark):
        import duckdb

        from waimak_spark.functions import curation as C
        from pyspark.sql import functions as F

        df = spark.range(1, 301).select(
            F.col("id"), (F.col("id") % 10 / 10.0).alias("w"))
        kept = sorted(r["id"] for r in df.where(
            C.weighted_sample_keep(F.col("id"), F.col("w"))).collect())
        sql = C.weighted_sample_keep_sql("id", "id % 10 / 10.0")
        dk = sorted(x[0] for x in duckdb.sql(
            f"select id from range(1, 301) t(id) where {sql}").fetchall())
        assert kept == dk


class TestLangMixtureWeights:
    def test_temperature_upweights_rare_languages(self, spark):
        from waimak_spark.functions.curation import lang_mixture_weights

        df = spark.createDataFrame(
            [("en",)] * 90 + [("mi",)] * 10, "lang string")
        rows = {r["lang"]: r for r in lang_mixture_weights(df).collect()}
        assert rows["en"]["p_raw"] == 0.9 and rows["mi"]["p_raw"] == 0.1
        # alpha=0.5: rare language up-sampled, dominant down-sampled
        assert rows["mi"]["sample_factor"] > 1.0
        assert rows["en"]["sample_factor"] < 1.0
        # temperature shares still sum to 1
        assert abs(rows["en"]["p_temp"] + rows["mi"]["p_temp"] - 1.0) < 1e-4

    def test_uniform_corpus_is_fixed_point(self, spark):
        from waimak_spark.functions.curation import lang_mixture_weights

        df = spark.createDataFrame(
            [("a",)] * 50 + [("b",)] * 50, "lang string")
        for r in lang_mixture_weights(df).collect():
            assert r["sample_factor"] == 1.0


class TestUnigramLogprob:
    def test_rare_tokens_score_higher(self, spark):
        from waimak_spark.functions.text import unigram_logprob

        rows = [(1, "common common common common"),
                (2, "common common rareword common"),
                (3, "")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
        assert out[1]["avg_neg_logp"] < out[2]["avg_neg_logp"]
        assert 3 not in out  # zero-token doc drops out
        assert out[1]["n_tokens"] == 4

    def test_matches_hand_computation(self, spark):
        import math

        from waimak_spark.functions.text import unigram_logprob

        df = spark.createDataFrame([(1, "a a b")], "doc_id int, text string")
        # counts: a=2, b=1; T=3, V=2; p(a)=(2+1)/5, p(b)=(1+1)/5
        exp = -(2 * math.log(3 / 5) + math.log(2 / 5)) / 3
        [r] = unigram_logprob(df).collect()
        assert abs(r["avg_neg_logp"] - round(exp, 4)) < 1e-9


class TestChunkSlidingWindows:
    def _chunks(self, spark, text, window=8, overlap=2):
        from waimak_spark.functions.curation import chunk_sliding_windows

        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        return sorted(
            chunk_sliding_windows(df, window, overlap).collect(),
            key=lambda r: r["chunk_index"])

    def test_windows_cover_every_token_with_exact_overlap(self, spark):
        text = " ".join(f"t{i}" for i in range(20))
        rows = self._chunks(spark, text, window=8, overlap=2)
        stride = 6
        assert [r["start_token"] for r in rows] == [1, 7, 13]
        # coverage: last window reaches the final token
        last = rows[-1]
        assert last["start_token"] + last["n_chunk_tokens"] - 1 == 20
        # every non-tail window is full-size; consecutive starts differ
        # by exactly window - overlap
        assert all(r["n_chunk_tokens"] == 8 for r in rows[:-1])
        assert all(b["start_token"] - a["start_token"] == stride
                   for a, b in zip(rows, rows[1:]))

    def test_short_doc_single_window(self, spark):
        rows = self._chunks(spark, "a b c", window=8, overlap=2)
        assert len(rows) == 1
        assert rows[0]["n_chunk_tokens"] == 3
        assert rows[0]["chunk_index"] == 1

    def test_empty_doc_no_rows(self, spark):
        assert self._chunks(spark, "   ") == []

    def test_overlap_must_be_smaller_than_window(self, spark):
        import pytest as _pt

        from waimak_spark.functions.curation import chunk_sliding_windows

        df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
        with _pt.raises(ValueError):
            chunk_sliding_windows(df, window_tokens=4, overlap=4)


class TestContaminationOverlap:
    def test_ratio_counts_shared_shingles(self, spark, sf_dir):
        from waimak_spark.catalog.curation import (
            BENCHMARK_DOC_MAX,
            contamination_overlap,
        )

        out = contamination_overlap(spark, sf_dir)
        rows = out.collect()
        assert rows, "no scored docs"
        assert all(r["doc_id"] > BENCHMARK_DOC_MAX for r in rows)
        from decimal import ROUND_HALF_UP, Decimal

        for r in rows:
            assert 0 <= r["n_contaminated"] <= r["n_shingles"]
            # Spark rounds HALF_UP (3/96 = .03125 -> .0313), Python's
            # round() banker's-rounds — compare in HALF_UP
            exp = float(Decimal(r["n_contaminated"] / r["n_shingles"])
                        .quantize(Decimal("0.0001"), ROUND_HALF_UP))
            assert abs(r["contamination"] - exp) < 1e-9
        # consistency with the boolean decontamination: a doc the boolean
        # path drops must carry a non-zero score here
        from waimak_spark.catalog.curation import (
            decontaminate_against_benchmark,
        )

        kept = {r["doc_id"] for r in
                decontaminate_against_benchmark(spark, sf_dir).collect()}
        scored = {r["doc_id"]: r["contamination"] for r in rows}
        dropped = set(scored) - kept
        assert all(scored[d] > 0 for d in dropped)


class TestChunkWindowProperties:
    """Property lock for the sliding-window chunker: for arbitrary doc
    lengths and (window, overlap) shapes, the emitted windows must tile
    the token sequence exactly — full coverage, fixed stride, bounded
    width, correct tail."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        n_tokens=st.integers(min_value=0, max_value=120),
        window=st.integers(min_value=2, max_value=40),
        overlap_frac=st.floats(min_value=0.0, max_value=0.9),
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_windows_tile_the_token_sequence(self, spark, n_tokens,
                                             window, overlap_frac):
        from waimak_spark.functions.curation import chunk_sliding_windows

        overlap = min(int(window * overlap_frac), window - 1)
        stride = window - overlap
        text = " ".join(f"t{i}" for i in range(n_tokens))
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        rows = sorted(chunk_sliding_windows(df, window, overlap).collect(),
                      key=lambda r: r["chunk_index"])
        if n_tokens == 0:
            assert rows == []
            return
        # starts: 1, 1+stride, ... <= max(n-overlap, 1)
        exp_starts = list(range(1, max(n_tokens - overlap, 1) + 1, stride))
        assert [r["start_token"] for r in rows] == exp_starts
        assert [r["chunk_index"] for r in rows] == list(
            range(1, len(exp_starts) + 1))
        for r in rows:
            assert 1 <= r["n_chunk_tokens"] <= window
            assert r["n_chunk_tokens"] == min(
                window, n_tokens - r["start_token"] + 1)
        # coverage: every token index belongs to >= 1 window
        covered = set()
        for r in rows:
            covered.update(range(r["start_token"],
                                 r["start_token"] + r["n_chunk_tokens"]))
        assert covered == set(range(1, n_tokens + 1))
