"""Property-based locks for the curation operators.

* sampling: nested thresholds — a lower fraction's sample is a subset of
  a higher fraction's at the same seed (the md5-prefix construction makes
  this true by design; the test locks it against refactors)
* redaction: idempotent, and no PII pattern survives the chain
* dup_fraction: bounded [0, 1], zero iff all-distinct
* split buckets: always in [0, 100), so every row gets a split
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from waimak_spark.functions import curation as C

SPARK_SETTINGS = settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])


def test_threshold_hex_monotone_and_bounded():
    prev = ""
    for i in range(0, 65537):
        h = C._threshold_hex(i / 65536)
        assert h >= prev
        prev = h
    assert C._threshold_hex(0.0) == "0000"
    assert C._threshold_hex(1.0) == "g"


def test_sample_nesting_by_fraction(spark):
    # one job, all fractions as columns: keep@f_low implies keep@f_high
    df = spark.range(500)
    fracs = [0.05, 0.2, 0.5, 0.8, 1.0]
    cols = [C.sample_keep(F.col("id"), f, seed=9).alias(f"k{i}")
            for i, f in enumerate(fracs)]
    for row in df.select(*cols).collect():
        keeps = [row[f"k{i}"] for i in range(len(fracs))]
        for lo, hi in zip(keeps, keeps[1:]):
            assert (not lo) or hi, f"nesting violated: {keeps}"
        assert keeps[-1] is True  # fraction 1.0 keeps everything


# printable-ish text including the PII trigger characters
text_strategy = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
        whitelist_characters="@.-+_%<>:/",
    ),
    max_size=80,
)


@SPARK_SETTINGS
@given(st.lists(text_strategy, min_size=1, max_size=20))
def test_redaction_idempotent_and_complete(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id bigint, text string")
    once = C.redact_pii(F.col("text"))
    twice = C.redact_pii(once)
    leftovers = [
        F.regexp_count(once, F.lit(pattern)).alias(f"c{i}")
        for i, (_, pattern, _) in enumerate(C.PII_PATTERNS)
    ]
    rows = df.select(once.alias("a"), twice.alias("b"), *leftovers).collect()
    for r in rows:
        assert r.a == r.b, f"not idempotent: {r.a!r} -> {r.b!r}"
        for i in range(len(C.PII_PATTERNS)):
            assert r[f"c{i}"] == 0, f"pattern {i} survived in {r.a!r}"


@SPARK_SETTINGS
@given(st.lists(st.lists(st.text(max_size=5), max_size=15),
                min_size=1, max_size=10))
def test_dup_fraction_bounds(spark, arrays):
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)],
                               "id bigint, arr array<string>")
    rows = df.selectExpr(
        "id", f"{C.dup_fraction_sexpr('arr')} as f").collect()
    for r in rows:
        arr = arrays[r.id]
        assert 0.0 <= r.f <= 1.0
        if len(set(arr)) == len(arr):
            assert r.f == 0.0


@SPARK_SETTINGS
@given(st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=30))
def test_split_bucket_range(spark, groups):
    df = spark.createDataFrame([(g,) for g in groups], "g string")
    rows = df.select(C.split_bucket(F.col("g")).alias("b")).collect()
    assert all(0 <= r.b < 100 for r in rows)


class TestChunkPackProperties:
    @given(st.lists(st.integers(min_value=0, max_value=200), min_size=1,
                    max_size=12))
    @settings(max_examples=8, deadline=None)
    def test_token_conservation_and_budget(self, spark, token_counts):
        """Invariants for any doc-length mix: chunk tokens sum to the doc's
        token count; every chunk is 1..chunk_size tokens; a sequence's
        chunks (minus its last-started chunk) never exceed the budget."""
        from waimak_spark.functions.curation import chunk_and_pack

        C, B = 16, 48
        rows = [(i, "s", " ".join(f"w{j}" for j in range(n)))
                for i, n in enumerate(token_counts)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = chunk_and_pack(df, chunk_size=C, seq_budget=B).collect()

        per_doc = {}
        for r in out:
            assert 1 <= r["chunk_tokens"] <= C
            per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["chunk_tokens"]
        for i, n in enumerate(token_counts):
            assert per_doc.get(i, 0) == n  # conservation (0-token docs absent)

        # packing: tokens BEFORE each chunk in its sequence stay under B
        order = sorted(out, key=lambda r: (r["doc_id"], r["chunk_idx"]))
        running = {}
        for r in order:
            before = running.get(r["seq_id"], 0)
            assert before < B, "chunk assigned to an already-full sequence"
            running[r["seq_id"]] = before + r["chunk_tokens"]


class TestMinhashMixProperties:
    def test_mix_params_distinct_and_bounded(self):
        from waimak_spark.functions.dedup import MINHASH_PRIME, _mix_params

        seen = set()
        for seed in range(64):
            a, b = _mix_params(seed)
            assert a % 2 == 1 and 0 < a < (1 << 20)
            assert 0 <= b < MINHASH_PRIME
            assert (a, b) not in seen
            seen.add((a, b))

    def test_mix_stays_exact_in_int64(self):
        # worst case: a_max * h_max + b_max must be < 2^63 (no overflow on
        # either engine)
        from waimak_spark.functions.dedup import MINHASH_PRIME

        worst = ((1 << 20) - 1) * ((1 << 32) - 1) + (MINHASH_PRIME - 1)
        assert worst < (1 << 63)
