"""BPE encoding — the APPLY side of the tokenizer (Sennrich, Haddow &
Birch 2016 §3; the HF-tokenizers execution model): encode the corpus
under a trained merge table.  Two independent implementations are proved
against each other (rank-priority merging vs sequential application of
the merges in rank order), the Spark kernel is locked bit-for-bit to the
pure-Python reference through the per-doc subwords_md5 witness, and the
plan is map-only (no shuffle, Arrow-batched, never row-at-a-time).
"""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from waimak_spark.functions.text import (
    BPE_EOW,
    _bpe_tokenize_py,
    bpe_encode,
    bpe_encode_word,
    learn_bpe_merges,
)


def _apply_sequentially(word: str, merges) -> tuple:
    """Independent reference: apply each merge (rank order) everywhere,
    leftmost-first — the training loop's own rewrite rule."""
    sym = list(word) + [BPE_EOW]
    for m in sorted(merges, key=lambda m: m[0]):
        left, right = m[1], m[2]
        out, i = [], 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == left and sym[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return tuple(sym)


class TestEncodeWord:
    # the paper's shape: 'low' family makes 'lo' then 'low' merge first
    CORPUS = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]

    def test_worked_example(self):
        merges = learn_bpe_merges(self.CORPUS, 4)
        ranks = {(m[1], m[2]): m[0] for m in merges}
        # merge 1 is the most frequent pair: ('e','s') at freq 9
        assert (merges[0][1], merges[0][2]) == ("e", "s")
        got = bpe_encode_word("newest", ranks)
        # after (e,s)->(es,t)->(est,</w>) style merges the suffix fuses
        assert "".join(got) == "newest" + BPE_EOW
        assert len(got) < len("newest") + 1  # something actually merged

    def test_unknown_word_stays_characters(self):
        merges = learn_bpe_merges(self.CORPUS, 4)
        ranks = {(m[1], m[2]): m[0] for m in merges}
        got = bpe_encode_word("zzq", ranks)
        assert got == ("z", "z", "q", BPE_EOW)

    def test_concat_always_reconstructs(self):
        merges = learn_bpe_merges(self.CORPUS, 8)
        ranks = {(m[1], m[2]): m[0] for m in merges}
        for w, _ in self.CORPUS:
            assert "".join(bpe_encode_word(w, ranks)) == w + BPE_EOW

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.text(alphabet="abcd", min_size=1, max_size=8),
                    min_size=1, max_size=12),
           st.text(alphabet="abcd", min_size=1, max_size=10))
    def test_rank_priority_equals_sequential_application(self, corpus, w):
        """The two classic formulations agree on EVERY input: greedy
        lowest-rank-first pair merging (the HF runtime) == applying the
        learned merges one by one in rank order (the training rewrite).
        Both break position ties leftmost."""
        merges = learn_bpe_merges([(c, 1 + i) for i, c in
                                   enumerate(corpus)], 6)
        ranks = {(m[1], m[2]): m[0] for m in merges}
        assert bpe_encode_word(w, ranks) == _apply_sequentially(w, merges)


class TestEncodeDataFrame:
    def test_spark_matches_pure_python_bitwise(self, spark, sf_dir):
        """The catalog surface's witness: per-doc (n_words, n_subwords,
        subwords_md5) from the Spark kernel == the pure-Python pipeline
        over the same parquet, same trained merges."""
        import duckdb

        from waimak_spark.catalog.text import bpe_encode_stats
        from waimak_spark.functions.text import (
            word_frequencies,
        )

        got = {r["doc_id"]: (r["n_words"], r["n_subwords"],
                             r["subwords_md5"])
               for r in bpe_encode_stats(spark, sf_dir).collect()}

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        merges = learn_bpe_merges(
            word_frequencies(docs.selectExpr("doc_id", "text")))
        ranks = {(m[1], m[2]): m[0] for m in merges}
        rows = duckdb.sql(
            f"select doc_id, text from "
            f"'{sf_dir}/documents.parquet'").fetchall()
        assert len(got) == len(rows) > 0
        for doc_id, text in rows:
            words = _bpe_tokenize_py(text) if text is not None else []
            subs = []
            for w in words:
                subs.extend(bpe_encode_word(w, ranks))
            want = (len(words), len(subs),
                    hashlib.md5(" ".join(subs).encode()).hexdigest())
            assert got[doc_id] == want, doc_id

    def test_null_and_empty_text(self, spark):
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(doc_id=1, text=None), Row(doc_id=2, text="   "),
             Row(doc_id=3, text="a b")])
        out = {r["doc_id"]: r for r in bpe_encode(df, []).collect()}
        empty_md5 = hashlib.md5(b"").hexdigest()
        assert (out[1]["n_words"], out[1]["n_subwords"]) == (0, 0)
        assert out[1]["subwords_md5"] == empty_md5
        assert (out[2]["n_words"], out[2]["n_subwords"]) == (0, 0)
        # no merges: every word is chars + EOW
        assert (out[3]["n_words"], out[3]["n_subwords"]) == (2, 4)

    def test_plan_map_only_arrow(self, spark, sf_dir):
        """100 TB posture: encoding is ONE Arrow-batched map pass —
        no shuffle, no row-at-a-time Python, merge table in-closure."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        merges = [(1, "e", "s"), (2, "es", "t")]
        df = bpe_encode(docs, merges)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "encode must not shuffle"
        assert "MapInPandas" in plan
        assert "BatchEvalPython" not in plan
