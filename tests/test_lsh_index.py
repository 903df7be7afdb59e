"""Stored LSH dedup index with incremental append (round 9) — the
text-dedup sibling of the stored/appended IVF indexes: the corpus's
banded minhash keys persist as a band_key-bucketed table, accepted
batches APPEND their own rows (row-local keys ⇒ index(A) ∪ index(B) ==
index(A ∪ B) exactly), and a probe scans the narrow key table instead
of re-running the corpus signature pipeline.  Cites the reference's
incremental-refresh posture (storage/deduplicate) — the reference has
no near-dup surface (see PARITY.md)."""

import hashlib

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from waimak_spark.catalog.curation import (
    _LSH_DONE_PROP,
    _lsh_index_name,
    _lsh_index_table,
    _lsh_probe_stored_oracle,
    dedup_lsh_probe_stored,
    drop_lsh_index,
    lsh_index_append,
)
from waimak_spark.catalog.similarity import _IVF_IDX_DB
from waimak_spark.functions.dedup import (
    BAND_SIZE,
    DEFAULT_SEEDS,
    lsh_index_frame,
    lsh_pairs_against_corpus,
    lsh_probe_stored,
    minhash_signature,
)


@pytest.fixture()
def stored(spark, sf_dir):
    drop_lsh_index(spark, sf_dir)
    yield sf_dir
    drop_lsh_index(spark, sf_dir)


def _py_band_keys(text: str, seeds=DEFAULT_SEEDS, band_size=BAND_SIZE,
                  n: int = 3):
    """Independent reference: the same tokenize → distinct-shingle →
    md5-minhash → banded md5 keys in pure Python."""
    from waimak_spark.functions.dedup import MINHASH_PRIME, _mix_params

    toks = [t for t in text.lower().split() if t]
    sh = list(dict.fromkeys(
        " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))
    if not sh:
        return []
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh]
    mh = []
    for seed in seeds:
        a, b = _mix_params(seed)
        mh.append(min((a * h + b) % MINHASH_PRIME for h in hs))
    n_bands = len(seeds) // band_size
    return [
        (b, hashlib.md5("_".join(
            str(mh[b * band_size + j]) for j in range(band_size)
        ).encode()).hexdigest())
        for b in range(n_bands)
    ]


class TestLshIndex:
    def test_catalog_fn_matches_duckdb(self, stored, spark):
        """The catalog-style surface is lockstep: stored-index probe vs
        the STATIC full-recompute SQL oracle, cold (build + append +
        probe) and warm (stored)."""
        sf = stored
        got = [tuple(r) for r in
               dedup_lsh_probe_stored(spark, sf).collect()]
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_lsh_probe_stored_oracle()).fetchall()]
        assert len(got) == len(want) > 0
        assert got == want
        warm = [tuple(r) for r in
                dedup_lsh_probe_stored(spark, sf).collect()]
        assert warm == want

    def test_probe_equals_inline_corpus_form(self, stored, spark):
        """The stored probe must equal lsh_pairs_against_corpus
        aggregated per new doc — stored rows are the same row-local
        keys the inline form derives."""
        sf = stored
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        new = docs.where("doc_id % 4 = 0")
        corpus = docs.where("doc_id % 4 <> 0")
        pairs = lsh_pairs_against_corpus(minhash_signature(new),
                                         minhash_signature(corpus))
        # lsh_pairs_against_corpus(new_sig, corpus_sig) yields
        # (corpus_id, new_id); aggregate to the probe's verdict shape
        agg = {r["new_id"]: r["c"] for r in
               pairs.groupBy("new_id").agg(F.count("*").alias("c"))
               .collect()}
        got = {r.doc_id: (r.n_candidates, r.maybe_dup) for r in
               dedup_lsh_probe_stored(spark, sf).collect()}
        for doc_id, (n_cand, flag) in got.items():
            assert n_cand == agg.get(doc_id, 0)
            assert flag == (1 if agg.get(doc_id, 0) > 0 else 0)
        assert set(agg) <= set(got)

    def test_union_commutes_with_index_frame(self, spark, sf_dir):
        """The identity the append path rests on: banded keys are
        row-local, so indexing two halves separately equals indexing
        the union."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = docs.where("doc_id % 2 = 0")
        b = docs.where("doc_id % 2 <> 0")
        split = sorted(map(tuple, lsh_index_frame(a).unionByName(
            lsh_index_frame(b)).collect()))
        whole = sorted(map(tuple, lsh_index_frame(docs).collect()))
        assert split == whole

    def test_index_frame_matches_pure_python(self, spark):
        texts = {1: "the quick brown fox jumps over the lazy dog",
                 2: "the quick brown fox jumps over the lazy cat",
                 3: "completely different words in this one here",
                 4: "too short",   # < n tokens -> no signature
                 5: None}
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()])
        got = sorted((r.doc_id, r.band, r.band_key)
                     for r in lsh_index_frame(df).collect())
        want = sorted((i, b, k) for i, t in texts.items() if t
                      for b, k in _py_band_keys(t))
        assert got == want

    def test_append_adds_only_the_batch(self, stored, spark):
        sf = stored
        name = _lsh_index_table(spark, sf)
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        n_resident = lsh_index_frame(
            docs.where("doc_id % 4 in (1, 2)")).count()
        n_batch = lsh_index_frame(docs.where("doc_id % 4 = 3")).count()
        assert spark.table(name).count() == n_resident + n_batch
        got_batch = sorted(map(tuple, spark.table(name)
                               .where("doc_id % 4 = 3").collect()))
        want_batch = sorted(map(tuple, lsh_index_frame(
            docs.where("doc_id % 4 = 3")).collect()))
        assert got_batch == want_batch

    def test_partial_build_rebuilds(self, stored, spark):
        """A crash between the initial build and the append leaves the
        table WITHOUT the completion property — the next caller must
        rebuild instead of probing a resident-minus-batch index."""
        sf = stored
        name = _lsh_index_table(spark, sf)
        spark.sql(f"alter table {name} "
                  f"unset tblproperties('{_LSH_DONE_PROP}')")
        con = duckdb.connect()
        con.execute(f"create view documents as "
                    f"select * from '{sf}/documents.parquet'")
        want = [tuple(r) for r in
                con.execute(_lsh_probe_stored_oracle()).fetchall()]
        got = [tuple(r) for r in
               dedup_lsh_probe_stored(spark, sf).collect()]
        assert got == want
        props = {r["key"]: r["value"] for r in spark.sql(
            f"show tblproperties {name}").collect()}
        assert props.get(_LSH_DONE_PROP) == "1"

    def test_fingerprint_keying_and_drop(self, stored, spark):
        sf = stored
        _tag, label = _lsh_index_name(sf)
        name = f"{_IVF_IDX_DB}.{label}"
        _lsh_index_table(spark, sf)
        assert spark.catalog.tableExists(name)
        drop_lsh_index(spark, sf)
        assert not spark.catalog.tableExists(name)

    def test_mismatched_bucket_spec_refused(self, stored, spark):
        sf = stored
        name = _lsh_index_table(spark, sf)
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        with pytest.raises(Exception, match="(?i)bucket"):
            from waimak_spark import Waimak
            from waimak_spark.functions.dedup import (
                lsh_index_frame as frame,
            )

            _db, label = name.split(".", 1)
            idx = frame(docs.limit(5))
            (Waimak.spark_flow(spark)
             .open(label, lambda c, df=idx: df)
             .write_bucketed_table(_IVF_IDX_DB, label, ["band_key"], 7,
                                   sort_cols=["band_key", "doc_id"],
                                   append=True)
             .execute())


class TestLshIndexPlan:
    def test_stored_side_is_exchange_free(self, stored, spark):
        """The stored index's entire point: bucketing by band_key means
        both the frequent-bucket count window AND the probe join consume
        the stored side with ZERO exchange (HashPartitioning(band_key)
        satisfies clustering on (band, band_key)) — only the NEW side's
        window pays a (band, band_key) exchange.  No Python stages, no
        cartesians anywhere."""
        sf = stored
        _lsh_index_table(spark, sf)  # ensure warm (plan is probe-only)
        plan = (dedup_lsh_probe_stored(spark, sf)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning(band") == 1
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
