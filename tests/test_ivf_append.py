"""Incremental IVF index append (round 9) — the maintenance path a
100 TB vector store needs between rebuilds: new batches land in the
stored bucketed index WITHOUT touching resident data.  Cell assignment
is row-local against fixed seeded centroids, so index(A) ∪ index(B) ==
index(A ∪ B) exactly and an appended index probes bit-identically to a
full build — which is what licenses reusing the static full-corpus
oracle.  The reference (waimak) has no ANN surface (see PARITY.md)."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from waimak_spark.catalog.similarity import (
    QUERY_IDS,
    _APD_DONE_PROP,
    _APPEND_BATCH_MOD,
    _IVF_IDX_DB,
    _ivf_append_index_name,
    _ivf_appended_index_table,
    ann_ivf_probe_appended,
    drop_ivf_append_index,
    ivf_index_append,
)
from waimak_spark.functions.similarity import ivf_topk


@pytest.fixture()
def appended(spark, sf_dir):
    drop_ivf_append_index(spark, sf_dir)
    yield sf_dir
    drop_ivf_append_index(spark, sf_dir)


class TestIvfAppend:
    def test_appended_probe_equals_full_build(self, appended, spark):
        """The whole contract: build on ~80%, append the late batch,
        probe == the inline full-corpus IVF top-k, tuple-for-tuple."""
        sf = appended
        probe = ann_ivf_probe_appended(spark, sf)
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        inline = ivf_topk(emb, QUERY_IDS, k=5)
        assert sorted(map(tuple, probe.collect())) == sorted(
            map(tuple, inline.collect()))

    def test_catalog_wrapper_matches_its_admission_oracle(
            self, appended, spark):
        """The catalog entry ivf_probe_appended matches its oracle:
        appended-index probe vs the STATIC full-corpus SQL oracle."""
        from waimak_spark.catalog.similarity import (
            _ivf_probe_appended_oracle,
        )

        sf = appended
        got = sorted(tuple(r) for r in
                     ann_ivf_probe_appended(spark, sf).collect())
        con = duckdb.connect()
        con.execute(f"create view embeddings as "
                    f"select * from '{sf}/embeddings.parquet'")
        want = sorted(tuple(r) for r in
                      con.execute(_ivf_probe_appended_oracle()).fetchall())
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:2] == w[:2]
            for gv, wv in zip(g[2:], w[2:]):
                assert gv == pytest.approx(wv, abs=1e-9)

    def test_append_adds_only_the_batch(self, appended, spark):
        """Resident files are untouched: after the build+append, the
        table holds exactly |resident| + |batch| rows and the append's
        rows are exactly the batch ids."""
        sf = appended
        name = _ivf_appended_index_table(spark, sf)
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        from waimak_spark.functions.similarity import valid_embeddings

        valid = valid_embeddings(emb, 64, "embedding")
        n_resident = valid.where(
            F.col("vec_id") % _APPEND_BATCH_MOD != 0).count()
        n_batch = valid.where(
            F.col("vec_id") % _APPEND_BATCH_MOD == 0).count()
        assert spark.table(name).count() == n_resident + n_batch
        got_batch = {r.vec_id for r in spark.table(name).where(
            F.col("vec_id") % _APPEND_BATCH_MOD == 0).collect()}
        want_batch = {r.vec_id for r in valid.where(
            F.col("vec_id") % _APPEND_BATCH_MOD == 0)
            .select("vec_id").collect()}
        assert got_batch == want_batch

    def test_probe_still_prunes_buckets_after_append(self, appended,
                                                     spark):
        """Append must not break the stored index's entire point: the
        probe scan stays bucket-pruned (SelectedBucketsCount < total)
        and corpus-side Python-free."""
        sf = appended
        probe = ann_ivf_probe_appended(spark, sf)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan, "bucket pruning lost"
        n_sel = plan.split("SelectedBucketsCount: ")[1]
        probed, total = n_sel.split("\n")[0].split(" out of ")
        assert int(probed) < int(total.strip().rstrip(")"))
        assert "BatchEvalPython" not in plan
        assert plan.count("ArrowEvalPython") <= 2

    def test_partial_build_rebuilds(self, appended, spark):
        """A crash between the initial build and the append leaves the
        table WITHOUT the completion property — the next caller must
        rebuild instead of probing a corpus-minus-batch index."""
        sf = appended
        name = _ivf_appended_index_table(spark, sf)
        # simulate the crash: strip the property (metadata-only)
        spark.sql(f"alter table {name} "
                  f"unset tblproperties('{_APD_DONE_PROP}')")
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        inline = ivf_topk(emb, QUERY_IDS, k=5)
        probe = ann_ivf_probe_appended(spark, sf)
        assert sorted(map(tuple, probe.collect())) == sorted(
            map(tuple, inline.collect()))
        props = {r["key"]: r["value"] for r in spark.sql(
            f"show tblproperties {name}").collect()}
        assert props.get(_APD_DONE_PROP) == "1"

    def test_mismatched_bucket_spec_refused(self, appended, spark):
        """Spark must refuse an append whose bucket count drifts from
        the stored table's — silent co-location corruption is the
        failure mode bucketing exists to prevent."""
        from waimak_spark import Waimak
        from waimak_spark.functions.similarity import ivf_index_frame

        sf = appended
        name = _ivf_appended_index_table(spark, sf)
        _db, label = name.split(".", 1)
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        idx = ivf_index_frame(emb.limit(5))
        with pytest.raises(Exception, match="(?i)bucket"):
            (Waimak.spark_flow(spark)
             .open(label, lambda c, df=idx: df)
             .write_bucketed_table(_IVF_IDX_DB, label, ["cell"], 7,
                                   sort_cols=["cell", "vec_id"],
                                   append=True)
             .execute())

    def test_overwrite_and_append_mutually_exclusive(self, spark):
        from waimak_spark import Waimak

        with pytest.raises(ValueError, match="mutually exclusive"):
            (Waimak.spark_flow(spark)
             .open("x", lambda c: spark.range(1))
             .write_bucketed_table("db", "x", ["id"], 2,
                                   overwrite=True, append=True))

    def test_union_commutes_with_index_frame(self, spark):
        """The identity the whole operator rests on: cell assignment is
        row-local, so indexing two halves separately equals indexing the
        union — checked on a small synthetic frame."""
        from waimak_spark.functions.similarity import ivf_index_frame

        rows = [Row(vec_id=i,
                    embedding=[float((i * 7 + d) % 13) - 6.0
                               for d in range(64)])
                for i in range(1, 41)]
        emb = spark.createDataFrame(rows)
        a = emb.where(F.col("vec_id") % 2 == 0)
        b = emb.where(F.col("vec_id") % 2 != 0)
        split = sorted(
            (r.vec_id, r.cell, round(r.nrm, 9))
            for r in ivf_index_frame(a).unionByName(
                ivf_index_frame(b)).collect())
        whole = sorted((r.vec_id, r.cell, round(r.nrm, 9))
                       for r in ivf_index_frame(emb).collect())
        assert split == whole

    def test_fingerprint_keying_and_drop(self, appended, spark):
        sf = appended
        _tag, label = _ivf_append_index_name(sf)
        name = f"{_IVF_IDX_DB}.{label}"
        _ivf_appended_index_table(spark, sf)
        assert spark.catalog.tableExists(name)
        drop_ivf_append_index(spark, sf)
        assert not spark.catalog.tableExists(name)
