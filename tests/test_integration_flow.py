"""Whole-engine integration: ONE flow combining sources, sql, data-quality
checks, plan-cut caching, audit-table storage writes, the staged-move
committer with metastore sync, and the manifest committer — executed by
the parallel executor. Cross-feature interactions (DQ interceptors + tag
wiring + commit rewrites) are where orchestration frameworks break."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from waimak_spark import Waimak
from waimak_spark.dataflow import ParallelDataFlowExecutor
from waimak_spark.dataquality import CollectingAlertHandler, completeness_check
from waimak_spark.filesystem import FileOps
from waimak_spark.operators.commit import ParquetDataCommitter
from waimak_spark.operators.manifest_commit import (
    ManifestParquetDataCommitter,
    read_manifest_table,
)
from waimak_spark.operators.metastore import HiveDummyConnector
from waimak_spark.storage.audit import open_tables
from waimak_spark.storage.file_ops import FileStorageOps

SF = "/root/testdata/sf0.001"


def test_everything_in_one_flow(spark, tmp_path):
    out = str(tmp_path / "committed")
    mout = str(tmp_path / "manifested")
    storage = str(tmp_path / "storage")
    handler = CollectingAlertHandler()
    connector = None

    flow = (Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
            .open_file_parquet(f"{SF}/orders.parquet", "orders")
            .open_file_parquet(f"{SF}/customer.parquet", "customer")
            .sql("orders", "customer",
                 output="enriched",
                 query="""
                   select o.o_orderkey, o.o_custkey, c.c_name,
                          o.o_totalprice,
                          cast(o.o_orderdate as timestamp) as last_updated
                   from orders o join customer c
                     on o.o_custkey = c.c_custkey
                 """)
            .transform("enriched", output="summary",
                       fn=lambda df: df.groupBy("o_custkey").agg(
                           F.count("*").alias("n_orders"),
                           F.round(F.sum("o_totalprice"), 2).alias("total")))
            .add_data_quality_check(
                "summary", completeness_check(["total"],
                                              warning_threshold=0.9),
                handler)
            .cache_as_parquet("enriched"))

    # storage write path for the enriched label
    flow = (flow.get_or_create_audit_table(
                storage, "enriched",
                metadata_retrieval=lambda t: __import__(
                    "waimak_spark.storage.audit", fromlist=["AuditTableInfo"]
                ).AuditTableInfo(t, ["o_orderkey"], {}, True))
            .write_to_storage("enriched", "last_updated"))

    # staged-move commit with metastore sync + manifest commit, same flow
    ctx = flow.context
    connector = HiveDummyConnector(ctx, database="testdb")
    flow = (flow
            .commit("main", "summary")
            .push("main", ParquetDataCommitter(
                out, snapshot_folder="snap=2026",
                metastore_connector=connector, metastore_db="testdb"))
            .commit("mirror", "enriched")
            .push("mirror", ManifestParquetDataCommitter(mout)))

    executed, final = flow.execute(ParallelDataFlowExecutor(max_jobs=4))
    assert not final.actions

    # committed snapshot readable and correct vs direct computation
    got = spark.read.parquet(f"{out}/summary/snap=2026")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    expected = (orders.groupBy("o_custkey")
                .agg(F.count("*").alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("total")))
    assert got.count() == expected.count()
    j = (got.withColumnRenamed("total", "got_total")
         .join(expected, "o_custkey"))
    assert j.where(F.col("got_total") != F.col("total")).count() == 0

    # metastore DDLs captured for the committed label
    assert connector.ran_ddls, "metastore sync never ran"
    assert any("summary" in d for batch in connector.ran_ddls for d in batch)

    # manifest mirror readable
    m = read_manifest_table(spark, mout, "enriched")
    assert m.count() == orders.count()

    # audit table holds one hot region with the enriched rows
    ops = FileStorageOps(spark, storage)
    tables, _ = open_tables(ops, ["enriched"])
    snap = tables["enriched"].snapshot()
    assert snap is not None and snap.count() == orders.count()

    # DQ ran and raised no warning (totals are complete)
    assert all(a.importance.name != "CRITICAL" for a in handler.alerts)


def test_dq_warning_and_commit_coexist(spark, tmp_path):
    """A failing DQ check with a collecting handler must not abort the
    commit; the alert is routed, the data still lands."""
    out = str(tmp_path / "out")
    handler = CollectingAlertHandler()
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "id int, v string")

    # DQ checks attach to a label's PRODUCER (interceptor semantics, as in
    # the reference) — flow inputs must pass through an action first
    flow = (Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
            .add_input("raw", df)
            .transform("raw", output="t", fn=lambda d: d)
            .add_data_quality_check(
                "t", completeness_check(["v"], warning_threshold=0.95),
                handler)
            .commit("c", "t")
            .push("c", ParquetDataCommitter(out)))
    flow.execute(ParallelDataFlowExecutor(max_jobs=4))

    assert spark.read.parquet(f"{out}/t").count() == 3
    assert handler.alerts, "completeness warning expected"


def test_curation_pipeline_through_flow(spark, tmp_path):
    """The catalog's composed LLM-curation pipeline (quality gate → exact
    dedup → deterministic sample → split assignment) re-expressed as FLOW
    stages — one action per stage under the parallel executor, committed
    through the staged-move committer — must produce exactly the rows of
    the direct single-DataFrame composition (`curation_pipeline`, which is
    itself DuckDB-oracle-locked every pytest run).  Closes the parity
    triangle: flow-orchestrated ≡ direct composition ≡ ANSI-SQL oracle."""
    from waimak_spark.catalog.curation import (
        PIPE_MIN_TOKENS,
        PIPE_SAMPLE_FRACTION,
        PIPE_SEED,
        curation_pipeline,
    )
    from waimak_spark.functions import curation as C
    from waimak_spark.functions import text as T

    out = str(tmp_path / "curated_dataset")

    def gate(df):
        return df.where(f"lang = 'en' and size({T.tokens_sexpr('text')}) "
                        f">= {PIPE_MIN_TOKENS}")

    def dedup(df):
        hashed = df.selectExpr("doc_id", "source",
                               f"{T.md5_hash32_sexpr('text')} as _h")
        keep = hashed.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
        return hashed.join(keep, ["_h", "doc_id"]).select("doc_id", "source")

    def sample_split(df):
        sampled = df.where(C.sample_keep(
            F.col("doc_id"), PIPE_SAMPLE_FRACTION, PIPE_SEED))
        return (C.assign_split(sampled, group="source", train=80, val=10,
                               seed=PIPE_SEED)
                .select("doc_id", "source", "split"))

    flow = (Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
            .open_file_parquet(f"{SF}/documents.parquet", "documents")
            .transform("documents", output="gated", fn=gate)
            .transform("gated", output="deduped", fn=dedup)
            .transform("deduped", output="dataset", fn=sample_split)
            .commit("publish", "dataset")
            .push("publish", ParquetDataCommitter(out, snapshot_folder="v1")))
    executed, final = flow.execute(ParallelDataFlowExecutor(max_jobs=4))
    assert not final.actions

    got = spark.read.parquet(f"{out}/dataset/v1")
    expect = curation_pipeline(spark, SF)
    n = expect.count()
    assert got.count() == n > 0
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_semantic_dedup_as_flow_stage(spark, tmp_path):
    """The semantic-dedup operator composed THROUGH the dataflow engine:
    verdicts computed in one action, joined back to the documents in a
    second, committed through the staged-move committer — proving the
    operator (applyInPandas + k-means fit inside) behaves as a regular
    transform under the parallel executor and the commit rewrite."""
    from waimak_spark.functions.similarity import semantic_dedup

    out = str(tmp_path / "curated")
    committer = ParquetDataCommitter(out, snapshot_folder="v1")

    flow = (Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
            .open_file_parquet(f"{SF}/embeddings.parquet", "embeddings")
            .open_file_parquet(f"{SF}/documents.parquet", "documents")
            .transform("embeddings", output="verdicts",
                       fn=lambda df: semantic_dedup(df))
            .sql("documents", "verdicts",
                 output="kept_docs",
                 query="""
                   select d.doc_id, d.lang, v.cluster, v.centroid_sim
                   from documents d join verdicts v on d.doc_id = v.vec_id
                   where v.keep = 1
                 """)
            .commit("publish", "kept_docs")
            .push("publish", committer))
    flow.execute(ParallelDataFlowExecutor(max_jobs=4))

    committed = spark.read.parquet(f"{out}/kept_docs/v1")
    n_emb = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    verdicts = semantic_dedup(
        spark.read.parquet(f"{SF}/embeddings.parquet")).toPandas()
    assert len(verdicts) == n_emb
    n_kept = int(verdicts["keep"].sum())
    assert 0 < n_kept < n_emb  # tau actually drops something at sf0.001
    # committed rows = kept verdicts that have a matching document
    doc_ids = set(r["doc_id"] for r in spark.read.parquet(
        f"{SF}/documents.parquet").select("doc_id").collect())
    expect = {int(i) for i in verdicts[verdicts.keep == 1]["vec_id"]
              if int(i) in doc_ids}
    got = {r["doc_id"] for r in committed.select("doc_id").collect()}
    assert got == expect


def test_selection_pipeline_through_flow(spark, tmp_path):
    """The round-7 training-data operators as FLOW stages under the
    parallel executor: substring-dedup keep gate → DSIR selection against
    an in-corpus target, and (as a parallel branch) IVF-PQ neighbours over
    the embeddings — both committed through the staged-move committer and
    equal to the direct single-DataFrame compositions (each of which is
    DuckDB-lockstep-tested in its own suite)."""
    from waimak_spark.functions.curation import dsir_select
    from waimak_spark.functions.dedup import substring_ngram_dedup
    from waimak_spark.functions.similarity import ivf_pq_topk, pq_fit

    out = str(tmp_path / "selected")

    def keep_gate(df):
        verdicts = substring_ngram_dedup(df).where(F.col("keep") == 1)
        return df.join(verdicts.select("doc_id"), "doc_id")

    def select(df):
        return dsir_select(df, df.where("lang = 'en'"), k=100, seed=7)

    def neighbours(df):
        _, books = pq_fit(df)
        return ivf_pq_topk(df, books, [1, 7, 42], k=5)

    flow = (Waimak.spark_flow(spark, str(tmp_path / "flowtmp"))
            .open_file_parquet(f"{SF}/documents.parquet", "documents")
            .open_file_parquet(f"{SF}/embeddings.parquet", "embeddings")
            .transform("documents", output="kept", fn=keep_gate)
            .transform("kept", output="selected", fn=select)
            .transform("embeddings", output="neighbours", fn=neighbours)
            .commit("publish", "selected", "neighbours")
            .push("publish", ParquetDataCommitter(out, snapshot_folder="v1")))
    executed, final = flow.execute(ParallelDataFlowExecutor(max_jobs=4))
    assert not final.actions

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    expect_sel = select(keep_gate(docs))
    got_sel = spark.read.parquet(f"{out}/selected/v1")
    assert got_sel.count() == expect_sel.count() == 100
    assert got_sel.exceptAll(expect_sel).count() == 0

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    expect_nn = neighbours(emb)
    got_nn = spark.read.parquet(f"{out}/neighbours/v1")
    assert got_nn.count() == expect_nn.count() == 15
    assert got_nn.exceptAll(expect_nn).count() == 0
