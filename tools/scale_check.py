"""Reproduces the PARITY.md "Measured scaling" table.

Builds a 10x perturbed replica of the sf0.1 documents/embeddings/events
tables under /tmp/scale10 (ids offset; text gets a per-copy suffix token
and vectors a 1e-4 shift so replicas are near-dups, keeping the dedup
candidate distribution realistic instead of pathological), then times
each listed catalog operator warmed and cache-isolated at 1x and 10x on
the same cores. Ideal linear scaling = ratio 10; candidate generators
should come in well under despite the replicated corpus inflating the
true pair count by ~1000x.

Usage: python tools/scale_check.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/scale10"

# Every catalog entry that reads documents / embeddings (the two replica
# tables).  The entries NOT listed here are the storage/rdbm/dq
# (tmp-audit-table builds) and multimodal (synthesized payload) groups —
# the replica does not cover their inputs, so including them would
# re-measure 1x twice and report a fake 1.0 ratio.
DOC_QUERIES = [
    "dedup_exact", "dedup_substring_ngram", "dedup_lsh_candidates",
    "dedup_simhash", "dedup_simhash_near_dups", "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_fixpoint", "ann_brute_force_topk",
    "ann_ivf_topk", "ann_ivf_recall", "embedding_centroids",
    "text_quality", "lang_id", "token_counts", "repetition_metrics",
    "doc_fingerprint", "sample_stratified", "pii_redaction",
    "split_leakage_safe", "source_rollup", "sample_quota_per_stratum",
    "curation_pipeline",
    "dedup_against_corpus", "dedup_near_against_corpus",
    "decontaminate_against_benchmark",
    "tfidf_top_terms", "corpus_vocabulary",
    # round-4 resolution entries: output stays LINEAR (one row per doc)
    # even where the corresponding pair listings go quadratic
    "dedup_minhash_resolve", "dedup_simhash_resolve",
    "dedup_minhash_verified", "dedup_minhash_verified_resolve",
    # round-4 layout/sampling/decontamination entries
    "pack_sequences", "sample_weighted", "decontaminate_near",
    # round-5 entries
    "embedding_kmeans", "unigram_logprob", "lang_mixture_weights",
    # the stored IVF-PQ probe is measured below via the build/probe split
    "embedding_quantize_int8", "ann_ivf_pq_probe_stored",
    "embedding_cluster_exemplars", "sample_lang_balanced",
    # round-6 entries
    "ann_ivf_probe_stored", "bigram_logprob", "contamination_overlap",
    "chunk_overlapping_windows", "dedup_semantic_kmeans",
    # round-9 entries
    "dsir_select",
]
EVENT_QUERIES = [
    "latest_event_per_user_type", "tumbling_window_counts",
    "sessions_per_user", "running_value_per_user", "approx_event_stats",
    "skew_count_distinct", "skew_salted_join", "event_funnel",
]
# VERDICT r3 item 7: the streaming entries' per-micro-batch overhead must
# be quantified at 10x too — state-store commits scale with partitions x
# batches, not rows, so their ratio shows how much of the cost is fixed
STREAMING_QUERIES = [
    "streaming_tumbling_counts", "streaming_session_counts",
    "streaming_dedup_pairs", "streaming_trade_quote_join",
]
# Round 5: the TPC-H fact/dimension tables are replicated too (join keys
# offset consistently per copy; nation/region stay as shared dimensions),
# so the relational groups get honest 10x rows instead of being excluded.
RELATIONAL_QUERIES = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
    "q6_revenue_delta", "top3_orders_per_customer", "rollup_quantity",
    "pivot_status_quantity", "customers_without_orders",
    "part_feature_projection", "q4_priority_exists", "q7_nation_volume",
    "q9_profit_by_nation", "q10_returned_revenue", "q13_order_distribution",
    "q14_promo_share", "q17_small_quantity", "q18_large_volume",
    "q22_wealthy_inactive", "status_custkey_setops", "order_window_stats",
    "q2_min_cost_supplier", "q8_market_share", "q11_important_parts",
    "q12_late_priority", "q15_top_supplier", "q16_supplier_count",
    "q19_disjunctive_revenue", "q20_heavy_suppliers",
    "q21_waiting_suppliers",
    "asof_quote_per_trade", "range_join_shipments",
    "grouping_sets_quantity",
]
# Non-catalog operators (waimak_spark.catalog.EXTRA_ENTRIES) are measured
# too; every name resolves through catalog.entry_fn, lazily in main() to
# keep module import light.
# Rows whose one-shot 10x timing has swung 2-4x between laps on this
# co-tenanted host (VERDICT r7 #6): the table carries a second [warm]
# min-of-3 row so the headline number is not the scariest outlier.
VOLATILE = {"dedup_ngram_jaccard", "dedup_minhash_verified_resolve"}
WARM_LAPS = 3


def build_replica() -> None:
    import duckdb

    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
    copy (
      select doc_id + i * 1000000 as doc_id,
             text || ' rep' || i::varchar as text,
             lang, source, n_chars
      from '{BASE}/documents.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/documents.parquet' (format parquet)
    """)
    con.execute(f"""
    copy (
      select vec_id + i * 1000000 as vec_id,
             list_transform(embedding, x -> x + i * 1e-4)::FLOAT[] as embedding,
             label
      from '{BASE}/embeddings.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/embeddings.parquet' (format parquet)
    """)
    # events: copy ts through UNCHANGED (timestamp[us], like the base) so
    # the 1x and 10x runs pay the identical decode/normalization path —
    # a bigint replica would skip the timestampdiff normalization at 10x
    # and bias the measured ratios low
    con.execute(f"""
    copy (
      select event_id + i * 10000000 as event_id,
             ts,
             user_id + i * 1000 as user_id, event_type, value, props
      from '{BASE}/events.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/events.parquet' (format parquet)
    """)
    # TPC-H fact/dim replicas: per-copy key offsets keep every join's
    # fan-out identical to the base (order i joins only copy-i lineitems,
    # etc.); nation/region stay shared dimensions (copied 1x) — at a real
    # 10x the 25-row nation table doesn't grow either.
    offsets = {}
    for tbl, key in (("orders", "o_orderkey"), ("customer", "c_custkey"),
                     ("part", "p_partkey"), ("supplier", "s_suppkey")):
        offsets[tbl] = con.execute(
            f"select max({key}) + 1 from '{BASE}/{tbl}.parquet'"
        ).fetchone()[0]
    oko, ck = offsets["orders"], offsets["customer"]
    pk, sk = offsets["part"], offsets["supplier"]
    con.execute(f"""
    copy (
      select o_orderkey + i * {oko} as o_orderkey,
             o_custkey + i * {ck} as o_custkey,
             o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      from '{BASE}/orders.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/orders.parquet' (format parquet)
    """)
    con.execute(f"""
    copy (
      select l_orderkey + i * {oko} as l_orderkey,
             l_partkey + i * {pk} as l_partkey,
             l_suppkey + i * {sk} as l_suppkey,
             l_linenumber, l_quantity, l_extendedprice, l_discount,
             l_tax, l_returnflag, l_linestatus, l_shipdate
      from '{BASE}/lineitem.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/lineitem.parquet' (format parquet)
    """)
    con.execute(f"""
    copy (
      select c_custkey + i * {ck} as c_custkey, c_name, c_nationkey,
             c_acctbal, c_mktsegment
      from '{BASE}/customer.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/customer.parquet' (format parquet)
    """)
    con.execute(f"""
    copy (
      select p_partkey + i * {pk} as p_partkey, p_name, p_brand, p_type,
             p_size, p_retailprice
      from '{BASE}/part.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/part.parquet' (format parquet)
    """)
    con.execute(f"""
    copy (
      select s_suppkey + i * {sk} as s_suppkey, s_name, s_nationkey,
             s_acctbal
      from '{BASE}/supplier.parquet', generate_series(0, 9) g(i)
    ) to '{OUT}/supplier.parquet' (format parquet)
    """)
    for dim in ("nation", "region"):
        con.execute(f"""
        copy (select * from '{BASE}/{dim}.parquet')
        to '{OUT}/{dim}.parquet' (format parquet)
        """)


def main() -> None:
    from pyspark.sql import SparkSession

    from waimak_spark.catalog import EXTRA_ENTRIES, entry_fn
    from waimak_spark.functions.cache_registry import release_tracked

    # validate the subset BEFORE the expensive replica build + JVM start
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    names = ([n.strip() for n in subset.split(",") if n.strip()] if subset
             else (DOC_QUERIES + EVENT_QUERIES + STREAMING_QUERIES
                   + RELATIONAL_QUERIES + list(EXTRA_ENTRIES)))
    unknown = []
    for name in names:
        try:
            entry_fn(name)
        except KeyError:
            unknown.append(name)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")

    build_replica()
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> tuple[float, int]:
        release_tracked()
        spark.catalog.clearCache()
        # same GC hygiene as bench.py: collect OUTSIDE the timed window so
        # pauses from the replicated corpus's churn don't land in a timing
        spark._jvm.System.gc()
        fn = entry_fn(name)
        t0 = time.time()
        df = fn(spark, sf_dir)
        # noop-force like bench.py, NOT count(): count() lets Catalyst
        # prune every computed column, so a map-only operator (quality
        # metrics, signatures, fingerprints) would be "measured" as a bare
        # input-scan count — the round-3 table understated exactly those
        # rows this way. The row count comes from a separate (cached-
        # input-free but cheap) count so the table still shows output size.
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        n = df.count()
        return dt, n

    print(f"{'query':34} {'1x(s)':>7} {'10x(s)':>7} {'ratio':>6}  rows 1x/10x")
    for name in names:
        if name in ("ann_ivf_probe_stored", "ann_ivf_pq_probe_stored",
                    "ivf_probe_appended", "dedup_lsh_probe_stored",
                    "bm25_probe_stored"):
            # VERDICT r6 #3: one conflated row mixed the ONE-TIME index
            # build (fingerprint miss on the replica) with the amortized
            # probe — the operator's whole point is build-once/probe-
            # many.  Report the split: [build] = drop index, cold run
            # (build + first probe); [probe] = stored index present.
            # For the append demo, [build] = initial build + batch
            # append + first probe.
            from waimak_spark.catalog.curation import drop_lsh_index
            from waimak_spark.catalog.similarity import (
                drop_ivf_append_index,
                drop_ivf_index,
                drop_ivf_pq_index,
            )
            from waimak_spark.catalog.text import drop_bm25_index

            drop = {"ann_ivf_pq_probe_stored": drop_ivf_pq_index,
                    "ivf_probe_appended": drop_ivf_append_index,
                    "dedup_lsh_probe_stored": drop_lsh_index,
                    "ann_ivf_probe_stored": drop_ivf_index,
                    "bm25_probe_stored": drop_bm25_index}[name]
            rows = {}
            for scale, d in (("1x", BASE), ("10x", OUT)):
                run(name, d)  # JIT/scan warmup; leaves an index built
                drop(spark, d)
                rows["build", scale] = run(name, d)
                rows["probe", scale] = run(name, d)
            for kind in ("build", "probe"):
                (t1, n1), (t10, n10) = rows[kind, "1x"], rows[kind, "10x"]
                print(f"{name + '[' + kind + ']':34} {t1:7.2f} {t10:7.2f}"
                      f" {t10 / t1:6.1f}  {n1}/{n10}")
            continue
        run(name, BASE)  # JIT/scan warmup
        t1, n1 = run(name, BASE)
        t10, n10 = run(name, OUT)
        print(f"{name:34} {t1:7.2f} {t10:7.2f} {t10 / t1:6.1f}  {n1}/{n10}")
        if name in VOLATILE:
            # VERDICT r7 #6: the one-shot 10x number on these rows has
            # swung 2-4x with co-tenant load; publish the warmed min in
            # the table itself, not just the caveat prose
            w1 = min(run(name, BASE)[0] for _ in range(WARM_LAPS))
            w10 = min(run(name, OUT)[0] for _ in range(WARM_LAPS))
            print(f"{name + '[warm-min' + str(WARM_LAPS) + ']':34}"
                  f" {w1:7.2f} {w10:7.2f} {w10 / w1:6.1f}  {n1}/{n10}")


if __name__ == "__main__":
    main()
