"""Physical-plan shape assertions — the 100-TB posture, regression-locked:
filters reach the parquet scan, small dimensions broadcast, partition
columns prune directories, and nothing degenerates into a cartesian or
broadcast-nested-loop join."""

import pytest

from waimak_spark.catalog import ALL_ENTRIES, RETIRED_ENTRIES


def build_entry(name, spark, sf_dir):
    # retired entries keep their plan locks alongside
    # their DuckDB lockstep — retirement frees a driver-window slot, it
    # never drops verification
    entry = ALL_ENTRIES.get(name) or RETIRED_ENTRIES[name]
    return entry["fn"](spark, sf_dir)


def plan_of(name, spark, sf_dir) -> str:
    df = build_entry(name, spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


NEVER_ACCEPTABLE = ("CartesianProduct", "BroadcastNestedLoopJoin")

# every catalog entry must avoid the two scale-killer join strategies,
# except deliberate broadcasts of provably-tiny sides:
# - ann_brute_force_topk crosses the corpus with a ≤10-row query set
# - tfidf_top_terms crosses with the ONE-row corpus-count aggregate (the
#   idf denominator), same in-plan pattern
# - q22_wealthy_inactive crosses with the ONE-row global-average aggregate
#   (the scalar subquery expressed as an in-plan broadcast, no collect)
# - ann_ivf_recall composes ann_brute_force_topk, inheriting its
#   whitelisted <=10-row broadcast cross
# - unigram_logprob crosses with the ONE-row totals aggregate (corpus
#   token count + vocab size — the smoothing denominator, in-plan)
# - bigram_logprob crosses with the same ONE-row totals aggregate (the
#   interpolated mixture's smoothing denominator)
# - lang_mixture_weights crosses with the ONE-row totals aggregate
#   (corpus doc count + sum of sqrt weights — the mixture normalizer)
# - q11_important_parts crosses with the ONE-row global-value aggregate
#   (the HAVING-vs-global threshold; the > residual can't hash-join)
# Only catalog entries are swept here: retired entries keep their DuckDB
# lockstep (tests/test_retired_entries.py), and the hybrid_search_rrf
# extra locks its BNLJ count in tests/test_hybrid_rrf.py.
CROSS_OK = {"ann_brute_force_topk",
            "tfidf_top_terms", "q22_wealthy_inactive", "ann_ivf_recall",
            "unigram_logprob", "bigram_logprob", "lang_mixture_weights",
            "q11_important_parts"}


def test_cross_waivers_name_catalog_entries():
    # a waiver for a name the sweep never builds is dead weight
    assert CROSS_OK <= set(ALL_ENTRIES), CROSS_OK - set(ALL_ENTRIES)


@pytest.mark.parametrize("name", sorted(ALL_ENTRIES))
def test_no_catastrophic_joins_or_row_udfs(name, spark, sf_dir):
    # one plan build per entry covers all three locks (plan_of EXECUTES
    # the streaming entries, so building plans twice would double suite
    # time): no scale-killer join strategies, no row-at-a-time Python
    # UDFs (BatchEvalPython serializes per row — the 10-100x slow path;
    # Arrow-batched nodes like ArrowEvalPython / MapInPandas remain the
    # sanctioned Python escape hatch), and SCALAR output columns only —
    # the external driver's canonicalizer pandas-sorts result rows, and
    # an array/map/struct column crashes it (unhashable type).
    df = build_entry(name, spark, sf_dir)
    from pyspark.sql.types import AtomicType

    non_scalar = [f.name for f in df.schema.fields
                  if not isinstance(f.dataType, AtomicType)]
    assert not non_scalar, (
        f"{name}: non-scalar output columns {non_scalar} would crash the "
        f"driver's row canonicalizer")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time UDF"
    if name in CROSS_OK:
        return
    for bad in NEVER_ACCEPTABLE:
        assert bad not in plan, f"{name}: {bad} in physical plan"


class TestScanEfficiency:
    def test_filter_pushed_to_scan(self, spark, sf_dir):
        # q6 filters on shipdate/discount/quantity — they must reach the
        # parquet reader, not sit in a post-scan Filter only
        plan = plan_of("q6_revenue_delta", spark, sf_dir)
        assert "PushedFilters: [" in plan
        assert "IsNotNull" in plan.split("PushedFilters")[1][:400]

    def test_column_pruning(self, spark, sf_dir):
        # part_feature_projection selects 3 of 9 part columns — ReadSchema
        # must not include untouched wide columns
        plan = plan_of("part_feature_projection", spark, sf_dir)
        read_schema = plan.split("ReadSchema")[1][:300]
        assert "p_comment" not in read_schema

    def test_dimension_joins_broadcast(self, spark, sf_dir):
        plan = plan_of("q5_region_revenue", spark, sf_dir)
        assert "BroadcastHashJoin" in plan

    @pytest.mark.parametrize("name", ["storage_all_between",
                                      "storage_snapshot_dedup"])
    def test_storage_reads_prune_partitions(self, name, spark, sf_dir):
        # BOTH §2.6 read kernels (allBetween + snapshot) must filter on the
        # de_store_type/de_store_region partition columns → directory-level
        # pruning at the scan: the Hive-layout pruning that makes the
        # storage layer viable at 100 TB (VERDICT r3 item 6). The filters
        # must be in PartitionFilters (pruned before IO), not the
        # post-scan Filter node.
        plan = plan_of(name, spark, sf_dir)
        assert "PartitionFilters" in plan, f"{name}: no partition pruning"
        pf = plan.split("PartitionFilters")[1][:400]
        assert "de_store_region" in pf, f"{name}: region not pruned"
        assert "de_store_type" in pf, f"{name}: store type not pruned"

    def test_asof_join_is_window_not_nested_loop(self, spark, sf_dir):
        plan = plan_of("asof_quote_per_trade", spark, sf_dir)
        assert "Window" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_range_join_is_equi_join(self, spark, sf_dir):
        # the bucketed formulation must produce a hash join on the bucket,
        # not a nested-loop over the inequality
        plan = plan_of("range_join_shipments", spark, sf_dir)
        assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) \
            or ("ShuffledHashJoin" in plan)

    def test_ivf_probe_is_broadcast(self, spark, sf_dir):
        plan = plan_of("ann_ivf_topk", spark, sf_dir)
        assert "BroadcastHashJoin" in plan

    def test_stored_ivf_probe_prunes_buckets_no_corpus_exchange(
            self, spark, sf_dir):
        """Build-once/probe-many contract: the probe against the stored
        bucketed index must (a) scan only the probed BUCKETS (the
        collected cell list reaches the file scan as bucket pruning),
        (b) never shuffle the corpus side — the only hash Exchange in
        the whole plan is the final per-query rank window over the tiny
        candidate set, and (c) broadcast the query side."""
        plan = plan_of("ann_ivf_probe_stored", spark, sf_dir)
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan, "bucket pruning lost"
        n_sel = plan.split("SelectedBucketsCount: ")[1]
        probed, total = n_sel.split("\n")[0].split(" out of ")
        assert int(probed) < int(total.strip().rstrip(")")), \
            "probe scanned every bucket"
        assert "BroadcastHashJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


class TestCurationPlans:
    MAP_ONLY = ["sample_stratified", "split_leakage_safe",
                "pii_redaction", "repetition_metrics"]

    @pytest.mark.parametrize("name", MAP_ONLY)
    def test_map_only_no_shuffle(self, name, spark, sf_dir):
        # sampling/splitting/redaction/quality are narrow projections —
        # any Exchange here would be a 100-TB scale bug
        plan = plan_of(name, spark, sf_dir)
        assert "Exchange" not in plan, f"{name}: unexpected shuffle"

    def test_corpus_dedup_is_hash_anti_join(self, spark, sf_dir):
        # a retired entry, but the anti-join shape lock stays — the
        # kernel is still the exact 100 TB product path
        from waimak_spark.catalog import RETIRED_ENTRIES

        df = RETIRED_ENTRIES["dedup_against_corpus"]["fn"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_centroids_no_explode_single_shuffle(self, spark, sf_dir):
        # fixed-dim centroid must be 64 avg aggregates (partial agg, one
        # exchange on label), never a posexplode (64x shuffle volume)
        plan = plan_of("embedding_centroids", spark, sf_dir)
        assert "Generate" not in plan, "explode leaked into centroid plan"
        assert plan.count("Exchange") <= 2  # agg shuffle (+AQE read)
        assert "HashAggregate" in plan

    def test_kmeans_assignment_arrow_no_explode(self, spark, sf_dir):
        # the final labeling pass: Arrow-batched argmin kernel (never a
        # per-row Python UDF), explode-free (the centroid update inside
        # the rounds is the same 64-avg shape as embedding_centroids)
        plan = plan_of("embedding_kmeans", spark, sf_dir)
        assert "Generate" not in plan, "explode leaked into kmeans plan"
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan

    def test_lang_mixture_single_small_shuffle(self, spark, sf_dir):
        # one groupBy on the language key (lang-cardinality output); the
        # totals join must be a broadcast of the 1-row aggregate
        plan = plan_of("lang_mixture_weights", spark, sf_dir)
        assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan
        assert "SortMergeJoin" not in plan




class TestResolvePlans:
    def _spy_paths(self, monkeypatch):
        import waimak_spark.functions.similarity as S

        calls = []
        real_local, real_loop = S._fixpoint_local, S._fixpoint_loop
        monkeypatch.setattr(
            S, "_fixpoint_local",
            lambda *a, **k: (calls.append("local"), real_local(*a, **k))[1])
        monkeypatch.setattr(
            S, "_fixpoint_loop",
            lambda *a, **k: (calls.append("loop"), real_loop(*a, **k))[1])
        return calls

    def test_hybrid_routes_local_at_gate_scale(self, spark, sf_dir,
                                               monkeypatch):
        """At gate scale the resolve entries take the driver-side
        union-find path (edge subgraph far under the 200k-row
        threshold), and the tiny label table is BROADCAST back onto the
        corpus — a sort-merge join here would shuffle the corpus for a
        3 MB-bounded label set."""
        calls = self._spy_paths(monkeypatch)
        plan = plan_of("dedup_simhash_resolve", spark, sf_dir)
        assert calls == ["local"]
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_loop_witness_entry_stays_distributed(self, spark, sf_dir,
                                                  monkeypatch):
        """dedup_minhash_verified_resolve pins local_max_edges=0 so the
        official correctness gate keeps exercising the distributed
        min-label loop every round."""
        calls = self._spy_paths(monkeypatch)
        plan_of("dedup_minhash_verified_resolve", spark, sf_dir)
        assert calls == ["loop"]


class TestSemanticDedupPlan:
    def test_single_cluster_exchange_no_pair_rows(self, spark, sf_dir):
        """dedup_semantic_kmeans' verdict plan must be: persisted (id,v)
        base -> Arrow-batched cluster assignment -> ONE Exchange on the
        cluster key -> FlatMapGroupsInPandas.  No join, no Generate —
        the intra-cluster pair work happens inside the grouped kernel,
        so zero O(n^2/k) pair rows ever hit a shuffle (the self-join
        formulation measured 2x slower at sf0.1 and shuffles pair rows
        of full vectors)."""
        plan = plan_of("dedup_semantic_kmeans", spark, sf_dir)
        assert "FlatMapGroupsInPandas" in plan
        assert "ArrowEvalPython" in plan
        assert plan.count("Exchange") == 1, plan
        assert "SortMergeJoin" not in plan
        assert "Generate" not in plan


class TestDynamicPartitionPruning:
    def test_partitioned_fact_scan_gets_dynamic_filter(self, spark,
                                                       sf_dir, tmp_path):
        """The 100 TB star-join contract our partitioned writes enable:
        a fact table written partitionBy(key) joined to a FILTERED
        dimension must get a dynamicpruning subquery in the fact scan's
        PartitionFilters — Spark reads only the partitions the filtered
        dim selects, without the user naming them.  Locks both the conf
        default and that our written layout is DPP-eligible."""
        import pyspark.sql.functions as F

        fact_dir = str(tmp_path / "fact_by_type")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (ev.select("event_id", "user_id", "value", "event_type")
         .write.partitionBy("event_type").parquet(fact_dir))
        fact = spark.read.parquet(fact_dir)
        dim = (ev.select("event_type").distinct()
               .withColumn("is_hot", F.length("event_type") >= 0)
               .where(F.col("event_type").startswith("c")))
        joined = fact.join(dim, "event_type").groupBy("event_type").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), (
            "no dynamic partition pruning on the partitioned fact scan")
