"""Oracle-checked catalog surface for `AuditTableFile.snapshot_diff`
(VERDICT r10 #7): a dedicated CDC audit table whose batch 2 carries both
updates and genuinely new keys, diffed snapshot(CUTOFF) → latest, locked
against a DuckDB full-outer-join oracle every pytest run.
"""

import duckdb
import pytest

from waimak_spark.catalog.storage import (
    CDC_NEW_EVERY,
    SNAPSHOT_DIFF_ORACLE,
    UPDATE_EVERY,
    storage_snapshot_diff,
)

from test_catalog_oracle import normalise


@pytest.fixture(scope="module")
def duck():
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    con = duckdb.connect()
    con.execute(
        f"create view orders as select * from '{sf}/orders.parquet'")
    return con


class TestSnapshotDiffEntry:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir, duck):
        sdf = storage_snapshot_diff(spark, sf_dir)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
        res = duck.execute(SNAPSHOT_DIFF_ORACLE)
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
        assert sorted(spark_cols) == sorted(duck_cols)
        assert len(spark_rows) == len(duck_rows) > 0
        ns = normalise(spark_rows, spark_cols)
        nd = normalise(duck_rows, duck_cols)
        mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
        assert not mismatches, f"first mismatches {mismatches[:3]}"

    def test_change_types_cover_added_and_changed(self, spark, sf_dir):
        """Both forward change types occur with exactly derivable
        membership ('removed' is impossible in a forward diff over
        append-only history — the reversed direction is unit-tested in
        tests/test_storage.py): a key is PRESENT at CUTOFF iff it has a
        batch-1 record (k % CDC_NEW_EVERY != 0) dated <= CUTOFF, so
        'added' = every key without one (batch-2-only keys + batch-1
        keys dated later) and 'changed' = present keys that receive a
        batch-2 update (k % UPDATE_EVERY == 0)."""
        from waimak_spark.catalog.storage import CUTOFF

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        all_keys = {r[0] for r in orders.select("o_orderkey").collect()}
        early = {r[0] for r in orders.where(
            f"o_orderkey % {CDC_NEW_EVERY} != 0 "
            f"and cast(o_orderdate as timestamp) <= "
            f"timestamp'{CUTOFF}'").select("o_orderkey").collect()}
        expected_added = all_keys - early
        expected_changed = {k for k in early if k % UPDATE_EVERY == 0}

        rows = storage_snapshot_diff(spark, sf_dir).collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r["change_type"], set()).add(r["o_orderkey"])
        assert set(by_type) == {"added", "changed"}
        assert by_type["added"] == expected_added
        assert by_type["changed"] == expected_changed
        # to-side values: every changed row shows the updated status
        statuses = {r["o_orderstatus"] for r in rows
                    if r["change_type"] == "changed"}
        assert statuses == {"U"}

    def test_plan_full_outer_pk_join_no_scale_killers(self, spark,
                                                      sf_dir):
        """100 TB posture: one PK-keyed full-outer SortMergeJoin, no
        cartesian/broadcast-nested-loop, no row-at-a-time Python."""
        df = storage_snapshot_diff(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FullOuter" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan
