"""Winsorized robust statistics (catalog/events.py): per-group values
clipped at the group's exact p01/p99.  Spark's ``percentile`` and
DuckDB's ``quantile_cont`` share the linear-interpolation quantile
definition, so the clip boundaries agree exactly — which is what
licenses the oracle.  The reference has no numeric-profiling surface;
this is the robust-scaling member of the DQ/profiling extension
family."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


class TestWinsorized:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.events import (
            WINSORIZED_ORACLE,
            events_value_winsorized,
        )

        got = [tuple(r) for r in
               events_value_winsorized(spark, sf_dir).collect()]
        con = duckdb.connect()
        con.execute(f"create view events as "
                    f"select * from '{sf_dir}/events.parquet'")
        want = [tuple(r) for r in
                con.execute(WINSORIZED_ORACLE).fetchall()]
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:4] == w[:4]
            for gv, wv in zip(g[4:], w[4:]):
                assert gv == pytest.approx(wv, abs=1e-3)
        # the clip must bite on real data (heavy-tailed values), and the
        # winsorized mean must move toward the body of the distribution
        assert all(g[2] + g[3] > 0 for g in got)
        assert all(g[7] != g[6] for g in got)

    def test_clip_behavior_on_crafted_group(self, spark):
        """100 values 1..99 + one huge outlier: p99 clips the outlier,
        p01 clips the minimum, counts land exactly where the quantile
        definition says."""
        from waimak_spark.catalog.events import events_value_winsorized

        rows = ([Row(event_id=i, user_id=1, event_type="t",
                     ts=i, value=float(i)) for i in range(1, 100)]
                + [Row(event_id=999, user_id=1, event_type="t",
                       ts=999, value=100000.0)])
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(rows).write.parquet(
                f"{d}/events.parquet")
            [r] = events_value_winsorized(spark, d).collect()
        assert r.n == 100
        assert r.n_clipped_low == 1   # the minimum sits below p01
        assert r.n_clipped_high == 1  # the outlier sits above p99
        # winsorization pulls the mean from outlier territory back into
        # the distribution's body
        assert r.mean_raw > 1000
        assert r.mean_winsorized < 100

    def test_null_values_excluded_from_stats_but_counted(self, spark):
        from waimak_spark.catalog.events import (
            WINSORIZED_ORACLE,
            events_value_winsorized,
        )
        import tempfile

        rows = ([Row(event_id=i, user_id=1, event_type="t",
                     ts=i, value=float(i)) for i in range(1, 21)]
                + [Row(event_id=99, user_id=1, event_type="t",
                       ts=99, value=None)])
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows, "event_id long, user_id long, event_type string,"
                " ts long, value double").write.parquet(
                f"{d}/events.parquet")
            [g] = events_value_winsorized(spark, d).collect()
            con = duckdb.connect()
            con.execute(f"create view events as select * from "
                        f"'{d}/events.parquet/*.parquet'")
            [w] = con.execute(WINSORIZED_ORACLE).fetchall()
        assert g.n == w[1] == 21  # count(*) includes the null row
        assert (g.n_clipped_low, g.n_clipped_high) == (w[2], w[3])
        assert g.mean_raw == pytest.approx(w[6], abs=1e-9)
        assert g.mean_winsorized == pytest.approx(w[7], abs=1e-9)


class TestWinsorizedPlan:
    def test_percentiles_broadcast_no_python(self, spark, sf_dir):
        """The 5-row percentile frame must broadcast back to the fact
        side (never shuffle the events for the clip join), and the
        whole entry stays JVM-side."""
        from waimak_spark.catalog.events import events_value_winsorized

        plan = (events_value_winsorized(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
