"""Data-quality catalog entry: a REAL metrics-repository round trip whose
trend rows are oracle-checkable in plain SQL.

The build runs the composable-check machinery twice over ``orders`` —
run 1 on a deterministic subset (every third order withheld), run 2 on the
full table — persisting each run's metrics (size, mean price) to a
:class:`StorageLayerMetricsRepository` (an audit table on disk, staged
writes + partition-pruned reads).  ``dq_metrics_trend`` then answers the
trend question the repository exists for: per metric, the previous value,
the current value, and the delta (the same comparison the anomaly
strategies make; StorageLayerMetricsRepository.scala:20-48,
TestStorageLayerMetricsRepository.scala's two-run scenario).

The oracle recomputes both runs' aggregates straight from ``orders`` and
reconstructs the lag in ANSI SQL, so a hash match certifies the whole
path: the one-pass check aggregation, metric persistence through the
storage layer, history reads, and the trend window."""

from __future__ import annotations

import shutil
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_BUILD_MARKER = "_BUILD_OK"
_BUILD_VERSION = "v1"
WITHHOLD_EVERY = 3  # run 1 withholds every third order
T1 = datetime(2019, 7, 31, 12, 0, 0)
T2 = datetime(2019, 8, 1, 12, 0, 0)


def _base_dir(sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return f"/tmp/waimak_catalog_dq/{tag}"


def _build_metrics(spark: SparkSession, sf_dir: str):
    """Run the check machinery twice (once per 'day') and persist metrics;
    build-once behind a versioned marker so bench laps and repeated driver
    calls never append duplicate history."""
    from ..dataquality import (Check, CheckLevel, ComposableCheck,
                               StorageLayerMetricsRepository)
    from ..storage import FileStorageOps

    base = _base_dir(sf_dir)
    ops = FileStorageOps(spark, base)
    marker = f"{base}/{_BUILD_MARKER}"

    def _marker_current() -> bool:
        try:
            return (ops.fops.exists(marker)
                    and ops.fops.read_string(marker).strip() == _BUILD_VERSION)
        except Exception:
            return False

    repo = StorageLayerMetricsRepository(spark, base)
    if not _marker_current():
        shutil.rmtree(base, ignore_errors=True)
        repo = StorageLayerMetricsRepository(spark, base)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        run1 = orders.where(F.col("o_orderkey") % WITHHOLD_EVERY != 0)
        for df, ts in ((run1, T1), (orders, T2)):
            check = ComposableCheck(
                [Check(CheckLevel.WARNING, "orders basics")
                 .has_size(lambda n: n >= 0)
                 .has_mean("o_totalprice", lambda v: v is not None)],
                repository=repo, dataset_ts=ts)
            check.get_alerts("orders", df)  # evaluates AND persists
        ops.fops.write_string(marker, _BUILD_VERSION)
    return repo


def dq_metrics_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    repo = _build_metrics(spark, sf_dir)
    hist = repo.load().where(F.col("label") == "orders")
    w = Window.partitionBy("metric_name").orderBy("dataset_ts")
    return (hist
            .withColumn("prev", F.lag("metric_value").over(w))
            .where(F.col("prev").isNotNull())
            .select(
                "metric_name",
                F.round("prev", 4).alias("prev_value"),
                F.round("metric_value", 4).alias("value"),
                F.round(F.col("metric_value") - F.col("prev"), 4)
                .alias("delta")))


TREND_ORACLE = f"""
    with m as (
        select 'size' as metric_name, 1 as run,
               cast(count(*) as double) as v
        from orders where o_orderkey % {WITHHOLD_EVERY} <> 0
        union all
        select 'mean(o_totalprice)', 1, avg(o_totalprice)
        from orders where o_orderkey % {WITHHOLD_EVERY} <> 0
        union all
        select 'size', 2, cast(count(*) as double) from orders
        union all
        select 'mean(o_totalprice)', 2, avg(o_totalprice) from orders
    ), lagged as (
        select metric_name, v,
               lag(v) over (partition by metric_name order by run) as prev
        from m
    )
    select metric_name, round(prev, 4) as prev_value, round(v, 4) as value,
           round(v - prev, 4) as delta
    from lagged where prev is not null
"""

# ---------------------------------------------------------------------------
# window-based anomaly detection over a multi-run history
# (BatchNormalStrategy's mean ± k·stddev comparison, SQL-expressible)
# ---------------------------------------------------------------------------
#
# Six runs are persisted through the ComposableCheck machinery with a
# BatchNormalStrategy anomaly check attached (so the window strategy code
# path executes during the build): runs 0-4 are near-identical slices of
# ``orders`` (o_orderkey % 1000 < 500+i — stable size, stable mean), run 5
# is the full table (~2× size jump).  The entry then answers, per metric
# and run, the question the strategy asks: value vs mean ± 3·stddev of the
# up-to-3 previous runs.  The oracle reconstructs all six runs straight
# from ``orders`` and applies the identical window arithmetic.

_WIN_MARKER_VERSION = "v1"
_WIN_RUNS = 6
_WIN_T0 = datetime(2019, 7, 1, 12, 0, 0)


def _win_predicate(i: int):
    if i == _WIN_RUNS - 1:
        return F.lit(True)
    return F.col("o_orderkey") % 1000 < 500 + i


def _build_window_metrics(spark: SparkSession, sf_dir: str):
    from datetime import timedelta

    from ..dataquality import (AnomalyCheck, BatchNormalStrategy, Check,
                               CheckLevel, ComposableCheck,
                               StorageLayerMetricsRepository, size_metric)
    from ..storage import FileStorageOps

    base = _base_dir(sf_dir) + "_window"
    ops = FileStorageOps(spark, base)
    marker = f"{base}/{_BUILD_MARKER}"

    def _marker_current() -> bool:
        try:
            return (ops.fops.exists(marker)
                    and ops.fops.read_string(marker).strip()
                    == _WIN_MARKER_VERSION)
        except Exception:
            return False

    repo = StorageLayerMetricsRepository(spark, base)
    if not _marker_current():
        shutil.rmtree(base, ignore_errors=True)
        repo = StorageLayerMetricsRepository(spark, base)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        size_name, size_agg = size_metric()
        strat = BatchNormalStrategy(window_size=4, min_history=3)
        for i in range(_WIN_RUNS):
            check = ComposableCheck(
                [Check(CheckLevel.WARNING, "orders window basics")
                 .has_mean("o_totalprice", lambda v: v is not None)],
                [AnomalyCheck(size_name, size_agg, strat,
                              CheckLevel.WARNING)],
                repository=repo,
                dataset_ts=_WIN_T0 + timedelta(days=i))
            check.get_alerts("orders", orders.where(_win_predicate(i)))
        ops.fops.write_string(marker, _WIN_MARKER_VERSION)
    return repo


def dq_window_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    repo = _build_window_metrics(spark, sf_dir)
    hist = repo.load().where(F.col("label") == "orders")
    order_w = Window.partitionBy("metric_name").orderBy("dataset_ts")
    frame = (Window.partitionBy("metric_name").orderBy("dataset_ts")
             .rowsBetween(-3, -1))
    n_prev = F.count("metric_value").over(frame)
    win_mean = F.avg("metric_value").over(frame)
    win_std = F.stddev_samp("metric_value").over(frame)
    # engine-parity recipe (round-6 float audit): the 3σ gate compares
    # ROUNDED quantities — the windowed mean/std derive from per-run
    # float aggregates whose accumulation order differs between engines,
    # so an unrounded comparison could flip for a value within a few ulp
    # of the band edge.  Same 4dp rounding as the emitted columns.
    v4 = F.round("metric_value", 4)
    m4, s4 = F.round(win_mean, 4), F.round(win_std, 4)
    hi, lo = F.round(m4 + 3 * s4, 4), F.round(m4 - 3 * s4, 4)
    is_anom = (n_prev >= 3) & ((v4 > hi) | (v4 < lo))
    return (hist
            .withColumn("run", F.row_number().over(order_w))
            .select(
                "metric_name", "run",
                v4.alias("value"),
                m4.alias("win_mean"),
                s4.alias("win_std"),
                is_anom.alias("is_anomaly")))


WINDOW_ORACLE = f"""
    with runs as (
        select i from generate_series(0, {_WIN_RUNS - 1}) g(i)
    ), m as (
        select 'size' as metric_name, r.i as run0,
               cast(count(*) as double) as v
        from orders o cross join runs r
        where r.i = {_WIN_RUNS - 1} or o.o_orderkey % 1000 < 500 + r.i
        group by r.i
        union all
        select 'mean(o_totalprice)', r.i, avg(o.o_totalprice)
        from orders o cross join runs r
        where r.i = {_WIN_RUNS - 1} or o.o_orderkey % 1000 < 500 + r.i
        group by r.i
    ), win as (
        select metric_name, run0 + 1 as run, v,
               count(v) over w as n_prev,
               avg(v) over w as win_mean,
               stddev_samp(v) over w as win_std
        from m
        window w as (partition by metric_name order by run0
                     rows between 3 preceding and 1 preceding)
    )
    select metric_name, run, round(v, 4) as value,
           round(win_mean, 4) as win_mean,
           round(win_std, 4) as win_std,
           (n_prev >= 3 and
            (round(v, 4) > round(round(win_mean, 4)
                                 + 3 * round(win_std, 4), 4)
             or round(v, 4) < round(round(win_mean, 4)
                                    - 3 * round(win_std, 4), 4)))
               as is_anomaly
    from win
"""

ENTRIES = {
    "dq_metrics_trend": {"fn": dq_metrics_trend, "oracle": TREND_ORACLE},
    "dq_window_anomaly": {"fn": dq_window_anomaly, "oracle": WINDOW_ORACLE},
}
