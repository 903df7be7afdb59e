"""Prefab data-quality checks — the four checks the reference ships via
Deequ (waimak-deequ/.../prefabchecks/*) plus a robust outlier rate, each
a :class:`~waimak_spark.dataquality.checks.ComposableCheck` of one
``Check`` per threshold that is set (``ERROR`` for critical, ``WARNING``
for warning):

* completeness — ``completeness(<col>)`` per column
  (CompletenessCheck.scala);
* uniqueness — fraction of (columns)-combinations occurring exactly once
  (Deequ ``hasUniqueness`` semantics, UniquenessCheck.scala);
* recent timestamp — count of rows with ``col >= now - N hours``
  (RecentTimestampCheck.scala);
* generic SQL — every row satisfies a boolean SQL condition
  (GenericSQLCheck.scala);
* outlier rate — fraction outside the median/MAD band, per group.

Completeness, recency and generic SQL metrics are Spark-SQL aggregate
strings, so they share the one ``selectExpr`` job with every other check
on the label; uniqueness and the outlier rate are frame functions that
run one pass each, whatever thresholds are set.  Zero rows pass every
fraction; only the recency check alerts on an empty label.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from functools import partial
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sql_text import _lit, _sql_name
from .checks import Check, CheckLevel, ComposableCheck


def _per_threshold(name: str, warning_threshold, critical_threshold,
                   build: Callable[[Check, float], Check]) -> ComposableCheck:
    """One Check per threshold that is set; ``build`` adds its
    constraints."""
    return ComposableCheck([
        build(Check(level, f"{name} ({level.name.lower()})"), threshold)
        for threshold, level in ((critical_threshold, CheckLevel.ERROR),
                                 (warning_threshold, CheckLevel.WARNING))
        if threshold is not None])


def completeness_check(columns: Sequence[str],
                       warning_threshold: Optional[float] = None,
                       critical_threshold: Optional[float] = None
                       ) -> ComposableCheck:
    """Alert when the non-null fraction of any column drops below the
    thresholds."""
    def build(check: Check, threshold: float) -> Check:
        for c in columns:
            check = check.has_completeness(
                c, lambda v, t=threshold: v >= t,
                lambda label, v, c=c, t=threshold: (
                    f"Less than {t * 100}% of {c} values were complete on "
                    f"label {label} (got {v * 100:.1f}%)."))
        return check

    return _per_threshold("completeness", warning_threshold,
                          critical_threshold, build)


def uniqueness_check(columns: Sequence[str],
                     warning_threshold: Optional[float] = 1.0,
                     critical_threshold: Optional[float] = None
                     ) -> ComposableCheck:
    """Deequ ``hasUniqueness``: fraction of column-combinations that occur
    exactly once; defaults to warning when not fully unique."""
    names = ",".join(columns)
    return _per_threshold(
        "uniqueness", warning_threshold, critical_threshold,
        lambda check, t: check.has_uniqueness(
            columns, lambda v: v >= t,
            lambda label, v: (f"{names} was not {t * 100}% unique on label "
                              f"{label} (got {v * 100:.1f}%).")))


def recent_timestamp_check(column: str, hours_to_look_back: int = 6,
                           alert_level: str = "warning",
                           now_override: Optional[datetime] = None
                           ) -> ComposableCheck:
    """Alert when no row's timestamp is within the look-back window —
    flags unexpectedly stale or empty data.  The window ends at Spark's
    ``current_timestamp()`` when the check runs, independent of the
    driver's time zone; ``now_override`` (a naive local datetime, like the
    rows Spark builds from Python datetimes) fixes its end instead, as
    the literal ``F.lit`` builds; one with no SQL literal form (a year
    outside 1901-9998) is a ``ValueError``."""
    if alert_level not in ("warning", "critical"):
        raise ValueError(
            f"Invalid alert level {alert_level} for recentTimestampCheck "
            f"on column {column}")
    cutoff = (_lit(now_override - timedelta(hours=hours_to_look_back))
              if now_override else f"current_timestamp() - INTERVAL "
              f"{int(hours_to_look_back)} HOURS")
    level = (CheckLevel.ERROR if alert_level == "critical"
             else CheckLevel.WARNING)
    return ComposableCheck([Check(level, "recent timestamp").add_constraint(
        f"recentRows({column}, {hours_to_look_back}h"
        f"{f', now={now_override.isoformat()}' if now_override else ''})",
        f"count(CASE WHEN {_sql_name(column)} >= {cutoff} THEN 1 END)",
        lambda n: n > 0,
        lambda label, _n: (f"No new data in the last {hours_to_look_back} "
                           f"hours on label {label}."))])


def generic_sql_check(warning_checks: Sequence[str] = (),
                      critical_checks: Sequence[str] = ()
                      ) -> ComposableCheck:
    """Every row must satisfy each boolean SQL condition (e.g.
    ``"my_column > 5"``)."""
    def build(check: Check, conditions: Sequence[str]) -> Check:
        for cond in conditions:
            check = check.satisfies(
                cond, cond, lambda v: v >= 1.0,
                lambda label, v, cond=cond: (
                    f"generic sql constraint [{cond}] failed on label "
                    f"{label} ({v * 100:.1f}% of rows satisfied)."))
        return check

    return _per_threshold("generic sql", list(warning_checks) or None,
                          list(critical_checks) or None, build)


def _outlier_rates(df: DataFrame, column: str, k: float,
                   group_col: Optional[str], method: str,
                   id_col: Optional[str], sketch_k: int) -> DataFrame:
    """(group_col?, outlier_rate): the fraction of ``column`` outside
    ``median ± k * 1.4826 * MAD``, one row per group (one row overall
    without ``group_col``)."""
    keys = [group_col] if group_col else []
    if method == "exact":
        # two exact full-sort percentiles
        med = (df.groupBy(*keys)
               .agg(F.expr(f"percentile({column}, 0.5)").alias("_med")))
        with_med = df.join(F.broadcast(med), keys) if keys \
            else df.crossJoin(F.broadcast(med))
        bounds = (with_med.groupBy(*keys)
                  .agg(F.expr(f"percentile(abs({column} - _med), 0.5)")
                       .alias("_mad"),
                       F.first("_med").alias("_med2")))
    else:
        # both percentiles over the bounded bottom-k sample: the only
        # full-data work is the sample's map pass + salted bounded top-k
        from ..functions.sketch import kmv_bottomk

        gcol = group_col if group_col else "_g_all"
        base = df if group_col else df.withColumn("_g_all", F.lit(0))
        samp = kmv_bottomk(base, value_col=column, group_col=gcol,
                           id_col=id_col, k=sketch_k)
        med = (samp.groupBy("g")
               .agg(F.expr("percentile(v, 0.5)").alias("_med")))
        bounds = (samp.join(F.broadcast(med), "g")
                  .groupBy("g")
                  .agg(F.expr("percentile(abs(v - _med), 0.5)")
                       .alias("_mad"),
                       F.first("_med").alias("_med2")))
        bounds = (bounds.withColumnRenamed("g", group_col) if group_col
                  else bounds.drop("g"))
    with_mad = df.join(F.broadcast(bounds), keys) if keys \
        else df.crossJoin(F.broadcast(bounds))
    lo = F.col("_med2") - k * 1.4826 * F.col("_mad")
    hi = F.col("_med2") + k * 1.4826 * F.col("_mad")
    return (with_mad.groupBy(*keys)
            .agg(F.avg(((F.col(column) < lo) | (F.col(column) > hi))
                       .cast("double")).alias("outlier_rate")))


def _outlier_rate_by_group(df: DataFrame, **params) -> dict:
    """{group (None without ``group_col``): outlier rate}; a group with
    no rated value reads 0.0."""
    group_col = params["group_col"]
    return {(r[group_col] if group_col else None): r["outlier_rate"] or 0.0
            for r in _outlier_rates(df, **params).collect()}


def _worst(rates: dict) -> tuple:
    """(group, rate) of the highest rate; ties go to the lowest group."""
    return min(rates.items(),
               key=lambda gr: (-gr[1], gr[0] is not None, gr[0]))


def outlier_rate_check(column: str,
                       warning_threshold: float = 0.05,
                       critical_threshold: Optional[float] = None,
                       k: float = 3.0,
                       group_col: Optional[str] = None,
                       method: str = "exact",
                       id_col: Optional[str] = None,
                       sketch_k: int = 256) -> ComposableCheck:
    """Robust outlier-rate check (beyond the reference's four prefabs):
    alert when the fraction of values outside ``median ± k * 1.4826 *
    MAD`` exceeds the thresholds — the classic robust z-score rule
    (Hampel; 1.4826 scales MAD to sigma under normality), immune to the
    outliers it measures, unlike a mean/stddev rule.  With ``group_col``
    the rule evaluates per group and the alert names the worst group
    (highest rate; ties to the lowest group).  The metric is a frame
    function returning ``{group: rate}``, computed once per evaluation
    whichever thresholds are set.

    ``method="exact"`` (default): one exact-median pass + one MAD pass +
    one rate pass over the (cached) label — each percentile is a full
    per-group sort.  Right for an already-cached DQ label at test scale.

    ``method="kmv"`` — **the 100 TB path**: median and MAD are estimated
    from the seeded KMV bottom-``sketch_k`` uniform row sample
    (:func:`waimak_spark.functions.sketch.kmv_bottomk` — bounded
    ``sketch_k``-row state per group, one map pass + salted bounded
    top-k, NO full sort), then one rate pass over the full data with the
    estimated bounds.  Requires ``id_col`` (a numeric row id whose
    seeded hash drives the sample).  Estimated quantiles carry the
    sketch's ``~2/sqrt(sketch_k)`` rank-error bound (DKW), so the
    resulting rate differs from the exact rule only by the mass within
    that rank band around the clip bounds — lockstep-bounded in
    tests/test_dataquality.py::TestOutlierRateCheck::
    test_kmv_method_tracks_exact."""
    if method not in ("exact", "kmv"):
        raise ValueError(f"method must be 'exact' or 'kmv', got {method!r}")
    if method == "kmv" and not id_col:
        raise ValueError("method='kmv' needs id_col — the KMV sample "
                         "selects rows by seeded hash of a numeric id")
    rates = partial(_outlier_rate_by_group, column=column, k=k,
                    group_col=group_col, method=method, id_col=id_col,
                    sketch_k=sketch_k)
    name = (f"outlierRate({column}, k={k}"
            f"{f', group={group_col}' if group_col else ''}"
            f"{f', kmv={sketch_k}' if method == 'kmv' else ''})")

    def message(label: str, rates: dict, t: float) -> str:
        group, rate = _worst(rates)
        where = f" (group {group})" if group_col else ""
        return (f"Outlier rate of {column} on label {label}{where} was "
                f"{rate * 100:.2f}% (> {t * 100}% at k={k}).")

    return _per_threshold(
        "outlier rate", warning_threshold, critical_threshold,
        lambda check, t: check.add_constraint(
            name, rates, lambda v: max(v.values(), default=0.0) <= t,
            partial(message, t=t)))
