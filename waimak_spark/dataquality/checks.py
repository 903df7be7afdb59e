"""The data-quality check model: the reference's Deequ surface
(waimak-deequ/.../deequ/package.scala:30-99, DeequCheck.scala:23-95)
re-expressed natively, without the Deequ library.  The prefab checks
(``prefab.py``) and the conf-declared checks (``extension.py``) are built
from it too, so every built-in check merges with every other.

A :class:`Check` is a chainable list of constraints at one severity
level (``CheckLevel.ERROR`` → Critical alerts, ``CheckLevel.WARNING`` →
Warning, mirroring DeequCheck.getAlertImportance); a
:class:`ComposableCheck` bundles many Checks and anomaly checks into a
``DataQualityCheck`` that plugs into ``add_data_quality_check`` /
``DataQualityMetadataExtension``.

A metric is one of two kinds:

* a Spark-SQL aggregate string (size, completeness, min/max/mean/sum,
  satisfies and pattern fractions, approx distinct, a recency count):
  every one across ALL bundled checks is computed in ONE
  ``df.selectExpr`` job over the cached label;
* a frame function ``DataFrame -> value`` that runs its own pass (the
  grouped uniqueness fraction, the outlier rate's bounds-then-rate
  pass — the same two-phase shape Deequ uses).

Column names in the built-in metrics resolve as ``F.col`` resolves them
(``sql_text._sql_name``).  A metric is keyed by its description: each
distinct one is computed once per evaluation, and the metrics repository
stores it under that name.  Constraint assertions run driver-side on the
computed values.  An anomaly check hands its strategy the metric's stored
history, oldest first, read once per evaluation.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import partial
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sql_text import _sql_name, _sql_string
from .core import (
    AlertImportance,
    DataQualityAlert,
    DataQualityCheck,
    DataQualityAlertHandler,
    add_data_quality_check,
)


class CheckLevel(enum.Enum):
    ERROR = AlertImportance.CRITICAL
    WARNING = AlertImportance.WARNING


def _metric(metric):
    """``metric`` if it is an SQL aggregate string or a frame function."""
    if isinstance(metric, str) or callable(metric):
        return metric
    raise TypeError(
        f"a metric is a Spark-SQL aggregate string such as "
        f"\"avg(`price`)\" or a frame function DataFrame -> value, not "
        f"{type(metric).__name__}")


@dataclass(frozen=True)
class _Constraint:
    description: str
    #: Spark-SQL aggregate string, or a frame function DataFrame -> value
    metric: object
    assertion: Callable[[object], bool]
    #: (label, value) -> alert text; None gives the generic text
    message: Optional[Callable[[str, object], str]] = None


def _fraction(condition: str) -> str:
    """Fraction of rows where ``condition`` holds; 1.0 on zero rows."""
    return (f"coalesce(avg(CASE WHEN {condition} THEN 1.0D ELSE 0.0D END), "
            f"1.0D)")


#: Deequ analyzer name -> Spark SQL aggregate over one column
_COLUMN_AGGREGATES = {"min": "min", "max": "max", "mean": "avg", "sum": "sum",
                      "approxCountDistinct": "approx_count_distinct"}


def _column_metric(kind: str, column: str) -> "tuple[str, str]":
    """(name, aggregate) of the Deequ analyzer ``kind`` over ``column``,
    e.g. ``("mean(x)", "avg(`x`)")``."""
    aggregate = _COLUMN_AGGREGATES[kind]
    return f"{kind}({column})", f"{aggregate}({_sql_name(column)})"


def size_metric() -> "tuple[str, str]":
    """Deequ ``Size()``: (name, aggregate) for row count."""
    return "size", "count(1)"


def _uniqueness(columns: tuple[str, ...], df: DataFrame) -> float:
    """Fraction of rows whose (columns) combination occurs exactly once;
    1.0 on zero rows."""
    stats = (df.groupBy(*columns).count()
             .agg(F.count(F.when(F.col("count") == 1, 1)).alias("unique"),
                  F.sum("count").alias("rows")).collect()[0])
    return stats["unique"] / stats["rows"] if stats["rows"] else 1.0


class Check:
    """A chainable set of constraints evaluated at one severity level —
    the VerificationRunBuilder ``Check`` equivalent. All builders return
    a NEW Check (immutable chaining, like the reference's case class).

    Empty-label rule: zero rows pass every fraction constraint —
    completeness, satisfies, pattern and uniqueness all read 1.0 on an
    empty frame.  A size or recency constraint catches empty data."""

    def __init__(self, level: CheckLevel, description: str,
                 constraints: Sequence[_Constraint] = ()):
        self.level = level
        self.description = description
        self.constraints = list(constraints)

    def add_constraint(self, description: str, metric,
                       assertion: Callable,
                       message: Optional[Callable[[str, object], str]] = None
                       ) -> "Check":
        """Any constraint: ``metric`` is a Spark-SQL aggregate string or a
        frame function ``DataFrame -> value``; ``description`` names the
        metric; ``message(label, value)`` replaces the generic alert
        text."""
        return Check(self.level, self.description, self.constraints + [
            _Constraint(description, _metric(metric), assertion, message)])

    # -- constraint builders (Deequ Check.* equivalents) ----------------------
    def has_size(self, assertion: Callable[[int], bool]) -> "Check":
        return self.add_constraint(*size_metric(), assertion)

    def is_complete(self, column: str) -> "Check":
        return self.has_completeness(column, lambda v: v == 1.0)

    def has_completeness(self, column: str,
                         assertion: Callable[[float], bool],
                         message=None) -> "Check":
        return self.add_constraint(
            f"completeness({column})",
            _fraction(f"{_sql_name(column)} IS NOT NULL"),
            assertion, message)

    def has_min(self, column: str, assertion) -> "Check":
        return self.add_constraint(*_column_metric("min", column), assertion)

    def has_max(self, column: str, assertion) -> "Check":
        return self.add_constraint(*_column_metric("max", column), assertion)

    def has_mean(self, column: str, assertion) -> "Check":
        return self.add_constraint(*_column_metric("mean", column), assertion)

    def has_sum(self, column: str, assertion) -> "Check":
        return self.add_constraint(*_column_metric("sum", column), assertion)

    def has_approx_count_distinct(self, column: str, assertion) -> "Check":
        return self.add_constraint(
            *_column_metric("approxCountDistinct", column), assertion)

    def satisfies(self, predicate: str, name: str,
                  assertion: Callable[[float], bool] = lambda v: v == 1.0,
                  message=None) -> "Check":
        """Fraction of rows satisfying a SQL predicate (Deequ
        ``satisfies``); default assertion requires every row."""
        return self.add_constraint(f"satisfies({name})",
                                   _fraction(f"({predicate})"),
                                   assertion, message)

    def has_pattern(self, column: str, regex: str,
                    assertion: Callable[[float], bool] = lambda v: v == 1.0
                    ) -> "Check":
        return self.add_constraint(
            f"pattern({column}, {regex})",
            _fraction(f"{_sql_name(column)} RLIKE {_sql_string(regex)}"),
            assertion)

    def is_unique(self, *columns: str) -> "Check":
        return self.has_uniqueness(columns, lambda v: v == 1.0)

    def has_uniqueness(self, columns: Sequence[str],
                       assertion: Callable[[float], bool],
                       message=None) -> "Check":
        """Fraction of (columns)-combinations occurring exactly once —
        a frame function: its own grouped pass (two-phase, as in Deequ)."""
        return self.add_constraint(f"uniqueness({','.join(columns)})",
                                   partial(_uniqueness, tuple(columns)),
                                   assertion, message)


@dataclass(frozen=True)
class AnomalyCheck:
    """A trend check: compute ``metric`` on the current run, hand it with
    the metric's stored history to ``strategy``, alert when the strategy
    flags it — Deequ's ``addAnomalyCheck(strategy, analyzer)`` equivalent
    (TestStorageLayerMetricsRepository.scala's AbsoluteChangeStrategy-over-
    Size scenario).  ``metric_name`` keys the history lookup."""

    metric_name: str
    metric: object  # Spark-SQL aggregate string or frame function
    strategy: object  # AnomalyStrategy
    level: CheckLevel = CheckLevel.WARNING

    def __post_init__(self):
        _metric(self.metric)


class ComposableCheck(DataQualityCheck):
    """Bundle of :class:`Check` objects behaving as one
    ``DataQualityCheck`` — the ``DeequCheck`` equivalent. ``concat``
    composes builder chains exactly like ``DeequCheck.++``.

    With a ``repository`` attached (Deequ ``useRepository`` +
    ``saveOrAppendResult``): every numeric metric — constraint metrics,
    prefab metrics and anomaly metrics — is persisted after evaluation
    under its description, and each :class:`AnomalyCheck`'s strategy
    gets the metric's prior values, oldest first, from one history read
    as deep as the largest ``window_size`` (no prior value → first run,
    no alert, matching Deequ's Warning-free first run)."""

    def __init__(self, checks: Sequence[Check] = (),
                 anomaly_checks: Sequence[AnomalyCheck] = (),
                 repository=None, dataset_ts=None, tags: str = ""):
        self.checks = list(checks)
        self.anomaly_checks = list(anomaly_checks)
        self.repository = repository
        self.dataset_ts = dataset_ts
        self.tags = tags

    def concat(self, other: "DataQualityCheck") -> "ComposableCheck":
        if not isinstance(other, ComposableCheck):
            raise TypeError(
                "Can only combine ComposableCheck with ComposableCheck")
        if (self.repository is not None and other.repository is not None
                and self.repository is not other.repository):
            raise ValueError(
                "Cannot combine checks bound to different metrics repositories")
        return ComposableCheck(
            self.checks + other.checks,
            self.anomaly_checks + other.anomaly_checks,
            self.repository or other.repository,
            self.dataset_ts or other.dataset_ts,
            self.tags or other.tags)

    def validate_check(self) -> None:
        for c in self.checks:
            if not c.constraints:
                raise ValueError(
                    f"Check [{c.description}] declares no constraints")
        if self.anomaly_checks and self.repository is None:
            raise ValueError(
                "Anomaly checks need a metrics repository to compare against")

    def _metrics(self) -> dict[str, object]:
        """Description → metric for every constraint and anomaly metric.
        One description names one metric: a repeated description must
        repeat the same expression or frame function."""
        metrics: dict[str, object] = {}
        named = [(k.description, k.metric)
                 for c in self.checks for k in c.constraints]
        named += [(a.metric_name, a.metric) for a in self.anomaly_checks]
        for name, metric in named:
            prior = metrics.setdefault(name, metric)
            if prior is not metric and str(prior) != str(metric):
                raise ValueError(
                    f"metric name collision: [{name}] names two different "
                    f"metrics — give the constraints distinct names")
        return metrics

    def get_alerts(self, label: str, df: DataFrame) -> list[DataQualityAlert]:
        metrics = self._metrics()
        scalar = [n for n, m in metrics.items() if isinstance(m, str)]
        values = dict(zip(scalar, df.selectExpr(
            *[metrics[n] for n in scalar]).collect()[0])) if scalar else {}
        values.update((n, m(df)) for n, m in metrics.items()
                      if not isinstance(m, str))
        alerts = []
        for check in self.checks:
            importance = check.level.value
            for k in check.constraints:
                value = values[k.description]
                try:
                    ok = bool(k.assertion(value))
                except Exception:
                    ok = False  # assertion crashed (e.g. None min) → failure
                if not ok:
                    alerts.append(DataQualityAlert(
                        k.message(label, value) if k.message else
                        f"{importance.value} alert for label {label}: check "
                        f"[{check.description}] constraint "
                        f"[{k.description}] failed (value: {value!r})",
                        importance))
        if self.repository is not None:
            # one timestamp per evaluation: the history read and the
            # persisted rows share the run's identity; the repository
            # normalizes it to naive UTC
            history = self.repository.record(
                label, {n: float(v) for n, v in values.items()
                        if isinstance(v, (int, float))
                        and not isinstance(v, bool)},
                self.dataset_ts or datetime.now(timezone.utc), self.tags,
                [a.metric_name for a in self.anomaly_checks],
                max((a.strategy.window_size for a in self.anomaly_checks),
                    default=0))
            alerts += self._anomaly_alerts(label, values, history)
        return alerts

    def _anomaly_alerts(self, label: str, values: dict[str, object],
                        history: dict[str, list[float]]
                        ) -> list[DataQualityAlert]:
        alerts = []
        for a in self.anomaly_checks:
            cur = values.get(a.metric_name)
            hist = [v for v in history.get(a.metric_name, []) if v is not None]
            if cur is None or not hist:
                continue  # first run, or metric not computable → no trend
            reason = a.strategy.detect(hist, float(cur))
            if reason is not None:
                importance = a.level.value
                alerts.append(DataQualityAlert(
                    f"{importance.value} anomaly for label {label}: metric "
                    f"[{a.metric_name}] {reason}", importance))
        return alerts


def add_checks(flow, label: str, check: Check, *more: Check,
               handlers: Sequence[DataQualityAlertHandler] = ()):
    """``addDeequCheck`` equivalent (deequ/package.scala:63-76): attach
    one or more composable Checks to a label with the given handlers."""
    return add_data_quality_check(
        flow, label, ComposableCheck([check, *more]), *handlers)


def add_anomaly_check(flow, label: str, anomaly: AnomalyCheck, repository,
                      *, dataset_ts=None, tags: str = "",
                      handlers: Sequence[DataQualityAlertHandler] = ()):
    """Deequ ``addAnomalyCheck`` + ``useRepository`` + ``saveOrAppend``:
    attach a trend-delta check whose history lives in ``repository``."""
    return add_data_quality_check(
        flow, label,
        ComposableCheck([], [anomaly], repository, dataset_ts, tags),
        *handlers)
