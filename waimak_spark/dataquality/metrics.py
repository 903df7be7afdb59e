"""Metrics repository + anomaly (trend) detection — the reference's
``StorageLayerMetricsRepository`` re-expressed on this package's storage
layer.

Reference provenance: waimak-deequ/src/main/scala/com/amazon/deequ/
StorageLayerMetricsRepository.scala:20-48 (an ``AuditTableInfo(name,
Seq("tags"), retain_history=true)`` table; ``save`` appends one analysis
result stamped with the dataset timestamp; ``load`` reads the FULL history
via ``allBetween(None, None)``) and TestStorageLayerMetricsRepository.scala
(two saves a day apart + an ``AbsoluteChangeStrategy`` anomaly check over
``Size()`` that flags a jump).  Deequ's ``VerificationSuite.useRepository
+ saveOrAppendResult + addAnomalyCheck`` flow maps to
:class:`ComposableCheck`'s ``repository=`` / ``anomaly_checks=`` hooks in
``checks.py``.

Spark-first shape: one metric row per (label, metric) per run, stored as a
normal audit-table region (staged write → atomic move, partition-pruned
history reads).  An evaluation opens the table once (:meth:`record`): one
scan collects the metrics' prior values and the keys this run already
stored, then one append writes the rest.  Its filters are Spark-SQL
strings.

Every strategy is ``detect(history, current)``: ``history`` holds the
metric's prior values oldest to newest — the series shape Deequ's
strategies take — and ``window_size`` says how many of them it reads.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (DoubleType, StringType, StructField,
                               StructType, TimestampType)

from ..sql_text import _lit, _sql_string
from ..storage import AuditTableInfo, FileStorageOps
from ..storage.audit import get_or_create_tables

#: one row per metric value; ``tags`` plays the reference's ResultKey.tags
#: role (a free-form run discriminator and the table's primary-key column)
METRIC_SCHEMA = StructType([
    StructField("tags", StringType(), False),
    StructField("label", StringType(), False),
    StructField("metric_name", StringType(), False),
    StructField("metric_value", DoubleType(), True),
    StructField("dataset_ts", TimestampType(), False),
])


def _normalize_ts(ts: datetime) -> datetime:
    """One tz-awareness convention at the repository boundary: aware
    datetimes are converted to UTC and stored NAIVE (matching
    TimestampType's session-UTC convention here), so a caller mixing
    aware and naive timestamps can't misorder the strictly-before
    comparison in :meth:`StorageLayerMetricsRepository.record`."""
    if ts.tzinfo is not None:
        return ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


class StorageLayerMetricsRepository:
    """Persist per-check metric rows to an audit table and load them back.

    The table is created on first use with primary keys
    ``(tags, label, metric_name)`` and ``retain_history=True`` — every run
    keeps its row (the reference keeps full history the same way;
    StorageLayerMetricsRepository.scala:24 uses PK ``tags`` +
    retainHistory), so trend queries can look arbitrarily far back.
    """

    def __init__(self, spark: SparkSession, storage_base_path: str,
                 table_name: str = "metrics"):
        self.spark = spark
        self.ops = FileStorageOps(spark, storage_base_path)
        self.table_name = table_name

    def _table(self):
        info = AuditTableInfo(
            self.table_name, ["tags", "label", "metric_name"], {}, True)
        return get_or_create_tables(
            self.ops, [self.table_name], lambda _n: info)[0]

    def record(self, label: str, metrics: dict[str, float],
               dataset_ts: datetime, tags: str = "",
               names: Sequence[str] = (), depth: int = 0
               ) -> dict[str, list[float]]:
        """Append this run's ``metrics`` and return the last ``depth``
        values of each metric in ``names`` stored strictly BEFORE
        ``dataset_ts``, oldest to newest — one table open, one scan.

        The rows are stamped with ``dataset_ts`` as the audit
        ``_de_last_updated`` (the reference writes ``dataSetDateTS`` the
        same way, :33-35).  Idempotent per ``(tags, label, metric_name,
        dataset_ts)``: a metric whose exact key is already stored is
        skipped, so a retried evaluation (second alert handler,
        re-validation of the same run) cannot append duplicate history
        rows and silently shift anomaly baselines."""
        names = list(names) if depth > 0 else []
        if not metrics and not names:
            return {}
        dataset_ts = _normalize_ts(dataset_ts)
        at = _lit(dataset_ts)
        table = self._table()
        hist = table.all_between(None, None)
        prior: dict[str, list[float]] = {}
        if hist is not None:
            wanted = f"tags = {_sql_string(tags)} AND dataset_ts = {at}"
            if names:
                listed = ", ".join(map(_sql_string, names))
                wanted += (f" OR metric_name IN ({listed}) "
                           f"AND dataset_ts < {at}")
            rows = (hist.where(f"label = {_sql_string(label)} AND "
                               f"({wanted})")
                .selectExpr("metric_name", "metric_value",
                            f"dataset_ts = {at} AS stored",
                            f"row_number() OVER (PARTITION BY metric_name, "
                            f"dataset_ts = {at} ORDER BY dataset_ts DESC) "
                            f"AS rn")
                .where(f"stored OR rn <= {int(depth)}").collect())
            stored = {r["metric_name"] for r in rows if r["stored"]}
            metrics = {k: v for k, v in metrics.items() if k not in stored}
            for r in sorted(rows, key=lambda r: (r["metric_name"], -r["rn"])):
                if not r["stored"]:
                    prior.setdefault(r["metric_name"], []).append(
                        r["metric_value"])
        if metrics:
            table.append(self.spark.createDataFrame([
                Row(tags=tags, label=label, metric_name=k,
                    metric_value=(None if v is None else float(v)),
                    dataset_ts=dataset_ts)
                for k, v in sorted(metrics.items())], METRIC_SCHEMA),
                "dataset_ts")
        return prior

    def save(self, label: str, metrics: dict[str, float],
             dataset_ts: datetime, tags: str = "") -> None:
        """Append one region holding this run's metric rows
        (:meth:`record` with no history read)."""
        self.record(label, metrics, dataset_ts, tags)

    def previous_window(self, label: str, metric_names: Sequence[str],
                        before_ts: datetime, n: int
                        ) -> dict[str, list[float]]:
        """Last ``n`` stored values per metric strictly BEFORE
        ``before_ts``, oldest→newest (:meth:`record` with nothing to
        append)."""
        return self.record(label, {}, before_ts, names=metric_names, depth=n)

    def load(self) -> Optional[DataFrame]:
        """Full metric history (``allBetween(None, None)``, :40-46), or
        None when nothing was ever saved."""
        df = self._table().all_between(None, None)
        return None if df is None else df.select(*METRIC_SCHEMA.fieldNames())

    def success_metrics_json(self, for_metrics: Optional[Sequence[str]]
                             = None) -> str:
        """History as a JSON array, newest first — the
        ``load().forAnalyzers(...).getSuccessMetricsAsJson()`` surface the
        reference test asserts (TestStorageLayerMetricsRepository.scala:
        58-62: name / dataset_date-millis / value keys, newest run
        first)."""
        import json

        hist = self.load()
        if hist is None:
            return "[]"
        if for_metrics:
            names = ", ".join(map(_sql_string, for_metrics))
            hist = hist.where(f"metric_name IN ({names})")
        rows = hist.select("metric_name", "label", "metric_value",
                           "dataset_ts").collect()
        rows.sort(key=lambda r: (r["dataset_ts"], r["metric_name"]),
                  reverse=True)
        epoch = datetime(1970, 1, 1)
        return json.dumps([
            {"name": r["metric_name"],
             "dataset_date": (r["dataset_ts"] - epoch).total_seconds() * 1000.0,
             "label": r["label"],
             "value": r["metric_value"]}
            for r in rows])


# ---------------------------------------------------------------------------
# anomaly strategies (Deequ's anomalydetection.* equivalents)
# ---------------------------------------------------------------------------


class AnomalyStrategy:
    """Compare the current metric value to the metric's history (prior
    values, oldest to newest) and return a human-readable reason when
    anomalous, else None.  ``window_size`` is how many prior values the
    strategy reads; the check reads the history that deep."""

    window_size: int = 1

    def detect(self, history: Sequence[float],
               current: float) -> Optional[str]:
        raise NotImplementedError


@dataclass(frozen=True)
class AbsoluteChangeStrategy(AnomalyStrategy):
    """Anomaly when ``current - previous`` leaves
    ``[max_rate_decrease, max_rate_increase]``, ``previous`` being the
    newest prior value (Deequ AbsoluteChangeStrategy; the reference test
    uses ``maxRateIncrease=2.0`` over Size and a 2→5 jump trips it)."""

    max_rate_decrease: Optional[float] = None
    max_rate_increase: Optional[float] = None

    def detect(self, history: Sequence[float],
               current: float) -> Optional[str]:
        previous = history[-1]
        change = current - previous
        if (self.max_rate_increase is not None
                and change > self.max_rate_increase):
            return (f"change {change:g} > max increase "
                    f"{self.max_rate_increase:g} (prev {previous:g}, "
                    f"now {current:g})")
        if (self.max_rate_decrease is not None
                and change < self.max_rate_decrease):
            return (f"change {change:g} < max decrease "
                    f"{self.max_rate_decrease:g} (prev {previous:g}, "
                    f"now {current:g})")
        return None


@dataclass(frozen=True)
class RelativeRateOfChangeStrategy(AnomalyStrategy):
    """Anomaly when ``current / previous`` leaves
    ``[max_rate_decrease, max_rate_increase]``, ``previous`` being the
    newest prior value (Deequ RelativeRateOfChangeStrategy).  A zero
    previous value with a non-zero current one is always anomalous (rate
    undefined)."""

    max_rate_decrease: Optional[float] = None
    max_rate_increase: Optional[float] = None

    def detect(self, history: Sequence[float],
               current: float) -> Optional[str]:
        previous = history[-1]
        if previous == 0:
            return (None if current == 0 else
                    f"rate undefined: prev 0, now {current:g}")
        rate = current / previous
        if (self.max_rate_increase is not None
                and rate > self.max_rate_increase):
            return (f"rate {rate:g} > max increase "
                    f"{self.max_rate_increase:g} (prev {previous:g}, "
                    f"now {current:g})")
        if (self.max_rate_decrease is not None
                and rate < self.max_rate_decrease):
            return (f"rate {rate:g} < max decrease "
                    f"{self.max_rate_decrease:g} (prev {previous:g}, "
                    f"now {current:g})")
        return None


@dataclass(frozen=True)
class BatchNormalStrategy(AnomalyStrategy):
    """Window-based anomaly detection (Deequ BatchNormalStrategy): the
    current value is compared against ``mean ± factor·stddev`` of the last
    ``window_size`` prior values.  Needs at least ``min_history`` of them
    before it starts alerting (a 1-2 run history has a meaningless
    stddev — Deequ likewise requires enough batches in the interval).

    Sample stddev (n-1 denominator); a zero-variance history alerts on
    ANY deviation from the constant mean when a factor is set."""

    lower_deviation_factor: Optional[float] = 3.0
    upper_deviation_factor: Optional[float] = 3.0
    window_size: int = 10
    min_history: int = 3

    def detect(self, history: Sequence[float],
               current: float) -> Optional[str]:
        vals = [float(v) for v in history[-self.window_size:]
                if v is not None]
        if len(vals) < self.min_history:
            return None
        mean = sum(vals) / len(vals)
        var = (sum((v - mean) ** 2 for v in vals) / (len(vals) - 1)
               if len(vals) > 1 else 0.0)
        std = var ** 0.5
        if (self.upper_deviation_factor is not None
                and current > mean + self.upper_deviation_factor * std):
            return (f"value {current:g} > mean {mean:g} + "
                    f"{self.upper_deviation_factor:g}·stddev {std:g} over "
                    f"last {len(vals)} runs")
        if (self.lower_deviation_factor is not None
                and current < mean - self.lower_deviation_factor * std):
            return (f"value {current:g} < mean {mean:g} - "
                    f"{self.lower_deviation_factor:g}·stddev {std:g} over "
                    f"last {len(vals)} runs")
        return None
