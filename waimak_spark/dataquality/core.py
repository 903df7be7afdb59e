"""Check/alert model + the scheduling metadata extension.

Reference provenance: DataQualityAlertHandler.scala (importance levels,
handler contract, failure-after-all-alerts semantics), DatasetCheck.scala
(SimpleDatasetCheck / DatasetChecks), DataQualityMetadataExtension.scala
:15-46 (merge checks per (label, handlers), cache the label, evaluate as
an in-place transform), dataquality/package.scala:16-29
(addDataQualityCheck builder).

The check reads data the flow already materializes.  It counts as a reader
of its label (``operators.cache.readers``), so a checked label with one
other reader is cached as Parquet, and a committed checked label with no
other consumer action is written by its producer into the commit's
staging folder (``operators.commit``).  The check runs after the label's
post-actions, so ``get_alerts`` receives a DataFrame that scans those
written files.  A flow without a temp folder materializes nothing; its
checks read the label's plan.
"""

from __future__ import annotations

import enum
import logging
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame

from ..dataflow.flow import MetadataExtension
from ..dataflow.interceptor import PostActionInterceptor

logger = logging.getLogger("waimak_spark.dataquality")


class AlertImportance(enum.Enum):
    CRITICAL = "Critical"
    WARNING = "Warning"
    GOOD = "Good"
    INFORMATION = "Information"

    @staticmethod
    def of(name: str) -> "AlertImportance":
        try:
            return AlertImportance[name.upper()]
        except KeyError:
            raise ValueError(f"Invalid alert importance name: [{name}]")


@dataclass(frozen=True)
class DataQualityAlert:
    alert_message: str
    importance: AlertImportance


class DataQualityAlertException(Exception):
    def __init__(self, alerts: Sequence[DataQualityAlert]):
        self.alerts = list(alerts)
        super().__init__("; ".join(
            f"{a.importance.value}: {a.alert_message}" for a in alerts))


class DataQualityAlertHandler:
    """Handler contract: ``alert_on`` filters importance levels (empty =
    all); ``handle_alert`` returns an optional exception to be raised
    AFTER all non-exception alerts were delivered."""

    alert_on: Sequence[AlertImportance] = ()

    def is_handled(self, importance: AlertImportance) -> bool:
        return not self.alert_on or importance in self.alert_on

    def handle_alert(self, alert: DataQualityAlert) -> Optional[Exception]:
        raise NotImplementedError


class LoggingQualityAlert(DataQualityAlertHandler):
    """Log alerts at a level matching their importance."""

    def __init__(self, alert_on: Sequence[AlertImportance] = ()):
        self.alert_on = tuple(alert_on)

    def handle_alert(self, alert: DataQualityAlert) -> Optional[Exception]:
        level = {
            AlertImportance.CRITICAL: logging.ERROR,
            AlertImportance.WARNING: logging.WARNING,
        }.get(alert.importance, logging.INFO)
        logger.log(level, "%s: %s", alert.importance.value, alert.alert_message)
        return None


class ExceptionQualityAlert(DataQualityAlertHandler):
    """Raise after all other handlers ran (ExceptionQualityAlert.scala)."""

    def __init__(self, alert_on: Sequence[AlertImportance] = ()):
        self.alert_on = tuple(alert_on)

    def handle_alert(self, alert: DataQualityAlert) -> Optional[Exception]:
        return DataQualityAlertException([alert])


class CollectingAlertHandler(DataQualityAlertHandler):
    """Test handler that records every alert it receives."""

    def __init__(self, alert_on: Sequence[AlertImportance] = ()):
        self.alert_on = tuple(alert_on)
        self.alerts: list[DataQualityAlert] = []

    def handle_alert(self, alert: DataQualityAlert) -> Optional[Exception]:
        self.alerts.append(alert)
        return None


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


class DataQualityCheck:
    """A check knows how to merge with a peer (``concat``) and produce
    alerts for a label's DataFrame."""

    def validate_check(self) -> None:
        pass

    def concat(self, other: "DataQualityCheck") -> "DataQualityCheck":
        raise NotImplementedError

    def get_alerts(self, label: str, df: DataFrame) -> list[DataQualityAlert]:
        raise NotImplementedError


class SimpleDatasetCheck:
    """metric: DataFrame → DataFrame; alert: (metric frame, label) →
    alerts (DatasetCheck.scala SimpleDatasetCheck)."""

    def __init__(self, metric: Callable[[DataFrame], DataFrame],
                 alert: Callable[[DataFrame, str], list[DataQualityAlert]]):
        self.metric = metric
        self.alert = alert

    def get_alerts(self, label: str, df: DataFrame) -> list[DataQualityAlert]:
        return list(self.alert(self.metric(df), label))


class DatasetChecks(DataQualityCheck):
    """Concatenation of simple checks, no cross-check optimisation."""

    def __init__(self, checks: Sequence[SimpleDatasetCheck]):
        self.checks = list(checks)

    def concat(self, other: "DataQualityCheck") -> "DatasetChecks":
        if not isinstance(other, DatasetChecks):
            raise TypeError("Can only combine DatasetChecks with DatasetChecks")
        return DatasetChecks(self.checks + other.checks)

    def get_alerts(self, label: str, df: DataFrame) -> list[DataQualityAlert]:
        return [a for c in self.checks for a in c.get_alerts(label, df)]


@dataclass(frozen=True)
class DataQualityMeta:
    label: str
    alert_handlers: tuple[DataQualityAlertHandler, ...]
    check: DataQualityCheck


# ---------------------------------------------------------------------------
# scheduling extension (DataQualityMetadataExtension.scala:15-46)
# ---------------------------------------------------------------------------


class DataQualityMetadataExtension(MetadataExtension):
    """At prepare time: merge checks per (label, handlers), request a cache
    of each checked label (the check reads data the flow already
    materializes), and attach a check to the label's producer that
    evaluates the checks and routes alerts; handler-returned exceptions are
    raised after every alert was delivered."""

    def __init__(self, meta: Sequence[DataQualityMeta] = ()):
        self.meta = list(meta)

    def pre_execution(self, flow):
        flow = flow.without_extension(self)
        merged: dict[tuple[str, tuple], DataQualityCheck] = {}
        for m in self.meta:
            key = (m.label, m.alert_handlers)
            merged[key] = (merged[key].concat(m.check)
                           if key in merged else m.check)
        for check in merged.values():
            check.validate_check()
        by_label: dict[str, list[DataQualityMeta]] = {}
        for (label, handlers), check in merged.items():
            by_label.setdefault(label, []).append(
                DataQualityMeta(label, handlers, check))
        for label, metas in by_label.items():
            if getattr(flow.context, "temp_folder", None) is not None:
                flow = flow.cache_as_parquet(label)

            def evaluate(label: str, df, _context, metas=metas) -> None:
                if df is None:
                    return
                failures: list[Exception] = []
                for m in metas:
                    for alert in m.check.get_alerts(label, df):
                        for h in m.alert_handlers:
                            if h.is_handled(alert.importance):
                                err = h.handle_alert(alert)
                                if err is not None:
                                    failures.append(err)
                if failures:
                    raise failures[0]

            flow = PostActionInterceptor.attach(flow, label, evaluate,
                                                check=True)
        return flow


def add_data_quality_check(flow, label: str, check: DataQualityCheck,
                           *handlers: DataQualityAlertHandler):
    """Builder hook (dataquality/package.scala:16-29): accumulate the
    check on the flow's DQ extension."""
    if not handlers:
        raise ValueError("At least one alert handler is required")
    existing = flow.get_extensions_of_type(DataQualityMetadataExtension)
    meta = DataQualityMeta(label, tuple(handlers), check)
    if existing:
        ext = existing[0]
        new = DataQualityMetadataExtension(ext.meta + [meta])
        return flow.without_extension(ext).with_extension(new)
    return flow.with_extension(DataQualityMetadataExtension([meta]))
