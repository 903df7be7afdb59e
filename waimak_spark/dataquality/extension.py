"""Config-driven data quality: enable prefab checks and alert handlers
purely via Spark conf — no code at the call site.

Reference provenance:

* ``DataQualityConfigurationExtension.scala:12-27`` — the
  ``spark.waimak.dataquality.alerters`` list resolved through a
  ServiceLoader of ``DataQualityAlertHandlerService`` (handler keys
  ``exception`` / ``slack`` / ``email``), each parsing its own config
  under ``spark.waimak.dataquality.alerters.<key>.``;
* ``DeequConfigurationExtension`` (DeequConfiguration.scala:13-55) — the
  ``deequ`` flow extension: ``labelsToMonitor`` + optional
  ``metricsStoragePath`` under ``spark.waimak.dataquality.deequ.``, then
  per label a ``checks`` name list and per-check config under
  ``spark.waimak.dataquality.deequ.labels.<label>.<checkName>.``;
* the four prefab check services (prefabchecks/*.scala) whose config
  case classes map 1:1 onto the dataclasses below.  Every registered
  builder returns a ``ComposableCheck``, so all checks declared for one
  label merge into one evaluation: one aggregate pass plus one pass per
  uniqueness or outlier metric.

Idiomatic Python: explicit registries (decorator-populated dicts) play
the ServiceLoader role — same lookup-by-key semantics, no classpath
scanning; ``parse_config`` is the CaseClassConfigParser equivalent and
pulls from Spark conf plus any registered secret-store property
providers.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from typing import Callable, Optional

from ..app.config import parse_config
from ..dataflow.exceptions import DataFlowException
from ..dataflow.flow import (
    DataFlowConfigurationExtension,
    register_configuration_extension,
)
from .core import AlertImportance, DataQualityAlertHandler

DATAQUALITY_ALERTERS = "spark.waimak.dataquality.alerters"
DEEQU_CONFIG = "spark.waimak.dataquality.deequ."


def _alert_on(names) -> list[AlertImportance]:
    return [AlertImportance.of(n) for n in names]


# ---------------------------------------------------------------------------
# alert-handler registry (DataQualityAlertHandlerService equivalents)
# ---------------------------------------------------------------------------

_ALERT_HANDLER_BUILDERS: dict[
    str, Callable[[object], DataQualityAlertHandler]] = {}


def register_alert_handler(key: str):
    """Decorator: register a ``context -> handler`` builder under the
    conf key it answers to (the ``handlerKey`` role)."""
    def deco(fn):
        _ALERT_HANDLER_BUILDERS[key] = fn
        return fn
    return deco


@dataclass
class _AlertOnConfig:
    alertOn: list[str] = field(default_factory=list)


@register_alert_handler("exception")
def _exception_handler(context) -> DataQualityAlertHandler:
    from .core import ExceptionQualityAlert

    conf = parse_config(_AlertOnConfig, context,
                        f"{DATAQUALITY_ALERTERS}.exception.")
    return ExceptionQualityAlert(_alert_on(conf.alertOn))


@register_alert_handler("log")
def _log_handler(context) -> DataQualityAlertHandler:
    from .core import LoggingQualityAlert

    conf = parse_config(_AlertOnConfig, context,
                        f"{DATAQUALITY_ALERTERS}.log.")
    return LoggingQualityAlert(_alert_on(conf.alertOn))


@dataclass
class _SlackAlertConfig:
    token: str = ""
    alertOn: list[str] = field(default_factory=list)


@register_alert_handler("slack")
def _slack_handler(context) -> DataQualityAlertHandler:
    from .alerts import SlackQualityAlert

    conf = parse_config(_SlackAlertConfig, context,
                        f"{DATAQUALITY_ALERTERS}.slack.")
    if not conf.token:
        raise DataFlowException(
            f"{DATAQUALITY_ALERTERS}.slack.token must be set")
    return SlackQualityAlert(conf.token, _alert_on(conf.alertOn))


@dataclass
class _EmailAlertConfig:
    host: str = ""
    port: int = 25
    to: list[str] = field(default_factory=list)
    cc: list[str] = field(default_factory=list)
    from_address: Optional[str] = None
    alertOn: list[str] = field(default_factory=list)


@register_alert_handler("email")
def _email_handler(context) -> DataQualityAlertHandler:
    from .alerts import EmailQualityAlert, SMTPEmailSettings

    conf = parse_config(_EmailAlertConfig, context,
                        f"{DATAQUALITY_ALERTERS}.email.")
    if not conf.host:
        raise DataFlowException(
            f"{DATAQUALITY_ALERTERS}.email.host must be set")
    settings = SMTPEmailSettings(host=conf.host, port=conf.port,
                                 to=list(conf.to), cc=list(conf.cc),
                                 from_address=conf.from_address)
    return EmailQualityAlert(settings, _alert_on(conf.alertOn))


def get_configured_alert_handlers(context) -> list[DataQualityAlertHandler]:
    """Handlers named by ``spark.waimak.dataquality.alerters`` built from
    their own conf sections; unknown keys fail loudly (the reference
    raises on missing services the same way)."""
    raw = context.spark.conf.get(DATAQUALITY_ALERTERS, "")
    keys = [k.strip() for k in raw.split(",") if k.strip()]
    missing = [k for k in keys if k not in _ALERT_HANDLER_BUILDERS]
    if missing:
        raise DataFlowException(
            f"Failed to find the following alert handler services: "
            f"[{','.join(missing)}]")
    return [_ALERT_HANDLER_BUILDERS[k](context) for k in keys]


# ---------------------------------------------------------------------------
# prefab-check registry (DeequPrefabCheckService equivalents)
# ---------------------------------------------------------------------------

_PREFAB_CHECK_BUILDERS: dict[str, Callable[[object, str], object]] = {}


def register_prefab_check(check_name: str):
    """Decorator: register a ``(context, conf_prefix) -> ComposableCheck``
    builder under its reference ``checkName``."""
    def deco(fn):
        _PREFAB_CHECK_BUILDERS[check_name] = fn
        return fn
    return deco


@dataclass
class _CompletenessCheckConfig:
    columns: list[str]
    warningThreshold: Optional[float] = None
    criticalThreshold: Optional[float] = None


@register_prefab_check("completenessCheck")
def _completeness(context, prefix: str):
    from .prefab import completeness_check

    c = parse_config(_CompletenessCheckConfig, context, prefix)
    return completeness_check(c.columns, c.warningThreshold,
                              c.criticalThreshold)


@dataclass
class _UniquenessCheckConfig:
    columns: list[str]
    warningThreshold: Optional[float] = 1.0
    criticalThreshold: Optional[float] = None


@register_prefab_check("uniquenessCheck")
def _uniqueness(context, prefix: str):
    from .prefab import uniqueness_check

    c = parse_config(_UniquenessCheckConfig, context, prefix)
    return uniqueness_check(c.columns, c.warningThreshold,
                            c.criticalThreshold)


@dataclass
class _RecentTimestampCheckConfig:
    column: str
    hoursToLookBack: int = 6
    alertLevel: str = "warning"
    nowOverride: Optional[str] = None


@register_prefab_check("recentTimestampCheck")
def _recent_timestamp(context, prefix: str):
    from datetime import datetime

    from .prefab import recent_timestamp_check

    c = parse_config(_RecentTimestampCheckConfig, context, prefix)
    now = (datetime.fromisoformat(c.nowOverride)
           if c.nowOverride else None)
    return recent_timestamp_check(c.column, c.hoursToLookBack,
                                  c.alertLevel, now)


@dataclass
class _AnomalyCheckConfig:
    metric: str = "size"
    strategy: str = "absoluteChange"
    maxRateIncrease: Optional[float] = None
    maxRateDecrease: Optional[float] = None
    lowerDeviationFactor: Optional[float] = 3.0
    upperDeviationFactor: Optional[float] = 3.0
    windowSize: int = 10
    minHistory: int = 3
    level: str = "warning"
    datasetTimestamp: Optional[str] = None


@register_prefab_check("anomalyCheck")
def _anomaly_check(context, prefix: str):
    """Conf-driven trend/window anomaly monitoring (round 6): Deequ's
    ``addAnomalyCheck(strategy, analyzer)`` enabled purely from Spark
    conf.  ``metric`` is ``size`` or ``<agg>:<column>`` (mean/sum/min/
    max); ``strategy`` is ``absoluteChange`` / ``relativeRateOfChange``
    / ``batchNormal`` with that strategy's own parameters.  The metric
    history lives in the repository built from
    ``spark.waimak.dataquality.deequ.metricsStoragePath`` — required,
    the extension fails loudly without it."""
    from datetime import datetime

    from .checks import (AnomalyCheck, CheckLevel, ComposableCheck,
                         _column_metric, size_metric)
    from .metrics import (
        AbsoluteChangeStrategy,
        BatchNormalStrategy,
        RelativeRateOfChangeStrategy,
    )

    c = parse_config(_AnomalyCheckConfig, context, prefix)
    kind, _, col = c.metric.partition(":")
    if c.metric == "size":
        name, agg = size_metric()
    elif kind in ("mean", "sum", "min", "max") and col:
        name, agg = _column_metric(kind, col)
    else:
        raise DataFlowException(
            f"{prefix}metric [{c.metric}] not understood — use 'size' or "
            f"'<agg>:<column>' with agg in ['max', 'mean', 'min', 'sum']")
    if c.strategy == "absoluteChange":
        strategy = AbsoluteChangeStrategy(c.maxRateDecrease,
                                          c.maxRateIncrease)
    elif c.strategy == "relativeRateOfChange":
        strategy = RelativeRateOfChangeStrategy(c.maxRateDecrease,
                                                c.maxRateIncrease)
    elif c.strategy == "batchNormal":
        strategy = BatchNormalStrategy(c.lowerDeviationFactor,
                                       c.upperDeviationFactor,
                                       c.windowSize, c.minHistory)
    else:
        raise DataFlowException(
            f"{prefix}strategy [{c.strategy}] not understood — use "
            f"absoluteChange, relativeRateOfChange or batchNormal")
    level = (CheckLevel.ERROR if c.level.lower() in ("critical", "error")
             else CheckLevel.WARNING)
    ts = (datetime.fromisoformat(c.datasetTimestamp)
          if c.datasetTimestamp else None)
    # repository attached by _checks_for_label from metricsStoragePath
    return ComposableCheck([], [AnomalyCheck(name, agg, strategy, level)],
                           dataset_ts=ts)


@dataclass
class _GenericSQLCheckConfig:
    warningChecks: list[str] = field(
        default_factory=list, metadata={"waimak_separator": ";"})
    criticalChecks: list[str] = field(
        default_factory=list, metadata={"waimak_separator": ";"})


@register_prefab_check("genericSQLCheck")
def _generic_sql(context, prefix: str):
    from .prefab import generic_sql_check

    c = parse_config(_GenericSQLCheckConfig, context, prefix)
    return generic_sql_check(c.warningChecks, c.criticalChecks)


# ---------------------------------------------------------------------------
# the flow extension ("deequ" key, kept for reference-user parity)
# ---------------------------------------------------------------------------


@dataclass
class _DeequConfig:
    labelsToMonitor: list[str]
    metricsStoragePath: Optional[str] = None


@register_configuration_extension
class DataQualityConfigExtension(DataFlowConfigurationExtension):
    """Attach conf-declared prefab checks to conf-declared labels —
    enabled by listing ``deequ`` in ``spark.waimak.dataflow.extensions``.

    With ``metricsStoragePath`` set (DeequConfiguration.scala:21), a
    :class:`~waimak_spark.dataquality.metrics.StorageLayerMetricsRepository`
    at that path is attached to every check the extension builds: their
    numeric metrics (``completeness(<col>)``, ``size``, ...) persist per
    run, and the conf-driven ``anomalyCheck`` compares against that
    history (it REQUIRES the path — the extension fails loudly
    otherwise)."""

    extension_key = "deequ"

    def pre_execution_manipulation(self, flow):
        context = flow.context
        alerters = get_configured_alert_handlers(context)
        if not alerters:
            raise DataFlowException(
                "At least one alerter must be specified when using the "
                "data quality extension "
                f"({DATAQUALITY_ALERTERS} is empty)")
        conf = parse_config(_DeequConfig, context, DEEQU_CONFIG)
        repo = None
        if conf.metricsStoragePath:
            from .metrics import StorageLayerMetricsRepository

            repo = StorageLayerMetricsRepository(context.spark,
                                                 conf.metricsStoragePath)
        for label in conf.labelsToMonitor:
            flow = self._checks_for_label(flow, context, label, alerters,
                                          repo)
        return flow

    def _checks_for_label(self, flow, context, label: str, alerters,
                          repo=None):
        base = f"{DEEQU_CONFIG}labels.{label}"
        raw = context.spark.conf.get(f"{base}.checks", "")
        active = [c.strip() for c in raw.split(",") if c.strip()]
        missing = set(active) - set(_PREFAB_CHECK_BUILDERS)
        if missing:
            raise DataFlowException(
                f"The following checks for label [{label}] could not be "
                f"found: [{','.join(sorted(missing))}]")
        for name in active:
            check = _PREFAB_CHECK_BUILDERS[name](context, f"{base}.{name}.")
            check.repository = check.repository or repo
            if check.anomaly_checks and check.repository is None:
                raise DataFlowException(
                    f"check [{name}] for label [{label}] needs a metrics "
                    f"history — set {DEEQU_CONFIG}metricsStoragePath")
            flow = flow.add_data_quality_check(label, check, *alerters)
        return flow
