"""Data quality checks with alerting.

Re-expresses the reference's waimak-dataquality + waimak-deequ modules
(dataquality/package.scala:16-29, DataQualityMetadataExtension.scala:15-46,
DatasetCheck.scala, DataQualityAlertHandler.scala, deequ/prefabchecks/*)
WITHOUT the Deequ dependency, on one check model: Deequ-style ``Check``
chains bundled in a ``ComposableCheck`` (``checks.py``).  The prefab
checks (completeness, uniqueness, recency, generic SQL, outlier rate) and
the conf-declared checks are such chains, so any checks on a label merge:
their scalar metrics, each a Spark-SQL aggregate string, run as one
``selectExpr`` job over the cached label, and the uniqueness/outlier
frame functions run one pass each.
"""

from .core import (
    AlertImportance,
    CollectingAlertHandler,
    DataQualityAlert,
    DataQualityAlertException,
    DataQualityAlertHandler,
    DataQualityCheck,
    DataQualityMetadataExtension,
    ExceptionQualityAlert,
    LoggingQualityAlert,
    add_data_quality_check,
)
from .alerts import (
    EmailQualityAlert,
    SMTPEmailSettings,
    SlackQualityAlert,
)
from .checks import (
    AnomalyCheck,
    Check,
    CheckLevel,
    ComposableCheck,
    add_anomaly_check,
    add_checks,
    size_metric,
)
from .metrics import (
    AbsoluteChangeStrategy,
    BatchNormalStrategy,
    RelativeRateOfChangeStrategy,
    StorageLayerMetricsRepository,
)
from .extension import (
    DataQualityConfigExtension,
    get_configured_alert_handlers,
    register_alert_handler,
    register_prefab_check,
)
from .prefab import (
    completeness_check,
    generic_sql_check,
    outlier_rate_check,
    recent_timestamp_check,
    uniqueness_check,
)

__all__ = [
    "AlertImportance", "DataQualityAlert", "DataQualityAlertException",
    "DataQualityAlertHandler", "DataQualityCheck",
    "DataQualityMetadataExtension",
    "ExceptionQualityAlert", "LoggingQualityAlert", "CollectingAlertHandler",
    "SlackQualityAlert", "EmailQualityAlert", "SMTPEmailSettings",
    "Check", "CheckLevel", "ComposableCheck", "add_checks",
    "add_data_quality_check", "completeness_check", "uniqueness_check",
    "recent_timestamp_check", "generic_sql_check", "outlier_rate_check",
    "AnomalyCheck", "add_anomaly_check", "size_metric",
    "StorageLayerMetricsRepository", "AbsoluteChangeStrategy",
    "RelativeRateOfChangeStrategy", "BatchNormalStrategy",
    "DataQualityConfigExtension", "get_configured_alert_handlers",
    "register_alert_handler", "register_prefab_check",
]
