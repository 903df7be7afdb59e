"""Config-driven data quality — mirrors the reference's
DeequConfigurationExtension flow (DeequConfiguration.scala:13-55): checks
and alert handlers declared ONLY in Spark conf, attached by the ``deequ``
configuration extension during prepare_for_execution."""

from contextlib import contextmanager

import pytest

from waimak_spark.dataflow.exceptions import DataFlowException
from waimak_spark.dataflow.spark_flow import Waimak
from waimak_spark.dataquality import (
    AlertImportance,
    CollectingAlertHandler,
    register_alert_handler,
)

ROWS = [(1, "Thingy A"), (2, "Thingy B"), (3, None), (4, "Thingy D"),
        (5, "Thingy E")]

_COLLECTED = []


@register_alert_handler("collecting-test")
def _collecting_test_handler(context):
    h = CollectingAlertHandler()
    _COLLECTED.append(h)
    return h


@contextmanager
def dq_conf(spark, conf: dict[str, str]):
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k in conf:
            spark.conf.unset(k)


def _run_flow(spark, tmp_path, rows=ROWS):
    df = spark.createDataFrame(rows, "id int, name string")
    (Waimak.spark_flow(spark, str(tmp_path / "f"))
     .open("items", lambda c: df)
     .execute())


BASE_CONF = {
    "spark.waimak.dataflow.extensions": "deequ",
    "spark.waimak.dataquality.alerters": "collecting-test",
    "spark.waimak.dataquality.deequ.labelsToMonitor": "items",
}


class TestConfigDrivenChecks:
    def test_conf_declared_completeness_and_uniqueness(self, spark,
                                                       tmp_path):
        conf = dict(BASE_CONF)
        conf.update({
            "spark.waimak.dataquality.deequ.labels.items.checks":
                "completenessCheck,uniquenessCheck",
            "spark.waimak.dataquality.deequ.labels.items."
            "completenessCheck.columns": "name,id",
            "spark.waimak.dataquality.deequ.labels.items."
            "completenessCheck.warningThreshold": "0.9",
            "spark.waimak.dataquality.deequ.labels.items."
            "uniquenessCheck.columns": "id",
        })
        _COLLECTED.clear()
        with dq_conf(spark, conf):
            _run_flow(spark, tmp_path)
        alerts = [a for h in _COLLECTED for a in h.alerts]
        # name is 80% complete -> one warning; id unique + complete -> none
        assert len(alerts) == 1
        assert "name" in alerts[0].alert_message
        assert alerts[0].importance == AlertImportance.WARNING

    def test_generic_sql_with_semicolon_separator(self, spark, tmp_path):
        conf = dict(BASE_CONF)
        conf.update({
            "spark.waimak.dataquality.deequ.labels.items.checks":
                "genericSQLCheck",
            "spark.waimak.dataquality.deequ.labels.items."
            "genericSQLCheck.warningChecks": "id > 0;id < 3",
        })
        _COLLECTED.clear()
        with dq_conf(spark, conf):
            _run_flow(spark, tmp_path)
        alerts = [a for h in _COLLECTED for a in h.alerts]
        # id > 0 holds for all rows; id < 3 fails for 3 of 5 rows
        assert len(alerts) == 1
        assert "id < 3" in alerts[0].alert_message

    def test_unknown_check_name_fails_loudly(self, spark, tmp_path):
        conf = dict(BASE_CONF)
        conf.update({
            "spark.waimak.dataquality.deequ.labels.items.checks":
                "noSuchCheck",
        })
        with dq_conf(spark, conf):
            with pytest.raises(DataFlowException, match="noSuchCheck"):
                _run_flow(spark, tmp_path)

    def test_no_alerters_fails_loudly(self, spark, tmp_path):
        conf = dict(BASE_CONF)
        conf["spark.waimak.dataquality.alerters"] = ""
        conf["spark.waimak.dataquality.deequ.labels.items.checks"] = \
            "uniquenessCheck"
        conf["spark.waimak.dataquality.deequ.labels.items." \
             "uniquenessCheck.columns"] = "id"
        with dq_conf(spark, conf):
            with pytest.raises(DataFlowException, match="alerter"):
                _run_flow(spark, tmp_path)

    def test_unknown_alerter_key_fails_loudly(self, spark, tmp_path):
        conf = dict(BASE_CONF)
        conf["spark.waimak.dataquality.alerters"] = "no-such-service"
        with dq_conf(spark, conf):
            with pytest.raises(DataFlowException, match="no-such-service"):
                _run_flow(spark, tmp_path)

    def test_exception_alerter_from_conf_escalates(self, spark, tmp_path):
        conf = dict(BASE_CONF)
        conf.update({
            "spark.waimak.dataquality.alerters": "exception",
            "spark.waimak.dataquality.alerters.exception.alertOn":
                "Critical",
            "spark.waimak.dataquality.deequ.labels.items.checks":
                "genericSQLCheck",
            "spark.waimak.dataquality.deequ.labels.items."
            "genericSQLCheck.criticalChecks": "id < 0",
        })
        with dq_conf(spark, conf):
            with pytest.raises(Exception, match="id < 0"):
                _run_flow(spark, tmp_path)

    def test_extension_not_enabled_is_inert(self, spark, tmp_path):
        # all the DQ conf present but "deequ" NOT in the extensions list:
        # nothing is attached, nothing fires
        conf = dict(BASE_CONF)
        del conf["spark.waimak.dataflow.extensions"]
        conf["spark.waimak.dataquality.deequ.labels.items.checks"] = \
            "completenessCheck"
        conf["spark.waimak.dataquality.deequ.labels.items."
             "completenessCheck.columns"] = "name"
        conf["spark.waimak.dataquality.deequ.labels.items."
             "completenessCheck.warningThreshold"] = "1.0"
        _COLLECTED.clear()
        with dq_conf(spark, conf):
            _run_flow(spark, tmp_path)
        assert [a for h in _COLLECTED for a in h.alerts] == []

    def test_recent_timestamp_from_conf(self, spark, tmp_path):
        conf = dict(BASE_CONF)
        conf.update({
            "spark.waimak.dataquality.deequ.labels.items.checks":
                "recentTimestampCheck",
            "spark.waimak.dataquality.deequ.labels.items."
            "recentTimestampCheck.column": "ts",
            "spark.waimak.dataquality.deequ.labels.items."
            "recentTimestampCheck.hoursToLookBack": "6",
            "spark.waimak.dataquality.deequ.labels.items."
            "recentTimestampCheck.nowOverride": "2019-08-01T12:00:00",
        })
        _COLLECTED.clear()
        from datetime import datetime

        rows = [(1, datetime(2019, 8, 1, 11, 0, 0))]  # within 6h window
        df = spark.createDataFrame(rows, "id int, ts timestamp")
        with dq_conf(spark, conf):
            (Waimak.spark_flow(spark, str(tmp_path / "f"))
             .open("items", lambda c: df)
             .execute())
        assert [a for h in _COLLECTED for a in h.alerts] == []

        # stale data: newest row is older than the look-back window
        _COLLECTED.clear()
        rows = [(1, datetime(2019, 7, 1, 0, 0, 0))]
        df = spark.createDataFrame(rows, "id int, ts timestamp")
        with dq_conf(spark, conf):
            (Waimak.spark_flow(spark, str(tmp_path / "g"))
             .open("items", lambda c: df)
             .execute())
        alerts = [a for h in _COLLECTED for a in h.alerts]
        assert len(alerts) == 1 and "No new data" in alerts[0].alert_message


class TestConfigDrivenAnomalyChecks:
    """Round 6: Deequ addAnomalyCheck enabled purely from Spark conf —
    metric + strategy + metricsStoragePath, no code at the call site."""

    def _anomaly_conf(self, tmp_path, strategy_conf: dict[str, str]):
        conf = dict(BASE_CONF)
        conf.update({
            "spark.waimak.dataquality.deequ.metricsStoragePath":
                str(tmp_path / "metrics"),
            "spark.waimak.dataquality.deequ.labels.items.checks":
                "anomalyCheck",
        })
        pfx = "spark.waimak.dataquality.deequ.labels.items.anomalyCheck."
        conf.update({pfx + k: v for k, v in strategy_conf.items()})
        return conf

    def _run_sized(self, spark, tmp_path, conf, n_rows: int, ts: str):
        conf = dict(conf)
        conf["spark.waimak.dataquality.deequ.labels.items."
             "anomalyCheck.datasetTimestamp"] = ts
        rows = [(i, f"Thingy {i}") for i in range(n_rows)]
        with dq_conf(spark, conf):
            _run_flow(spark, tmp_path, rows)

    def test_absolute_change_over_size_from_conf_alone(self, spark,
                                                       tmp_path):
        conf = self._anomaly_conf(tmp_path, {
            "metric": "size",
            "strategy": "absoluteChange",
            "maxRateIncrease": "2.0",
        })
        _COLLECTED.clear()
        # run 1: no history -> silent first run
        self._run_sized(spark, tmp_path, conf, 2, "2024-01-01T00:00:00")
        # run 2: +1 row, within the allowed absolute change
        self._run_sized(spark, tmp_path, conf, 3, "2024-01-02T00:00:00")
        assert [a for h in _COLLECTED for a in h.alerts] == []
        # run 3: +4 rows > maxRateIncrease=2 -> anomaly
        self._run_sized(spark, tmp_path, conf, 7, "2024-01-03T00:00:00")
        alerts = [a for h in _COLLECTED for a in h.alerts]
        assert len(alerts) == 1
        assert "size" in alerts[0].alert_message
        assert alerts[0].importance == AlertImportance.WARNING
        # the conf-built repository persisted one metric row per run
        from waimak_spark.dataquality.metrics import (
            StorageLayerMetricsRepository,
        )

        hist = StorageLayerMetricsRepository(
            spark, str(tmp_path / "metrics")).load()
        sizes = (hist.where("metric_name = 'size'")
                 .orderBy("dataset_ts").collect())
        assert [r["metric_value"] for r in sizes] == [2.0, 3.0, 7.0]

    def test_relative_rate_with_column_metric(self, spark, tmp_path):
        conf = self._anomaly_conf(tmp_path, {
            "metric": "sum:id",
            "strategy": "relativeRateOfChange",
            "maxRateIncrease": "3.0",
            "level": "critical",
        })
        _COLLECTED.clear()
        # sums of id over ranges: 1 -> 3 (rate 3, allowed) -> 21 (rate 7)
        self._run_sized(spark, tmp_path, conf, 2, "2024-02-01T00:00:00")
        self._run_sized(spark, tmp_path, conf, 3, "2024-02-02T00:00:00")
        assert [a for h in _COLLECTED for a in h.alerts] == []
        self._run_sized(spark, tmp_path, conf, 7, "2024-02-03T00:00:00")
        alerts = [a for h in _COLLECTED for a in h.alerts]
        assert len(alerts) == 1
        assert "sum(id)" in alerts[0].alert_message
        assert alerts[0].importance == AlertImportance.CRITICAL

    def test_anomaly_without_metrics_path_fails_loudly(self, spark,
                                                       tmp_path):
        conf = self._anomaly_conf(tmp_path, {"metric": "size"})
        del conf["spark.waimak.dataquality.deequ.metricsStoragePath"]
        _COLLECTED.clear()
        with dq_conf(spark, conf):
            with pytest.raises(DataFlowException) as e:
                _run_flow(spark, tmp_path)
        assert "metricsStoragePath" in str(e.value)

    def test_unknown_strategy_and_metric_fail_loudly(self, spark,
                                                     tmp_path):
        for bad in ({"strategy": "zscore"}, {"metric": "median:id"},
                    {"metric": "rowcount"}):
            conf = self._anomaly_conf(tmp_path, bad)
            with dq_conf(spark, conf):
                with pytest.raises(DataFlowException):
                    _run_flow(spark, tmp_path)

    def test_size_with_column_gets_friendly_error(self, spark, tmp_path):
        # ADVICE r6: 'size:<col>' passed validation ('size' is a known
        # metric) then died with a KeyError at the agg lookup — it must
        # raise the same friendly DataFlowException as other bad metrics
        conf = self._anomaly_conf(tmp_path, {"metric": "size:id"})
        with dq_conf(spark, conf):
            with pytest.raises(DataFlowException) as e:
                _run_flow(spark, tmp_path)
        assert "size:id" in str(e.value) and "not understood" in str(e.value)

    def test_batch_normal_window_from_conf(self, spark, tmp_path):
        conf = self._anomaly_conf(tmp_path, {
            "metric": "size",
            "strategy": "batchNormal",
            "windowSize": "4",
            "minHistory": "3",
        })
        _COLLECTED.clear()
        # steady history of 5,6,5 then a spike far outside mean±3σ
        for i, (n, ts) in enumerate([(5, "2024-03-01T00:00:00"),
                                     (6, "2024-03-02T00:00:00"),
                                     (5, "2024-03-03T00:00:00")]):
            self._run_sized(spark, tmp_path, conf, n, ts)
        assert [a for h in _COLLECTED for a in h.alerts] == []
        self._run_sized(spark, tmp_path, conf, 50, "2024-03-04T00:00:00")
        alerts = [a for h in _COLLECTED for a in h.alerts]
        assert len(alerts) == 1 and "size" in alerts[0].alert_message


class TestConfigDrivenMixedChecks:
    def test_prefab_and_anomaly_checks_on_one_label(self, spark, tmp_path):
        """A prefab and the anomaly check merge into one check on the
        label; the prefab's metric persists next to ``size``."""
        conf = dict(BASE_CONF)
        pfx = "spark.waimak.dataquality.deequ.labels.items."
        conf.update({
            "spark.waimak.dataquality.deequ.metricsStoragePath":
                str(tmp_path / "metrics"),
            pfx + "checks": "completenessCheck,anomalyCheck",
            pfx + "completenessCheck.columns": "name",
            pfx + "completenessCheck.warningThreshold": "0.9",
            pfx + "anomalyCheck.datasetTimestamp": "2024-04-01T00:00:00",
        })
        _COLLECTED.clear()
        with dq_conf(spark, conf):
            _run_flow(spark, tmp_path)
        [alert] = [a for h in _COLLECTED for a in h.alerts]
        assert "Less than 90.0% of name" in alert.alert_message
        from waimak_spark.dataquality.metrics import (
            StorageLayerMetricsRepository,
        )

        hist = StorageLayerMetricsRepository(
            spark, str(tmp_path / "metrics")).load()
        assert {r["metric_name"]: r["metric_value"] for r in
                hist.collect()} == {"size": 5.0, "completeness(name)": 0.8}

    def test_every_registered_builder_returns_a_composable_check(
            self, spark, tmp_path):
        from waimak_spark.dataquality import ComposableCheck
        from waimak_spark.dataquality.extension import _PREFAB_CHECK_BUILDERS

        pfx = "spark.waimak.dataquality.deequ.labels.items."
        conf = {pfx + "completenessCheck.columns": "name",
                pfx + "uniquenessCheck.columns": "id",
                pfx + "recentTimestampCheck.column": "ts"}
        context = Waimak.spark_flow(spark, str(tmp_path / "f")).context
        with dq_conf(spark, conf):
            for name, build in _PREFAB_CHECK_BUILDERS.items():
                check = build(context, f"{pfx}{name}.")
                assert isinstance(check, ComposableCheck), name
