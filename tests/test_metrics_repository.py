"""Metrics repository + anomaly-detection round trips — scenarios modeled
on the reference's TestStorageLayerMetricsRepository.scala (two runs a day
apart; an AbsoluteChangeStrategy-over-Size anomaly check warns on the
2-row -> 5-row jump) and Deequ's useRepository/saveOrAppendResult flow."""

from datetime import datetime

import pytest

from waimak_spark.dataflow.spark_flow import Waimak
from waimak_spark.dataquality import (
    AbsoluteChangeStrategy,
    AlertImportance,
    AnomalyCheck,
    Check,
    CheckLevel,
    CollectingAlertHandler,
    ComposableCheck,
    RelativeRateOfChangeStrategy,
    StorageLayerMetricsRepository,
    size_metric,
)

T1 = datetime(2019, 7, 31, 12, 0, 0)   # "yesterday"
T2 = datetime(2019, 8, 1, 12, 0, 0)    # "today"

YESTERDAY = [(1, "Thingy A"), (2, "Thingy B")]
TODAY = [(1, "Thingy A"), (2, "Thingy B"), (3, None), (4, "Thingy D"),
         (5, "Thingy E")]


def _repo(spark, tmp_path):
    return StorageLayerMetricsRepository(spark, str(tmp_path / "storage"))


def _anomaly(max_increase=2.0, strategy=None):
    name, agg = size_metric()
    return AnomalyCheck(
        name, agg,
        strategy or AbsoluteChangeStrategy(max_rate_increase=max_increase),
        CheckLevel.WARNING)


def _run(spark, tmp_path, rows, check, handler, label="items", sub="f"):
    df = spark.createDataFrame(rows, "id int, name string")
    (Waimak.spark_flow(spark, str(tmp_path / sub))
     .open(label, lambda c: df)
     .add_data_quality_check(label, check, handler)
     .execute())


class TestRepositoryRoundTrip:
    def test_save_and_load_history(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        repo.save("items", {"size": 2.0, "completeness(name)": 1.0}, T1)
        repo.save("items", {"size": 5.0, "completeness(name)": 0.8}, T2)
        hist = repo.load()
        rows = {(r["metric_name"], r["dataset_ts"]): r["metric_value"]
                for r in hist.collect()}
        assert rows[("size", T1)] == 2.0
        assert rows[("size", T2)] == 5.0
        assert rows[("completeness(name)", T2)] == 0.8
        assert hist.count() == 4

    def test_previous_window_picks_latest_before_ts(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        repo.save("items", {"size": 2.0}, T1)
        repo.save("items", {"size": 5.0}, T2)
        assert repo.previous_window("items", ["size"], T2, 1) == {
            "size": [2.0]}
        # nothing strictly before T1
        assert repo.previous_window("items", ["size"], T1, 1) == {}

    def test_empty_repository_loads_none(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        assert repo.load() is None
        assert repo.previous_window("items", ["size"], T2, 1) == {}

    def test_history_is_per_label(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        repo.save("a", {"size": 2.0}, T1)
        repo.save("b", {"size": 99.0}, T1)
        assert repo.previous_window("a", ["size"], T2, 1) == {"size": [2.0]}
        assert repo.previous_window("b", ["size"], T2, 1) == {"size": [99.0]}


class TestAnomalyDetection:
    def test_size_jump_warns_like_reference_scenario(self, spark, tmp_path):
        """2 rows yesterday, 5 today, max absolute increase 2.0 — today's
        run must produce exactly one Warning (the reference asserts
        CheckStatus.Warning on the same shape)."""
        repo = _repo(spark, tmp_path)
        h1 = CollectingAlertHandler()
        _run(spark, tmp_path, YESTERDAY,
             ComposableCheck([], [_anomaly()], repo, T1), h1, sub="f1")
        assert h1.alerts == []  # first run: no history, no alert

        h2 = CollectingAlertHandler()
        _run(spark, tmp_path, TODAY,
             ComposableCheck([], [_anomaly()], repo, T2), h2, sub="f2")
        assert len(h2.alerts) == 1
        a = h2.alerts[0]
        assert a.importance == AlertImportance.WARNING
        assert "size" in a.alert_message and "anomaly" in a.alert_message

    def test_within_bounds_change_is_quiet(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        h1, h2 = CollectingAlertHandler(), CollectingAlertHandler()
        _run(spark, tmp_path, YESTERDAY,
             ComposableCheck([], [_anomaly(max_increase=10.0)], repo, T1),
             h1, sub="f1")
        _run(spark, tmp_path, TODAY,
             ComposableCheck([], [_anomaly(max_increase=10.0)], repo, T2),
             h2, sub="f2")
        assert h1.alerts == [] and h2.alerts == []

    def test_metrics_persisted_alongside_constraints(self, spark, tmp_path):
        """Constraint metrics and anomaly metrics all land in the repo."""
        repo = _repo(spark, tmp_path)
        h = CollectingAlertHandler()
        check = ComposableCheck(
            [Check(CheckLevel.WARNING, "basics")
             .has_size(lambda n: n >= 1)
             .has_completeness("name", lambda v: v >= 0.0)],
            [_anomaly()], repo, T1)
        _run(spark, tmp_path, TODAY, check, h)
        hist = repo.load()
        names = {r["metric_name"] for r in hist.collect()}
        assert {"size", "completeness(name)"} <= names
        vals = {r["metric_name"]: r["metric_value"] for r in hist.collect()}
        assert vals["size"] == 5.0
        assert vals["completeness(name)"] == pytest.approx(0.8)

    def test_relative_rate_strategy(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        strat = RelativeRateOfChangeStrategy(max_rate_increase=2.0)
        h1, h2 = CollectingAlertHandler(), CollectingAlertHandler()
        _run(spark, tmp_path, YESTERDAY,
             ComposableCheck([], [_anomaly(strategy=strat)], repo, T1),
             h1, sub="f1")
        _run(spark, tmp_path, TODAY,  # 5/2 = 2.5 > 2.0
             ComposableCheck([], [_anomaly(strategy=strat)], repo, T2),
             h2, sub="f2")
        assert h1.alerts == []
        assert len(h2.alerts) == 1 and "rate" in h2.alerts[0].alert_message

    def test_anomaly_without_repository_fails_validation(self, spark,
                                                         tmp_path):
        from waimak_spark.dataflow.exceptions import DataFlowException

        with pytest.raises((ValueError, DataFlowException),
                           match="repository"):
            _run(spark, tmp_path, TODAY,
                 ComposableCheck([], [_anomaly()], None, T1),
                 CollectingAlertHandler())

    def test_concat_refuses_different_repositories(self, spark, tmp_path):
        r1, r2 = _repo(spark, tmp_path), StorageLayerMetricsRepository(
            spark, str(tmp_path / "other"))
        c1 = ComposableCheck([], [_anomaly()], r1, T1)
        c2 = ComposableCheck([], [_anomaly()], r2, T1)
        with pytest.raises(ValueError, match="different metrics repositories"):
            c1.concat(c2)

    def test_concat_merges_anomalies_and_repo(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        c1 = ComposableCheck(
            [Check(CheckLevel.WARNING, "w").has_size(lambda n: n >= 1)])
        c2 = ComposableCheck([], [_anomaly()], repo, T1)
        merged = c1.concat(c2)
        assert merged.repository is repo
        assert len(merged.anomaly_checks) == 1
        assert len(merged.checks) == 1


class TestIdempotentSave:
    def test_same_run_saved_twice_keeps_one_row_set(self, spark, tmp_path):
        """Retried evaluation of the SAME run (same tags/label/metric/ts)
        must not append duplicate history rows — duplicates silently
        shift anomaly baselines and break the one-row-per-run lag."""
        repo = _repo(spark, tmp_path)
        repo.save("items", {"size": 2.0, "mean(x)": 1.5}, T1)
        repo.save("items", {"size": 2.0, "mean(x)": 1.5}, T1)  # retry
        assert repo.load().count() == 2
        # a PARTIAL retry (one metric already saved) appends only the new one
        repo.save("items", {"size": 2.0, "max(x)": 9.0}, T1)
        hist = {(r["metric_name"], r["dataset_ts"]): r["metric_value"]
                for r in repo.load().collect()}
        assert len(hist) == 3 and hist[("max(x)", T1)] == 9.0

    def test_get_alerts_twice_one_history_row_per_metric(self, spark,
                                                         tmp_path):
        repo = _repo(spark, tmp_path)
        df = spark.createDataFrame(TODAY, "id int, name string")
        check = ComposableCheck(
            [Check(CheckLevel.WARNING, "basics").has_size(lambda n: n >= 1)],
            repository=repo, dataset_ts=T1)
        check.get_alerts("items", df)
        check.get_alerts("items", df)  # re-validation of the same run
        assert repo.load().count() == 1

    def test_aware_and_naive_timestamps_normalize(self, spark, tmp_path):
        """An aware UTC dataset_ts and its naive equivalent are the SAME
        run key — stored naive-UTC, so strictly-before comparisons can't
        misorder across conventions."""
        from datetime import timezone

        repo = _repo(spark, tmp_path)
        aware_t1 = T1.replace(tzinfo=timezone.utc)
        repo.save("items", {"size": 2.0}, aware_t1)
        repo.save("items", {"size": 2.0}, T1)  # same instant, naive
        assert repo.load().count() == 1
        assert repo.previous_window("items", ["size"],
                                    T2.replace(tzinfo=timezone.utc), 1) == {
            "size": [2.0]}

    def test_conflicting_metric_names_raise(self, spark, tmp_path):
        repo = _repo(spark, tmp_path)
        df = spark.createDataFrame(TODAY, "id int, name string")
        check = ComposableCheck(
            [Check(CheckLevel.WARNING, "a")
             .satisfies("id > 0", "frac", lambda v: True),
             Check(CheckLevel.WARNING, "b")
             .satisfies("id > 4", "frac", lambda v: True)],
            repository=repo, dataset_ts=T1)
        with pytest.raises(ValueError, match="collision"):
            check.get_alerts("items", df)

    def test_identical_duplicate_descriptions_collapse_ok(self, spark,
                                                          tmp_path):
        """Two has_size constraints on different Checks are the same
        analyzer (same value) — persist as one metric, no error."""
        repo = _repo(spark, tmp_path)
        df = spark.createDataFrame(TODAY, "id int, name string")
        check = ComposableCheck(
            [Check(CheckLevel.WARNING, "a").has_size(lambda n: n >= 1),
             Check(CheckLevel.ERROR, "b").has_size(lambda n: n >= 1)],
            repository=repo, dataset_ts=T1)
        assert check.get_alerts("items", df) == []
        assert repo.load().count() == 1


class TestWindowStrategy:
    def test_previous_window_returns_oldest_to_newest(self, spark, tmp_path):
        from datetime import timedelta

        repo = _repo(spark, tmp_path)
        for i in range(5):
            repo.save("items", {"size": float(i)}, T1 + timedelta(days=i))
        win = repo.previous_window("items", ["size"],
                                   T1 + timedelta(days=10), 3)
        assert win == {"size": [2.0, 3.0, 4.0]}

    def test_batch_normal_flags_outlier_after_stable_history(self, spark,
                                                             tmp_path):
        """Stable ~100-row history, then a 500-row batch: window strategy
        must flag it; a same-sized batch stays quiet."""
        from datetime import timedelta

        from waimak_spark.dataquality import BatchNormalStrategy

        repo = _repo(spark, tmp_path)
        strat = BatchNormalStrategy(window_size=4, min_history=3,
                                    lower_deviation_factor=3.0,
                                    upper_deviation_factor=3.0)
        name, agg = size_metric()

        def run_with(n_rows, ts, sub):
            h = CollectingAlertHandler()
            rows = [(i, f"r{i}") for i in range(n_rows)]
            check = ComposableCheck(
                [], [AnomalyCheck(name, agg, strat, CheckLevel.WARNING)],
                repo, ts)
            _run(spark, tmp_path, rows, check, h, sub=sub)
            return h.alerts

        for i, n in enumerate((100, 101, 99, 100)):
            assert run_with(n, T1 + timedelta(days=i), f"s{i}") == []
        alerts = run_with(500, T1 + timedelta(days=5), "s5")
        assert len(alerts) == 1
        assert "stddev" in alerts[0].alert_message
        # in-band batch after the spike entered history: mean/std widened,
        # but 100 is still within 3 sigma of the last-4 window? The spike
        # inflates stddev enormously, so a return to 100 stays quiet.
        assert run_with(100, T1 + timedelta(days=6), "s6") == []

    def test_batch_normal_needs_min_history(self):
        from waimak_spark.dataquality import BatchNormalStrategy

        s = BatchNormalStrategy(window_size=5, min_history=3)
        assert s.detect([100.0, 100.0], 500.0) is None  # too short
        assert s.detect([100.0, 100.0, 100.0], 500.0) is not None

    def test_batch_normal_zero_variance_history(self):
        from waimak_spark.dataquality import BatchNormalStrategy

        s = BatchNormalStrategy(window_size=4, min_history=3)
        assert s.detect([5.0, 5.0, 5.0], 5.0) is None
        assert s.detect([5.0, 5.0, 5.0], 5.1) is not None


class TestCatalogDqMarker:
    def test_stale_version_marker_triggers_rebuild(self, spark, sf_dir):
        """A marker dir left by an OLDER build version must rebuild, not
        silently reuse (or append to) the stale history — the rmtree on
        version mismatch is load-bearing."""
        from waimak_spark.catalog import dq

        repo = dq._build_metrics(spark, sf_dir)
        assert repo.load().count() == 4  # 2 runs x 2 metrics
        base = dq._base_dir(sf_dir)
        marker = f"{base}/{dq._BUILD_MARKER}"
        with open(marker, "w") as fh:
            fh.write("v0-stale")
        repo = dq._build_metrics(spark, sf_dir)
        assert repo.load().count() == 4  # rebuilt fresh, not appended
        with open(marker) as fh:
            assert fh.read().strip() == dq._BUILD_VERSION


class TestStrategies:
    def test_absolute_change_bounds(self):
        s = AbsoluteChangeStrategy(max_rate_decrease=-2.0,
                                   max_rate_increase=2.0)
        assert s.detect([2.0], 5.0) is not None       # +3 > 2
        assert s.detect([5.0], 2.0) is not None       # -3 < -2
        assert s.detect([2.0], 3.0) is None
        assert s.detect([3.0], 2.0) is None

    def test_relative_rate_bounds(self):
        s = RelativeRateOfChangeStrategy(max_rate_decrease=0.5,
                                         max_rate_increase=2.0)
        assert s.detect([2.0], 5.0) is not None       # 2.5x
        assert s.detect([5.0], 2.0) is not None       # 0.4x
        assert s.detect([2.0], 3.0) is None
        assert s.detect([0.0], 0.0) is None
        assert s.detect([0.0], 1.0) is not None       # undefined rate


class TestSuccessMetricsJson:
    def test_json_newest_first(self, spark, tmp_path):
        import json

        repo = _repo(spark, tmp_path)
        repo.save("items", {"size": 2.0}, T1)
        repo.save("items", {"size": 5.0}, T2)
        out = json.loads(repo.success_metrics_json(["size"]))
        assert [e["value"] for e in out] == [5.0, 2.0]   # newest first
        assert out[0]["name"] == "size"
        assert out[0]["dataset_date"] == (T2 - datetime(1970, 1, 1)
                                          ).total_seconds() * 1000.0

    def test_json_filters_metrics_and_empty(self, spark, tmp_path):
        import json

        repo = _repo(spark, tmp_path)
        assert repo.success_metrics_json() == "[]"
        repo.save("items", {"size": 2.0, "mean(x)": 1.5}, T1)
        out = json.loads(repo.success_metrics_json(["mean(x)"]))
        assert len(out) == 1 and out[0]["name"] == "mean(x)"


class TestOneHistoryRead:
    def test_evaluation_opens_the_metrics_table_once(self, spark, tmp_path,
                                                     monkeypatch):
        """A repository-backed evaluation reads the history and appends
        this run's metrics through one table handle."""
        from waimak_spark.storage import audit

        opens = []
        real = audit.open_tables

        def counting(*a, **kw):
            opens.append(a[1])
            return real(*a, **kw)

        monkeypatch.setattr(audit, "open_tables", counting)
        repo = _repo(spark, tmp_path)
        df = spark.createDataFrame(TODAY, "id int, name string")
        for ts in (T1, T2):
            opens.clear()
            ComposableCheck(
                [Check(CheckLevel.WARNING, "basics")
                 .has_size(lambda n: n >= 1)],
                [_anomaly()], repo, ts).get_alerts("items", df)
            assert opens == [["metrics"]]
        assert repo.load().count() == 2

    def test_one_read_serves_point_and_window_strategies(self, spark,
                                                         tmp_path):
        """The history is read as deep as the largest window: the point
        strategy compares with the newest prior value, the window
        strategy with its last ``window_size`` values."""
        from datetime import timedelta

        from waimak_spark.dataquality import BatchNormalStrategy

        repo = _repo(spark, tmp_path)
        for i, (size, total) in enumerate(
                ((10.0, 15.0), (10.0, 100.0), (10.0, 100.0), (4.0, 100.0))):
            repo.save("items", {"size": size, "sum(id)": total},
                      T1 + timedelta(days=i))
        name, agg = size_metric()
        check = ComposableCheck([], [
            AnomalyCheck(name, agg, AbsoluteChangeStrategy(
                max_rate_decrease=-2.0)),
            AnomalyCheck("sum(id)", "sum(id)", BatchNormalStrategy(
                window_size=3, min_history=3))],
            repo, T1 + timedelta(days=9))
        df = spark.createDataFrame(TODAY, "id int, name string")
        alerts = [a.alert_message for a in check.get_alerts("items", df)]
        assert alerts == [
            "Warning anomaly for label items: metric [sum(id)] value 15 < "
            "mean 100 - 3·stddev 0 over last 3 runs"]
