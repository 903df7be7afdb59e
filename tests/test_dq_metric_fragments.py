"""Data-quality metrics: every built-in scalar metric is one Spark-SQL
aggregate string, all of a label's scalar metrics run as one
``selectExpr`` job, and a Column is refused as a metric."""

import inspect
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from test_parquet_schema import _settle
from test_storage import _py4j_commands
from waimak_spark.dataquality import (
    Check,
    CheckLevel,
    ComposableCheck,
    completeness_check,
    generic_sql_check,
    outlier_rate_check,
    recent_timestamp_check,
    size_metric,
    uniqueness_check,
)
from waimak_spark.dataquality.checks import AnomalyCheck
from waimak_spark.dataquality.metrics import AbsoluteChangeStrategy

#: descriptions of the frame-function metrics: each runs its own pass
FRAME_METRICS = ("uniqueness(", "outlierRate(")

#: an argument for each parameter name the Check builders take
BUILDER_ARGS = {"column": "x", "columns": ["x"], "predicate": "x > 0",
                "name": "positive", "regex": r"\d",
                "assertion": lambda v: True}


def _every_builder_check() -> Check:
    """One constraint from each public ``Check`` builder."""
    check = Check(CheckLevel.WARNING, "all builders")
    for name, method in inspect.getmembers(Check, inspect.isfunction):
        if name.startswith("_") or name == "add_constraint":
            continue
        args, kwargs = [], {}
        for p in list(inspect.signature(method).parameters.values())[1:]:
            if p.kind is p.VAR_POSITIONAL:
                args.append("x")
            elif p.default is p.empty:
                kwargs[p.name] = BUILDER_ARGS[p.name]
        check = getattr(check, name)(*args, **kwargs)
    return check


def _scalar_metrics_are_strings(check: ComposableCheck) -> None:
    metrics = check._metrics()
    assert metrics
    for name, metric in metrics.items():
        if name.startswith(FRAME_METRICS):
            assert callable(metric), name
        else:
            assert isinstance(metric, str), (name, metric)


def test_every_check_builder_metric_is_sql_text():
    check = _every_builder_check()
    assert len(check.constraints) >= 12
    _scalar_metrics_are_strings(ComposableCheck([check]))


def test_every_prefab_metric_is_sql_text(spark):
    for check in (completeness_check(["x", "y"], 0.9, 0.5),
                  uniqueness_check(["x"], 1.0, 0.5),
                  recent_timestamp_check("x"),
                  recent_timestamp_check("x", now_override=datetime(2024, 1,
                                                                    1)),
                  generic_sql_check(["x > 0"], ["x < 9"]),
                  outlier_rate_check("x")):
        _scalar_metrics_are_strings(check)


def test_every_conf_declared_metric_is_sql_text(spark, tmp_path):
    from test_dq_config_extension import dq_conf
    from waimak_spark import Waimak
    from waimak_spark.dataquality.extension import _PREFAB_CHECK_BUILDERS

    pfx = "spark.waimak.dataquality.deequ.labels.items."
    conf = {pfx + "completenessCheck.columns": "x",
            pfx + "completenessCheck.warningThreshold": "0.9",
            pfx + "uniquenessCheck.columns": "x",
            pfx + "recentTimestampCheck.column": "x",
            pfx + "recentTimestampCheck.nowOverride": "2024-01-01T00:00:00",
            pfx + "genericSQLCheck.warningChecks": "x > 0"}
    context = Waimak.spark_flow(spark, str(tmp_path / "f")).context
    with dq_conf(spark, conf):
        for name, build in _PREFAB_CHECK_BUILDERS.items():
            _scalar_metrics_are_strings(build(context, f"{pfx}{name}."))
    for metric in ("size", "mean:x", "sum:x", "min:x", "max:x"):
        with dq_conf(spark, {pfx + "anomalyCheck.metric": metric}):
            check = _PREFAB_CHECK_BUILDERS["anomalyCheck"](
                context, f"{pfx}anomalyCheck.")
        _scalar_metrics_are_strings(check)


def test_size_metric_is_sql_text():
    name, metric = size_metric()
    assert (name, metric) == ("size", "count(1)")


def test_a_column_metric_is_refused():
    check = Check(CheckLevel.WARNING, "c")
    with pytest.raises(TypeError, match="Spark-SQL aggregate string"):
        check.add_constraint("count(x)", F.count(F.col("x")), bool)
    with pytest.raises(TypeError, match="Spark-SQL aggregate string"):
        AnomalyCheck("size", F.count(F.lit(1)), AbsoluteChangeStrategy())


def test_scalar_metrics_run_as_one_select_expr(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")],
                               "id int, name string")
    check = ComposableCheck([
        Check(CheckLevel.WARNING, "w").has_size(lambda n: n == 3)
        .has_completeness("name", lambda v: v == 1.0)
        .has_max("id", lambda v: v == 3),
        Check(CheckLevel.ERROR, "e").satisfies("id > 1", "big",
                                               lambda v: v >= 0.5)])
    calls = []
    real = type(df).selectExpr

    def spy(self, *exprs):
        calls.append(exprs)
        return real(self, *exprs)

    type(df).selectExpr = spy
    try:
        alerts = check.get_alerts("t", df)
    finally:
        type(df).selectExpr = real
    assert len(calls) == 1 and len(calls[0]) == 4
    assert [a.alert_message for a in alerts] == [
        "Warning alert for label t: check [w] constraint "
        "[completeness(name)] failed (value: 0.6666666666666666)"]


def test_building_and_evaluating_a_completeness_check_is_cheap(spark):
    """Building and evaluating a two-column completeness check sends a few
    py4j commands on the calling thread (proxy releases skipped): the
    metrics are SQL text, parsed in one ``selectExpr`` call."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "a int, b string")

    def evaluate():
        return completeness_check(["a", "b"], warning_threshold=0.99
                                  ).get_alerts("t", df)

    evaluate()  # per-session lookups
    _settle()
    alerts, log = _py4j_commands(evaluate)
    assert alerts == []
    assert len(log) <= 30, len(log)


def test_pattern_with_a_backslash_class_and_a_quote(spark):
    df = spark.createDataFrame([("a1",), ("b'2",), ("c",), (None,)],
                               "code string")
    values = []
    check = ComposableCheck([
        Check(CheckLevel.WARNING, "p").has_pattern(
            "code", r"^[a-z]'?\d$", lambda v: values.append(v) or False)])
    [alert] = check.get_alerts("t", df)
    assert values == [0.5]
    assert "pattern(code, ^[a-z]'?\\d$)" in alert.alert_message


def test_completeness_of_a_nested_struct_field(spark):
    df = spark.createDataFrame(
        [((1, "x"),), ((None, "y"),), ((3, None),), (None,)],
        "s struct<n: int, t: string>")
    alerts = completeness_check(["s.n", "s.t"],
                                warning_threshold=0.6).get_alerts("t", df)
    assert [a.alert_message for a in alerts] == [
        "Less than 60.0% of s.n values were complete on label t "
        "(got 50.0%).",
        "Less than 60.0% of s.t values were complete on label t "
        "(got 50.0%)."]


def test_sql_name_resolves_as_f_col(spark):
    from waimak_spark.sql_text import _sql_name

    df = spark.createDataFrame(
        [((1, 2), 3, 4, 5)],
        "s struct<n: int, `m.k`: int>, `a.b` int, `we``ird` int, "
        "`order id` int")
    for name in ("s", "s.n", "s.`m.k`", "`s`.n", "`a.b`", "order id"):
        want, got = df.select(F.col(name)), df.selectExpr(_sql_name(name))
        assert (got.columns, got.collect()) == (want.columns, want.collect())
    # F.col rejects an unpaired backtick; the name is one identifier
    assert df.selectExpr(_sql_name("we`ird")).collect()[0][0] == 4
