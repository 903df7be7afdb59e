"""Pure-Python DAG mechanics tests (no Spark) — the reference's
TestSimpleDataFlow tier: add/execute, duplicate labels, cycles, tags,
interceptors, schedulers."""

import pytest

from waimak_spark.dataflow import (
    DataFlow,
    DataFlowEntities,
    DataFlowException,
    EntitiesException,
    FlowValidationException,
    ParallelDataFlowExecutor,
    SequentialDataFlowExecutor,
    SimpleAction,
)
from waimak_spark.dataflow.interceptor import PostActionInterceptor


def action(ins, outs, fn=None, name=None, **kw):
    return SimpleAction(ins, outs, fn or (lambda i, c: [None] * len(outs)), name=name, **kw)


def produce(value):
    return lambda i, c: [value]


class TestEntities:
    def test_get_missing_raises(self):
        with pytest.raises(EntitiesException, match=r"\[x\] is not present"):
            DataFlowEntities()["x"]

    def test_get_empty_raises(self):
        e = DataFlowEntities({"x": None})
        with pytest.raises(EntitiesException, match="empty"):
            e.get("x")

    def test_typed_get(self):
        e = DataFlowEntities({"x": 5})
        assert e.get("x", int) == 5
        with pytest.raises(EntitiesException, match="expected str"):
            e.get("x", str)

    def test_get_all_of_type(self):
        e = DataFlowEntities({"a": 1, "b": "s", "c": 2})
        assert e.get_all_of_type(int) == {"a": 1, "c": 2}


class TestFlowBuilding:
    def test_duplicate_output_label_rejected(self):
        flow = DataFlow().add_action(action([], ["a"]))
        with pytest.raises(FlowValidationException, match="more than one action"):
            flow.add_action(action([], ["a"]))

    def test_output_clashing_with_input_rejected(self):
        flow = DataFlow().add_input("a", 1)
        with pytest.raises(FlowValidationException, match="already present"):
            flow.add_action(action([], ["a"]))

    def test_immutability(self):
        f1 = DataFlow()
        f2 = f1.add_action(action([], ["a"]))
        assert len(f1.actions) == 0 and len(f2.actions) == 1

    def test_missing_dependency_fails_validation(self):
        flow = DataFlow().add_action(action(["nope"], ["a"]))
        with pytest.raises(FlowValidationException, match="no action produces"):
            flow.validate()

    def test_cycle_detected(self):
        flow = (
            DataFlow()
            .add_action(action(["b"], ["a"]))
            .add_action(action(["a"], ["b"]))
        )
        with pytest.raises(FlowValidationException, match="Cycle"):
            flow.validate()

    def test_fold_left_over(self):
        flow = DataFlow().fold_left_over(
            ["a", "b", "c"], lambda f, l: f.add_action(action([], [l]))
        )
        assert [a.output_labels for a in flow.actions] == [["a"], ["b"], ["c"]]


class TestExecution:
    def test_sequential_execution_order_and_results(self):
        log = []

        def rec(name, value):
            def body(i, c):
                log.append(name)
                return [value]

            return body

        flow = (
            DataFlow()
            .add_action(action([], ["a"], rec("a", 1)))
            .add_action(action(["a"], ["b"], lambda i, c: [i.get("a") + 1]))
            .add_action(action(["b"], [], lambda i, c: (log.append("w"), [])[1]))
        )
        executed, final = flow.execute()
        assert len(executed) == 3
        assert not final.actions
        assert final.inputs.get("b") == 2
        assert "w" in log

    def test_failure_carries_action_identity(self):
        def boom(i, c):
            raise ValueError("kapow")

        flow = DataFlow().add_action(action([], ["a"], boom, name="boomer"))
        with pytest.raises(DataFlowException, match="boomer"):
            flow.execute()

    def test_unexecuted_actions_error(self):
        # action "b" waits on a label only produced as None → never ready
        flow = (
            DataFlow()
            .add_action(action([], ["a"], produce(None)))
            .add_action(action(["a"], ["b"], produce(1)))
        )
        with pytest.raises(DataFlowException, match="not executed"):
            flow.execute()

    def test_unexecuted_actions_warn_when_disabled(self):
        flow = (
            DataFlow()
            .add_action(action([], ["a"], produce(None)))
            .add_action(action(["a"], ["b"], produce(1)))
        )
        executed, final = flow.execute(error_on_unexecuted=False)
        assert len(executed) == 1 and len(final.actions) == 1

    def test_requires_all_inputs_false_runs_on_empty(self):
        flow = (
            DataFlow()
            .add_action(action([], ["a"], produce(None)))
            .add_action(
                SimpleAction(["a"], ["b"], lambda i, c: [42],
                             requires_all_inputs=False)
            )
        )
        _, final = flow.execute()
        assert final.inputs.get("b") == 42

    def test_parallel_executor_runs_all(self):
        flow = DataFlow()
        for i in range(10):
            flow = flow.add_action(action([], [f"l{i}"], produce(i)))
        flow = flow.add_action(
            action([f"l{i}" for i in range(10)], ["sum"],
                   lambda i, c: [sum(i.get(f"l{k}") for k in range(10))])
        )
        executed, final = ParallelDataFlowExecutor(max_jobs=4).execute(flow)
        assert final.inputs.get("sum") == 45

    def test_parallel_executor_propagates_failure(self):
        def boom(i, c):
            raise RuntimeError("nope")

        flow = (
            DataFlow()
            .add_action(action([], ["a"], produce(1)))
            .add_action(action([], ["b"], boom, name="bad"))
        )
        with pytest.raises(DataFlowException, match="bad"):
            ParallelDataFlowExecutor(max_jobs=2).execute(flow)


class TestTags:
    def test_tag_dependency_orders_execution(self):
        order = []

        def rec(name):
            def body(i, c):
                order.append(name)
                return []

            return body

        flow = DataFlow()
        flow = flow.tag_dependency("first")(
            lambda f: f.add_action(action([], [], rec("second"), name="second"))
        )
        flow = flow.tagged("first")(
            lambda f: f.add_action(action([], [], rec("first"), name="first"))
        )
        flow.execute()
        assert order == ["first", "second"]

    def test_tag_cycle_detected(self):
        flow = DataFlow()
        flow = flow.tagged("t1")(
            lambda f: f.tag_dependency("t2")(
                lambda g: g.add_action(action([], ["a"]))
            )
        )
        flow = flow.tagged("t2")(
            lambda f: f.tag_dependency("t1")(
                lambda g: g.add_action(action([], ["b"]))
            )
        )
        with pytest.raises(FlowValidationException, match="Cycle"):
            flow.validate()

    def test_action_with_same_tag_and_dependency_rejected(self):
        flow = DataFlow()
        with pytest.raises(FlowValidationException, match="both sets and depends"):
            flow.tagged("t")(
                lambda f: f.tag_dependency("t")(
                    lambda g: g.add_action(action([], ["a"]))
                )
            )


class TestInterceptors:
    def test_post_action_interceptor_transforms_output(self):
        flow = DataFlow().add_action(action([], ["a"], produce(10), name="src"))
        flow = PostActionInterceptor.attach(
            flow, "a", lambda label, v, c: v * 2
        )
        _, final = flow.execute()
        assert final.inputs.get("a") == 20

    def test_stacked_interceptors_compose(self):
        flow = DataFlow().add_action(action([], ["a"], produce(10)))
        flow = PostActionInterceptor.attach(flow, "a", lambda l, v, c: v + 1)
        flow = PostActionInterceptor.attach(flow, "a", lambda l, v, c: v * 2)
        _, final = flow.execute()
        assert final.inputs.get("a") == 22  # (10+1)*2

    def test_rewrap_keeps_cache_marks_and_checks_see_final_value(self):
        """A re-wrap copies the interceptor, so cache marks survive it; a
        check sees the value after every post-action, whenever attached."""
        seen = []
        flow = DataFlow().add_action(action([], ["a"], produce(10)))
        flow = PostActionInterceptor.attach(
            flow, "a", lambda l, v, c: seen.append(v), check=True)
        flow = PostActionInterceptor.attach(flow, "a", lambda l, v, c: v + 1)
        flow.actions[0].parquet_cached_labels = frozenset({"a"})
        flow = PostActionInterceptor.attach(flow, "a", lambda l, v, c: v * 2)
        assert flow.actions[0].parquet_cached_labels == {"a"}
        _, final = flow.execute()
        assert final.inputs.get("a") == 22
        assert seen == [22]

    def test_intercept_missing_label_raises(self):
        with pytest.raises(FlowValidationException, match="No action produces"):
            PostActionInterceptor.attach(DataFlow(), "zzz", lambda l, v, c: v)


class TestMetadataExtensionStabilisation:
    """The stabilisation cap on metadata-extension manipulations is
    conf-tunable (TestDataFlowMetadataExtension.scala:10-47; the flag keeps
    the reference's exact spelling)."""

    def _countdown(self, remaining):
        from waimak_spark.dataflow.flow import MetadataExtension

        outer = self

        class Countdown(MetadataExtension):
            def __init__(self, n):
                self.n = n

            def pre_execution(self, flow):
                flow = flow.without_extension(self)
                if self.n > 0:
                    flow = flow.with_extension(outer._countdown(self.n - 1))
                return flow

        return Countdown(remaining)

    def _context(self, conf):
        from waimak_spark.dataflow.flow import FlowContext

        class Ctx(FlowContext):
            def get_string(self, key, default):
                return conf.get(key, default)

        return Ctx()

    def test_fails_past_default_cap_naming_the_flag(self):
        from waimak_spark.dataflow.flow import CONF_MAX_EXTENSION_ITERATIONS

        flow = DataFlow().with_extension(self._countdown(15))
        with pytest.raises(FlowValidationException) as exc:
            flow.prepare_for_execution()
        assert "Maximum number of iterations [10]" in str(exc.value)
        assert CONF_MAX_EXTENSION_ITERATIONS in str(exc.value)

    def test_passes_under_default_cap(self):
        DataFlow().with_extension(self._countdown(8)).prepare_for_execution()

    def test_conf_raises_the_cap(self):
        from waimak_spark.dataflow.flow import CONF_MAX_EXTENSION_ITERATIONS

        ctx = self._context({CONF_MAX_EXTENSION_ITERATIONS: "20"})
        (DataFlow(ctx).with_extension(self._countdown(15))
         .prepare_for_execution())


class TestConfigurationExtensions:
    """Config-string-enabled pre-execution hooks (DataFlow.scala:345-367,
    659-671) — explicit registry replacing ServiceLoader."""

    def _context(self, conf):
        from waimak_spark.dataflow.flow import FlowContext

        class Ctx(FlowContext):
            def get_string(self, key, default):
                return conf.get(key, default)

        return Ctx()

    def test_enabled_extension_rewrites_flow(self):
        from waimak_spark.dataflow.flow import (
            CONF_EXTENSIONS,
            DataFlowConfigurationExtension,
            register_configuration_extension,
        )

        @register_configuration_extension
        class AddMarker(DataFlowConfigurationExtension):
            extension_key = "test_add_marker"

            def pre_execution_manipulation(self, flow):
                return flow.add_action(action([], ["marker"], produce(42)))

        ctx = self._context({CONF_EXTENSIONS: "test_add_marker"})
        prepared = DataFlow(ctx).prepare_for_execution()
        assert any("marker" in a.output_labels for a in prepared.actions)
        # execute() prepares internally — start from the raw flow
        _, final = DataFlow(ctx).execute()
        assert final.inputs["marker"] == 42

    def test_unknown_extension_name_raises(self):
        from waimak_spark.dataflow.flow import CONF_EXTENSIONS

        ctx = self._context({CONF_EXTENSIONS: "no_such_ext"})
        with pytest.raises(FlowValidationException, match="no_such_ext"):
            DataFlow(ctx).prepare_for_execution()

    def test_no_conf_runs_nothing(self):
        flow = DataFlow().add_action(action([], ["a"], produce(1)))
        assert len(flow.prepare_for_execution().actions) == 1

    def test_registration_requires_key(self):
        from waimak_spark.dataflow.flow import (
            DataFlowConfigurationExtension,
            register_configuration_extension,
        )

        class NoKey(DataFlowConfigurationExtension):
            pass

        with pytest.raises(ValueError, match="extension_key"):
            register_configuration_extension(NoKey)
