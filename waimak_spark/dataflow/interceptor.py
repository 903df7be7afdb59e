"""Interceptors: replace an existing action to post-process its outputs
while keeping the same scheduling guid.

Re-expresses InterceptorAction / PostActionInterceptor
(waimak-core/.../dataflow/InterceptorAction.scala:18-76,
PostActionInterceptor.scala:7-59).
"""

from __future__ import annotations

import copy
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame

from .action import DataFlowAction
from .entities import DataFlowEntities
from .exceptions import FlowValidationException
from .flow import DataFlow

# A post-action: (label, value, context) -> new value
PostAction = Callable[[str, Optional[Any], Any], Optional[Any]]


def post_transform(fn: Callable[[DataFrame], DataFrame]) -> PostAction:
    def post(_label: str, value: Optional[Any], _context: Any) -> Optional[Any]:
        return fn(value) if value is not None else None

    return post


class InterceptorAction(DataFlowAction):
    """Wraps another action; runs it, then post-processes selected outputs.

    Keeps the intercepted action's guid so scheduling state carries over
    (InterceptorAction.scala:24-30).
    """

    def __init__(self, intercepted: DataFlowAction):
        super().__init__(
            intercepted.input_labels, intercepted.output_labels,
            name=f"intercept:{intercepted.name}",
        )
        self.intercepted = intercepted
        self.guid = intercepted.guid
        self.tags = intercepted.tags
        self.tag_dependencies = intercepted.tag_dependencies
        self.pool = intercepted.pool
        self.requires_all_inputs = intercepted.requires_all_inputs

    def perform(self, inputs: DataFlowEntities, context: Any):
        outputs = self.intercepted.perform_checked(inputs, context)
        return self.instead(inputs, outputs, context)

    def instead(self, inputs: DataFlowEntities, outputs: list, context: Any) -> list:
        return outputs


class PostActionInterceptor(InterceptorAction):
    """Applies per-label post-actions to the intercepted action's outputs,
    then runs the label's checks on the final value.

    Checks (data-quality evaluations) see the value every post-action has
    produced, whatever order they were attached in, and their results are
    discarded.  ``parquet_cached_labels`` / ``spark_cached_labels`` record
    the labels a cache post-action already materializes."""

    parquet_cached_labels: frozenset[str] = frozenset()
    spark_cached_labels: frozenset[str] = frozenset()

    def __init__(self, intercepted: DataFlowAction,
                 post_actions: dict[str, PostAction]):
        super().__init__(intercepted)
        self.post_actions = dict(post_actions)
        self.checks: dict[str, tuple[PostAction, ...]] = {}

    def instead(self, inputs, outputs, context):
        out = list(outputs)
        for i, label in enumerate(self.output_labels):
            if label in self.post_actions:
                out[i] = self.post_actions[label](label, out[i], context)
            for check in self.checks.get(label, ()):
                check(label, out[i], context)
        return out

    @staticmethod
    def attach(flow: DataFlow, label: str, post: PostAction,
               check: bool = False) -> DataFlow:
        """Wrap the producer of ``label`` with a post-action (or, with
        ``check``, a check); stacks if the producer is already intercepted
        (PostActionInterceptor.scala:30-59).  A re-wrap is a copy of the
        interceptor, so its guid, tags and cache marks carry over."""
        producers = [a for a in flow.actions if label in a.output_labels]
        if not producers:
            raise FlowValidationException(
                f"No action produces label [{label}] to intercept"
            )
        target = producers[0]
        if isinstance(target, PostActionInterceptor):
            new = copy.copy(target)
            new.post_actions = dict(target.post_actions)
            new.checks = dict(target.checks)
        else:
            new = PostActionInterceptor(target, {})
        if check:
            new.checks[label] = new.checks.get(label, ()) + (post,)
        else:
            prev = new.post_actions.get(label)
            new.post_actions[label] = (
                (lambda l, v, c, p=prev, n=post: n(l, p(l, v, c), c))
                if prev else post
            )
        return flow.add_interceptor(new, target.guid)
