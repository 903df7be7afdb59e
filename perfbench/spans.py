"""In-memory spans for the traced run.

A span is ``(name, start, end, parent, run_id)`` plus a free-form ``attrs``
dict; times are epoch seconds so spans line up with the Spark event log.
Flow actions are recorded by :class:`TracingReporter`, which the parallel
executor calls from its worker threads.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from waimak_spark.dataflow.executor import FlowReporter


class Spans:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def open(self, name: str, run_id: str, parent: int | None = None,
             **attrs) -> dict:
        span = {"id": next(self._ids), "name": name, "start": time.time(),
                "end": None, "parent": parent, "run_id": run_id,
                "attrs": attrs}
        with self._lock:
            self.spans.append(span)
        return span

    @staticmethod
    def close(span: dict) -> dict:
        span["end"] = time.time()
        return span

    @contextmanager
    def span(self, name: str, run_id: str, parent: int | None = None,
             **attrs):
        s = self.open(name, run_id, parent, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def of_run(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run_id"] == run_id]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def duration(span: dict) -> float:
    return (span["end"] or span["start"]) - span["start"]


class TracingReporter(FlowReporter):
    """Records one span per flow action, keyed by the action guid (the job
    group the executor sets for the action's Spark jobs)."""

    def __init__(self, spans: Spans, run_id: str, parent: int | None):
        self.spans = spans
        self.run_id = run_id
        self.parent = parent
        self.open: dict[str, dict] = {}
        self.actions: dict[str, object] = {}

    def action_started(self, action, flow) -> None:
        self.actions[action.guid] = action
        self.open[action.guid] = self.spans.open(
            action.name, self.run_id, self.parent, guid=action.guid,
            inputs=list(action.input_labels),
            outputs=list(action.output_labels))

    def action_finished(self, action, flow) -> None:
        self.spans.close(self.open.pop(action.guid))

    def action_failed(self, action, error) -> None:
        span = self.open.pop(action.guid, None)
        if span is not None:
            span["attrs"]["error"] = repr(error)
            self.spans.close(span)


def producers(actions: dict[str, object]) -> dict[str, list[str]]:
    """guid -> guids it waited for: producers of its input labels plus the
    actions carrying a tag it depends on."""
    by_label = {l: g for g, a in actions.items() for l in a.output_labels}
    out = {}
    for g, a in actions.items():
        deps = {by_label[l] for l in a.input_labels if l in by_label}
        deps |= {h for h, b in actions.items()
                 if h != g and set(b.tags) & set(a.tag_dependencies)}
        out[g] = sorted(deps)
    return out


def flow_analysis(action_spans: list[dict], actions: dict[str, object],
                  exec_start: float, exec_end: float) -> dict:
    """Scheduling metrics of one executed flow from its action spans."""
    by_guid = {s["attrs"]["guid"]: s for s in action_spans}
    deps = producers({g: a for g, a in actions.items() if g in by_guid})
    first = min(s["start"] for s in action_spans)
    last = max(s["end"] for s in action_spans)
    busy = sum(duration(s) for s in action_spans)
    queue_wait = 0.0
    for g, ds in deps.items():
        if ds:
            queue_wait += max(0.0, by_guid[g]["start"]
                              - max(by_guid[d]["end"] for d in ds))
    # longest chain: the predecessor of each action is the dependency that
    # finished last, so the chain ending at the last-finishing action is
    # the path that set the flow's length
    chain, g = [], max(by_guid, key=lambda k: by_guid[k]["end"])
    while g is not None:
        chain.append(g)
        ds = deps.get(g) or []
        g = max(ds, key=lambda d: by_guid[d]["end"]) if ds else None
    chain.reverse()
    return {
        "first_action_delay_s": first - exec_start,
        "actions": len(action_spans),
        "action_busy_s": busy,
        "queue_wait_s": queue_wait,
        "critical_path_s": sum(duration(by_guid[c]) for c in chain),
        "overlap": busy / max(last - first, 1e-9),
        "finalise_s": exec_end - last,
        "critical_path": [by_guid[c]["name"] for c in chain],
    }
