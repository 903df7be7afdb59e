"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload flow_publish --seed 1 --seconds 10 --trace 0

Workloads: ``flow_publish`` (dataflow, cache, commit and data-quality
layers), ``storage_audit`` (the audit-table storage layer) and
``curation_ops`` (catalog operators over the py4j boundary).  Load is closed
loop from one client on a ``local[nproc]`` session; inputs are generated
from ``--seed`` inside the checkout.

BENCHMARK.json lists the first two.  ``curation_ops`` runs the same way but
is left out of that list: its laps keep loading newly generated classes, so
the JIT never settles, and on a host whose CPU is shared with other guests
its run-to-run spread went past the 0.25 bound.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs one operation of each pair with
spans and Spark job groups and reports per-layer metrics plus the tracing
overhead.  ``setup_s`` is the median of five timed builds of the
workload's fixture, after an untimed one (inputs are generated untimed
first); session start and warm-up are reported in ``detail``.  The line before it carries the workload's own metrics
(``detail``), and every run appends a record with a host fingerprint to
``.perfbench/records/<host>/<commit>.jsonl``.

``--entry NAME --trace 1`` traces a single catalog entry instead: its
construction time and py4j round trips, planning time, sink time and the
Spark stages each phase ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

# the stop limit leaves room for checks and teardown inside 180 s
HARD_STOP_S = 120.0
# the first fixture build of a session runs on a cold JVM and is left
# untimed: with it, the median of three builds moved with host load by more
# than its bound
SETUP_REPEATS = 5


class Ctx:
    def __init__(self, spark, dirs, seed, sf, spans):
        self.spark = spark
        self.dirs = dirs
        self.seed = seed
        self.sf = sf
        self.spans = spans
        self.op_span = None


def workloads():
    from curation_ops import CurationOps
    from flow_publish import FlowPublish
    from storage_audit import StorageAudit

    return {w.name: w for w in (FlowPublish, StorageAudit, CurationOps)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--entry", help="trace one catalog entry (with --trace 1)")
    p.add_argument("--sf", type=float, default=None,
                   help="scale factor override for the generated inputs")
    return p.parse_args(argv)


def op_layers(events, op: dict) -> dict:
    """Generic per-operation split from the Spark event log."""
    s = events.summary(events.jobs_in(op["t0"], op["t1"]))
    s["driver_nojob_s"] = max(0.0, op["op_s"] - s["job_wall_s"])
    s["shuffle_bytes"] = s["shuffle_read_bytes"] + s["shuffle_write_bytes"]
    return s


def per_layer_metrics(events, traced, spans_per_op) -> dict:
    from common import median

    split = [op_layers(events, o) for o in traced]

    def med(k):
        return median(x[k] for x in split)

    job_wall = med("job_wall_s")
    return {
        "py4j.rts_per_op": (median(o["rts"] for o in traced), "count"),
        "spark.jobs_per_op": (med("jobs"), "count"),
        "spark.stages_per_op": (med("stages"), "count"),
        "spark.tasks_per_op": (med("tasks"), "count"),
        "spark.task_s_per_op": (med("task_s"), "s"),
        "spark.job_wall_s_per_op": (job_wall, "s"),
        "spark.task_parallelism": (med("task_s") / max(job_wall, 1e-9), "ratio"),
        "spark.shuffle_bytes_per_op": (med("shuffle_bytes"), "bytes"),
        "driver.nojob_s_per_op": (med("driver_nojob_s"), "s"),
        "trace.spans_per_op": (spans_per_op, "count"),
    }


def spark_totals(events, ops) -> dict:
    tot: dict[str, float] = {}
    for o in ops:
        for k, v in events.summary(events.jobs_in(o["t0"], o["t1"])).items():
            tot[k] = tot.get(k, 0) + v
    keys = ("jobs", "stages", "task_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    units = {"task_s": "s", "jobs": "count", "stages": "count"}
    return {f"spark.{k}": (tot.get(k, 0), units.get(k, "bytes")) for k in keys}


def emit(record: dict, metrics: dict, correct: bool, attempted: int,
         failed: int) -> None:
    import common

    record["records_file"] = common.append_record(record)
    print(json.dumps({"detail": record["detail"]}, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def run(args) -> int:
    import common
    from spans import Spans

    load_before = os.getloadavg()
    cpu_before = common.cpu_times()
    started = time.perf_counter()
    dirs = common.RunDirs(args.entry or args.workload)
    common.install_rt_counter()
    t0 = time.perf_counter()
    spark = common.start_spark(dirs, event_log=bool(args.trace))
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, dirs, args.seed, args.sf, Spans())
    if args.entry:
        return run_entry(ctx, args, load_before, session_s)
    try:
        wl = workloads()[args.workload](ctx)
        # inputs are generated untimed; set-up times the fixture the
        # workload's library calls build from them
        wl.prepare()
        wl.setup()
        setup = []
        for _ in range(SETUP_REPEATS):
            _, dt = common.timed(wl.setup)
            setup.append(dt)
        setup_s = common.median(setup)

        problems: list[str] = []
        attempted = failed = 0

        def one(i: int, traced: bool) -> dict | None:
            nonlocal attempted, failed
            run_id = f"op{i}"
            attempted += 1
            if traced:
                op_span = ctx.spans.open(wl.name, run_id)
                ctx.op_span = op_span["id"]
            rts0, cpu0 = common.rts(), common.cpu_times()
            w0, p0 = time.time(), time.perf_counter()
            try:
                out = wl.op(run_id, traced)
            except Exception as e:  # noqa: BLE001 - counted, reported
                traceback.print_exc()
                failed += 1
                problems.append(f"{run_id}: {e!r}"[:500])
                return None
            finally:
                if traced:
                    ctx.spans.close(op_span)
                    ctx.op_span = None
            out.update(op_s=out.get("lap_s", time.perf_counter() - p0),
                       t0=w0, t1=time.time(),
                       rts=common.rts() - rts0, traced=traced, run_id=run_id,
                       steal=common.steal_share(cpu0, common.cpu_times()))
            return out

        def untimed(phase: str, fn) -> float:
            """One operation outside the measured window that returns the
            output checks it failed; it fails if any did."""
            nonlocal attempted, failed
            attempted += 1
            t0 = time.perf_counter()
            try:
                bad = fn()
            except Exception as e:  # noqa: BLE001 - counted, reported
                traceback.print_exc()
                bad = [f"{phase}: {e!r}"[:500]]
            failed += bool(bad)
            problems.extend(bad)
            return time.perf_counter() - t0

        # the warm-up runs the workload's first output checks
        warmup_s = untimed("warmup", wl.warmup)

        ops: list[dict] = []
        t_start = time.perf_counter()
        i = 0
        while True:
            elapsed = time.perf_counter() - t_start
            # a traced run needs at least one op of each kind
            enough = elapsed >= args.seconds and len(ops) >= wl.min_ops + args.trace
            if enough or time.perf_counter() - started > HARD_STOP_S:
                break
            # traced runs trace one op of each pair, first or second in
            # turn, so neither kind always runs on the fresher state
            out = one(i, bool(args.trace) and i % 2 == (i // 2) % 2)
            if out is not None:
                ops.append(out)
            i += 1
        measured_s = time.perf_counter() - t_start

        check_s = untimed("check", wl.check)

        rss = common.vm_hwm_mb("self") + common.vm_hwm_mb(common.jvm_pid(spark))
        host = common.host_fingerprint(spark)
        untraced = [o for o in ops if not o["traced"]]
        traced = [o for o in ops if o["traced"]]
        detail = {k: {"value": v, "unit": u, "n": n}
                  for k, (v, u, n) in wl.detail(untraced).items()}
        detail.update({
            "setup_s": {"value": setup_s, "unit": "s", "n": len(setup)},
            "session_start_s": {"value": session_s, "unit": "s", "n": 1},
            "warmup_s": {"value": warmup_s, "unit": "s", "n": 1},
            "check_s": {"value": check_s, "unit": "s", "n": 1},
            "failed_op_share": {"value": failed / max(attempted, 1),
                                "unit": "ratio", "n": attempted},
            "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
        })
    finally:
        _, stop_s = common.timed(common.stop_spark, spark)
    detail["stop_s"] = {"value": stop_s, "unit": "s", "n": 1}

    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (wl.op_p50(untraced), "s"),
    }
    if args.trace:
        events = common.EventLog(dirs.events)
        layers = {k: {"value": v, "unit": u}
                  for k, (v, u) in wl.layers(traced).items()}
        layers.update({k: {"value": v, "unit": u}
                       for k, (v, u) in spark_totals(events, ops).items()})
        layers["py4j.rts"] = {"value": sum(o["rts"] for o in ops), "unit": "count"}
        metrics = per_layer_metrics(events, traced,
                                    len(ctx.spans.spans) / max(len(traced), 1))
        metrics["trace.overhead"] = (
            wl.op_p50(traced) / max(wl.op_p50(untraced), 1e-9) - 1.0, "ratio")
        detail["layers"] = layers
        # a flow action's jobs carry its guid as job group; storage calls
        # and catalog phases set a group of their own
        for s in ctx.spans.spans:
            group = s["attrs"].get("group") or s["attrs"].get("guid")
            if group:
                s["attrs"]["spark"] = events.summary(events.jobs_of_groups([group]))
        spans_file = os.path.join(common.STATE_DIR, "spans",
                                  f"{args.workload}-{args.seed}-{int(time.time())}.jsonl")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        ctx.spans.write(spans_file)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "measured_s": measured_s,
        "wall_s": time.perf_counter() - started,
        "op_s": [round(o["op_s"], 4) for o in ops],
        "op_traced": [o["traced"] for o in ops],
        "op_steal": [round(o["steal"], 4) for o in ops],
        "commit": common.git_commit(), "source_sha256": common.source_digest(),
        "host": host, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_share": common.steal_share(cpu_before, common.cpu_times()),
        "time": time.time(), "problems": problems, "detail": detail,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "spans_file": os.path.relpath(spans_file, common.ROOT) if args.trace else None,
    }
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    emit(record, metrics, not problems, attempted, failed)
    dirs.remove()
    return 0


def run_entry(ctx, args, load_before, session_s) -> int:
    """Phase split of one catalog entry: a warm-up run, then traced runs
    for ``--seconds``."""
    import common
    from curation_ops import CurationOps

    try:
        wl = CurationOps(ctx, entries=[args.entry])
        wl.prepare()
        wl.setup()
        wl.run_entry(args.entry, "warmup", False)
        recs, t_start = [], time.perf_counter()
        while time.perf_counter() - t_start < args.seconds or len(recs) < 3:
            rec = wl.run_entry(args.entry, f"run{len(recs)}", True)
            rec["run_id"] = f"run{len(recs)}"
            recs.append(rec)
        host = common.host_fingerprint(ctx.spark)
    finally:
        common.stop_spark(ctx.spark)
    events = common.EventLog(ctx.dirs.events)

    def stages(job_ids):
        out = []
        for j in sorted(job_ids):
            for sid in sorted(events.jobs[j]["stages"]):
                st = events.stages[sid]
                out.append({"stage": sid, "tasks": st["tasks"],
                            "wall_s": st["end"] - st["start"],
                            "task_s": st["task_s"],
                            "shuffle_read_bytes": st["shuffle_read_bytes"],
                            "shuffle_write_bytes": st["shuffle_write_bytes"],
                            "spill_bytes": st["spill_bytes"]})
        return out

    # construction is attributed by time window, not job group: streaming
    # entries run their micro-batches on the query's own thread
    runs = []
    for r in recs:
        construct = events.jobs_in(r["construct_t0"], r["construct_t1"])
        runs.append({
            "construct_s": r["construct_s"], "rts": r["rts"],
            "construct_jobs_wall_s": events.summary(construct)["job_wall_s"],
            "plan_s": r["plan_s"], "sink_s": r["exec_s"],
            "construct_stages": stages(construct),
            "sink_stages": stages(events.jobs_of_groups(
                [f"{r['run_id']}:{args.entry}:sink"])),
        })
    med = {k: common.median(r[k] for r in runs)
           for k in ("construct_s", "construct_jobs_wall_s", "rts", "plan_s",
                     "sink_s")}
    metrics = {f"entry.{k}": (v, "count" if k == "rts" else "s")
               for k, v in med.items()}
    record = {
        "workload": f"entry:{args.entry}", "seed": args.seed, "trace": 1,
        "commit": common.git_commit(), "source_sha256": common.source_digest(),
        "host": host, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "time": time.time(),
        "problems": [], "detail": {"session_start_s": session_s, "runs": runs},
        "metrics": {k: v for k, (v, _u) in metrics.items()},
    }
    emit(record, metrics, True, len(recs), 0)
    ctx.dirs.remove()
    return 0


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "waimak_spark")):
        print("perfbench: waimak_spark sources not found next to perfbench/",
              file=sys.stderr)
        return 2
    if args.entry is not None and not args.trace:
        print("perfbench: --entry needs --trace 1", file=sys.stderr)
        return 2
    if args.entry is None and args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    # str hashing is salted per process unless PYTHONHASHSEED is set; with
    # a random salt, flow_publish runs fell into two speed modes by process
    # (about 1.55 s and 1.78 s per flow), and a fixed salt keeps every run
    # in one.  Spark's Python workers inherit the setting.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable,
                 [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    sys.exit(main())
