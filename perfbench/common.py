"""Shared harness pieces: the run's private directories, the Spark session,
the py4j round-trip counter (the one ``tools/rt_sweep.py`` installs), Spark
event-log reading, memory and host fingerprints, and the append-only
artifact records."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import shutil
import socket
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")

# ---------------------------------------------------------------------------
# py4j round trips: the repository's own send_command counter
# ---------------------------------------------------------------------------


def install_rt_counter() -> None:
    from tools import rt_sweep

    rt_sweep._install_counter()


def rts() -> int:
    """py4j commands sent since the counter was installed."""
    from tools import rt_sweep

    return rt_sweep._COUNT["n"]


# ---------------------------------------------------------------------------
# run directories and the Spark session
# ---------------------------------------------------------------------------


class RunDirs:
    """Everything a run writes lives under ``.perfbench/run-<pid>`` inside
    the checkout; temp files included."""

    def __init__(self, tag: str):
        self.root = os.path.join(STATE_DIR, f"run-{tag}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = self.sub("tmp")
        self.data = self.sub("data")
        self.events = self.sub("events")
        self.work = self.sub("work")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        return path

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(dirs: RunDirs, event_log: bool):
    """local[nproc] session, quiet, all scratch space inside ``dirs``."""
    if ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        # Python workers import waimak_spark by module name
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher environment may name shared scratch dirs; keep blocks,
    # shuffle files and the JVM's own temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = dirs.tmp
    from pyspark.sql import SparkSession

    n = cores()
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("waimak_spark-perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", "2g")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", os.path.join(dirs.work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={dirs.tmp} "
                 f"-Dderby.system.home={dirs.work} "
                 # hsperfdata always goes to /tmp, whatever java.io.tmpdir says
                 "-XX:-UsePerfData")
         .config("spark.eventLog.enabled", str(event_log).lower())
         .config("spark.eventLog.dir", dirs.events)
         .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if kids:
            time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quiet_median(samples) -> tuple[float, int]:
    """Median of the times of ``(seconds, steal share)`` samples during which
    no more of the host's CPU was stolen than during the run's median
    sample, and how many samples that was.  Other guests of a shared host
    take its CPU in bursts, and a call that meets one can take twice as
    long; the stolen share is measured, so the samples it spoilt are known."""
    samples = list(samples)
    if not samples:
        return 0.0, 0
    limit = median(s for _, s in samples)
    quiet = [t for t, s in samples if s <= limit]
    return median(quiet), len(quiet)


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; checksum sidecars excluded."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return total, files


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs and completed stages from the session's event log, keyed so
    they can be attributed by job group or by submission-time window."""

    def __init__(self, events_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for path in glob.glob(os.path.join(events_dir, "**", "events_*"),
                              recursive=True):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        self.jobs[jid] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "stages": [],
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in self.jobs:
                            self.jobs[ev["Job ID"]]["end"] = (
                                ev["Completion Time"] / 1000.0)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        acc = {a["Name"]: a.get("Value")
                               for a in info.get("Accumulables", [])}

                        def num(name, acc=acc):
                            try:
                                return float(acc.get(name) or 0)
                            except (TypeError, ValueError):
                                return 0.0
                        sid = info["Stage ID"]
                        self.stages[sid] = {
                            "job": stage_job.get(sid),
                            "tasks": info.get("Number of Tasks", 0),
                            "start": (info.get("Submission Time") or 0) / 1000.0,
                            "end": (info.get("Completion Time") or 0) / 1000.0,
                            "task_s": num("internal.metrics.executorRunTime") / 1000.0,
                            "shuffle_read_bytes": (
                                num("internal.metrics.shuffle.read.remoteBytesRead")
                                + num("internal.metrics.shuffle.read.localBytesRead")),
                            "shuffle_write_bytes": num(
                                "internal.metrics.shuffle.write.bytesWritten"),
                            "spill_bytes": (
                                num("internal.metrics.memoryBytesSpilled")
                                + num("internal.metrics.diskBytesSpilled")),
                        }
        for sid, st in self.stages.items():
            if st["job"] in self.jobs:
                self.jobs[st["job"]]["stages"].append(sid)

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        return [j for j, v in self.jobs.items() if t0 <= v["start"] <= t1]

    def jobs_of_groups(self, groups) -> list[int]:
        groups = set(groups)
        return [j for j, v in self.jobs.items() if v["group"] in groups]

    def summary(self, job_ids) -> dict[str, float]:
        """Totals over the given jobs; ``job_wall_s`` is the length of the
        union of their running intervals."""
        job_ids = list(job_ids)
        stages = [self.stages[s] for j in job_ids for s in self.jobs[j]["stages"]]
        spans = sorted((self.jobs[j]["start"], self.jobs[j]["end"] or self.jobs[j]["start"])
                       for j in job_ids)
        wall, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    wall += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            wall += cur_e - cur_s
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "task_s": sum(s["task_s"] for s in stages),
            "job_wall_s": wall,
            "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
        }


# ---------------------------------------------------------------------------
# host fingerprint and append-only records
# ---------------------------------------------------------------------------


def source_digest() -> str:
    """sha256 over the library and benchmark sources, for checkouts that
    carry no git metadata."""
    h = hashlib.sha256()
    for pattern in ("waimak_spark/**/*.py", "perfbench/**/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD of the checkout's own repository; None when the checkout is not
    one (an enclosing repository's HEAD would name the wrong code)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2:
        return None
    top, sha = lines
    return sha if os.path.realpath(top) == os.path.realpath(ROOT) else None


def host_fingerprint(spark) -> dict:
    import pyspark

    return {
        "hostname": socket.gethostname(),
        "nproc": cores(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "jvm": str(spark._jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def append_record(record: dict) -> str:
    """Append one JSON line to ``.perfbench/records/<host>/<commit>.jsonl``;
    earlier records are never rewritten."""
    host = record["host"]
    host_key = f"{host['hostname']}-{host['nproc']}c"
    commit = record["commit"] or f"src-{record['source_sha256'][:16]}"
    folder = os.path.join(STATE_DIR, "records", host_key)
    os.makedirs(folder, exist_ok=True)
    path = os.path.join(folder, f"{commit}.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")
    return path
