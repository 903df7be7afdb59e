"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json, and ``curation_ops``, which it leaves
out, at scale factor 0.001, untraced and traced, and asserts that each metric BENCHMARK.json names is printed with
its unit, that metric names are well formed, that all output checks pass,
and that one seed regenerates byte-identical inputs and storage batches.
Takes a few minutes.
"""

from __future__ import annotations

import io
import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_names(metrics: dict) -> None:
    for name, m in metrics.items():
        assert NAME.fullmatch(name), name
        assert m.get("unit"), f"{name} has no unit"


def test_workloads() -> None:
    s = spec()
    for wl in [w["name"] for w in s["workloads"]] + ["curation_ops"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            detail, result = run(wl, trace)
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in s[key]}
            got = result["metrics"]
            assert set(got) == set(want), (wl, trace, set(got) ^ set(want))
            for name, unit in want.items():
                assert got[name]["unit"] == unit, name
                assert isinstance(got[name]["value"], (int, float)), name
            check_names(got)
            check_names({k: v for k, v in detail.items() if k != "layers"})
            check_names(detail.get("layers", {}))
            assert detail["failed_op_share"]["value"] == 0.0
        print(f"ok {wl}", flush=True)


def test_seeded_inputs_are_byte_identical() -> None:
    import datagen
    from storage_audit import base_batch, update_batch

    def raw(table) -> bytes:
        buf = io.BytesIO()
        pq.write_table(table, buf, compression="snappy")
        return buf.getvalue()

    a, b = datagen.build_tables(7, 0.001), datagen.build_tables(7, 0.001)
    assert all(raw(a[t]) == raw(b[t]) for t in datagen.TABLES)
    assert raw(a["orders"]) != raw(datagen.build_tables(8, 0.001)["orders"])
    subset = datagen.build_tables(7, 0.001, ("lineitem", "nation"))
    assert all(raw(subset[t]) == raw(a[t]) for t in subset)
    base = base_batch(7, 0.001)
    for step in (1, 2, 5):
        assert raw(update_batch(base, 7, step)) == raw(
            update_batch(base_batch(7, 0.001), 7, step))


if __name__ == "__main__":
    test_seeded_inputs_are_byte_identical()
    print("ok seeded inputs", flush=True)
    test_workloads()
