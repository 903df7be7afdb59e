"""Strict DuckDB-oracle comparison for every catalog entry — mirrors the
driver's correctness gate (row count + schema + order-insensitive values).
Runs at sf0.001 for speed; the driver runs sf0.01."""

import math

import duckdb
import pytest

from waimak_spark.catalog import ALL_ENTRIES

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck(sf_dir=None):
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf}/{t}.parquet'"
        )
    return con


def normalise(rows, columns):
    """Sort columns by name, then rows; round floats to kill ulp noise."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 6)
        if isinstance(v, bool):
            return int(v)
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


oracle_entries = {k: v for k, v in ALL_ENTRIES.items() if v.get("oracle")}


@pytest.mark.parametrize("name", sorted(oracle_entries))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    entry = oracle_entries[name]
    sdf = entry["fn"](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry["oracle"])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    ns, nd = normalise(spark_rows, spark_cols), normalise(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(ALL_ENTRIES) - set(oracle_entries)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = ALL_ENTRIES[name]["fn"](spark, sf_dir)
    assert df.count() >= 0
    assert df.columns


def test_parity_doc_entry_count_matches_catalog():
    """PARITY.md states the catalog size in prose (ADVICE r4: the r4 text
    said 74 while ALL_ENTRIES had 78) — derive-don't-drift."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PARITY.md")) as fh:
        text = fh.read()
    m = re.search(r"catalog \((\d+) entries", text)
    assert m, "PARITY.md no longer states the catalog entry count"
    assert int(m.group(1)) == len(ALL_ENTRIES), (
        f"PARITY.md says {m.group(1)} entries, catalog has "
        f"{len(ALL_ENTRIES)} — update the rotation section")


def test_entry_module_exports_repo_on_worker_pythonpath():
    """Spark Python workers resolve cloudpickled UDFs by module name via
    PYTHONPATH, not the driver's sys.path — importing the driver contract
    must make the repo importable for workers regardless of the harness
    cwd (a /tmp-launched drive died in Arrow UDF stages without this)."""
    import importlib
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    try:
        importlib.import_module("__spark_entry__")
    finally:
        sys.path.remove(repo)
    assert repo in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_driver_window_covers_all_unchecked_entries():
    """The driver's correctness gate checks only the first 50 entries of
    ALL_ENTRIES.  Rotation invariant: every entry WITHOUT a green row in
    the union of the last TWO CORRECTNESS_r*.json files sits inside the
    window, so no entry goes officially unchecked two rounds running.
    (Union of two: the moment round N's file lands, the round N-1 window
    rotates out.)"""
    from waimak_spark.catalog import correctness_rounds

    rounds = correctness_rounds()
    if not rounds:
        pytest.skip("no driver correctness file yet")
    green = {k for r in sorted(rounds)[-2:] for k, v in rounds[r].items()
             if isinstance(v, dict) and v.get("hash_match")}
    names = list(ALL_ENTRIES)
    window = set(names[:50])
    unchecked = [n for n in names if n not in green and n not in window]
    assert not unchecked, (
        f"entries without a green row in the last two rounds AND outside "
        f"the 50-entry window: {unchecked}")


_GREEN = {"hash_match": True}
_RED = {"hash_match": False, "err": None}
_NO_ORACLE = {"hash_match": False, "err": "no_oracle"}


@pytest.mark.parametrize("rows, want", [
    # no green row leads, whether never checked, red or without an oracle
    ({1: {"a": _GREEN, "b": _RED, "c": _NO_ORACLE}}, ["b", "c", "d", "a"]),
    # an older newest-green row sorts before a newer one
    ({1: {"a": _GREEN, "b": _GREEN}, 2: {"a": _GREEN, "c": _GREEN},
      3: {"d": _GREEN}}, ["b", "a", "c", "d"]),
    # a later red row does not hide an earlier green one
    ({1: {"b": _GREEN}, 2: {"a": _GREEN, "c": _GREEN, "d": _GREEN},
      3: {"b": _RED}}, ["b", "a", "c", "d"]),
    # ties keep the merge order
    ({4: {"d": _GREEN, "c": _GREEN, "b": _GREEN, "a": _GREEN}},
     ["a", "b", "c", "d"]),
    # no files: the merge order
    ({}, ["a", "b", "c", "d"]),
])
def test_driver_order(rows, want):
    from waimak_spark.catalog import driver_order

    assert driver_order(["a", "b", "c", "d"], rows) == want


def test_driver_order_reads_round_numbers(tmp_path):
    """Round numbers come from the file names, compared as numbers."""
    import json

    from waimak_spark.catalog import correctness_rounds, driver_order

    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"a": _GREEN}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"b": _GREEN}))
    (tmp_path / "CORRECTNESS_r10_c8.json").write_text(json.dumps({}))
    rounds = correctness_rounds(str(tmp_path))
    assert set(rounds) == {9, 10}
    assert driver_order(["b", "a"], rounds) == ["a", "b"]


def test_bench_short_names_unique_and_fit():
    """Every catalog entry must map to a unique bench stdout key, and the
    worst-case stdout line must fit the driver's 2000-char tail capture —
    checked here so a colliding/oversized new entry fails the suite
    instead of the tail of a full bench run."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import short_name

    shorts = [short_name(n) for n in ALL_ENTRIES]
    dupes = {s for s in shorts if shorts.count(s) > 1}
    assert not dupes, f"bench short-name collisions: {sorted(dupes)}"
    # worst-case line: every value rendered at max 2-sig-digit width
    line = json.dumps({
        "metric": "headline_queries_total", "value": 99999.999,
        "unit": "sec",
        "queries": {s: 99.0 for s in shorts}, "sf": 0.1,
        "laps": 99,
        "load": 99.999,
    }, separators=(",", ":"))
    assert len(line) < 1990, f"worst-case bench line {len(line)} chars"


def test_bench_load_sentinel_shape_pinned(spark):
    """VERDICT r8 #2: the load sentinel's shape (rows, partitions,
    expression) is what its pinned quiet-host reference time calibrates —
    lock the constants and smoke-run the job so a shape change that
    invalidates SENTINEL_REF_S fails the suite with a message instead of
    silently skewing every future lap's contamination verdict."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench

    assert (bench.SENTINEL_ROWS, bench.SENTINEL_PARTS) == (10 ** 9, 64), \
        "sentinel shape changed — re-pin SENTINEL_REF_S and update this"
    assert 0 < bench.SENTINEL_REF_S < 2.0
    assert bench.SENTINEL_LOAD_FLAG > 1.0
    dt = bench.run_sentinel(spark)
    assert dt > 0


def test_scale_check_extras_stay_consistent():
    """catalog.EXTRA_ENTRIES maps non-catalog operators to callables and
    shares no name with the catalog (the package also raises on overlap
    at import); the tools resolve every name through catalog.entry_fn
    rather than hand-kept lookups."""
    import os

    from waimak_spark.catalog import (EXTRA_ENTRIES, RETIRED_ENTRIES,
                                      entry_fn)

    assert EXTRA_ENTRIES, "extras registry went missing"
    overlap = set(EXTRA_ENTRIES) & (set(ALL_ENTRIES) | set(RETIRED_ENTRIES))
    assert not overlap, f"extras also in the catalog: {sorted(overlap)}"
    for name, fn in EXTRA_ENTRIES.items():
        assert callable(fn) and entry_fn(name) is fn, name
    for registry in (ALL_ENTRIES, RETIRED_ENTRIES):
        for name, entry in registry.items():
            assert entry_fn(name) is entry["fn"], name
    with pytest.raises(KeyError):
        entry_fn("no_such_entry")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for tool in ("scale_check.py", "measure_entry.py", "rt_sweep.py"):
        src = open(os.path.join(repo, "tools", tool)).read()
        assert "entry_fn" in src, f"{tool} no longer uses catalog.entry_fn"
        assert "EXTRA_ENTRIES[" not in src, f"{tool} hand-resolves extras"


def _assert_documented_test_count(request, doc, pattern):
    """The test count ``pattern`` finds in ``doc`` (relative to the repo)
    equals the live collected total on a FULL-suite run; other runs skip."""
    import os
    import re

    config = request.config
    collected = getattr(config, "_waimak_collected", None)
    if collected is None or not getattr(config, "_waimak_full_suite",
                                        False):
        pytest.skip("partial collection — count only checkable on a "
                    "full-suite run")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(repo, doc)).read()
    m = re.search(pattern, text)
    assert m, f"{doc} test-count sentence went missing"
    assert int(m.group(1)) == collected, (
        f"{doc} says {m.group(1)} tests, full collection has "
        f"{collected} — update the {doc} number")


def test_readme_test_count_matches_collection(request):
    """VERDICT r8 #7: the README test count was the last hand-maintained
    number the judge cross-checks — derive-don't-drift it like the
    PARITY catalog count.  The conftest collection hook records the live
    collected total; on a FULL-suite run (no path subset, no -k/-m) the
    README's documented count must equal it exactly.  Subset runs skip:
    their collection is partial by construction."""
    _assert_documented_test_count(request, "README.md",
                                  r"—\s*(\d+)\s+tests\b")


def test_verify_skill_test_count_matches_collection(request):
    """The verify skill's full-suite test count is checked the same way
    as the README's."""
    _assert_documented_test_count(request, ".claude/skills/verify/SKILL.md",
                                  r"\(~\d+ min, (\d+) tests\)")
