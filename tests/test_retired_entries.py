"""Retired catalog entries stay verified.

Retirement removes an entry from the driver's catalog — it is a coverage
decision, not a deletion.  Every retired (fn, oracle) pair keeps running
the exact same DuckDB lockstep the live catalog runs
(tests/test_catalog_oracle.py), so e.g. "all 22 TPC-H queries verified"
stays true every pytest run even though q12/q17 hold no driver slot.
"""

import duckdb
import pytest

from waimak_spark.catalog import ALL_ENTRIES, RETIRED_ENTRIES

from test_catalog_oracle import TABLES, normalise


@pytest.fixture(scope="module")
def duck():
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(RETIRED_ENTRIES))
def test_retired_entry_still_matches_oracle(name, spark, sf_dir, duck):
    entry = RETIRED_ENTRIES[name]
    sdf = entry["fn"](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry["oracle"])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}")
    ns = normalise(spark_rows, spark_cols)
    nd = normalise(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_retirement_bookkeeping():
    """Every retired entry is OUT of the driver catalog and has its oracle
    preserved (lockstep above stays meaningful)."""
    for name, entry in RETIRED_ENTRIES.items():
        assert name not in ALL_ENTRIES, name
        assert entry.get("oracle"), f"{name} lost its oracle at retirement"
