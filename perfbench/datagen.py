"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the catalog reads (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``), one parquet file each, with
the same column names and types as the repository's test data.  Row counts
scale with ``sf`` the way TPC-H does (lineitem = 6,000,000 x sf).  The same
``(seed, sf)`` always produces byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
_PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget",
              "washer"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "de", "es", "zh"]
_LANG_P = [0.46, 0.16, 0.14, 0.13, 0.11]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


def _ts(epoch_us: np.ndarray) -> pa.Array:
    return pa.array(epoch_us.astype("int64"), type=pa.timestamp("us"))


def _day_us(first: str, last: str) -> tuple[int, int]:
    lo = np.datetime64(first, "us").astype("int64")
    hi = np.datetime64(last, "us").astype("int64")
    return int(lo), int(hi)


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo, hi = _day_us(first, last)
    days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    return _ts(lo + days * US_PER_DAY)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # near duplicates (an earlier document plus a marker word) and a few
    # exact copies, so the dedup entries have something to find
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(15, int(15_000 * sf)),
    }


def _region(r: np.random.Generator, n: dict) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })


def _nation(r: np.random.Generator, n: dict) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(r: np.random.Generator, n: dict) -> pa.Table:
    n_cust = n["customer"]
    keys = np.arange(n_cust)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array(_names("Customer", keys), pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(r.choice(_SEGMENTS, n_cust).tolist(),
                                 pa.string()),
    })


def _supplier(r: np.random.Generator, n: dict) -> pa.Table:
    n_supp = n["supplier"]
    keys = np.arange(n_supp)
    return pa.table({
        "s_suppkey": pa.array(keys, pa.int64()),
        "s_name": pa.array(_names("Supplier", keys), pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, n_supp, -999.99, 9999.99)),
    })


def _part(r: np.random.Generator, n: dict) -> pa.Table:
    n_part = n["part"]
    keys = np.arange(n_part)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            r.integers(0, 8, n_part), r.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": pa.array(r.choice(_PART_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 2)),
    })


def _orders(r: np.random.Generator, n: dict) -> pa.Table:
    n_ord = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], n_ord), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord).tolist(),
                                  pa.string()),
        "o_totalprice": pa.array(_money(r, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _dates(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(r.choice(_PRIORITIES, n_ord).tolist(),
                                    pa.string()),
    })


def _lineitem(r: np.random.Generator, n: dict) -> pa.Table:
    n_line = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_money(r, n_line, 900.0, 100000.0)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line).tolist(),
                                 pa.string()),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_line).tolist(),
                                 pa.string()),
        "l_shipdate": _dates(r, n_line, "1995-01-02", "2001-11-04"),
    })


def _events(r: np.random.Generator, n: dict) -> pa.Table:
    n_evt = n["events"]
    lo, hi = _day_us("2024-01-01", "2024-01-31")
    return pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(np.sort(r.integers(lo, hi, n_evt))),
        "user_id": pa.array(r.integers(0, n["users"], n_evt), pa.int64()),
        "event_type": pa.array(r.choice(_EVENT_TYPES, n_evt).tolist(),
                               pa.string()),
        "value": pa.array(np.round(r.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
                          pa.string()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events,
    "documents": lambda r, n: _documents(r, n["documents"]),
    "embeddings": lambda r, n: _embeddings(r, n["embeddings"]),
}


def build_tables(seed: int, sf: float,
                 tables: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The named tables as Arrow tables; one generator stream per table, so
    a table's contents never depend on which others are built."""
    sizes = _sizes(sf)
    return {t: _BUILDERS[t](np.random.default_rng([seed, TABLES.index(t)]), sizes)
            for t in tables}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def generate(out_dir: str, seed: int, sf: float,
             tables: tuple[str, ...] = TABLES) -> None:
    write_tables(build_tables(seed, sf, tables), out_dir)
