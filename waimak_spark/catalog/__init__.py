"""Query catalog: every implemented operator exposed as a (spark_fn, oracle)
pair for the driver's DuckDB correctness gate.

Each entry maps a name to a dict with:
  ``fn``     — Callable[(SparkSession, sf_dir) -> DataFrame]
  ``oracle`` — ANSI SQL string DuckDB runs over the same parquet views
               (None for non-SQL-expressible ops → rows-only check).

Column names are aliased identically on both sides; float aggregates are
rounded so value-hashes match across engines.

The driver's correctness gate checks only the first 50 entries of
``ALL_ENTRIES`` and records one row per checked entry in the repo's
``CORRECTNESS_r<N>.json``.  ``ALL_ENTRIES`` is therefore ordered by
:func:`driver_order` over those files: entries that never had a green row
lead, then the rest by their newest green row, oldest first.  Each round's
window is derived from the rows already recorded, as a Waimak flow derives
what runs next from what has already run, so landing a new file rotates
the window with no edit here.  The whole catalog, retired entries
included, is verified against the same DuckDB oracles every pytest run
(tests/test_catalog_oracle.py, tests/test_retired_entries.py).
"""

from __future__ import annotations

import glob
import json
import os
import re
from typing import Iterable, Mapping

from . import (curation, dq, events, joins, multimodal, rdbm, relational,
               relational_ext, relational_tpch, similarity, storage,
               streaming, text)

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

_MERGED: dict[str, dict] = {}
for part in (relational, relational_ext, relational_tpch, events, joins,
             streaming, curation, dq, text, similarity, storage, rdbm,
             multimodal):
    overlap = set(part.ENTRIES) & set(_MERGED)
    if overlap:
        raise ValueError(f"duplicate catalog entries: {overlap}")
    _MERGED.update(part.ENTRIES)

# Retired entries leave the driver's catalog but keep their (fn, oracle)
# pair, lockstep-verified against DuckDB every pytest run.
_RETIRED = (
    "q12_late_priority", "q17_small_quantity", "tumbling_window_counts",
    "dedup_simhash_near_dups", "dedup_minhash_verified",
    "dedup_ngram_jaccard", "dedup_against_corpus", "dedup_embedding_cosine",
    "q15_top_supplier", "q4_priority_exists", "running_value_per_user",
    "sample_lang_balanced", "embedding_centroids",
)
_missing = [n for n in _RETIRED if n not in _MERGED]
if _missing:
    raise ValueError(f"retired names not in catalog: {_missing}")
RETIRED_ENTRIES: dict[str, dict] = {n: _MERGED.pop(n) for n in _RETIRED}


def correctness_rounds(repo: str = _REPO) -> dict[int, dict]:
    """The driver's recorded rows by round number, read from
    ``<repo>/CORRECTNESS_r<N>.json``; empty when there are none."""
    rounds = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                rounds[int(m.group(1))] = json.load(fh)
    return rounds


def driver_order(names: Iterable[str],
                 rounds: Mapping[int, Mapping[str, object]]) -> list[str]:
    """``names`` sorted by the round of each one's newest green
    (``hash_match``) row, oldest first.  Names with no green row — never
    checked, or checked red — come first; ties keep the order of
    ``names``."""
    newest: dict[str, int] = {}
    for rnd, rows in rounds.items():
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[name] = max(rnd, newest.get(name, rnd))
    return sorted(names, key=lambda n: newest.get(n, -1))


ALL_ENTRIES: dict[str, dict] = {
    n: _MERGED[n] for n in driver_order(_MERGED, correctness_rounds())}

# Operators with an oracle-checked catalog-style surface that are not
# catalog entries (tools/measure_entry.py, tools/rt_sweep.py and
# tools/scale_check.py measure them through entry_fn).
EXTRA_ENTRIES = {
    "bm25_search": text.bm25_search,
    "dedup_lsh_probe_stored": curation.dedup_lsh_probe_stored,
    "streaming_distinct_hll": streaming.streaming_distinct_hll,
    "dedup_jaccard_prefix": text.dedup_jaccard_prefix,
    "dedup_jaccard_prefix_collapsed": text.dedup_jaccard_prefix_collapsed,
    "sample_priority_topk": curation.sample_priority_topk,
    "streaming_value_quantiles_kmv": streaming.streaming_value_quantiles_kmv,
    "streaming_heavy_hitters_cms": streaming.streaming_heavy_hitters_cms,
    "events_value_winsorized": events.events_value_winsorized,
    "vocab_jaccard_kmv": text.vocab_jaccard_kmv,
    "ann_ivf_pq_refined": similarity.ann_ivf_pq_refined,
    "streaming_sliding_counts": streaming.streaming_sliding_counts,
    "storage_snapshot_diff": storage.storage_snapshot_diff,
    "bpe_encode_stats": text.bpe_encode_stats,
    "hybrid_search_rrf": text.hybrid_search_rrf,
    "quality_classifier_scores": curation.quality_classifier_scores,
    "bm25_probe_stored": text.bm25_probe_stored,
    "er_link_customers": joins.er_link_customers,
    "streaming_quality_scores": streaming.streaming_quality_scores,
}
_extra_overlap = set(EXTRA_ENTRIES) & (set(_MERGED) | set(RETIRED_ENTRIES))
if _extra_overlap:
    raise ValueError(f"extras that are also catalog entries: {_extra_overlap}")


def entry_fn(name: str):
    """The function behind ``name`` in ``ALL_ENTRIES``, else
    ``RETIRED_ENTRIES``, else ``EXTRA_ENTRIES``; KeyError if none has it."""
    for registry in (ALL_ENTRIES, RETIRED_ENTRIES):
        if name in registry:
            return registry[name]["fn"]
    return EXTRA_ENTRIES[name]


def queries():
    return {name: e["fn"] for name, e in ALL_ENTRIES.items()}


def oracle_sql():
    return {
        name: e["oracle"]
        for name, e in ALL_ENTRIES.items()
        if e.get("oracle") is not None
    }
