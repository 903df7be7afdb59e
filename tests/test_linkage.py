"""Entity resolution / record linkage (Fellegi & Sunter 1969; blocking
per Christen 2012) — dual-offset blocking, normalized-Levenshtein +
balance scoring, ground-truth evaluation.  The reference (waimak) has
no linkage surface; this is the training-data-pipeline extension
family, with its oracle lockstep here."""

import hashlib
import math

import duckdb
from pyspark.sql import Row

from waimak_spark.functions.linkage import (
    ER_BAL_W,
    ER_OFFSET,
    ER_SEED,
    ER_THRESHOLD,
    ER_W_BAL,
    ER_W_NAME,
    link_customers,
    link_records,
    perturbed_customers,
)


def _h(key, seed=ER_SEED):
    return int(hashlib.md5(f"er:{seed}:{key}".encode())
               .hexdigest()[:8], 16)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _py_link(rows, seed=ER_SEED, threshold=ER_THRESHOLD):
    """Independent reference over (custkey, name, nationkey, mktsegment,
    acctbal) tuples — same perturbation, dual grids, scoring, 4dp."""
    dirty = []
    for k, n, nk, seg, bal in rows:
        h = _h(k, seed)
        if h % 3 == 1:
            n2 = n[:9] + "X" + n[10:]
        elif h % 3 == 2:
            n2 = n[:9] + "XY" + n[11:]
        else:
            n2 = n
        dirty.append((k + ER_OFFSET, n2, nk, seg,
                      round(bal + (h % 7) * 0.01, 2)))
    out = {}
    for ak, an, ank, aseg, abal in rows:
        for bk, bn, bnk, bseg, bbal in dirty:
            if ank != bnk or aseg != bseg:
                continue
            g0 = (math.floor(abal / ER_BAL_W)
                  == math.floor(bbal / ER_BAL_W))
            g1 = (math.floor((abal + ER_BAL_W / 2) / ER_BAL_W)
                  == math.floor((bbal + ER_BAL_W / 2) / ER_BAL_W))
            if not (g0 or g1):
                continue
            ns = 1.0 - _lev(an, bn) / max(len(an), len(bn))
            bs = 1.0 - min(abs(abal - bbal) / 5.0, 1.0)
            score = round(ER_W_NAME * ns + ER_W_BAL * bs, 4)
            if score >= threshold:
                out[(ak, bk)] = (round(ns, 4), round(bs, 4), score,
                                 1 if bk - ER_OFFSET == ak else 0)
    return out


class TestLinkageOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.joins import (
            _er_link_oracle,
            er_link_customers,
        )

        got = sorted(tuple(r) for r in
                     er_link_customers(spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(f"create view customer as "
                    f"select * from '{sf_dir}/customer.parquet'")
        want = sorted(tuple(r) for r in con.execute(
            _er_link_oracle()).fetchall())
        assert len(got) == len(want) > 0
        assert got == want

    def test_matches_pure_python_reference(self, spark):
        rows = [
            (1, "Customer#000000001", 3, "BUILDING", 2099.99),
            (2, "Customer#000000002", 3, "BUILDING", 2100.01),
            (3, "Customer#000000003", 3, "BUILDING", 2099.95),
            (4, "Customer#000000004", 7, "MACHINERY", 50.00),
            (5, "Customer#000000005", 3, "FURNITURE", 2099.99),
        ]
        df = spark.createDataFrame(
            [Row(c_custkey=k, c_name=n, c_nationkey=nk,
                 c_mktsegment=seg, c_acctbal=b)
             for k, n, nk, seg, b in rows])
        got = {(r.a_key, r.b_key):
               (r.name_sim, r.bal_sim, r.score, r.is_true)
               for r in link_customers(df).collect()}
        assert got == _py_link(rows)

    def test_perfect_recall_measured_precision(self, spark, sf_dir):
        """Recall is PROVABLY 1.0 at the defaults: a true pair differs
        by <= 2 name chars of >= 18 (name_sim >= 0.8889) and <= 6 cents
        (bal_sim >= 0.988), so score >= 0.9186 >= 0.9; and 6 cents <
        W/2, so the dual grids cannot both split it.  Precision is a
        measured gate (0.9997 at sf0.1 — 4 genuine near-collisions)."""
        from waimak_spark.catalog.joins import er_link_customers

        rows = er_link_customers(spark, sf_dir).collect()
        n_cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
                  .count())
        tp = sum(r.is_true for r in rows)
        assert tp == n_cust, "a true pair was missed"
        assert tp / len(rows) >= 0.99

    def test_boundary_straddling_pair_found_via_second_grid(self, spark):
        """The dual-offset completeness claim, pinned: balances 2099.99
        vs 2100.01 sit in different primary buckets (20 vs 21) but the
        same offset bucket, so the pair must still surface."""
        a = spark.createDataFrame([Row(
            c_custkey=1, c_name="Customer#000000001", c_nationkey=1,
            c_mktsegment="BUILDING", c_acctbal=2099.99)])
        b = spark.createDataFrame([Row(
            b_key=ER_OFFSET + 1, b_name="Customer#000000001",
            b_nationkey=1, b_mktsegment="BUILDING", b_acctbal=2100.01)])
        got = link_records(a, b).collect()
        assert len(got) == 1 and got[0].is_true == 1

    def test_pair_in_both_grids_emitted_once(self, spark):
        """A pair matching in BOTH grids (same bucket in each) must be
        deduped to one scored row."""
        a = spark.createDataFrame([Row(
            c_custkey=1, c_name="Customer#000000001", c_nationkey=1,
            c_mktsegment="BUILDING", c_acctbal=2050.00)])
        b = spark.createDataFrame([Row(
            b_key=ER_OFFSET + 1, b_name="Customer#000000001",
            b_nationkey=1, b_mktsegment="BUILDING", b_acctbal=2050.00)])
        got = link_records(a, b).collect()
        assert len(got) == 1

    def test_below_threshold_pair_absent(self, spark):
        a = spark.createDataFrame([Row(
            c_custkey=1, c_name="Customer#000000001", c_nationkey=1,
            c_mktsegment="BUILDING", c_acctbal=2000.00)])
        b = spark.createDataFrame([Row(
            b_key=ER_OFFSET + 2, b_name="Totally#Different##",
            b_nationkey=1, b_mktsegment="BUILDING", b_acctbal=2000.00)])
        assert link_records(a, b).collect() == []


class TestLinkagePlan:
    def test_equi_joins_only_no_python(self, spark, sf_dir):
        """Both grid joins must plan as hash joins on the full
        (nation, segment, bucket) key — never a nested loop over the
        coarse blocks — and the kernel is UDF-free (levenshtein is a
        JVM builtin)."""
        from waimak_spark.catalog.joins import er_link_customers

        plan = (er_link_customers(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
