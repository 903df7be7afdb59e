"""Greedy k-center diverse sampling (Sener & Savarese 2018,
arXiv:1708.00489) — farthest-point traversal with the rounded-distance /
id-tie-break determinism recipe.  The reference (waimak) has no sampling
surface of this kind; this is the training-data-pipeline extension
family, with its oracle lockstep here."""

import math

import duckdb
import pytest
from pyspark.sql import Row

from waimak_spark.functions.similarity import (
    KCENTER_K,
    kcenter_select,
    kcenter_select_sql,
)


def _py_kcenter(vecs: dict[int, list[float]], k: int) -> list[tuple]:
    """Independent pure-Python reference: unit-normalize, seed at the
    smallest id, then greedily take the (rounded md desc, id asc) head."""
    unit = {}
    for i, v in vecs.items():
        if v is None or any(x is None or not math.isfinite(x) for x in v):
            continue
        n2 = 0.0
        for x in v:
            n2 += x * x
        if n2 <= 0:
            continue
        n = math.sqrt(n2)
        unit[i] = [x / n for x in v]
    if not unit:
        return []
    seed = min(unit)
    out = [(1, seed, None)]
    md = {}
    for i, v in unit.items():
        if i == seed:
            continue
        d = 0.0
        for x, y in zip(v, unit[seed]):
            d += x * y
        md[i] = round(1.0 - d, 4)
    for rank in range(2, k + 1):
        if not md:
            break
        nxt = min(md, key=lambda i: (-md[i], i))
        out.append((rank, nxt, md[nxt]))
        nv = unit[nxt]
        del md[nxt]
        for i in list(md):
            d = 0.0
            for x, y in zip(unit[i], nv):
                d += x * y
            md[i] = min(md[i], round(1.0 - d, 4))
    return out


class TestKCenterOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.similarity import sample_kcenter_diverse

        got = sorted((r.rank, r.vec_id, r.dist)
                     for r in sample_kcenter_diverse(spark, sf_dir).collect())
        con = duckdb.connect()
        con.execute(f"create view embeddings as "
                    f"select * from '{sf_dir}/embeddings.parquet'")
        want = sorted((r[0], r[1], r[2]) for r in
                      con.execute(kcenter_select_sql()).fetchall())
        assert len(got) == KCENTER_K
        assert got[0][2] is None and want[0][2] is None
        for (gr, gi, gd), (wr, wi, wd) in zip(got, want):
            assert (gr, gi) == (wr, wi)
            if gd is not None:
                assert gd == pytest.approx(wd, abs=1e-9)

    def test_deterministic_across_runs(self, spark, sf_dir):
        from waimak_spark.catalog.similarity import sample_kcenter_diverse

        a = [tuple(r) for r in sample_kcenter_diverse(spark, sf_dir)
             .orderBy("rank").collect()]
        b = [tuple(r) for r in sample_kcenter_diverse(spark, sf_dir)
             .orderBy("rank").collect()]
        assert a == b


class TestKCenterSemantics:
    def test_matches_pure_python_reference(self, spark):
        vecs = {
            1: [1.0, 0.0, 0.0, 0.0],
            2: [0.9, 0.1, 0.0, 0.0],
            3: [0.0, 1.0, 0.0, 0.0],
            4: [0.0, 0.0, 1.0, 0.0],
            5: [-1.0, 0.0, 0.0, 0.0],
            6: None,                       # invalid: dropped
            7: [0.0, 0.0, 0.0, 0.0],       # zero norm: dropped
            8: [float("inf"), 1.0, 1.0, 1.0],  # non-finite: dropped
        }
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in vecs.items()])
        got = [(r.rank, r.vec_id, r.dist)
               for r in kcenter_select(df, k=4, dims=4)
               .orderBy("rank").collect()]
        want = _py_kcenter(vecs, 4)
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        for g, w in zip(got[1:], want[1:]):
            assert g[2] == pytest.approx(w[2], abs=1e-9)
        # the seed is the smallest valid id; farthest from [1,0,0,0] on
        # the unit sphere is its antipode
        assert got[0][1] == 1 and got[1][1] == 5

    def test_greedy_max_property(self, spark, sf_dir):
        """Each selected center's dist is non-increasing with rank — the
        defining monotonicity of farthest-point traversal (the covering
        radius can only shrink as centers are added)."""
        from waimak_spark.catalog.similarity import sample_kcenter_diverse

        rows = (sample_kcenter_diverse(spark, sf_dir)
                .orderBy("rank").collect())
        dists = [r.dist for r in rows[1:]]
        assert all(a >= b for a, b in zip(dists, dists[1:]))
        assert len({r.vec_id for r in rows}) == len(rows)

    def test_corpus_smaller_than_k_stops_early(self, spark):
        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[1.0, 0.0]),
             Row(vec_id=2, embedding=[0.0, 1.0])])
        out = kcenter_select(df, k=5, dims=2).collect()
        assert len(out) == 2

    def test_k_bounds(self, spark):
        df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
        with pytest.raises(ValueError, match="must be >= 1"):
            kcenter_select(df, k=0, dims=2)
        with pytest.raises(ValueError, match="argmax barriers"):
            kcenter_select(df, k=1025, dims=2)

    def test_checkpoint_trace_bit_identical(self, spark, sf_dir):
        """VERDICT r8 #5: the plan cut every j rounds must not change a
        single trace row — a checkpoint stores the same rounded doubles
        the expression chain would re-derive, and least() over the
        stored value equals the chained form.  k=16 with j=3 (five cuts,
        cuts landing mid-run and back-to-back-ish) vs j=1000 (the old
        uncheckpointed shape) must agree tuple-for-tuple; j=3 must also
        still satisfy the oracle at an uncut-vs-cut k."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cut = kcenter_select(emb, k=16, checkpoint_every=3).collect()
        uncut = kcenter_select(emb, k=16, checkpoint_every=1000).collect()
        assert [tuple(r) for r in cut] == [tuple(r) for r in uncut]
        assert len(cut) == 16

    def test_checkpointed_trace_matches_oracle(self, spark, sf_dir):
        """The checkpointed path (j small enough that cuts actually
        fire) must still match the engine-exact unrolled SQL oracle —
        the strongest form of the bit-identity claim."""
        import duckdb

        from waimak_spark.functions.similarity import kcenter_select_sql

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        got = [tuple(r) for r in
               kcenter_select(emb, k=10, checkpoint_every=4).collect()]
        con = duckdb.connect()
        con.execute(f"create view embeddings as "
                    f"select * from '{sf_dir}/embeddings.parquet'")
        want = [tuple(r) for r in
                con.execute(kcenter_select_sql(k=10)).fetchall()]
        assert got == want

    def test_plan_stays_jvm_no_corpus_shuffle(self, spark, sf_dir):
        """The per-round argmax must plan as TakeOrderedAndProject (no
        global sort), with zero Python stages in the scan."""
        from pyspark.sql import functions as F

        from waimak_spark.functions.similarity import (
            _pq_unit_base,
            dot_sexpr,
        )
        from waimak_spark.functions.util import dvec_sexpr

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = _pq_unit_base(emb, 64, "vec_id", "embedding")
        lit_vec = dvec_sexpr([1.0 / 8.0] * 64)
        probe = (base.withColumn(
            "_md", F.expr(f"round(1.0D - {dot_sexpr('v', lit_vec)}, 4)"))
            .orderBy(F.desc("_md"), F.asc("vec_id")).limit(1))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
