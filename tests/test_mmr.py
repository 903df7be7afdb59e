"""Greedy maximal-marginal-relevance selection (Carbonell & Goldstein
1998, SIGIR '98) — the relevance-aware member of the diverse-selection
family (k-center is the pure-coverage member; same determinism recipe:
4dp rounding before every compare, id tie-break).  The reference
(waimak) has no retrieval surface; this is the training-data-pipeline
extension family, with its oracle lockstep here."""

import math

import duckdb
import pytest
from pyspark.sql import Row

from waimak_spark.functions.similarity import (
    MMR_K,
    MMR_LAMBDA,
    mmr_select,
    mmr_select_sql,
)


def _dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _py_mmr(vecs: dict, k: int, lam: float = MMR_LAMBDA,
            pool: int | None = None) -> list[tuple]:
    """Independent pure-Python reference: unit-normalize, query = the
    smallest valid id's vector (excluded from candidates), then greedily
    take the (rounded score desc, id asc) head.  ``pool`` keeps only the
    top-``pool`` candidates by (rel desc, id asc) before the loop — the
    same deterministic cut the Spark kernel and SQL oracle apply."""
    unit = {}
    for i, v in vecs.items():
        if v is None or any(x is None or not math.isfinite(x) for x in v):
            continue
        n2 = _dot(v, v)
        if n2 <= 0:
            continue
        n = math.sqrt(n2)
        unit[i] = [x / n for x in v]
    if not unit:
        return []
    qid = min(unit)
    q = unit[qid]
    rel = {i: round(_dot(v, q), 4) for i, v in unit.items() if i != qid}
    if pool is not None:
        keep = sorted(rel, key=lambda i: (-rel[i], i))[:pool]
        rel = {i: rel[i] for i in keep}
    if not rel:
        return []
    first = min(rel, key=lambda i: (-rel[i], i))
    out = [(1, first, round(lam * rel[first], 4))]
    ms = {}
    last = unit[first]
    live = {i for i in rel if i != first}
    for rank in range(2, k + 1):
        for i in live:
            s = round(_dot(unit[i], last), 4)
            ms[i] = max(ms.get(i, s), s)
        if not live:
            break
        sc = {i: round(lam * rel[i] - (1.0 - lam) * ms[i], 4)
              for i in live}
        nxt = min(sc, key=lambda i: (-sc[i], i))
        out.append((rank, nxt, sc[nxt]))
        last = unit[nxt]
        live.discard(nxt)
    return out


class TestMmrOracle:
    def test_catalog_fn_matches_duckdb(self, spark, sf_dir):
        from waimak_spark.catalog.similarity import (
            _mmr_oracle,
            sample_mmr_diverse,
        )

        got = [(r.rank, r.vec_id, r.score)
               for r in sample_mmr_diverse(spark, sf_dir)
               .orderBy("rank").collect()]
        con = duckdb.connect()
        con.execute(f"create view embeddings as "
                    f"select * from '{sf_dir}/embeddings.parquet'")
        want = [tuple(r) for r in con.execute(_mmr_oracle()).fetchall()]
        assert len(got) == MMR_K
        for (gr, gi, gs), (wr, wi, ws) in zip(got, want):
            assert (gr, gi) == (wr, wi)
            assert gs == pytest.approx(ws, abs=1e-9)

    def test_deterministic_across_runs(self, spark, sf_dir):
        from waimak_spark.catalog.similarity import sample_mmr_diverse

        a = [tuple(r) for r in sample_mmr_diverse(spark, sf_dir)
             .orderBy("rank").collect()]
        b = [tuple(r) for r in sample_mmr_diverse(spark, sf_dir)
             .orderBy("rank").collect()]
        assert a == b


class TestMmrSemantics:
    VECS = {
        1: [1.0, 0.0, 0.0, 0.0],           # the default query row
        2: [0.9, 0.1, 0.0, 0.0],           # very relevant
        3: [0.8, 0.2, 0.0, 0.0],           # relevant, redundant with 2
        4: [0.0, 1.0, 0.0, 0.0],           # orthogonal to query
        5: [-1.0, 0.0, 0.0, 0.0],          # anti-relevant
        6: None,                           # invalid: dropped
        7: [0.0, 0.0, 0.0, 0.0],           # zero norm: dropped
        8: [float("inf"), 1.0, 1.0, 1.0],  # non-finite: dropped
    }

    def _df(self, spark):
        return spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in self.VECS.items()])

    def test_matches_pure_python_reference(self, spark):
        got = [(r.rank, r.vec_id, r.score)
               for r in mmr_select(self._df(spark), k=4, dims=4)
               .orderBy("rank").collect()]
        want = _py_mmr(self.VECS, 4)
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], abs=1e-9)
        # rank-1 is the most query-relevant candidate; the query row
        # itself (vec_id 1) never appears
        assert got[0][1] == 2
        assert all(g[1] != 1 for g in got)

    def test_lambda_one_is_pure_relevance(self, spark):
        """lam=1.0 removes the diversity term — the trace must equal
        the plain relevance top-k (desc rel, asc id)."""
        got = [r.vec_id for r in
               mmr_select(self._df(spark), k=4, dims=4, lam=1.0)
               .orderBy("rank").collect()]
        want = [w[1] for w in _py_mmr(self.VECS, 4, lam=1.0)]
        assert got == want
        # pure relevance order for these vectors: 2, 3, 4, 5
        assert got == [2, 3, 4, 5]

    def test_diversity_term_demotes_redundancy(self, spark):
        """With diversity weighted heavily (lam=0.3), the near-duplicate
        of the rank-1 pick loses rank 2 to a less relevant but novel
        candidate — the defining MMR behavior vs pure relevance (which
        at lam=1.0 ranks the near-duplicate second)."""
        vecs = {
            1: [1.0, 0.0, 0.0, 0.0],       # the default query row
            2: [0.9, 0.1, 0.0, 0.0],       # most relevant
            3: [0.9, 0.1001, 0.0, 0.0],    # near-exact dup of 2
            9: [0.7, 0.7, 0.0, 0.0],       # less relevant, novel
        }
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in vecs.items()])
        diverse = [r.vec_id for r in
                   mmr_select(df, k=3, dims=4, lam=0.3)
                   .orderBy("rank").collect()]
        assert diverse == [w[1] for w in _py_mmr(vecs, 3, lam=0.3)]
        assert diverse[0] == 2 and diverse[1] == 9 and diverse[2] == 3
        pure = [r.vec_id for r in
                mmr_select(df, k=3, dims=4, lam=1.0)
                .orderBy("rank").collect()]
        assert pure == [2, 3, 9]

    def test_explicit_query_vec_keeps_all_candidates(self, spark):
        got = mmr_select(self._df(spark), k=5, dims=4,
                         query_vec=[1.0, 0.0, 0.0, 0.0]).collect()
        ids = {r.vec_id for r in got}
        assert 1 in ids  # no row is excluded when the query is external
        assert len(ids) == 5

    def test_corpus_smaller_than_k_stops_early(self, spark):
        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[1.0, 0.0]),
             Row(vec_id=2, embedding=[0.0, 1.0]),
             Row(vec_id=3, embedding=[0.6, 0.8])])
        out = mmr_select(df, k=9, dims=2).collect()
        assert len(out) == 2  # query row excluded, 2 candidates left

    def test_param_bounds(self, spark):
        df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
        with pytest.raises(ValueError, match="must be >= 1"):
            mmr_select(df, k=0, dims=2)
        with pytest.raises(ValueError, match="argmax barriers"):
            mmr_select(df, k=1025, dims=2)
        with pytest.raises(ValueError, match="lam"):
            mmr_select(df, k=2, dims=2, lam=1.5)

    def test_checkpoint_trace_bit_identical(self, spark, sf_dir):
        """The k-center plan-cut contract holds here too: a checkpoint
        stores the same rounded doubles the expression chain would
        re-derive, and greatest() over the stored value equals the
        chained form."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cut = mmr_select(emb, k=12, checkpoint_every=3).collect()
        uncut = mmr_select(emb, k=12, checkpoint_every=1000).collect()
        assert [tuple(r) for r in cut] == [tuple(r) for r in uncut]
        assert len(cut) == 12

    def test_checkpointed_trace_matches_oracle(self, spark, sf_dir):
        got = [(r.rank, r.vec_id, r.score) for r in
               mmr_select(spark.read.parquet(
                   f"{sf_dir}/embeddings.parquet"),
                   k=10, checkpoint_every=4).collect()]
        con = duckdb.connect()
        con.execute(f"create view embeddings as "
                    f"select * from '{sf_dir}/embeddings.parquet'")
        want = [tuple(r) for r in
                con.execute(mmr_select_sql(k=10)).fetchall()]
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], abs=1e-9)


class TestMmrCandidatePool:
    """The top-M candidate-pool pre-filter (VERDICT r10 #5): the greedy
    loop runs over the top-``pool`` candidates by relevance, so each of
    the k argmax iterations scans a bounded frame — the standard
    MMR-at-scale move.  The cut is deterministic (4dp-rounded rel, id
    tie-break → total order), so the pooled trace is engine-reproducible
    and the SQL oracle embeds the identical cut."""

    def test_pool_matches_pure_python(self, spark):
        vecs = TestMmrSemantics.VECS
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in vecs.items()])
        for pool in (2, 3, 4):
            got = [(r.rank, r.vec_id, r.score)
                   for r in mmr_select(df, k=4, dims=4, pool=pool)
                   .orderBy("rank").collect()]
            want = _py_mmr(vecs, 4, pool=pool)
            assert [(g[0], g[1]) for g in got] == \
                [(w[0], w[1]) for w in want], pool
            for g, w in zip(got, want):
                assert g[2] == pytest.approx(w[2], abs=1e-9)

    def test_identity_when_selection_inside_pool(self, spark):
        """The approximation contract's exact case: when every unpooled
        pick's relevance sits inside the top-pool band, the pooled trace
        IS the unpooled trace.  Crafted corpus: four high-relevance
        mutually-diverse candidates + six anti-relevant distractors the
        diversity term can never promote (their lam*rel term is ~-0.7
        while any survivor scores > 0.3)."""
        vecs = {0: [1.0, 0.0, 0.0, 0.0],
                1: [0.95, 0.30, 0.0, 0.0],
                2: [0.95, 0.0, 0.30, 0.0],
                3: [0.95, 0.0, 0.0, 0.30],
                4: [0.90, 0.25, 0.25, 0.25]}
        for i in range(5, 11):
            vecs[i] = [-1.0, 0.01 * i, 0.0, 0.0]
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in vecs.items()])
        unpooled = [(r.rank, r.vec_id, r.score) for r in
                    mmr_select(df, k=4, dims=4, pool=None)
                    .orderBy("rank").collect()]
        assert {u[1] for u in unpooled} == {1, 2, 3, 4}  # inside top-4
        pooled = [(r.rank, r.vec_id, r.score) for r in
                  mmr_select(df, k=4, dims=4, pool=4)
                  .orderBy("rank").collect()]
        assert pooled == unpooled

    def test_approximation_where_pool_cuts_a_diverse_pick(self, spark):
        """The documented non-exact case: with diversity weighted
        heavily, unpooled MMR promotes the novel-but-less-relevant
        candidate 9 to rank 2; a pool of 2 cuts 9 before the loop, so
        the pooled trace falls back to the near-duplicate — the
        approximation trades exactly this."""
        vecs = {1: [1.0, 0.0, 0.0, 0.0],
                2: [0.9, 0.1, 0.0, 0.0],
                3: [0.9, 0.1001, 0.0, 0.0],
                9: [0.7, 0.7, 0.0, 0.0]}
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=v) for i, v in vecs.items()])
        unpooled = [r.vec_id for r in
                    mmr_select(df, k=2, dims=4, lam=0.3, pool=None)
                    .orderBy("rank").collect()]
        assert unpooled == [2, 9]
        pooled = [r.vec_id for r in
                  mmr_select(df, k=2, dims=4, lam=0.3, pool=2)
                  .orderBy("rank").collect()]
        assert pooled == [2, 3]
        assert pooled == [w[1] for w in _py_mmr(vecs, 2, lam=0.3, pool=2)]

    def test_pooled_trace_matches_sql_oracle(self, spark, sf_dir):
        """Both engines cut the identical top-M row set (total order),
        so the pooled trace stays exactly oracle-checkable."""
        got = [(r.rank, r.vec_id, r.score) for r in
               mmr_select(spark.read.parquet(
                   f"{sf_dir}/embeddings.parquet"), k=6, pool=32)
               .orderBy("rank").collect()]
        con = duckdb.connect()
        con.execute(f"create view embeddings as "
                    f"select * from '{sf_dir}/embeddings.parquet'")
        want = [tuple(r) for r in
                con.execute(mmr_select_sql(k=6, pool=32)).fetchall()]
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[2], abs=1e-9)

    def test_pool_is_distributed_top_m_not_global_sort(self, spark,
                                                       sf_dir):
        """Plan lock for the 100 TB claim: the pool cut compiles to
        TakeOrderedAndProject (per-partition partial top-M + merge) —
        never a global Sort+Limit — and the greedy loop's persisted
        frame IS the pooled frame."""
        captured = []

        def mat(df):
            captured.append(df)
            return df

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        mmr_select(emb, k=3, pool=64, materialize=mat,
                   checkpoint_every=1000)
        # captured[0] is the shared normalized base (round-11 persist:
        # the seed pick and the pool pass share one normalize);
        # captured[1] is the pooled candidate frame the loop scans
        plan = (captured[1]._jdf.queryExecution().executedPlan()
                .toString())
        assert "TakeOrderedAndProject" in plan

    def test_pool_param_bounds(self, spark):
        df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
        with pytest.raises(ValueError, match="pool"):
            mmr_select(df, k=4, dims=2, pool=0)
