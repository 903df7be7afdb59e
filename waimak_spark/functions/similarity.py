"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k as the exact baseline, LSH-bucketed (random
hyperplane / sign-bits) as the scale path, IVF (coarse centroid cells)
for approximate top-k.

Vector math runs in TWO lockstep forms:

* Spark-SQL expressions (``zip_with`` + ``aggregate``, built on
  :func:`dot_sexpr`) — JVM-side, used for tiny inputs and kept as the
  reference semantics; and
* vectorized Arrow-batch kernels (``pandas_udf`` + NumPy) for the hot
  per-row scoring paths. The NumPy kernels accumulate **sequentially over
  dimensions** (one IEEE-754 rounding per multiply and per add, in the
  same order as ``F.aggregate``/``zip_with`` and DuckDB
  ``list_dot_product``) while vectorizing **across rows**, so the results
  are bit-identical to the interpreted-HOF form — argmin / sign-bit
  decisions cannot diverge from the oracle. NumPy elementwise ufuncs do
  not fuse multiply-add, so no FMA contraction breaks the parity.

Scale notes (100 TB posture): brute-force is a broadcast of the query set
against a scan of the corpus (no shuffle on the big side; O(Q×N) flops).
The LSH variant assigns each vector a sign-bit bucket from D deterministic
pseudo-random hyperplanes, so candidate generation is an equi-join on
bucket id — at 1000 executors the corpus-side stays partition-local until
one shuffle on the (small) bucket key space. Scoring is Arrow-batched
(~1000 rows per Python call), never row-at-a-time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .util import dmat_sexpr, dvec_sexpr


def dot_sexpr(a: str, b: str) -> str:
    """Sequential-order dot product of two array<double> expressions
    (matches DuckDB ``list_dot_product`` ulp-for-ulp on the same
    doubles)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0.0D as double), (acc, v) -> acc + v)")


def as_double(col: Column) -> Column:
    return col.cast("array<double>")


def valid_embeddings(emb: DataFrame, dims: int,
                     vec_col: str = "embedding") -> DataFrame:
    """Keep only rows whose vector is non-NULL, exactly ``dims`` wide, and
    all-finite.  Every similarity operator routes its input through this
    choke point: the Arrow kernels would raise on NULL/ragged rows
    (``np.array`` of a ragged list), and NaN ordering DIFFERS between
    engines (Spark SQL sorts NaN greater than every number, NumPy
    comparisons return False, DuckDB follows IEEE) — so a vector carrying
    a non-finite component has no engine-stable bucket/cell/rank and is
    treated as invalid input rather than propagated inconsistently.

    The filter is ONE parsed SQL string; ``double('Infinity')``
    constant-folds to the infinity double literal (optimized plan
    locked in tests/test_dvec_lit.py)."""
    return emb.where(F.expr(
        f"`{vec_col}` is not null and size(`{vec_col}`) = {int(dims)} "
        f"and forall(cast(`{vec_col}` as array<double>), "
        f"x -> x is not null and not isnan(x) "
        f"and abs(x) != double('Infinity'))"))


# ---------------------------------------------------------------------------
# vectorized Arrow-batch kernels (the hot path)
# ---------------------------------------------------------------------------


def _rows_matrix(series: pd.Series) -> np.ndarray:
    """Stack an Arrow batch of array<double> values into an (n, d) float64
    matrix (rows arrive as numpy arrays already; this is one copy)."""
    if len(series) == 0:
        return np.zeros((0, 0))
    return np.array(series.tolist(), dtype=np.float64)


def _seq_matmul(X: np.ndarray, W: np.ndarray) -> np.ndarray:
    """``X(n,d) · Wᵀ(d,p)`` accumulated sequentially over ``d`` but
    vectorized over rows: per element one rounded multiply then one rounded
    add per dimension, in ascending-dimension order — bit-identical to the
    per-row ``F.aggregate(F.zip_with(v, w, *), 0.0, +)`` and to DuckDB's
    ``list_dot_product``. (A BLAS ``X @ W.T`` would use pairwise/blocked
    summation whose roundoff differs in the last ulp — enough to flip an
    argmin between near-tied centroids and break oracle lockstep.)"""
    acc = np.zeros((X.shape[0], W.shape[0]))
    for d in range(W.shape[1]):
        acc += X[:, d, None] * W[:, d][None, :]
    return acc


def _seq_rowdot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise sequential dot product of two (n, d) matrices."""
    acc = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


# DataType instances (not DDL strings) so the module imports without an
# active SparkSession — DDL return types are parsed at decoration time
@F.pandas_udf(DoubleType())
def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    """Sequential dot product per row-pair (Arrow-batched)."""
    A, B = _rows_matrix(a), _rows_matrix(b)
    if A.size == 0:
        return pd.Series(np.zeros(len(a)))
    return pd.Series(_seq_rowdot(A, B))


# ---------------------------------------------------------------------------
# sign-bit LSH bucketing: deterministic pseudo-random hyperplanes from a
# seeded md5 hash of (plane, dim) — reproducible in ANSI SQL
# ---------------------------------------------------------------------------

DEFAULT_PLANES = 16  # 2^16 = 65 536 buckets — candidate fan-out ~n²/65 536;
# at 8 planes (256 buckets) the bucket join degenerates toward n²/256 at
# corpus scale, so 16 is the floor for a 100×-safe single-table LSH


def _plane_weight(plane: int, dim: int) -> float:
    """Deterministic weight in [-1, 1): derived from md5(plane:dim)."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return (h / 2**31) - 1.0


def _plane_matrix(n_planes: int, dims: int) -> list[list[float]]:
    return [[_plane_weight(p, d) for d in range(dims)] for p in range(n_planes)]


def lsh_bucket(vec: str, n_planes: int, dims: int) -> Column:
    """Pack sign bits of ``n_planes`` hyperplane projections of the
    array<double> expression ``vec`` into a long.

    Expression form (interpreted HOFs) — kept as the reference semantics
    and for composition inside pure-SQL plans; the bucketing operators use
    the bit-identical vectorized kernel ``_lsh_features`` instead."""
    planes = dmat_sexpr(_plane_matrix(n_planes, dims))
    bitvals = ("cast(array(" + ", ".join(str(1 << p) for p in range(n_planes))
               + ") as array<bigint>)")
    projs = f"transform({planes}, w -> {dot_sexpr(vec, 'w')})"
    return F.expr(
        f"aggregate(zip_with({projs}, {bitvals}, "
        f"(pr, bv) -> case when pr > 0 then bv else cast(0 as bigint) end), "
        f"cast(0 as bigint), (a, x) -> a + x)")


def _lsh_features(n_planes: int, dims: int):
    """Vectorized (bucket, nrm) kernel: one Arrow pass computes the
    sign-bit bucket and the vector norm for a whole batch."""
    W = np.array(_plane_matrix(n_planes, dims))
    bits = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @F.pandas_udf("bucket long, nrm double")
    def feat(v: pd.Series) -> pd.DataFrame:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.DataFrame({"bucket": pd.Series([], dtype="int64"),
                                 "nrm": pd.Series([], dtype="float64")})
        proj = _seq_matmul(X, W)
        bucket = ((proj > 0) * bits).sum(axis=1)
        return pd.DataFrame({"bucket": bucket,
                             "nrm": np.sqrt(_seq_rowdot(X, X))})

    return feat


LSH_ANN_MAX_BUCKET = 200  # frequent-bucket pruning (bounds collect + pairs)


def brute_force_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     dims: int = 64) -> DataFrame:
    """Exact top-k cosine neighbours for the given query ids (broadcast the
    query side; corpus side is a single scan).

    Candidate scoring stays a JVM SQL expression here: the cross
    product is Q×N rows each carrying two 64-dim vectors, and shipping that
    through Arrow to a Python kernel costs more in serde than the
    interpreted dot saves (measured 10× slower at sf0.1) — the vectorized
    kernels win only where the per-row compute is many dots (LSH/IVF
    bucketing) or the pair set is bucket-bounded."""
    from pyspark.sql import Window as W

    from .dedup import spread_for_compute

    emb = valid_embeddings(emb, dims, vec_col)
    base = spread_for_compute(emb).selectExpr(
        f"`{id_col}`", f"cast(`{vec_col}` as array<double>) as v")
    # carry each vector's norm so the per-candidate expression does one dot
    # product instead of three (self-dots are interpreted HOFs with no CSE);
    # sqrt-then-multiply keeps the result IEEE-identical to the inline form.
    # Projections parse as ONE SQL string each.
    base = base.selectExpr("*", f"sqrt({dot_sexpr('v', 'v')}) as nrm")
    queries = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col(id_col) != F.col("query_id"))
        .selectExpr("query_id", f"`{id_col}` as neighbor_id",
                    f"round({dot_sexpr('qv', 'v')} / (qn * nrm), 4) "
                    f"as cosine_sim")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def brute_force_topk_sql(query_ids: list[int], k: int = 5) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        with base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        ), queries as (
            select vec_id as query_id, v as qv from base
            where vec_id in ({ids})
        ), scored as (
            select query_id, vec_id as neighbor_id,
                   round(list_dot_product(qv, v)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(v, v))), 4) as cosine_sim
            from base cross join queries
            where vec_id != query_id
        )
        select query_id, neighbor_id, rank, cosine_sim
        from (
            select *, row_number() over (partition by query_id
                                         order by cosine_sim desc,
                                                  neighbor_id asc) as rank
            from scored
        )
        where rank <= {k}
    """


def lsh_ann_pairs(emb: DataFrame, n_planes: int = DEFAULT_PLANES,
                  dims: int = 64, min_cosine: float = 0.5,
                  max_bucket: int = LSH_ANN_MAX_BUCKET,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Near-neighbour pairs among vectors sharing an LSH bucket.

    Plan shape: one scan computes (id, v, bucket, nrm) — bucket and norm
    come from ONE Arrow-batched kernel pass; bucket sizes are counted with
    a sort-based window FIRST (so a degenerate bucket — e.g. a corpus full
    of identical vectors — never materializes an unbounded member array in
    an aggregation buffer), oversized buckets are dropped, and pairs are
    expanded in-bucket. The groupBy hashes on the same key as the window so
    the exchange is reused — one shuffle total, no self-join."""
    from pyspark.sql import Window as W

    from ..functions.dedup import spread_for_compute

    emb = valid_embeddings(emb, dims, vec_col)
    v = as_double(F.col(vec_col))
    feat = _lsh_features(n_planes, dims)
    base = (
        spread_for_compute(emb)
        .select(F.col(id_col), v.alias("v"))
        # the kernel is projected ONCE as a struct, fields extracted in the
        # next projection — same staging discipline as the HOF operators
        .select("*", feat(F.col("v")).alias("_f"))
        .select(F.col(id_col), "v",
                F.col("_f.bucket").alias("bucket"),
                F.col("_f.nrm").alias("nrm"))
    )
    bounded = (
        base.withColumn("bn", F.count("*").over(W.partitionBy("bucket")))
        .where((F.col("bn") >= 2) & (F.col("bn") <= max_bucket))
    )
    buckets = (
        bounded.groupBy("bucket")
        .agg(F.sort_array(
            F.collect_list(F.struct(id_col, "v", "nrm"))).alias("ms"))
    )
    from ..functions.dedup import pairs_of_sexpr

    pairs = (buckets.selectExpr(f"explode({pairs_of_sexpr('ms')}) as p")
             .selectExpr(f"p.a.`{id_col}` as id_a",
                         f"p.b.`{id_col}` as id_b",
                         "p.a.v as va", "p.b.v as vb",
                         "p.a.nrm as na", "p.b.nrm as nb"))
    # one Arrow-batched dot per pair; norms were computed once per vector
    sim = F.round(
        _pair_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    return (
        pairs.select("id_a", "id_b", sim.alias("cosine_sim"))
        .where(F.col("cosine_sim") >= min_cosine)
    )


def embedding_cosine_dedup(emb: DataFrame, min_cosine: float = 0.0,
                           n_planes: int = DEFAULT_PLANES, dims: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Near-duplicate RESOLUTION over embeddings: LSH candidate pairs with
    cosine ≥ threshold become duplicate edges, and every id is assigned a
    canonical id = min(itself, all duplicate partners) — one groupBy over
    the edge list, no iteration. (Min-over-neighbors is the standard
    single-pass approximation of connected components; chains longer than
    one hop keep distinct canonicals until a later pass — see
    ``embedding_cosine_dedup_fixpoint`` for the chain-resolving variant.)"""
    pairs = lsh_ann_pairs(emb, n_planes, dims, min_cosine,
                          id_col=id_col, vec_col=vec_col)
    # symmetric edge expansion in ONE pass over pairs (a unionAll of two
    # projections would evaluate the whole LSH pipeline twice — no CSE
    # across union branches), then pre-aggregate min(peer) per id so the
    # corpus join touches one tiny row per duplicated id
    edges = pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("id"), F.col("id_b").alias("peer")),
        F.struct(F.col("id_b").alias("id"), F.col("id_a").alias("peer")),
    )).alias("e")).select("e.id", "e.peer")
    min_peer = edges.groupBy("id").agg(F.min("peer").alias("peer"))
    ids = emb.select(F.col(id_col).alias("id"))
    return (ids.join(min_peer, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce(F.least("id", "peer"), F.col("id"))
                    .alias("canonical_id")))


#: edge subgraphs at or below this row count are solved driver-side with
#: union-find instead of the distributed loop — the same small-side-goes-
#: local reasoning as a broadcast join: ≤200k (id, peer) rows is ~3 MB of
#: longs, and one bounded collect + exact local solve replaces ~6
#: scheduled Spark jobs of pure fixed cost (measured: sf0.1 simhash's
#: 30k-edge subgraph resolved in 2.35 s distributed, <0.3 s locally).
#: The distributed loop is unchanged and remains THE path above the
#: threshold — a 100 TB duplicate edge set never comes near the driver.
FIXPOINT_LOCAL_MAX_EDGES = 200_000


def resolve_duplicates_fixpoint(ids: DataFrame, pairs: DataFrame,
                                max_iters: int = 20,
                                local_max_edges: int =
                                FIXPOINT_LOCAL_MAX_EDGES) -> DataFrame:
    """Connected-component canonical assignment by min-label propagation:
    every id's canonical converges to the MINIMUM id of its duplicate
    component, however long the chain (A~B, B~C ⇒ all three map to A).

    ``ids`` has one column ``id``; ``pairs`` has ``id_a``/``id_b`` edges.
    Each iteration works over the EDGE SUBGRAPH only (ids that appear in
    at least one duplicate pair — typically a tiny fraction of the
    corpus), materialized with ``localCheckpoint`` to cut lineage;
    propagation converges in O(component diameter) iterations with an
    early exit when no label changes (see the in-loop comment for why
    pointer jumping was measured and rejected). This is the standard
    big-data CC iteration, bounded by ``max_iters`` as a
    pathological-chain guard.

    Subgraphs of at most ``local_max_edges`` rows skip the loop entirely
    and are solved exactly with driver-side union-find over one bounded
    collect (see ``FIXPOINT_LOCAL_MAX_EDGES``); ``max_iters`` bounds the
    DISTRIBUTED loop only — the local solve always fully converges.
    Pass ``local_max_edges=0`` to force the distributed path."""

    def _free_ckpt(df: DataFrame) -> None:
        # localCheckpoint blocks live in the RDD block manager — the
        # DataFrame cache manager (clearCache/unpersist) never frees
        # them.  Release the LogicalRDD's backing RDD: df.rdd.unpersist
        # would free a derived javaToPython RDD (storage level NONE),
        # i.e. nothing.
        from .util import free_ckpt_blocks

        free_ckpt_blocks(df)

    # ONE checkpoint of the symmetric expansion: the caller's ``pairs``
    # is usually the LAZY candidate pipeline (LSH/simhash), and union
    # branches get no common-subexpression elimination — a self-loop
    # construction union(raw, distinct(raw)) over the un-materialized
    # raw would re-run that whole pipeline TWICE (measured: the sf0.1
    # simhash resolve paid its 1.7 s pair generation double).
    #
    # No self-loop edges are needed: with labels seeded
    # as least(id, min(peers)) — the closed-neighborhood minimum — plain
    # min-over-peers can never lose a node's own label.  Lemma: labels
    # are monotone non-increasing, and if label(x)=a then either some
    # peer q delivered a (q's label stays ≤ a, q remains a peer), or
    # a==x and every peer p seeded at least(p, min-peers-of-p) ≤ x = a;
    # either way min-over-x's-peers ≤ a at the next hop.  So each hop is
    # still ONE join + ONE groupBy, without the self-loop union, its
    # distinct shuffle, or a second materialization pass.
    # one parsed SQL string
    edges = (pairs.selectExpr(
        "explode(array(named_struct('id', id_a, 'peer', id_b), "
        "named_struct('id', id_b, 'peer', id_a))) as e")
        .selectExpr("e.id", "e.peer")
        .localCheckpoint(eager=True))
    n_edges = edges.count()  # cheap: counts the checkpointed blocks
    if n_edges <= local_max_edges:
        # every edge-subgraph node appears in edges' id column (both
        # directions are present), so union-find sees the whole subgraph
        return _fixpoint_local(ids, edges, _free_ckpt)
    # Size the loop's shuffles to the EDGE SUBGRAPH, not the session
    # default: the subgraph is typically a tiny fraction of the
    # corpus, and with it materialized the row count is known exactly —
    # at ~2M edge rows (~32 MB) per partition the per-round task count
    # collapses for small graphs (sf0.1 simhash: 32 → 4 partitions,
    # fixpoint wall time −25 %) while a 100 TB edge set keeps the session
    # default untouched (the sizing only ever LOWERS the count).
    #
    # The sizing is SCOPED to the loop's own frames via a
    # narrow coalesce + explicit repartition (see _fixpoint_loop)
    # instead of a session-global spark.sql.shuffle.partitions override:
    # the framework's parallel executor may plan CONCURRENT actions while
    # a fixpoint runs, and those must keep the session default
    # (test_fixpoint_conf_scope.py asserts this mid-loop).
    import math

    spark = edges.sparkSession
    try:
        default_parts = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        default_parts = None  # e.g. "auto" on some platforms: skip sizing
    loop_parts = None
    if default_parts is not None:
        sized = max(4, min(default_parts, math.ceil(n_edges / 2_000_000)))
        if sized < default_parts:
            loop_parts = sized
            # narrow coalesce over the checkpointed blocks: collapses the
            # per-round scan task count without a shuffle or a second
            # materialization pass (at sf-scale the hop join broadcasts
            # the label side anyway, so hash-partitioning edges by "peer"
            # here would buy nothing and cost a full extra pass)
            edges = edges.coalesce(loop_parts)
    return _fixpoint_loop(ids, edges, max_iters, _free_ckpt, loop_parts)


def _fixpoint_local(ids: DataFrame, edges: DataFrame,
                    _free_ckpt) -> DataFrame:
    """Exact driver-side solve for a SUB-THRESHOLD edge subgraph: one
    bounded Arrow collect of the materialized edges (≤
    ``FIXPOINT_LOCAL_MAX_EDGES`` rows by the caller's guard), union-find
    with union-by-min (the root of every tree is its component minimum,
    so ``find`` returns the canonical directly), and a broadcast join of
    the tiny label table back onto the corpus."""
    pdf = edges.toPandas()
    _free_ckpt(edges)  # collected — the blocks are no longer needed
    if pdf.empty:
        return ids.select(F.col("id"),
                          F.col("id").alias("canonical_id"))
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["id"].tolist(), pdf["peer"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # union by MIN: roots stay component minima
    members = set(pdf["id"].tolist())
    from .util import local_rows_df

    spark = ids.sparkSession
    id_type = ids.schema["id"].dataType.simpleString()
    labels = local_rows_df(
        spark, [(m, find(m)) for m in members],
        f"id {id_type}, canonical {id_type}")
    return (ids.join(F.broadcast(labels), "id", "left")
            .select(F.col("id"),
                    F.coalesce("canonical", F.col("id"))
                    .alias("canonical_id")))


def _fixpoint_loop(ids: DataFrame, edges: DataFrame, max_iters: int,
                   _free_ckpt, loop_parts: int | None = None) -> DataFrame:
    from .cache_registry import track_release

    def _sized(df: DataFrame) -> DataFrame:
        # Scoped shuffle sizing: hash-partition the frame that feeds the
        # groupBy by its grouping key at the edge-derived count — the
        # aggregate's required distribution is then satisfied by THIS
        # exchange, so the plan shuffles exactly once at loop_parts
        # without touching session conf.  loop_parts=None (big graphs,
        # unparseable conf) leaves the plain plan at the session default.
        return df if loop_parts is None else df.repartition(loop_parts, "id")

    # Seed labels with the CLOSED-neighborhood minimum least(id,
    # min(peers)): the same groupBy shuffle a plain distinct would cost,
    # but the first propagation hop comes free — one fewer round on
    # EVERY component — and it is what licenses dropping the
    # self-loop edges: see the lemma at the edge construction above.
    labels = (_sized(edges).groupBy("id")
              .agg(F.min("peer").alias("_mp"))
              .select("id", F.least("id", "_mp").alias("canonical"))
              .localCheckpoint(eager=True))
    # Convergence check: labels only ever DECREASE (least of own label and
    # neighbor minimum), so for numeric ids "no label changed" is exactly
    # "sum(canonical) unchanged".  The sum rides the checkpoint
    # materialization job itself via df.observe (not a separate agg job
    # per iteration: at small scale per-job scheduler overhead is a
    # large share of fixpoint wall time).  Non-numeric ids
    # keep the join-based count.
    numeric_ids = dict(labels.dtypes).get("canonical") in (
        "tinyint", "smallint", "int", "bigint")

    def _label_sum(df: DataFrame):
        # decimal(38,0) accumulator: exact and overflow-safe even for
        # billions of rows of near-maximal bigint ids
        return df.agg(F.sum(F.col("canonical").cast("decimal(38,0)"))
                      ).collect()[0][0]

    prev_sum = _label_sum(labels) if numeric_ids else None
    # Propagate-only, NO pointer jumping — measured, not assumed: a
    # label(label(id)) path-compression join halves the round count on
    # chain graphs (sf0.1 simhash: 12 rounds -> 5) but shuffles on the
    # CANONICAL key, which concentrates every member of a component onto
    # one partition — at 10x data the jump variant ran 2.2x SLOWER
    # (25.7 s vs 11.7 s) from exactly the hot-key skew this module
    # avoids elsewhere. O(diameter) propagation with per-key shuffles
    # stays balanced at any component size; max_iters bounds pathological
    # chains.
    from pyspark.sql import Observation

    # Two hops per checkpointed round: the SAME total join work as one
    # hop per round (total hops = diameter either way, each hop linear in
    # edges over balanced per-key shuffles — no pointer-jumping skew),
    # but the per-ROUND fixed costs (eager checkpoint, convergence agg,
    # driver scheduling round-trips) are paid half as often.  At sf0.1
    # simhash this took the fixpoint from ~12 scheduled rounds to ~6.
    HOPS_PER_ROUND = 2

    def _hop(lbl: DataFrame) -> DataFrame:
        # min over PEER labels only — the closed-neighborhood seed
        # guarantees a node's own label is never lost (lemma at the edge
        # construction), so no self-loops and no second join with the
        # previous generation.  When sized, the label side broadcasts
        # (small subgraph by construction) and the _sized repartition
        # below is the hop's ONE exchange, at the edge-derived count.
        joined = edges.join(lbl.select(F.col("id").alias("peer"),
                                       F.col("canonical").alias("pc")),
                            "peer")
        return (_sized(joined).groupBy("id")
                .agg(F.min("pc").alias("canonical")))

    for _ in range(max_iters):
        new_labels = labels
        for _hop_i in range(HOPS_PER_ROUND):
            new_labels = _hop(new_labels)
        if numeric_ids:
            obs = Observation()
            new_labels = (new_labels
                          .observe(obs, F.sum(F.col("canonical")
                                              .cast("decimal(38,0)"))
                                   .alias("label_sum"))
                          .localCheckpoint(eager=True))
            cur_sum = obs.get["label_sum"]
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            new_labels = new_labels.localCheckpoint(eager=True)
            converged = (new_labels.alias("n")
                         .join(labels.alias("o"), "id")
                         .where(F.col("n.canonical") != F.col("o.canonical"))
                         .count()) == 0
        _free_ckpt(labels)  # superseded generation: free blocks in-loop
        labels = new_labels
        if converged:
            break
    # edges and the FINAL labels feed the lazy return frame — they are
    # freed with the other operator-internal state at release_tracked()
    track_release(lambda e=edges: _free_ckpt(e))
    track_release(lambda l=labels: _free_ckpt(l))
    return (ids.join(labels, "id", "left")
            .select(F.col("id"),
                    F.coalesce("canonical", F.col("id"))
                    .alias("canonical_id")))


def embedding_cosine_dedup_fixpoint(emb: DataFrame, min_cosine: float = 0.0,
                                    n_planes: int = DEFAULT_PLANES,
                                    dims: int = 64, id_col: str = "vec_id",
                                    vec_col: str = "embedding",
                                    max_iters: int = 20,
                                    local_max_edges: int =
                                    FIXPOINT_LOCAL_MAX_EDGES) -> DataFrame:
    """Chain-resolving variant of :func:`embedding_cosine_dedup`: the
    canonical id is the minimum of the whole duplicate COMPONENT, not just
    the direct neighbors — use when near-dup chains (A~B~C with A≁C)
    must collapse to one canonical."""
    pairs = lsh_ann_pairs(emb, n_planes, dims, min_cosine,
                          id_col=id_col, vec_col=vec_col)
    ids = emb.select(F.col(id_col).alias("id"))
    out = resolve_duplicates_fixpoint(ids, pairs, max_iters,
                                      local_max_edges)
    return out.select(F.col("id").alias(id_col), "canonical_id")


def embedding_cosine_dedup_fixpoint_sql(min_cosine: float = 0.0,
                                        n_planes: int = DEFAULT_PLANES,
                                        dims: int = 64) -> str:
    """Recursive-CTE oracle for the fixpoint resolution: transitive
    closure over the symmetric duplicate edges (UNION-distinct recursion
    terminates once no new (id, reachable-peer) rows appear), then the
    component minimum per id — exactly what min-label propagation
    converges to."""
    return f"""
        with recursive pairs as ({lsh_ann_pairs_sql(n_planes, dims,
                                                    min_cosine)}),
        edges as (
            select id_a as id, id_b as peer from pairs
            union all
            select id_b as id, id_a as peer from pairs
        ),
        reach(id, peer) as (
            select id, peer from edges
            union
            select e.id, r.peer
            from edges e join reach r on r.id = e.peer
            where e.id != r.peer
        )
        select v.vec_id,
               coalesce(least(v.vec_id, min(r.peer)), v.vec_id)
                   as canonical_id
        from embeddings v left join reach r on r.id = v.vec_id
        group by v.vec_id
    """


def embedding_cosine_dedup_sql(min_cosine: float = 0.0,
                               n_planes: int = DEFAULT_PLANES,
                               dims: int = 64) -> str:
    return f"""
        with pairs as ({lsh_ann_pairs_sql(n_planes, dims, min_cosine)}),
        edges as (
            select id_a as id, id_b as peer from pairs
            union all
            select id_b as id, id_a as peer from pairs
        )
        select e.vec_id,
               coalesce(least(e.vec_id, min(ed.peer)), e.vec_id) as canonical_id
        from embeddings e
        left join edges ed on ed.id = e.vec_id
        group by e.vec_id
    """


# ---------------------------------------------------------------------------
# IVF: coarse quantization into deterministic centroid cells; queries probe
# the nprobe nearest cells — the classic scale path beyond brute force
# ---------------------------------------------------------------------------

IVF_CENTROIDS = 16
IVF_NPROBE = 4
_IVF_SEED = 1000  # centroid c uses plane-weight rows seeded at 1000+c


def _centroid_matrix(n_centroids: int, dims: int) -> list[list[float]]:
    return [[_plane_weight(_IVF_SEED + c, d) for d in range(dims)]
            for c in range(n_centroids)]


def _centroid_norms(n_centroids: int, dims: int) -> list[float]:
    """|c|² per centroid, summed sequentially in Python — bit-identical to
    the sequential ``aggregate``/``list_dot_product`` the engines would
    compute, but done ONCE at plan-build time instead of per row."""
    out = []
    for c in range(n_centroids):
        s = 0.0
        for d in range(dims):
            w = _plane_weight(_IVF_SEED + c, d)
            s += w * w
        out.append(s)
    return out


def _ivf_scores(vec: str, n_centroids: int, dims: int) -> str:
    """Per-centroid score |c|² − 2·(v·c) of the array<double> expression
    ``vec`` — argmin equals nearest centroid by euclidean distance (the
    |v|² term is constant per vector).  Expression form; the operators
    use the vectorized kernels below."""
    cents = dmat_sexpr(_centroid_matrix(n_centroids, dims))
    norms = dvec_sexpr(_centroid_norms(n_centroids, dims))
    return (f"zip_with({cents}, {norms}, "
            f"(w, n2) -> n2 - {dot_sexpr(vec, 'w')} * 2.0D)")


def ivf_cell(vec: str, n_centroids: int = IVF_CENTROIDS,
             dims: int = 64) -> Column:
    """1-based nearest-centroid cell of the array<double> expression
    ``vec`` (ties to the lowest index)."""
    scores = _ivf_scores(vec, n_centroids, dims)
    return F.expr(f"cast(array_position({scores}, array_min({scores})) "
                  f"as int)")


def ivf_probe_cells(vec: str, n_centroids: int = IVF_CENTROIDS,
                    dims: int = 64, nprobe: int = IVF_NPROBE) -> Column:
    """The ``nprobe`` nearest cells of the array<double> expression
    ``vec``, nearest first (ties to the lower index)."""
    scores = _ivf_scores(vec, n_centroids, dims)
    return F.expr(
        f"transform(slice(array_sort(zip_with({scores}, "
        f"sequence(1, {n_centroids}), "
        f"(s, i) -> struct(s as s, i as i))), 1, {nprobe}), "
        f"x -> x['i'])")


def _ivf_np_scores(X: np.ndarray, W: np.ndarray, N2: np.ndarray) -> np.ndarray:
    """(n, n_centroids) scores |c|² − 2·(v·c): the subtract/scale rounding
    order matches ``n2 - dot * 2.0D`` in the expression form exactly."""
    return N2[None, :] - 2.0 * _seq_matmul(X, W)


def _ivf_corpus_features(n_centroids: int, dims: int):
    """Vectorized (cell, nrm) kernel for corpus rows: nearest-centroid id
    (1-based, ties to the lowest centroid index — same as
    ``array_position(scores, array_min)`` and the oracle's
    ``row_number() order by score, c``) plus the vector norm."""
    W = np.array(_centroid_matrix(n_centroids, dims))
    N2 = np.array(_centroid_norms(n_centroids, dims))

    @F.pandas_udf("cell int, nrm double")
    def feat(v: pd.Series) -> pd.DataFrame:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "nrm": pd.Series([], dtype="float64")})
        scores = _ivf_np_scores(X, W, N2)
        cell = (np.argmin(scores, axis=1) + 1).astype(np.int32)
        return pd.DataFrame({"cell": cell,
                             "nrm": np.sqrt(_seq_rowdot(X, X))})

    return feat


def _ivf_query_features(n_centroids: int, dims: int, nprobe: int):
    """Vectorized (probes, nrm) kernel for query rows: the ``nprobe``
    nearest centroid ids in ascending-score order (stable argsort — ties to
    the lowest centroid index, matching the expression form's
    ``array_sort(struct(s, i))``)."""
    W = np.array(_centroid_matrix(n_centroids, dims))
    N2 = np.array(_centroid_norms(n_centroids, dims))

    @F.pandas_udf("probes array<int>, nrm double")
    def feat(v: pd.Series) -> pd.DataFrame:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.DataFrame({"probes": pd.Series([], dtype="object"),
                                 "nrm": pd.Series([], dtype="float64")})
        scores = _ivf_np_scores(X, W, N2)
        order = np.argsort(scores, axis=1, kind="stable")[:, :nprobe] + 1
        return pd.DataFrame(
            {"probes": [row.astype(np.int32).tolist() for row in order],
             "nrm": np.sqrt(_seq_rowdot(X, X))})

    return feat


def ivf_index_frame(emb: DataFrame, n_centroids: int = IVF_CENTROIDS,
                    dims: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """The IVF index content: ``(id, v, cell, nrm)`` per corpus vector —
    nearest-centroid cell plus the precomputed norm.  This is what a
    "build once, probe many" deployment PERSISTS (as a table bucketed by
    ``cell`` — see ``ivf_topk_from_index``); ``ivf_topk`` computes it
    inline for one-shot queries."""
    from .dedup import spread_for_compute

    emb = valid_embeddings(emb, dims, vec_col)
    v = as_double(F.col(vec_col))
    corpus_feat = _ivf_corpus_features(n_centroids, dims)
    return (
        spread_for_compute(emb)
        .select(F.col(id_col), v.alias("v"))
        .select("*", corpus_feat(F.col("v")).alias("_f"))
        .select(F.col(id_col), "v",
                F.col("_f.cell").alias("cell"), F.col("_f.nrm").alias("nrm"))
    )


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
             n_centroids: int = IVF_CENTROIDS, nprobe: int = IVF_NPROBE,
             dims: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: corpus vectors are bucketed once by nearest
    centroid (cell), each query probes its ``nprobe`` nearest cells, and
    exact cosine ranks only the probed candidates.

    Scale shape: one Arrow-batched pass assigns cells (no shuffle beyond
    the spread), the query side is a SEPARATE pushed-down ``isin`` scan of
    a handful of rows (so the corpus pipeline is consumed exactly once and
    nothing needs to be persisted), the probe set is tiny and broadcast,
    and candidate generation is a broadcast-hash join on the cell id —
    corpus-side stays partition-local, and the scored candidate count is
    ~nprobe/n_centroids of brute force."""
    from pyspark.sql import Window as W

    base = ivf_index_frame(emb, n_centroids, dims, id_col, vec_col)
    emb = valid_embeddings(emb, dims, vec_col)
    v = as_double(F.col(vec_col))
    query_feat = _ivf_query_features(n_centroids, dims, nprobe)
    queries = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), v.alias("qv"))
        .select("*", query_feat(F.col("qv")).alias("_f"))
        .select("query_id", "qv", F.col("_f.nrm").alias("qn"),
                F.explode("_f.probes").alias("cell"))
    )
    # candidate scoring stays a JVM expression: the candidate set repeats
    # each query vector ~N·nprobe/n_centroids times, so an Arrow kernel
    # would re-ship ~2 full vectors per candidate row (measured 150 MB of
    # serde at sf0.1 — 4× slower than the interpreted one-dot-per-pair).
    # One parsed SQL string.
    cand = (base.join(F.broadcast(queries), "cell")
            .where(F.col(id_col) != F.col("query_id"))
            .selectExpr("query_id", f"`{id_col}` as neighbor_id",
                        f"round({dot_sexpr('qv', 'v')} / (qn * nrm), 4) "
                        f"as cosine_sim"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"),
                                          F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine_sim"))


def ivf_topk_sql(query_ids: list[int], k: int = 5,
                 n_centroids: int = IVF_CENTROIDS, nprobe: int = IVF_NPROBE,
                 dims: int = 64) -> str:
    norms = _centroid_norms(n_centroids, dims)
    cent_rows = ",\n                   ".join(
        "({c}, [{w}]::DOUBLE[], {n2})".format(
            c=c + 1,
            w=", ".join(repr(_plane_weight(_IVF_SEED + c, d))
                        for d in range(dims)),
            n2=repr(norms[c]),
        )
        for c in range(n_centroids)
    )
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        with cents(c, w, n2) as (
            values {cent_rows}
        ), base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        ), scored as (
            select b.vec_id, b.v, k.c,
                   k.n2 - 2 * list_dot_product(b.v, k.w) as score
            from base b cross join cents k
        ), cells as (
            select vec_id, v, c as cell from (
                select *, row_number() over (partition by vec_id
                                             order by score, c) as rn
                from scored
            ) where rn = 1
        ), probes as (
            select vec_id as query_id, v as qv, c as cell from (
                select *, row_number() over (partition by vec_id
                                             order by score, c) as rn
                from scored where vec_id in ({ids})
            ) where rn <= {nprobe}
        ), cand as (
            select p.query_id, b.vec_id as neighbor_id,
                   round(list_dot_product(p.qv, b.v)
                         / (sqrt(list_dot_product(p.qv, p.qv))
                            * sqrt(list_dot_product(b.v, b.v))), 4)
                       as cosine_sim
            from probes p join cells b using (cell)
            where b.vec_id != p.query_id
        )
        select query_id, neighbor_id, rank, cosine_sim
        from (
            select *, row_number() over (partition by query_id
                                         order by cosine_sim desc,
                                                  neighbor_id asc) as rank
            from cand
        )
        where rank <= {k}
    """


def ivf_topk_from_index(index: DataFrame, query_src: DataFrame,
                        query_ids: list[int], k: int = 5,
                        n_centroids: int = IVF_CENTROIDS,
                        nprobe: int = IVF_NPROBE, dims: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Top-k against a PRE-BUILT IVF index — the "build once, probe many"
    posture a 100 TB vector store actually runs.

    ``index`` is the stored ``ivf_index_frame`` output, ideally a managed
    table BUCKETED by ``cell`` (``write_bucketed_table``): the probe then
    never recomputes corpus features, never shuffles the corpus, and only
    SCANS the probed buckets — the probe-cell set (``nprobe`` ×
    ``len(query_ids)`` ints, an aggregate-sized collect) becomes an
    ``isin`` filter on the bucket column, which Spark turns into bucket
    pruning at the file-scan level (``SelectedBucketsCount`` in the plan,
    locked by test_plans.py).  The query side broadcasts; exact cosine
    uses the index's stored norms."""
    from pyspark.sql import Window as W

    emb = valid_embeddings(query_src, dims, vec_col)
    v = as_double(F.col(vec_col))
    query_feat = _ivf_query_features(n_centroids, dims, nprobe)
    queries = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), v.alias("qv"))
        .select("*", query_feat(F.col("qv")).alias("_f"))
        .select("query_id", "qv", F.col("_f.nrm").alias("qn"),
                F.explode("_f.probes").alias("cell"))
    )
    # tiny collect (≤ nprobe × |queries| ints): the literal cell list is
    # what lets the scan prune buckets — a join alone cannot
    probe_cells = sorted({r["cell"]
                          for r in queries.select("cell").distinct()
                          .collect()})
    pruned = index.where(F.col("cell").isin(probe_cells))
    cand = (pruned.join(F.broadcast(queries), "cell")
            .where(F.col(id_col) != F.col("query_id"))
            .selectExpr("query_id", f"`{id_col}` as neighbor_id",
                        f"round({dot_sexpr('qv', 'v')} / (qn * nrm), 4) "
                        f"as cosine_sim"))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"),
                                          F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine_sim"))


def lsh_ann_pairs_sql(n_planes: int = DEFAULT_PLANES, dims: int = 64,
                      min_cosine: float = 0.5,
                      max_bucket: int = LSH_ANN_MAX_BUCKET) -> str:
    plane_rows = ",\n                   ".join(
        "({p}, [{w}]::DOUBLE[])".format(
            p=p,
            w=", ".join(repr(_plane_weight(p, d)) for d in range(dims)),
        )
        for p in range(n_planes)
    )
    return f"""
        with planes(p, w) as (
            values {plane_rows}
        ), base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        ), bucketed as (
            select b.vec_id,
                   sum(case when list_dot_product(b.v, pl.w) > 0
                       then (1::BIGINT << pl.p) else 0 end)::BIGINT as bucket
            from base b cross join planes pl
            group by b.vec_id
        ), bb_all as (
            select b.vec_id, b.v, k.bucket
            from base b join bucketed k using (vec_id)
        ), bb as (
            select * from (
                select *, count(*) over (partition by bucket) as bn
                from bb_all
            ) where bn >= 2 and bn <= {max_bucket}
        )
        select a.vec_id as id_a, b.vec_id as id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) as cosine_sim
        from bb a join bb b on a.bucket = b.bucket and a.vec_id < b.vec_id
        where round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) >= {min_cosine}
    """


# ---------------------------------------------------------------------------
# k-means clustering over embeddings (Lloyd's, fixed deterministic rounds)
# ---------------------------------------------------------------------------
#
# Training-data curation uses clustering for diversity sampling and
# cluster-balanced mixtures. Spark-first shape: each Lloyd round is ONE
# Arrow-batched assignment pass (vectorized n2 − 2·v·c argmin, the same
# bit-parity kernel family as IVF) plus ONE groupBy computing 64 per-dim
# averages (explode-free, partial aggregation — shuffle carries k×dims
# doubles per partition); the k×dims centroid matrix is collected to the
# driver (an aggregate RESULT, k rows) and re-broadcast as plan literals
# for the next round. Rounds are FIXED (not converge-tested) so the op is
# a deterministic, oracle-checkable pipeline stage.
#
# Engine parity: centroid averages are rounded to KMEANS_ROUND decimals on
# both engines (kills partial-agg ulp drift), scores are computed from the
# rounded matrix with sequential-order dots on both sides, and argmin ties
# break to the lowest cluster index (np.argmin / row_number order by
# score, c). Empty clusters keep their previous centroid on both engines.

KMEANS_K = 8
KMEANS_SEED = 2000  # centroid c seeds plane-weight rows at 2000+c
KMEANS_ITERS = 2
KMEANS_ROUND = 6


def _kmeans_init(k: int, dims: int) -> list[list[float]]:
    return [[_plane_weight(KMEANS_SEED + c, d) for d in range(dims)]
            for c in range(k)]


def _seq_norms(W: list[list[float]]) -> list[float]:
    """|w|² per row, summed sequentially in Python — bit-identical to
    DuckDB ``list_dot_product(w, w)`` on the same doubles."""
    out = []
    for row in W:
        s = 0.0
        for x in row:
            s += x * x
        out.append(s)
    return out


def _kmeans_assign_kernel(W: list[list[float]]):
    """Vectorized nearest-centroid id (1-based, ties to lowest index) for
    an arbitrary centroid matrix — same kernel family as
    ``_ivf_corpus_features``."""
    Wn = np.array(W)
    N2 = np.array(_seq_norms(W))

    @F.pandas_udf("int")
    def cell(v: pd.Series) -> pd.Series:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.Series([], dtype="int32")
        scores = _ivf_np_scores(X, Wn, N2)
        return pd.Series((np.argmin(scores, axis=1) + 1).astype(np.int32))

    return cell


def _kmeans_base(emb: DataFrame, dims: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding", materialize=None) -> DataFrame:
    """The materialized ``(id, v)`` projection every k-means consumer
    reuses — valid rows only, doubles, materialization strategy applied
    (see :func:`_kmeans_fit` for the strategy rationale)."""
    from .cache_registry import tracked_persist

    base = (valid_embeddings(emb, dims, vec_col)
            .select(F.col(id_col).alias("id"),
                    as_double(F.col(vec_col)).alias("v")))
    return (materialize or tracked_persist)(base)


def _kmeans_fit(emb: DataFrame, k: int = KMEANS_K,
                n_iters: int = KMEANS_ITERS, dims: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding",
                materialize=None,
                base: DataFrame | None = None
                ) -> tuple[DataFrame, list[list[float]]]:
    """Run the Lloyd rounds; return the materialized (id, v) base frame
    and the FINAL centroid matrix (rounded python floats — identical to
    the oracle's c{n_iters} CTE rows).

    ``materialize``: strategy for the (id, v) projection reused
    ``n_iters + 1`` times (one assignment pass per round + the final
    labeling).  Default is ``tracked_persist`` (MEMORY_AND_DISK blocks)
    — the low-latency choice at gate/test scale, where the projection
    fits executor memory.  At 100 TB pass
    ``cache_registry.parquet_materializer(path)`` (the framework's
    cacheAsParquet plan-cut: write once + re-read): persisting the whole
    embedding corpus would evict under memory pressure and re-run the
    full lineage per Lloyd round on executor loss, while the parquet cut
    re-scans a compact columnar copy.

    ``base``: a frame already produced by :func:`_kmeans_base` (callers
    that needed the base early, e.g. to size ``k``, pass it back in so
    it is materialized once)."""
    if base is None:
        base = _kmeans_base(emb, dims, id_col, vec_col, materialize)
    W = _kmeans_init(k, dims)
    for _ in range(n_iters):
        assigned = base.withColumn(
            "cluster", _kmeans_assign_kernel(W)(F.col("v")))
        # centroid update as posexplode → ONE narrow avg keyed by
        # (cluster, dim) instead of 64 per-dim avg columns: the wide agg
        # blew Spark's ~100-field codegen limit, so each Lloyd round ran
        # an INTERPRETED HashAggregate stacked on the Arrow-UDF stage
        # (~0.7 s/round at sf0.1 vs 0.28 s exploded — measured, see
        # PARITY.md).  Per-key accumulation classes are unchanged
        # (per-partition row order, arbitrary partial merge — same as
        # each per-dim avg before) and the update is bit-identical on
        # all three test SFs; KMEANS_ROUND rounding remains the
        # cross-engine guard either way.
        rows = (assigned
                .select("cluster", F.posexplode("v").alias("d", "x"))
                .groupBy("cluster", "d")
                .agg(F.round(F.avg("x"), KMEANS_ROUND).alias("c"))
                .collect())
        new_w = [list(row) for row in W]  # empty cluster → keep previous
        for r in rows:
            new_w[r["cluster"] - 1][r["d"]] = r["c"]
        W = new_w
    return base, W


def kmeans_clusters(emb: DataFrame, k: int = KMEANS_K,
                    n_iters: int = KMEANS_ITERS, dims: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    materialize=None) -> DataFrame:
    """(id, cluster) after ``n_iters`` Lloyd rounds from the deterministic
    seed centroids. Assignment is Arrow-batched; the per-round centroid
    update is one explode-free groupBy (64 avg aggregates, rounded to
    KMEANS_ROUND decimals for cross-engine stability).

    ``materialize`` selects the base-frame materialization strategy —
    see :func:`_kmeans_fit` (persist at sf scale, parquet plan-cut via
    ``cache_registry.parquet_materializer`` at 100 TB)."""
    base, W = _kmeans_fit(emb, k, n_iters, dims, id_col, vec_col,
                          materialize)
    return (base.withColumn("cluster",
                            _kmeans_assign_kernel(W)(F.col("v")))
            .select(F.col("id").alias(id_col), "cluster"))


def _kmeans_sql_ctes(k: int, n_iters: int, dims: int) -> tuple[str, str]:
    """The unrolled-Lloyd CTE chain (``with c0 … c{n}``) plus a final
    assignment CTE ``af(vec_id, v, cluster)`` against the last centroid
    generation; returns (cte_sql, last_centroid_cte_name)."""
    init = _kmeans_init(k, dims)
    cent_rows = ",\n               ".join(
        "({c}, [{w}]::DOUBLE[])".format(
            c=c + 1, w=", ".join(repr(x) for x in init[c]))
        for c in range(k))
    avg_list = ", ".join(
        f"round(avg(v[{d + 1}]), {KMEANS_ROUND})" for d in range(dims))
    sql = f"""
        with c0(c, w) as (
            values {cent_rows}
        ), base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        )"""
    prev = "c0"
    for it in range(1, n_iters + 1):
        sql += f""", s{it} as (
            select b.vec_id, b.v, k.c,
                   list_dot_product(k.w, k.w)
                       - 2 * list_dot_product(b.v, k.w) as score
            from base b cross join {prev} k
        ), a{it} as (
            select vec_id, v, c as cluster from (
                select *, row_number() over (partition by vec_id
                                             order by score, c) as rn
                from s{it}
            ) where rn = 1
        ), u{it} as (
            select cluster as c, [{avg_list}]::DOUBLE[] as w
            from a{it} group by cluster
        ), c{it} as (
            select p.c, coalesce(u.w, p.w) as w
            from {prev} p left join u{it} u using (c)
        )"""
        prev = f"c{it}"
    sql += f""", sf as (
            select b.vec_id, b.v, k.c,
                   list_dot_product(k.w, k.w)
                       - 2 * list_dot_product(b.v, k.w) as score
            from base b cross join {prev} k
        ), af as (
            select vec_id, v, c as cluster from (
                select *, row_number() over (partition by vec_id
                                             order by score, c) as rn
                from sf
            ) where rn = 1
        )"""
    return sql, prev


def kmeans_clusters_sql(k: int = KMEANS_K, n_iters: int = KMEANS_ITERS,
                        dims: int = 64) -> str:
    """Unrolled Lloyd rounds in plain SQL: same seed centroids, same
    rounded averages, same (score, c) tie-break, same empty-cluster
    carry-over."""
    ctes, _last = _kmeans_sql_ctes(k, n_iters, dims)
    return ctes + "\n        select vec_id, cluster from af\n    "


# ---------------------------------------------------------------------------
# int8 scalar quantization + measured recall gate
# ---------------------------------------------------------------------------
#
# At 100 TB an embedding corpus is storage- and bandwidth-bound: per-vector
# symmetric int8 quantization (q_i = round(v_i / scale), scale =
# max|v_i| / 127) compresses 4× and makes candidate scoring integer-only.
# COSINE under quantization needs no dequantize at all: the reconstructed
# vector is scale·q, and scale cancels in the cosine — so the quantized
# similarity is int_dot(q_a, q_b) / (√int_dot(q_a,q_a) · √int_dot(q_b,q_b)),
# exact integer arithmetic on both engines (no float-accumulation drift).
# ann_int8_recall measures what the compression costs in recall@k against
# exact float cosine — the same measure-don't-guess gate as ann_ivf_recall.

Q8_LEVELS = 127


def quantized_int8(vec: Column) -> tuple[Column, Column]:
    """(scale, q) for symmetric per-vector int8 quantization.  A zero
    vector (scale 0) quantizes to all-zero codes on both engines."""
    v = as_double(vec)
    scale = F.array_max(F.transform(v, F.abs)) / float(Q8_LEVELS)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("long")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return scale, q


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (long accumulator — 64 dims × 127² fits
    with orders of magnitude to spare)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantize_int8(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", dims: int = 64) -> DataFrame:
    """Per-vector quantization audit row: the scale plus exact integer
    checksums of the code vector (sum and L1) — enough for a bit-level
    cross-engine certificate without emitting 64 columns."""
    from .dedup import spread_for_compute

    emb = spread_for_compute(valid_embeddings(emb, dims, vec_col))
    scale, q = quantized_int8(F.col(vec_col))
    return emb.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("q_sum"),
        F.aggregate(q, F.lit(0).cast("long"),
                    lambda a, x: a + F.abs(x)).alias("q_l1"))


def quantize_int8_sql(dims: int = 64) -> str:
    return f"""
        with base as (
            select vec_id, embedding::DOUBLE[] as v from embeddings
        ), scaled as (
            select vec_id,
                   list_max(list_transform(v, x -> abs(x)))
                       / {float(Q8_LEVELS)} as scale, v
            from base
        ), codes as (
            select vec_id, scale,
                   case when scale > 0
                        then list_transform(v, x -> round(x / scale)::BIGINT)
                        else list_transform(v, x -> 0::BIGINT) end as q
            from scaled
        )
        select vec_id, round(scale, 6) as scale,
               list_sum(q)::BIGINT as q_sum,
               list_sum(list_transform(q, x -> abs(x)))::BIGINT as q_l1
        from codes
    """


def int8_topk(emb: DataFrame, query_ids: list[int], k: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dims: int = 64) -> DataFrame:
    """Exact-arithmetic top-k cosine over the QUANTIZED codes (scale
    cancels): the int8 analogue of brute_force_topk, same broadcast-the-
    queries plan shape."""
    from pyspark.sql import Window as W

    from .dedup import spread_for_compute

    emb = valid_embeddings(emb, dims, vec_col)
    _scale, q = quantized_int8(F.col(vec_col))
    base = (spread_for_compute(emb)
            .select(F.col(id_col), q.alias("q"))
            .select("*", F.sqrt(_int_dot(F.col("q"), F.col("q"))
                                .cast("double")).alias("qn")))
    queries = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq"),
        F.col("qn").alias("qqn"))
    sim = F.round(
        _int_dot(F.col("qq"), F.col("q")).cast("double")
        / (F.col("qqn") * F.col("qn")), 4)
    scored = (base.crossJoin(F.broadcast(queries))
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      sim.alias("cosine_sim")))
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"),
                                          F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine_sim"))


# ---------------------------------------------------------------------------
# cluster exemplar selection (diversity curation)
# ---------------------------------------------------------------------------
#
# A curation pipeline that wants "N representative documents per semantic
# cluster" selects, per k-means cluster, the members closest to the
# cluster's own centroid.  Distance ranks use |v|² − 2·v·c + |c|² with
# sequential-order dots and a rounded centroid, so both engines rank
# identically; ties break on vec_id.

EXEMPLARS_PER_CLUSTER = 3


def kmeans_exemplars(emb: DataFrame, k: int = KMEANS_K,
                     n_iters: int = KMEANS_ITERS,
                     n_exemplars: int = EXEMPLARS_PER_CLUSTER,
                     dims: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     materialize=None) -> DataFrame:
    """Top-``n_exemplars`` members nearest their cluster's LLOYD centroid
    (the fitted model's centroid matrix — already collected during the
    rounds, so scoring is one map-side expression over plan literals: no
    extra aggregate pass, no centroid join).  Distance is
    |v|² − 2·v·c + |c|² with sequential dots, rounded to 4; ties break on
    the id."""
    from pyspark.sql import Window as W

    base, Wc = _kmeans_fit(emb, k, n_iters, dims, id_col, vec_col,
                           materialize)
    assigned = base.withColumn(
        "cluster", _kmeans_assign_kernel(Wc)(F.col("v")))
    # one parsed SQL string; 2.0D * x is bit-identical whichever
    # operand order the tree takes — IEEE multiply commutes
    cent_s = f"element_at({dmat_sexpr(Wc)}, cluster)"
    n2_s = f"element_at({dvec_sexpr(_seq_norms(Wc))}, cluster)"
    d2_s = (f"round({dot_sexpr('v', 'v')} "
            f"- 2.0D * {dot_sexpr('v', cent_s)} "
            f"+ {n2_s}, 4)")
    w = W.partitionBy("cluster").orderBy(F.asc("dist"), F.asc("id"))
    return (assigned.selectExpr("cluster", "id", f"{d2_s} as dist")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= n_exemplars)
            .select("cluster", "rank", F.col("id").alias(id_col), "dist"))


def kmeans_exemplars_sql(k: int = KMEANS_K, n_iters: int = KMEANS_ITERS,
                         n_exemplars: int = EXEMPLARS_PER_CLUSTER,
                         dims: int = 64) -> str:
    ctes, last = _kmeans_sql_ctes(k, n_iters, dims)
    return ctes + f""", scored as (
            select m.cluster, m.vec_id,
                   round(list_dot_product(m.v, m.v)
                         - 2.0 * list_dot_product(m.v, k.w)
                         + list_dot_product(k.w, k.w), 4) as dist
            from af m join {last} k on m.cluster = k.c
        )
        select cluster, rank, vec_id, dist from (
            select *, row_number() over (partition by cluster
                                         order by dist asc, vec_id asc)
                   as rank
            from scored
        ) where rank <= {n_exemplars}
    """


# ---------------------------------------------------------------------------
# semantic deduplication (cluster -> intra-cluster cosine, SemDeDup-style)
# ---------------------------------------------------------------------------
#
# The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication", arXiv:2303.09540):
# k-means the embedding corpus, compare pairs ONLY within a cluster, and
# inside every near-duplicate group keep the example LEAST similar to its
# cluster centroid (the most diverse representative).  Candidate
# generation is therefore O(n^2 / k) instead of all-pairs O(n^2) — the
# clustering IS the blocking scheme, which is what makes the method run
# at web scale: k grows with the corpus (the paper uses k = 50k on
# LAION-scale data) so cluster populations stay roughly constant and the
# intra-cluster pair stage stays an equi-join on the cluster key with
# bounded per-key fan-out.  No part of this reuses the reference engine —
# the reference (waimak) has no semantic dedup; this is the
# training-data-pipeline extension surface (SURVEY.md §7.2 item 10).

#: pairwise-cosine threshold above which two same-cluster members are
#: semantic duplicates.  Tuned to the synthetic testdata's similarity
#: range (intra-cluster cosines top out near 0.5): yields a meaningful
#: drop set at every gate scale (141 edges at sf0.001, ~2k at sf0.1)
#: while keeping the survivor majority.
SEMDEDUP_TAU = 0.35

#: rank-ordered row-block size for the intra-cluster pair scoring: the
#: (block x alive) accumulator stays ~L2/L3-sized for cluster
#: populations up to several thousand, and dead columns are pruned
#: between blocks (see the kernel comment in semantic_dedup)
SEMDEDUP_PAIR_BLOCK = 256

#: target cluster population for the auto-scaled k: per-cluster work is
#: quadratic in population, so ``k`` must grow linearly with the corpus
#: (the paper's operating point — k = 50k on LAION-scale data).  250
#: keeps the per-cluster similarity matrix well under a MB while leaving
#: k = KMEANS_K (static-oracle compatible) at every gate scale (n <=
#: 2000); measured at 10x: fixed k=8 scaled 33.7x (quadratic), auto
#: k=80 restored near-linear scaling.
SEMDEDUP_TARGET_CLUSTER = 250


def semantic_dedup(emb: DataFrame, min_cosine: float = SEMDEDUP_TAU,
                   k: int | None = None, n_iters: int = KMEANS_ITERS,
                   dims: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   target_cluster_size: int = SEMDEDUP_TARGET_CLUSTER,
                   materialize=None, n_rows: int | None = None,
                   pair_block: int | None = None) -> DataFrame:
    """Per-document semantic-dedup verdict: ``(id, cluster, centroid_sim,
    keep)`` — linear output (one row per input document, never a pair
    list), so the operator composes directly with a downstream filter.

    Within each fitted k-means cluster, members are ranked by cosine
    similarity TO THE CENTROID ascending (id tiebreak): rank 1 is the
    most diverse member and is always kept.  A member is dropped when
    any BETTER-ranKED member of its cluster is within ``min_cosine``
    pairwise cosine — exactly the upper-triangular keep rule of the
    SemDeDup paper (one representative survives per duplicate group, and
    it is the least-centroid-similar one).

    Engine parity: centroid similarities and pairwise cosines are
    sequential-order dots (bit-identical to DuckDB ``list_dot_product``)
    rounded to 4 decimals BEFORE feeding the rank / threshold — the
    float-comparison recipe used across the catalog.  The fitted
    centroids enter the plan as literals (same as
    :func:`kmeans_exemplars`); the oracle recomputes them with the
    identical unrolled-Lloyd CTE.

    Scale: the pair stage is ONE ``applyInPandas`` over the cluster key —
    per-key work is quadratic in CLUSTER population and the full n_c x n_c
    similarity matrix is built in executor memory, so ``k`` must scale
    with the corpus to keep cluster populations bounded (see module
    comment — exactly the paper's own operating point, where n_c ~ 1k
    makes the matrix a few MB).  One shuffle of n rows on the cluster
    key, zero pair rows materialized (a pair-list self-join was measured
    4x slower at sf0.1: it shuffles and sorts O(n^2/k) 64-dim vector
    pairs where this shuffles n vectors once), and nothing touches the
    driver beyond the k x dims centroid collect already paid by the
    fit.

    ``k=None`` (default) auto-scales the cluster count to
    ``max(KMEANS_K, ceil(n / target_cluster_size))`` — the invariant
    that keeps per-key work bounded at any corpus size.  ``n`` is the
    VALID-embedding count taken from the materialized base the fit
    reuses (``emb.count()`` would be an extra eager scan of the raw
    input in the operator hot path — counting the base instead just
    triggers the materialization the first Lloyd round
    would pay anyway, and invalid rows never reach the clustering, so
    they should not inflate ``k``).  Callers that already know the
    corpus size pass ``n_rows`` and skip even that.  Every oracle-checked
    gate scale resolves to ``KMEANS_K``, so the static SQL oracle stays
    exact there; the scaled-k path is oracle-checked separately with a
    dynamically built SQL string (test_similarity_resolution.py)."""
    base = _kmeans_base(emb, dims, id_col, vec_col, materialize)
    if k is None:
        n = n_rows if n_rows is not None else base.count()
        k = max(KMEANS_K, -(-n // int(target_cluster_size)))
    _, Wc = _kmeans_fit(emb, k, n_iters, dims, id_col, vec_col,
                        materialize, base=base)
    scored = base.withColumn("cluster",
                             _kmeans_assign_kernel(Wc)(F.col("v")))
    tau = float(min_cosine)
    Wn = np.array(Wc)
    cw_n2 = np.array(_seq_norms(Wc))
    B = int(pair_block if pair_block is not None else SEMDEDUP_PAIR_BLOCK)

    def _verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        c = int(pdf["cluster"].iloc[0])
        X = _rows_matrix(pdf["v"])
        # per-vector norm and centroid similarity with the same
        # sequential-over-dims accumulation as aggregate(zip_with(...))
        # and DuckDB list_dot_product (one rounded multiply + one rounded
        # add per dimension, ascending order) — np elementwise ufuncs
        # don't fuse multiply-add, so no FMA breaks the lockstep
        nr = np.sqrt(_seq_rowdot(X, X))
        w = Wn[c - 1]
        cs = np.zeros(n)
        for d in range(X.shape[1]):
            cs += X[:, d] * w[d]
        cs = np.round(cs / (nr * np.sqrt(cw_n2[c - 1])), 4)
        # rank order inside the cluster: centroid_sim asc, id asc (both
        # engine-stable: sim is rounded, id is exact)
        order = np.lexsort((pdf["id"].to_numpy(), cs))
        X, nr = X[order], nr[order]
        # doc j is dropped when ANY better-ranked i (i < j) is within tau
        # — the paper's upper-triangular keep rule, computed in
        # rank-ordered ROW BLOCKS instead of one n_c x n_c matrix.  Each
        # S element is still the same ascending-dimension sequential dot
        # (blocking rows never reorders a single element's accumulation),
        # so verdicts are bit-identical; but (a) the accumulator block
        # stays cache-sized instead of sweeping an n_c^2 float64 matrix
        # through DRAM 64 times, and (b) a column already dropped by an
        # earlier block is never scored again — the drop rule only needs
        # the FIRST hit, and whether i hits j never depends on i's own
        # verdict, so pruning dead columns cannot change any verdict.  On
        # duplicate-heavy clusters (where big S mattered most) the alive
        # set collapses within a few blocks and the stage goes from
        # quadratic to near-linear; measured 37.3 -> 7.5 s on the 10x
        # replica, scale ratio 10.0 -> 2.3 (PARITY.md).
        keep = np.ones(n, dtype=bool)
        for a in range(0, n - 1, B):
            cols = np.nonzero(keep)[0]
            cols = cols[cols > a]
            if cols.size == 0:
                break  # alive columns after a only shrink with a
            b = min(a + B, n)
            Xc = X[cols]
            Sb = np.zeros((b - a, cols.size))
            for d in range(X.shape[1]):
                Sb += X[a:b, d, None] * Xc[None, :, d]
            Sb = np.round(Sb / (nr[a:b, None] * nr[cols][None, :]), 4)
            hit = (Sb >= tau) & (np.arange(a, b)[:, None] < cols[None, :])
            keep[cols[hit.any(axis=0)]] = False
        return pd.DataFrame({"vec_id": pdf["id"].to_numpy()[order],
                             "cluster": pdf["cluster"].to_numpy()[order],
                             "centroid_sim": cs[order],
                             "keep": keep.astype(np.int32)})

    return (scored.select("id", "cluster", "v")
            .groupBy("cluster")
            .applyInPandas(
                _verdicts,
                "vec_id long, cluster int, centroid_sim double, keep int")
            .withColumnRenamed("vec_id", id_col))


def semantic_dedup_sql(min_cosine: float = SEMDEDUP_TAU,
                       k: int = KMEANS_K, n_iters: int = KMEANS_ITERS,
                       dims: int = 64) -> str:
    """The identical pipeline in SQL: unrolled Lloyd CTEs, centroid-sim
    rank, upper-triangular intra-cluster near-dup drops."""
    ctes, last = _kmeans_sql_ctes(k, n_iters, dims)
    return ctes + f""", nn as (
            select vec_id, cluster, v,
                   sqrt(list_dot_product(v, v)) as nrm
            from af
        ), scored as (
            select n.vec_id, n.cluster, n.v, n.nrm,
                   round(list_dot_product(n.v, k.w)
                         / (n.nrm * sqrt(list_dot_product(k.w, k.w))),
                         4) as centroid_sim
            from nn n join {last} k on n.cluster = k.c
        ), rk as (
            select *, row_number() over (partition by cluster
                                         order by centroid_sim asc,
                                                  vec_id asc) as rnk
            from scored
        ), drops as (
            select distinct b.vec_id
            from rk a join rk b
              on a.cluster = b.cluster and a.rnk < b.rnk
            where round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4)
                      >= {min_cosine}
        )
        select r.vec_id, r.cluster, r.centroid_sim,
               (d.vec_id is null)::int as keep
        from rk r left join drops d on r.vec_id = d.vec_id
    """


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI 33(1)): split each vector into
# PQ_M subvectors, k-means each subspace (deterministic seeded Lloyd, the
# kmeans recipe), store each corpus vector as PQ_M small codes, and answer
# top-k with asymmetric-distance computation — exact query subvectors
# against the coded corpus via per-query lookup tables.
#
# The reference (waimak) has no ANN surface; this completes the repo's
# family (brute force, LSH, IVF, int8, stored IVF) with the 100 TB memory
# path: at PQ_M=32 codes a 64-dim float64 corpus compresses 16x (32
# single-byte codes vs 512 bytes), so the scan the probe pays is
# code-bandwidth, not vector-bandwidth.
#
# Scale shape: the fit is n_iters Arrow-kernel assignment passes over the
# materialized base plus one BOUNDED collect per round (m*k*sub_dims =
# 1024 doubles — aggregate-sized, the kmeans pattern); encode is map-only;
# scoring never touches Python — the per-query LUT (m*k dots of the
# query's REAL subvectors against codebook literals) is built in-plan on
# the broadcast query side, and each corpus row costs m element_at
# lookups + a sequential m-term sum, all whole-stage JVM expressions.
#
# Cross-engine determinism: codebooks are rounded to PQ_ROUND decimals
# per Lloyd round (the KMEANS_ROUND guard) and injected as literals into
# BOTH engines' scoring plans; every dot is sequential-over-dimensions
# (== DuckDB list_dot_product); assignment ties break to the lowest
# centroid index on both sides; ADC scores round to 4dp before the
# rank/tiebreak.
# ---------------------------------------------------------------------------

PQ_M = 32       # subspaces; 64 dims -> 2-dim subvectors
PQ_K = 64       # centroids per subspace -> codes fit in 6 bits
PQ_ITERS = 2
PQ_SEED = 3000  # subspace s, centroid c seeds plane-weight rows at
                # 3000 + s*PQ_K + c — disjoint from KMEANS_SEED's range
PQ_ROUND = 6
# Defaults were swept on the sf0.001 embeddings (near-random directions,
# cosine sd 0.125 — a hard, noise-dominated corpus for PQ):
#   m=8  k=16: recall@10 0.16   m=16 k=64: 0.36   m=32 k=16: 0.44
#   m=32 k=32: 0.52             m=32 k=64: 0.62 (min 0.40)  <- chosen
# More subspaces beat more centroids here (direction resolution, not
# per-subspace detail, is what the flat spectrum punishes); extra Lloyd
# rounds moved recall < 0.02.  32 single-byte codes vs 512 raw bytes is
# still a 16x scan-bandwidth cut.


def _pq_init(m: int, k: int, sub_dims: int) -> list[list[list[float]]]:
    return [[[_plane_weight(PQ_SEED + s * k + c, d) for d in range(sub_dims)]
             for c in range(k)] for s in range(m)]


def _pq_unit_base(emb: DataFrame, dims: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """(id, v) with v L2-NORMALIZED: PQ here approximates COSINE (the
    family's metric) — on unit vectors the ADC inner product IS the
    cosine, so codebooks quantize direction only and norm variance stops
    polluting the reconstruction.  The norm is a sequential self-dot
    (== DuckDB list_dot_product) so both engines normalize
    bit-identically; zero vectors are already dropped upstream by the
    all-finite/valid filter plus the norm>0 guard here."""
    # The norm is BOUND as a higher-order-function lambda variable (a
    # 1-element array transform) so it evaluates ONCE per row: interpreted
    # higher-order expressions get no common-subexpression elimination, so
    # the previous form — `nrm` referenced inside the per-element division
    # lambda — re-ran the full O(dims) self-dot for EVERY element (O(dims²)
    # per row, measured 64× the arithmetic at dims=64; the _dsir_gram_stream
    # recipe, but projection boundaries don't survive CollapseProject here
    # because the norm is single-referenced — a lambda binding is the form
    # the optimizer can never re-inline).  Values are bit-identical: same
    # sequential self-dot, same per-element division.  Emitted as parsed
    # SQL strings (optimized plan locked in tests/test_dvec_lit.py).
    nrm_s = f"sqrt({dot_sexpr('raw', 'raw')})"
    base = (valid_embeddings(emb, dims, vec_col)
            .selectExpr(f"`{id_col}`",
                        f"cast(`{vec_col}` as array<double>) as raw"))
    return (base.where(F.expr(f"{nrm_s} > 0"))
            .selectExpr(f"`{id_col}`",
                        f"element_at(transform(array({nrm_s}), "
                        f"n -> transform(raw, x -> x / n)), 1) as v"))


def _pq_assign_kernel(books: list[list[list[float]]]):
    """Arrow-batched per-subspace nearest-centroid codes (1-based, ties to
    the lowest index) — the kmeans assignment kernel applied per slice."""
    from pyspark.sql.types import ArrayType, IntegerType

    Bs = [np.array(b) for b in books]
    N2s = [np.array(_seq_norms(b)) for b in books]
    m, sub = len(books), Bs[0].shape[1]

    @F.pandas_udf(ArrayType(IntegerType()))
    def codes(v: pd.Series) -> pd.Series:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            scores = _ivf_np_scores(X[:, s * sub:(s + 1) * sub], Bs[s], N2s[s])
            out[:, s] = np.argmin(scores, axis=1) + 1
        return pd.Series(list(out))

    return codes


def _pq_lut_kernel(books: list[list[list[float]]]):
    """Arrow-batched per-query ADC lookup table: lut[(s-1)*k + c] =
    dot(q_s, books[s][c]), sequential over dimensions (== DuckDB
    list_dot_product on the same doubles)."""
    from pyspark.sql.types import ArrayType, DoubleType as _D

    Bs = [np.array(b) for b in books]
    m, kk = len(books), len(books[0])
    sub = Bs[0].shape[1]

    @F.pandas_udf(ArrayType(_D()))
    def lut(v: pd.Series) -> pd.Series:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((X.shape[0], m * kk))
        for s in range(m):
            out[:, s * kk:(s + 1) * kk] = _seq_matmul(
                X[:, s * sub:(s + 1) * sub], Bs[s])
        return pd.Series(list(out))

    return lut


def pq_fit(emb: DataFrame, m: int = PQ_M, k: int = PQ_K,
           n_iters: int = PQ_ITERS, dims: int = 64,
           id_col: str = "vec_id", vec_col: str = "embedding",
           materialize=None, base: DataFrame | None = None
           ) -> tuple[DataFrame, list[list[list[float]]]]:
    """Lloyd per subspace, all subspaces in ONE assignment pass + ONE
    narrow (s, code, d)-keyed avg per round (the posexplode recipe that
    took the kmeans update out from under the codegen field cliff);
    returns the materialized base and codebooks[m][k][dims/m] rounded to
    PQ_ROUND decimals."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    from .cache_registry import tracked_persist

    sub = dims // m
    if base is None:
        base = (materialize or tracked_persist)(
            _pq_unit_base(emb, dims, id_col, vec_col))
    books = _pq_init(m, k, sub)
    for _ in range(n_iters):
        assigned = base.withColumn(
            "codes", _pq_assign_kernel(books)(F.col("v")))
        rows = (assigned
                .select("codes", F.posexplode("v").alias("d", "x"))
                .withColumn("s", (F.col("d") / sub).cast("int"))
                .withColumn("code",
                            F.element_at(F.col("codes"), F.col("s") + 1))
                .groupBy("s", "code", "d")
                .agg(F.round(F.avg("x"), PQ_ROUND).alias("c"))
                .collect())
        new = [[list(c) for c in b] for b in books]  # empty code kept
        for r in rows:
            new[r["s"]][r["code"] - 1][r["d"] - r["s"] * sub] = r["c"]
        books = new
    return base, books


def pq_encode(emb: DataFrame, books: list[list[list[float]]],
              dims: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding",
              base: DataFrame | None = None) -> DataFrame:
    """(id, codes): map-only Arrow encode of valid vectors against fixed
    codebooks — the compressed corpus representation.  Pass the
    materialized ``base`` that :func:`pq_fit` returns to skip re-running
    the validity filter + normalization over the corpus."""
    if base is None:
        base = _pq_unit_base(emb, dims, id_col, vec_col)
    return base.select(id_col,
                       _pq_assign_kernel(books)(F.col("v")).alias("codes"))


def _books_sql(books: list[list[list[float]]]) -> str:
    """Nested DuckDB list literal: books[s][c][d] (1-based indexing)."""
    return "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in c) + "]"
            for c in b) + "]"
        for b in books) + "]"


def pq_encode_sql(books: list[list[list[float]]], dims: int = 64) -> str:
    """DuckDB oracle for :func:`pq_encode` over the ``embeddings`` view.
    The codebook literal is hoisted into a 1-row CTE (evaluating the
    nested-list literal inside a per-row lambda re-built it per row —
    measured ~100x slower) and each (row, subspace) scores list is a
    plain column so argmin evaluates it once.  The base CTE mirrors the
    FULL :func:`valid_embeddings` contract incl. the all-finite guard
    (a vector carrying +/-Inf passes the dot>0 test under
    IEEE but Spark drops it — without ``isfinite`` the engines diverge
    on such corpora); same guard in ``pq_topk_sql``/``ivf_pq_topk_sql``.
    DuckDB evaluates filter conjuncts AND projections totally (no
    short-circuit, even through CASE-in-WHERE), so the guard sanitizes
    non-finite/NULL elements to 0 in an inner projection and every outer
    expression touches only the sanitized list — on surviving rows it
    equals the raw vector, so values are unchanged on finite corpora."""
    m = len(books)
    sub = dims // m
    return f"""
        with bk as (select {_books_sql(books)} as b),
        base as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        ), per_s as (
            select vec_id, s,
                   list_transform(b[s], c ->
                       list_dot_product(c, c)
                       - 2 * list_dot_product(v[(s-1)*{sub}+1 : s*{sub}],
                                              c)) as scores
            from base cross join bk
            cross join generate_series(1, {m}) t(s)
        )
        select vec_id,
               list(array_position(scores, list_min(scores))
                    order by s) as codes
        from per_s group by vec_id
    """


def pq_topk(emb: DataFrame, books: list[list[list[float]]],
            query_ids: list[int], k: int = 5, dims: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            base: DataFrame | None = None) -> DataFrame:
    """Approximate top-k inner-product neighbours via ADC: the corpus is
    scanned as codes only; each query's LUT (its real subvectors dotted
    with every codebook centroid) is built in-plan on the broadcast side,
    so scoring is m ``element_at`` lookups + an m-term sequential sum per
    candidate — whole-stage JVM, no Python in the scoring path."""
    from pyspark.sql import Window as W

    m, kk = len(books), len(books[0])
    sub = dims // m
    if base is None:
        base = _pq_unit_base(emb, dims, id_col, vec_col)
    codes = pq_encode(emb, books, dims, id_col, vec_col, base=base)
    # LUT in s-major order: position (s-1)*k + c holds dot(q_s, books[s][c]),
    # built by a tiny Arrow kernel on the (broadcast, few-rows) query side —
    # the same values as m*k in-plan dot expressions, but Catalyst choked on
    # analyzing a 2048-expression array (plan compile alone took ~1 min at
    # m=32 k=64); sequential accumulation keeps it == list_dot_product
    queries = (base.where(F.col(id_col).isin(query_ids))
               .select(F.col(id_col).alias("query_id"),
                       _pq_lut_kernel(books)(F.col("v")).alias("lut")))
    s_idx = F.sequence(F.lit(1), F.lit(m))
    score = F.round(F.aggregate(
        s_idx, F.lit(0.0),
        lambda acc, s: acc + F.element_at(
            F.col("lut"),
            ((s - 1) * kk + F.element_at(F.col("codes"), s)).cast("int"))),
        4)
    scored = (codes.crossJoin(F.broadcast(queries))
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      score.alias("adc_score")))
    w = W.partitionBy("query_id").orderBy(F.desc("adc_score"),
                                          F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "adc_score"))


def pq_topk_sql(books: list[list[list[float]]], query_ids: list[int],
                k: int = 5, dims: int = 64) -> str:
    m, kk = len(books), len(books[0])
    sub = dims // m
    ids = ", ".join(str(i) for i in query_ids)
    lut = (f"flatten(list_transform(generate_series(1, {m}), s -> "
           f"list_transform(b[s], c -> "
           f"list_dot_product(v[(s-1)*{sub}+1 : s*{sub}], c))))")
    return f"""
        with bk as (select {_books_sql(books)} as b),
        codes as ({pq_encode_sql(books, dims)}),
        base as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        ), queries as (
            select vec_id as query_id, {lut} as lut
            from base cross join bk where vec_id in ({ids})
        ), scored as (
            select query_id, c.vec_id as neighbor_id,
                   round(list_sum(list_transform(
                       generate_series(1, {m}),
                       s -> lut[(s-1)*{kk} + codes[s]])), 4) as adc_score
            from codes c cross join queries
            where c.vec_id != query_id
        )
        select query_id, neighbor_id, rank, adc_score
        from (select *, row_number() over (partition by query_id
                                           order by adc_score desc,
                                                    neighbor_id asc) as rank
              from scored)
        where rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF-PQ: the composed 100 TB ANN shape (Jégou et al. 2011 §IV) — coarse
# cell pruning (the deterministic seeded IVF centroids) over the SAME
# L2-normalized space PQ scores in, then ADC only inside probed cells.
# At scale the (cell, codes) corpus frame is what a stored index holds
# (cell-bucketed like `ivf_index_frame`, 32 bytes/vector): the probe
# scans nprobe/n_centroids of a 16x-compressed corpus.
# ---------------------------------------------------------------------------


def _ivf_pq_features(books: list[list[list[float]]], n_centroids: int,
                     dims: int):
    """One Arrow pass per corpus row: IVF cell (on the unit vector, so
    pruning and scoring agree) + PQ codes."""
    W = np.array(_centroid_matrix(n_centroids, dims))
    N2 = np.array(_centroid_norms(n_centroids, dims))
    Bs = [np.array(b) for b in books]
    BN2s = [np.array(_seq_norms(b)) for b in books]
    m, sub = len(books), Bs[0].shape[1]

    @F.pandas_udf("cell int, codes array<int>")
    def feat(v: pd.Series) -> pd.DataFrame:
        X = _rows_matrix(v)
        if X.size == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "codes": pd.Series([], dtype="object")})
        cell = (np.argmin(_ivf_np_scores(X, W, N2), axis=1) + 1
                ).astype(np.int32)
        codes = np.zeros((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            codes[:, s] = np.argmin(
                _ivf_np_scores(X[:, s * sub:(s + 1) * sub], Bs[s], BN2s[s]),
                axis=1) + 1
        return pd.DataFrame({"cell": cell, "codes": list(codes)})

    return feat


def ivf_pq_topk(emb: DataFrame, books: list[list[list[float]]],
                query_ids: list[int], k: int = 5,
                n_centroids: int = IVF_CENTROIDS,
                nprobe: int = IVF_NPROBE, dims: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding",
                base: DataFrame | None = None) -> DataFrame:
    """Approximate top-k cosine neighbours with BOTH prunings: candidates
    limited to the query's ``nprobe`` nearest cells, scored by ADC over
    codes.  Self-contained form: featurizes the corpus inline via
    :func:`ivf_pq_index_frame` and probes it — a deployment stores that
    frame once (cell-bucketed) and probes via
    :func:`ivf_pq_topk_from_index` instead."""
    index = ivf_pq_index_frame(emb, books, n_centroids, dims, id_col,
                               vec_col, base=base)
    return ivf_pq_topk_from_index(index, emb, books, query_ids, k,
                                  n_centroids, nprobe, dims, id_col,
                                  vec_col, query_base=base)


def ivf_pq_index_frame(emb: DataFrame, books: list[list[list[float]]],
                       n_centroids: int = IVF_CENTROIDS, dims: int = 64,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       base: DataFrame | None = None) -> DataFrame:
    """The IVF-PQ index content: ``(id, cell, codes)`` per corpus vector
    — what a build-once/probe-many deployment persists (cell-bucketed,
    like the stored IVF table, so a probe's cell list prunes buckets at
    the scan; 32 single-byte codes per vector instead of 512 raw
    bytes).  Pass the fit's materialized ``base`` to skip re-running the
    validity filter + normalization."""
    if base is None:
        base = _pq_unit_base(emb, dims, id_col, vec_col)
    return (base.select(id_col,
                        _ivf_pq_features(books, n_centroids, dims)(
                            F.col("v")).alias("f"))
            .select(id_col, F.col("f.cell").alias("cell"),
                    F.col("f.codes").alias("codes")))


def ivf_pq_topk_from_index(index: DataFrame, query_src: DataFrame,
                           books: list[list[list[float]]],
                           query_ids: list[int], k: int = 5,
                           n_centroids: int = IVF_CENTROIDS,
                           nprobe: int = IVF_NPROBE, dims: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           query_base: DataFrame | None = None) -> DataFrame:
    """Probe a STORED ``(id, cell, codes)`` index: the corpus side is a
    bare scan of the compressed frame — zero featurization, zero Python
    — and only the (few) query rows run the probe/LUT kernels.  Output
    is identical to :func:`ivf_pq_topk` over the same corpus."""
    from pyspark.sql import Window as W

    m, kk = len(books), len(books[0])
    if query_base is None:
        query_base = _pq_unit_base(query_src, dims, id_col, vec_col)
    queries = (query_base
               .where(F.col(id_col).isin(query_ids))
               .select(F.col(id_col).alias("query_id"),
                       ivf_probe_cells("v", n_centroids, dims,
                                       nprobe).alias("probes"),
                       _pq_lut_kernel(books)(F.col("v")).alias("lut")))
    s_idx = F.sequence(F.lit(1), F.lit(m))
    score = F.round(F.aggregate(
        s_idx, F.lit(0.0),
        lambda acc, s: acc + F.element_at(
            F.col("lut"),
            ((s - 1) * kk + F.element_at(F.col("codes"), s)).cast("int"))),
        4)
    q_cells = queries.select("query_id", "lut",
                             F.explode("probes").alias("cell"))
    # tiny collect (≤ nprobe × |queries| ints, the ivf_topk_from_index
    # recipe): the literal cell list is what lets a cell-BUCKETED stored
    # index prune file buckets at the scan (SelectedBucketsCount,
    # plan-locked in test_pq.py) — a join alone cannot
    probe_cells = sorted({r["cell"] for r in
                          q_cells.select("cell").distinct().collect()})
    pruned = index.where(F.col("cell").isin(probe_cells))
    scored = (pruned.join(F.broadcast(q_cells), "cell")
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      score.alias("adc_score")))
    w = W.partitionBy("query_id").orderBy(F.desc("adc_score"),
                                          F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "adc_score"))


def ivf_pq_topk_sql(books: list[list[list[float]]], query_ids: list[int],
                    k: int = 5, n_centroids: int = IVF_CENTROIDS,
                    nprobe: int = IVF_NPROBE, dims: int = 64) -> str:
    m, kk = len(books), len(books[0])
    sub = dims // m
    ids = ", ".join(str(i) for i in query_ids)
    norms = _centroid_norms(n_centroids, dims)
    cent_rows = ",\n                   ".join(
        "({c}, [{w}]::DOUBLE[], {n2})".format(
            c=c + 1,
            w=", ".join(repr(_plane_weight(_IVF_SEED + c, d))
                        for d in range(dims)),
            n2=repr(norms[c]),
        )
        for c in range(n_centroids)
    )
    lut = (f"flatten(list_transform(generate_series(1, {m}), s -> "
           f"list_transform(b[s], c -> "
           f"list_dot_product(v[(s-1)*{sub}+1 : s*{sub}], c))))")
    return f"""
        with bk as (select {_books_sql(books)} as b),
        cents(c, w, n2) as (
            values {cent_rows}
        ), base as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        ), cscore as (
            select vec_id, c,
                   n2 - 2 * list_dot_product(v, w) as score,
                   row_number() over (partition by vec_id
                                      order by n2 - 2 * list_dot_product(v, w),
                                               c) as rn
            from base cross join cents
        ), cells as (
            select vec_id, c as cell from cscore where rn = 1
        ), probes as (
            select vec_id as query_id, c as cell from cscore
            where vec_id in ({ids}) and rn <= {nprobe}
        ), codes as ({pq_encode_sql(books, dims)}),
        queries as (
            select vec_id as query_id, {lut} as lut
            from base cross join bk where vec_id in ({ids})
        ), cand as (
            select q.query_id, cd.vec_id as neighbor_id,
                   round(list_sum(list_transform(
                       generate_series(1, {m}),
                       s -> lut[(s-1)*{kk} + codes[s]])), 4) as adc_score
            from codes cd
            join cells cl on cd.vec_id = cl.vec_id
            join probes p on p.cell = cl.cell
            join queries q on q.query_id = p.query_id
            where cd.vec_id != q.query_id
        )
        select query_id, neighbor_id, rank, adc_score
        from (select *, row_number() over (partition by query_id
                                           order by adc_score desc,
                                                    neighbor_id asc) as rank
              from cand)
        where rank <= {k}
    """


def ivf_pq_refined_topk(emb: DataFrame, books: list[list[list[float]]],
                        query_ids: list[int], k: int = 5,
                        refine_factor: int = 4,
                        n_centroids: int = IVF_CENTROIDS,
                        nprobe: int = IVF_NPROBE, dims: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Two-stage IVF-PQ retrieval with EXACT REFINEMENT (the FAISS
    ``RefineFlat`` pattern): stage 1 takes the ADC top
    ``k * refine_factor`` shortlist from the compressed index (cheap,
    lossy), stage 2 rescopes ONLY the shortlist with exact cosine
    against the raw vectors and re-ranks to the final top-k — the
    standard recall-recovery step quantization error makes necessary.
    At 100 TB the exact stage touches ``|queries| * k * refine_factor``
    raw vectors instead of the corpus: the shortlist broadcasts into
    one pruned join against the raw table.  Output:
    ``(query_id, neighbor_id, rank, score)`` with the exact 4dp cosine."""
    if refine_factor < 1:
        raise ValueError(f"refine_factor={refine_factor} must be >= 1")
    from pyspark.sql import Window as W

    from .cache_registry import tracked_persist

    base = tracked_persist(_pq_unit_base(emb, dims, id_col, vec_col))
    index = ivf_pq_index_frame(emb, books, n_centroids, dims, id_col,
                               vec_col, base=base)
    short = ivf_pq_topk_from_index(
        index, emb, books, query_ids, k * refine_factor, n_centroids,
        nprobe, dims, id_col, vec_col, query_base=base)
    qv = (base.where(F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("query_id"), F.col("v").alias("_qv")))
    refined = (base.select(F.col(id_col).alias("neighbor_id"),
                           F.col("v").alias("_nv"))
               .join(F.broadcast(short.select("query_id", "neighbor_id")),
                     "neighbor_id")
               .join(F.broadcast(qv), "query_id")
               .selectExpr("query_id", "neighbor_id",
                           f"round({dot_sexpr('_nv', '_qv')}, 4) as score"))
    w = W.partitionBy("query_id").orderBy(F.desc("score"),
                                          F.asc("neighbor_id"))
    return (refined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "score")
            .orderBy("query_id", "rank"))


def ivf_pq_refined_topk_sql(books: list[list[list[float]]],
                            query_ids: list[int], k: int = 5,
                            refine_factor: int = 4,
                            n_centroids: int = IVF_CENTROIDS,
                            nprobe: int = IVF_NPROBE,
                            dims: int = 64) -> str:
    """DuckDB oracle for :func:`ivf_pq_refined_topk` — the stage-1
    shortlist is the existing :func:`ivf_pq_topk_sql` at
    ``k * refine_factor`` wrapped as a subquery, stage 2 re-scores it
    with the exact dot product over the same normalized base."""
    inner = ivf_pq_topk_sql(books, query_ids, k * refine_factor,
                            n_centroids, nprobe, dims)
    return f"""
        with short as ({inner}),
        rbase as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        ), exact as (
            select s.query_id, s.neighbor_id,
                   round(list_dot_product(nb.v, qb.v), 4) as score
            from short s
            join rbase nb on nb.vec_id = s.neighbor_id
            join rbase qb on qb.vec_id = s.query_id
        )
        select query_id, neighbor_id, rank, score
        from (select *, row_number() over (partition by query_id
                                           order by score desc,
                                                    neighbor_id asc) as rank
              from exact)
        where rank <= {k}
        order by query_id, rank
    """


# ---------------------------------------------------------------------------
# k-center greedy diverse sampling (farthest-point traversal) — the coreset
# selection of Sener & Savarese 2018 (ICLR, arXiv:1708.00489): pick the
# point farthest (cosine distance on unit vectors) from everything chosen
# so far, k times.  The classic 2-approximation to the k-center objective;
# in an LLM-data pipeline it is the diversity-sampling step that picks
# maximally-spread exemplars for annotation / eval-set seeding.
#
# Determinism recipe (the q11/kmeans float gates): every distance is
# ROUNDED to 4dp before any comparison, argmax ties break on ascending id,
# and the start center is the smallest valid id — so the selection trace
# is bit-stable across engines and an exact unrolled SQL oracle exists.
#
# 100 TB posture: k bounded scans (each one map-side literal-vector dot +
# a TakeOrderedAndProject argmax — no shuffle of the corpus, no UDFs);
# the only driver data is k one-row collects (the chosen centers).  The
# running min-distance column accumulates as plan expressions, so every
# KCENTER_CHECKPOINT_EVERY rounds the loop CUTS THE PLAN:
# the survivors' (id, v, _md) frame is persisted and eagerly materialized,
# already-chosen rows are dropped at the cut, and the previous cut's
# cache is released — plan depth, the not-chosen literal, and cached
# copies all stay O(j) instead of O(k), which is what lets the cap sit
# at 1024 instead of the old 64.  The trace is bit-identical either way:
# a checkpoint stores the same rounded doubles the expressions would
# re-derive, and least() over the stored value equals the chained form.
# ---------------------------------------------------------------------------

KCENTER_K = 8
KCENTER_ROUND = 4
#: plan-cut cadence: rounds between materializations of the running
#: min-distance frame (j≈8 keeps the argmax plan shallow while paying
#: only k/j extra corpus-sized persists)
KCENTER_CHECKPOINT_EVERY = 8
#: beyond this, k sequential one-row argmax barriers dominate any
#: deployment — raise deliberately, the plan no longer grows with k
_KCENTER_MAX_K = 1024


def kcenter_select(emb: DataFrame, k: int = KCENTER_K, dims: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   materialize=None,
                   checkpoint_every: int = KCENTER_CHECKPOINT_EVERY
                   ) -> DataFrame:
    """Greedy k-center selection trace: ``(rank, vec_id, dist)`` — rank-r
    row is the r-th chosen center and ``dist`` its rounded cosine
    distance to the nearest earlier center (null for the seed row).

    ``checkpoint_every`` rounds, the running min-distance frame is
    persisted + eagerly materialized with the already-chosen rows
    dropped, and the previous cut's cache released — plan depth, the
    not-chosen ``isin`` literal, and live cached copies stay O(j)
    however large ``k`` gets (the trace is bit-identical
    to the uncheckpointed form, locked in tests/test_kcenter.py).  On a
    real cluster, pass ``materialize=`` to swap the persist for the
    framework's parquet plan-cut when executor memory is the scarcer
    resource."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if k > _KCENTER_MAX_K:
        raise ValueError(
            f"k={k} > {_KCENTER_MAX_K}: k sequential one-row argmax "
            f"barriers dominate any deployment at this size — raise "
            f"_KCENTER_MAX_K deliberately (the plan itself stays "
            f"bounded by the round checkpoints)")
    from .cache_registry import tracked_persist

    mat = materialize or tracked_persist
    base = mat(_pq_unit_base(emb, dims, id_col, vec_col))
    first = base.orderBy(F.asc(id_col)).limit(1).collect()
    if not first:
        return emb.sparkSession.createDataFrame(
            [], "rank int, vec_id long, dist double")
    chosen = [(1, first[0][id_col], None)]
    chosen_vecs = [list(first[0]["v"])]
    cur = base
    recent_ids = [first[0][id_col]]  # chosen since the last plan cut
    prev_cut: DataFrame | None = None
    # per-iteration expressions parse as ONE SQL string each (trace
    # locked in tests/test_kcenter.py)
    id_s = f"`{id_col}`"
    for rank in range(2, k + 1):
        d_new = (f"round(1.0D - {dot_sexpr('v', dvec_sexpr(chosen_vecs[-1]))}"
                 f", {KCENTER_ROUND})")
        md = d_new if rank == 2 else f"least(_md, {d_new})"
        cur = cur.selectExpr(id_s, "v", f"{md} as _md")
        live = (cur if not recent_ids
                else cur.where(
                    f"{id_s} not in ({', '.join(map(str, recent_ids))})"))
        top = (live.orderBy(F.desc("_md"), F.asc(id_col))
               .select(id_col, "v", "_md")
               .limit(1).collect())
        if not top:  # corpus smaller than k
            break
        chosen.append((rank, top[0][id_col], float(top[0]["_md"])))
        chosen_vecs.append(list(top[0]["v"]))
        recent_ids.append(top[0][id_col])
        if rank < k and (rank - 1) % checkpoint_every == 0:
            # plan cut: store the survivors' evaluated _md doubles (the
            # same rounded values the expression chain would re-derive)
            cut = mat(cur.where(
                f"{id_s} not in ({', '.join(map(str, recent_ids))})")
                .select(id_col, "v", "_md"))
            cut.count()  # materialize NOW, while the old cache is live
            if prev_cut is not None:
                try:
                    prev_cut.unpersist()
                except Exception:
                    pass
            prev_cut, cur, recent_ids = cut, cut, []
    id_type = dict(base.dtypes)[id_col]
    # k local rows: Arrow-backed local frame, not defaultParallelism
    # Python-evaluated slices (~0.7 s per downstream action — see
    # local_rows_df)
    from .util import local_rows_df

    return local_rows_df(emb.sparkSession, chosen,
                         f"rank int, vec_id {id_type}, dist double")


def kcenter_select_sql(k: int = KCENTER_K, dims: int = 64) -> str:
    """Unrolled DuckDB oracle: round r's CTE carries every survivor's
    running min-distance; the next center is its (md desc, vec_id asc)
    head — the same rounded-before-compare trace as the Spark loop.
    Every chained CTE is MATERIALIZED: DuckDB inlines multi-referenced
    CTEs by default, and the d/c chain re-expands ~8x per round —
    measured 0.08 s at k=3 vs 9.5 s at k=6 and ~10 min at k=8 without
    the keyword; materialized, k=8 runs in milliseconds."""
    base = f"""base as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        )"""
    ctes = [base,
            "c1 as materialized (select vec_id, v from base order by vec_id limit 1)",
            """d1 as materialized (
            select b.vec_id, b.v,
                   round(1.0 - list_dot_product(b.v, (select v from c1)), 4)
                       as md
            from base b where b.vec_id <> (select vec_id from c1)
        )"""]
    for r in range(2, k + 1):
        ctes.append(
            f"""c{r} as materialized (
            select vec_id, v, md from d{r - 1}
            order by md desc, vec_id limit 1
        )""")
        if r < k:
            ctes.append(
                f"""d{r} as materialized (
            select d.vec_id, d.v,
                   least(d.md, round(1.0 - list_dot_product(
                       d.v, (select v from c{r})), 4)) as md
            from d{r - 1} d where d.vec_id <> (select vec_id from c{r})
        )""")
    selects = ["select 1 as rank, (select vec_id from c1) as vec_id, "
               "cast(null as double) as dist"]
    selects += [f"select {r}, (select vec_id from c{r}), "
                f"(select md from c{r})" for r in range(2, k + 1)]
    return ("with " + ",\n        ".join(ctes) + "\n        "
            + "\n        union all ".join(selects))


# ---------------------------------------------------------------------------
# Maximal marginal relevance (Carbonell & Goldstein 1998, SIGIR) — the
# RELEVANCE-AWARE member of the diverse-selection family: k-center above
# maximizes pure coverage (farthest-point), MMR trades relevance to a
# query against redundancy with the already-selected set:
#     argmax  lam * rel(x, q)  -  (1 - lam) * max_{s in S} sim(x, s).
# Same execution shape as k-center (k sequential one-row argmax
# barriers over a distributed candidate frame, running column updated by
# greatest(), plan cut every j rounds), so the same 100 TB posture: the
# corpus never shuffles, each round is one TakeOrderedAndProject scan,
# and plan depth / cached copies stay O(j) regardless of k.
# ---------------------------------------------------------------------------

MMR_K = 8
#: relevance/diversity trade-off (1.0 = pure relevance ranking)
MMR_LAMBDA = 0.7
MMR_ROUND = 4
#: candidate-pool cap: the standard MMR-at-scale move —
#: the greedy loop runs over the top-``MMR_POOL`` candidates by relevance
#: (one distributed TakeOrderedAndProject over the corpus), so each of
#: the k argmax iterations scans a BOUNDED frame instead of the corpus.
#: Deterministic (rel is 4dp-rounded, id tie-break → a total order), so
#: the pooled trace is engine-reproducible and the DuckDB oracle embeds
#: the same cut.  Approximation contract: identical to unpooled MMR
#: whenever every unpooled pick's relevance sits inside the top-pool
#: band (diversity can only DEMOTE a candidate, never promote one past
#: stronger-relevance survivors... it CAN promote within the band, so
#: the guarantee is exact only when the unpooled selection ⊆ pool —
#: locked by tests/test_mmr.py's identity property); size it to the
#: shortlist you would re-rank (None disables the cap).
MMR_POOL = 4096


def mmr_select(emb: DataFrame, k: int = MMR_K, lam: float = MMR_LAMBDA,
               dims: int = 64, id_col: str = "vec_id",
               vec_col: str = "embedding", query_vec=None,
               materialize=None,
               checkpoint_every: int = KCENTER_CHECKPOINT_EVERY,
               pool: int | None = MMR_POOL) -> DataFrame:
    """Greedy MMR selection trace: ``(rank, vec_id, score)`` — rank-1 is
    the most query-relevant item, each later rank-r row maximizes
    ``lam*rel - (1-lam)*max_sim_to_selected`` (cosine both ways, 4dp
    rounded before every compare, id tie-break — the k-center
    determinism recipe, so the trace is engine-reproducible).

    ``query_vec`` (a plain float list) is the caller's query embedding;
    when omitted, the minimum-id row's unit vector stands in as the
    query and that row is EXCLUDED from the candidates (a retrieval
    query is not a candidate).  Rank-1's ``score`` is ``lam*rel`` (the
    max-sim term over the empty selected set is 0 by convention).
    Plan-cut / cap semantics are shared with :func:`kcenter_select`.

    ``pool`` caps the candidate set to the top-``pool`` rows by
    ``(rel desc, id asc)`` BEFORE the greedy loop (one distributed
    TakeOrderedAndProject pass; see :data:`MMR_POOL` for the
    approximation contract) — the k sequential argmax iterations then
    scan a bounded persisted frame instead of the corpus, which is what
    makes the operator usable at 100 TB.  ``pool=None`` disables the
    cap (the exact-audit form)."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    if pool is not None and pool < 1:
        raise ValueError(f"pool={pool} must be >= 1 (or None); a pool "
                         f"smaller than k yields pool picks (early stop)")
    if k > _KCENTER_MAX_K:
        raise ValueError(
            f"k={k} > {_KCENTER_MAX_K}: k sequential one-row argmax "
            f"barriers dominate any deployment at this size")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam={lam} must be in [0, 1]")
    from .cache_registry import tracked_persist

    mat = materialize or tracked_persist
    # persist: the seed pick and the relevance/pool pass are two passes
    # over the same normalized frame — one cache write instead of two
    # normalize scans (the kcenter base recipe)
    base = mat(_pq_unit_base(emb, dims, id_col, vec_col))
    if query_vec is None:
        seed = base.orderBy(F.asc(id_col)).limit(1).collect()
        if not seed:
            return emb.sparkSession.createDataFrame(
                [], "rank int, vec_id long, score double")
        qv = list(seed[0]["v"])
        base = base.where(F.col(id_col) != seed[0][id_col])
    else:
        qv = [float(x) for x in query_vec]
    # per-construction expressions parse as ONE SQL string each (trace
    # locked in tests/test_mmr.py)
    id_s = f"`{id_col}`"
    lam_s, one_minus_lam_s = (repr(float(lam)) + "D",
                              repr(1.0 - float(lam)) + "D")
    scored = base.selectExpr(
        id_s, "v",
        f"round({dot_sexpr('v', dvec_sexpr(qv))}, {MMR_ROUND}) as rel")
    if pool is not None:
        # distributed top-M (TakeOrderedAndProject: per-partition
        # partial top-M, then merge) — never a global sort
        scored = scored.orderBy(F.desc("rel"), F.asc(id_col)) \
                       .limit(int(pool))
    cand = mat(scored)
    first = (cand.selectExpr(id_s, "v", "rel",
                             f"round({lam_s} * rel, {MMR_ROUND}) as _sc")
             .orderBy(F.desc("rel"), F.asc(id_col)).limit(1).collect())
    if not first:
        return emb.sparkSession.createDataFrame(
            [], "rank int, vec_id long, score double")
    chosen = [(1, first[0][id_col], float(first[0]["_sc"]))]
    chosen_vecs = [list(first[0]["v"])]
    cur = cand
    recent_ids = [first[0][id_col]]
    prev_cut: DataFrame | None = None
    for rank in range(2, k + 1):
        s_new = (f"round({dot_sexpr('v', dvec_sexpr(chosen_vecs[-1]))}, "
                 f"{MMR_ROUND})")
        ms = s_new if rank == 2 else f"greatest(_ms, {s_new})"
        cur = cur.selectExpr(id_s, "v", "rel", f"{ms} as _ms")
        live = (cur if not recent_ids
                else cur.where(
                    f"{id_s} not in ({', '.join(map(str, recent_ids))})"))
        top = (live.selectExpr(
                   id_s, "v", "rel", "_ms",
                   f"round({lam_s} * rel - {one_minus_lam_s} * _ms, "
                   f"{MMR_ROUND}) as _sc")
               .orderBy(F.desc("_sc"), F.asc(id_col))
               .limit(1).collect())
        if not top:  # corpus smaller than k
            break
        chosen.append((rank, top[0][id_col], float(top[0]["_sc"])))
        chosen_vecs.append(list(top[0]["v"]))
        recent_ids.append(top[0][id_col])
        if rank < k and (rank - 1) % checkpoint_every == 0:
            cut = mat(cur.where(
                f"{id_s} not in ({', '.join(map(str, recent_ids))})")
                .select(id_col, "v", "rel", "_ms"))
            cut.count()  # materialize NOW, while the old cache is live
            if prev_cut is not None:
                try:
                    prev_cut.unpersist()
                except Exception:
                    pass
            prev_cut, cur, recent_ids = cut, cut, []
    id_type = dict(base.dtypes)[id_col]
    # k local rows: Arrow-backed local frame, not defaultParallelism
    # Python-evaluated slices (~0.7 s per downstream action — see
    # local_rows_df)
    from .util import local_rows_df

    return local_rows_df(emb.sparkSession, chosen,
                         f"rank int, vec_id {id_type}, score double")


def mmr_select_sql(k: int = MMR_K, lam: float = MMR_LAMBDA,
                   dims: int = 64, pool: int | None = MMR_POOL) -> str:
    """Unrolled DuckDB oracle for :func:`mmr_select` at the default
    min-id-row query: round r's CTE carries every survivor's running
    max-similarity; the next pick is its (score desc, vec_id asc) head.
    Every chained CTE is MATERIALIZED (the k-center oracle's measured
    re-expansion finding).  ``lam`` coefficients are embedded via
    ``repr`` so the SQL doubles are bit-identical to the Spark
    literals.  ``pool`` embeds the same deterministic top-M
    candidate-pool cut the Spark kernel applies (total order, so both
    engines cut the identical row set)."""
    l1, l2 = repr(float(lam)), repr(1.0 - float(lam))
    base = f"""base as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        )"""
    ctes = [base,
            "q as materialized (select vec_id, v from base "
            "order by vec_id limit 1)",
            f"""cand as materialized (
            select b.vec_id, b.v,
                   round(list_dot_product(b.v, (select v from q)), 4) as rel
            from base b where b.vec_id <> (select vec_id from q)
            {f'order by rel desc, vec_id limit {int(pool)}'
             if pool is not None else ''}
        )""",
            f"""c1 as materialized (
            select vec_id, v, rel, round({l1} * rel, 4) as sc
            from cand order by rel desc, vec_id limit 1
        )"""]
    for r in range(2, k + 1):
        prev = "cand" if r == 2 else f"m{r - 1}"
        ms = (f"round(list_dot_product(m.v, (select v from c{r - 1})), 4)"
              if r == 2 else
              f"greatest(m.ms, round(list_dot_product("
              f"m.v, (select v from c{r - 1})), 4))")
        ctes.append(
            f"""m{r} as materialized (
            select m.vec_id, m.v, m.rel, {ms} as ms
            from {prev} m where m.vec_id <> (select vec_id from c{r - 1})
        )""")
        ctes.append(
            f"""c{r} as materialized (
            select vec_id, v, rel, ms,
                   round({l1} * rel - {l2} * ms, 4) as sc
            from m{r} order by sc desc, vec_id limit 1
        )""")
    selects = ["select 1 as rank, (select vec_id from c1) as vec_id, "
               "(select sc from c1) as score"]
    selects += [f"select {r}, (select vec_id from c{r}), "
                f"(select sc from c{r})" for r in range(2, k + 1)]
    return ("with " + ",\n        ".join(ctes) + "\n        "
            + "\n        union all ".join(selects))


# ---------------------------------------------------------------------------
# k-means|| oversampling (Bahmani, Moseley, Vattani, Kumar & Vassilvitskii
# 2012, VLDB 5(7): "Scalable k-means++") — the distributed INITIALIZATION
# the plain kmeans_clusters family needs at 100 TB: k-means++ is k
# sequential corpus passes (one per center); k-means|| collapses that to
# a constant number of ROUNDS, each sampling a batch of candidates with
# probability proportional to d^2(x, C), then weighting the candidate
# set by assignment counts for the final (tiny, driver-side) clustering.
# Derandomization: the paper samples each point independently with
# p = l*d^2/phi; here each round takes EXACTLY l points by A-ES priority
# keys weighted by d^2 (round(ln(u)/d2, 6), u from the seeded-md5
# uniform the priority/DSIR samplers use) — the same
# oversample-proportional-to-d^2 intent with a fixed-size, engine-
# reproducible result and collects bounded BY CONSTRUCTION (l rows per
# round; the candidate-set literal stays O(rounds*l)).  Each round is
# one map (running d2 update vs the round's new centers) + one bounded
# top-l; the corpus never shuffles.
# ---------------------------------------------------------------------------

KMEANSPAR_K = 4
KMEANSPAR_ROUNDS = 3
#: per-round sample size l = ceil(oversample * k) (paper: l ~ O(k))
KMEANSPAR_OVERSAMPLE = 2.0
#: seed base for the per-round uniforms — disjoint from the KMEANS
#: (2000+), PQ (3000+), Bloom (7001+), and sketch (8000+) ranges
KMEANSPAR_SEED = 8300


def kmeanspar_oversample(emb: DataFrame, k: int = KMEANSPAR_K,
                         rounds: int = KMEANSPAR_ROUNDS,
                         oversample: float = KMEANSPAR_OVERSAMPLE,
                         dims: int = 64, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         seed: int = KMEANSPAR_SEED,
                         materialize=None) -> DataFrame:
    """``(cand_id, sample_round, n_assigned)`` — the k-means|| candidate set:
    the min-id seed center (round 0) plus exactly ``l = ceil(oversample
    * k)`` candidates per round sampled with A-ES priority keys
    weighted by the CURRENT squared distance to the candidate set
    (``d2 = round(2 - 2*cos, 4)`` on unit vectors; points already at
    distance 0 are never re-sampled), and ``n_assigned`` the number of
    corpus points whose nearest candidate it is (distance tie -> lower
    id) — the weights the paper's final driver-side clustering consumes.
    Deterministic on any engine: seeded-md5 uniforms, 4dp/6dp rounding
    before every compare, id tie-breaks."""
    if k < 1 or rounds < 1:
        raise ValueError(f"k={k} and rounds={rounds} must be >= 1")
    l = int(-(-oversample * k // 1))  # ceil
    if l < 1:
        raise ValueError(f"oversample*k={oversample * k} must be >= 1")
    from .cache_registry import tracked_persist

    from .text import seeded_hash_sexpr

    mat = materialize or tracked_persist
    base = mat(_pq_unit_base(emb, dims, id_col, vec_col))
    seed_row = base.orderBy(F.asc(id_col)).limit(1).collect()
    if not seed_row:
        return emb.sparkSession.createDataFrame(
            [], "cand_id long, sample_round int, n_assigned bigint")
    cands = [(seed_row[0][id_col], 0)]
    new_vecs = [list(seed_row[0]["v"])]
    all_vecs = {seed_row[0][id_col]: new_vecs[0]}
    cur = base
    # every per-round expression parses as ONE SQL string, locked by the
    # DuckDB lockstep oracle and the pure-python reference test
    id_s = f"`{id_col}`"
    for r in range(1, rounds + 1):
        d_terms = [
            f"round(2.0D - 2.0D * {dot_sexpr('v', dvec_sexpr(c))}, 4)"
            for c in new_vecs]
        d_new = (d_terms[0] if len(d_terms) == 1
                 else "least(" + ", ".join(d_terms) + ")")
        d2 = d_new if r == 1 else f"least(_d2, {d_new})"
        cur = cur.selectExpr(id_s, "v", f"{d2} as _d2")
        h = seeded_hash_sexpr(f"cast({id_s} as string)", seed + r)
        u = f"(({h}) + 1) / 4294967297.0D"
        key = f"round(ln({u}) / _d2, 6) + 0.0D"
        picked = (cur.where("_d2 > 0")
                  .selectExpr(id_s, "v", f"{key} as _key")
                  .orderBy(F.desc("_key"), F.asc(id_col))
                  .limit(l).collect())  # bounded: exactly <= l rows
        if not picked:
            break
        new_vecs = [list(p["v"]) for p in picked]
        for p in picked:
            cands.append((p[id_col], r))
            all_vecs[p[id_col]] = list(p["v"])
    # weighting pass: nearest candidate per corpus point (one map over
    # the persisted base; the candidate literal is O(rounds*l) structs)
    structs = ", ".join(
        f"named_struct('d', round(2.0D - 2.0D * "
        f"{dot_sexpr('v', dvec_sexpr(v))}, 4), "
        f"'cid', cast({int(cid)} as bigint))"
        for cid, v in all_vecs.items())
    counts = {r["cand_id"]: r["n"] for r in
              base.selectExpr(
                  f"sort_array(array({structs}))[0].cid as cand_id")
              .groupBy("cand_id").agg(F.count("*").alias("n"))
              .collect()}  # bounded: <= len(cands) rows
    out = [(int(cid), rr, int(counts.get(cid, 0))) for cid, rr in cands]
    # bounded local rows: Arrow-backed frame, not Python-evaluated slices
    from .util import local_rows_df

    return local_rows_df(
        emb.sparkSession, sorted(out),
        "cand_id long, sample_round int, n_assigned bigint")


def kmeanspar_oversample_sql(k: int = KMEANSPAR_K,
                             rounds: int = KMEANSPAR_ROUNDS,
                             oversample: float = KMEANSPAR_OVERSAMPLE,
                             dims: int = 64,
                             seed: int = KMEANSPAR_SEED) -> str:
    """Unrolled DuckDB oracle for :func:`kmeanspar_oversample`: round
    r's CTE carries every point's running min squared distance to the
    candidate set (least over the previous round's sampled vectors via
    a scalar subquery), the round's sample is the top-l by the 6dp
    priority key, and the weighting pass is a correlated nearest-
    candidate argmin.  Materialized CTEs per the k-center oracle's
    measured re-expansion finding."""
    from .text import md5_hash32_sql

    l = int(-(-oversample * k // 1))
    base = f"""base as (
            select vec_id,
                   list_transform(s, x -> x / sqrt(list_dot_product(s, s)))
                       as v
            from (
                select vec_id,
                       list_transform(embedding::DOUBLE[],
                           x -> case when coalesce(isfinite(x), false)
                                then x else 0 end) as s,
                       list_aggregate(list_transform(embedding::DOUBLE[],
                               x -> coalesce(isfinite(x), false)),
                           'bool_and') as ok
                from embeddings
                where embedding is not null and len(embedding) = {dims}
            )
            where ok and list_dot_product(s, s) > 0
        )"""
    ctes = [base,
            "c0 as materialized (select vec_id, v from base "
            "order by vec_id limit 1)"]
    for r in range(1, rounds + 1):
        prev_src = "c0" if r == 1 else f"s{r - 1}"
        d_new = (f"(select min(round(2.0 - 2.0 * "
                 f"list_dot_product(p.v, n.v), 4)) from {prev_src} n)")
        if r == 1:
            ctes.append(
                f"""d1 as materialized (
            select p.vec_id, p.v, {d_new} as d2 from base p
        )""")
        else:
            ctes.append(
                f"""d{r} as materialized (
            select p.vec_id, p.v, least(p.d2, {d_new}) as d2
            from d{r - 1} p
        )""")
        h = md5_hash32_sql(f"'{seed + r}:' || vec_id::VARCHAR")
        key = (f"(round(ln(({h} + 1) / 4294967297.0::DOUBLE) / d2, 6)"
               f" + 0.0)")
        ctes.append(
            f"""s{r} as materialized (
            select vec_id, v from d{r} where d2 > 0
            order by {key} desc, vec_id limit {l}
        )""")
    cand_union = " union all ".join(
        ["select vec_id, 0 as sample_round, v from c0"]
        + [f"select vec_id, {r} as sample_round, v from s{r}"
           for r in range(1, rounds + 1)])
    ctes.append(f"cands as materialized ({cand_union})")
    ctes.append("""assigned as materialized (
            select (select c.vec_id from cands c
                    order by round(2.0 - 2.0 *
                        list_dot_product(p.v, c.v), 4), c.vec_id
                    limit 1) as cand_id
            from base p
        )""")
    return ("with " + ",\n        ".join(ctes) + """
        select c.vec_id as cand_id, c.sample_round,
               count(a.cand_id)::BIGINT as n_assigned
        from cands c left join assigned a on a.cand_id = c.vec_id
        group by c.vec_id, c.sample_round
        order by c.vec_id, c.sample_round
    """)
