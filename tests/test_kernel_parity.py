"""Property-based parity locks for the Arrow-batched kernels: the
vectorized NumPy/Python implementations must be BIT-IDENTICAL to the
interpreted higher-order expression forms they replaced (similarity.py /
text.py document why: sequential-over-dims accumulation, re.ASCII \\s,
same lower-casing). Hypothesis hunts the corners (negative zeros, huge
magnitudes, unicode whitespace, empty strings)."""

import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from waimak_spark.functions import similarity as S
from waimak_spark.functions.text import (
    distinct_shingle_kernel,
    shingles_sexpr,
    tokens_sexpr,
)
from waimak_spark.functions.util import dvec_sexpr

finite = st.floats(allow_nan=False, allow_infinity=False,
                   min_value=-1e6, max_value=1e6, width=64)

DIMS = 8


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(finite, min_size=DIMS, max_size=DIMS),
                min_size=1, max_size=8))
def test_lsh_bucket_kernel_matches_expression(spark, vecs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                               "id int, v array<double>")
    expr = {r["id"]: r["b"] for r in df.select(
        "id", S.lsh_bucket("v", 4, DIMS).alias("b")).collect()}
    feat = S._lsh_features(4, DIMS)
    kern = {r["id"]: (r["f"]["bucket"], r["f"]["nrm"]) for r in df.select(
        "id", feat(F.col("v")).alias("f")).collect()}
    for i, v in enumerate(vecs):
        assert kern[i][0] == expr[i], f"bucket mismatch on {v}"
        # norm must equal sqrt of the sequential self-dot bit-for-bit
        acc = 0.0
        for x in v:
            acc += x * x
        assert kern[i][1] == math.sqrt(acc)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(finite, min_size=DIMS, max_size=DIMS),
                min_size=1, max_size=8))
def test_ivf_cell_kernel_matches_expression(spark, vecs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                               "id int, v array<double>")
    expr = {r["id"]: r["c"] for r in df.select(
        "id", S.ivf_cell("v", 4, DIMS).alias("c")).collect()}
    probes_expr = {r["id"]: r["p"] for r in df.select(
        "id",
        S.ivf_probe_cells("v", 4, DIMS, nprobe=2).alias("p"))
        .collect()}
    ckern = S._ivf_corpus_features(4, DIMS)
    qkern = S._ivf_query_features(4, DIMS, nprobe=2)
    got_c = {r["id"]: r["f"]["cell"] for r in df.select(
        "id", ckern(F.col("v")).alias("f")).collect()}
    got_p = {r["id"]: list(r["f"]["probes"]) for r in df.select(
        "id", qkern(F.col("v")).alias("f")).collect()}
    assert got_c == expr
    assert got_p == {k: list(v) for k, v in probes_expr.items()}


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(finite, min_size=DIMS, max_size=DIMS),
                min_size=2, max_size=6))
def test_pair_dot_matches_expression_dot(spark, vecs):
    rows = [(i, vecs[i], vecs[(i + 1) % len(vecs)])
            for i in range(len(vecs))]
    df = spark.createDataFrame(
        rows, "id int, a array<double>, b array<double>")
    expr = {r["id"]: r["d"] for r in df.select(
        "id", F.expr(S.dot_sexpr("a", "b")).alias("d")).collect()}
    kern = {r["id"]: r["d"] for r in df.select(
        "id", S._pair_dot(F.col("a"), F.col("b")).alias("d")).collect()}
    for i in expr:
        assert kern[i] == expr[i], (vecs[i], vecs[(i + 1) % len(vecs)])


# text strategy: words over a small alphabet + assorted whitespace and
# unicode confusables, joined freely
_word = st.text(alphabet="abcXYZ012é", min_size=1, max_size=5)
_ws = st.sampled_from([" ", "  ", "\t", "\n", "\r", "\x0b", "\x0c"])
_texts = st.lists(
    st.builds(lambda w, s: w + s, _word, _ws), min_size=0, max_size=12
).map("".join)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_texts, min_size=1, max_size=6))
def test_shingle_kernel_matches_expression(spark, docs):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "id int, text string")
    sh = shingles_sexpr(tokens_sexpr("text"), 2)
    expr = {r["id"]: list(r["sh"]) for r in df.selectExpr(
        "id", f"array_distinct({sh}) as sh").collect()}
    kern = {r["id"]: list(r["sh"]) for r in df.select(
        "id", distinct_shingle_kernel(2)(F.col("text")).alias("sh"))
        .collect()}
    assert kern == expr, docs


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(finite, min_size=DIMS, max_size=DIMS),
                min_size=1, max_size=8))
def test_kmeans_assign_kernel_matches_expression(spark, vecs):
    """The Arrow-batched nearest-centroid kernel must pick the same
    1-based centroid as the interpreted expression form of the score
    |w|^2 - 2 v.w (sequential dots, ties to lowest index) — the argmin
    the k-means/semantic-dedup oracles assume."""
    import numpy as np

    k = 3
    W = S._kmeans_init(k, DIMS)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                               "id int, v array<double>")
    kern = {r["id"]: r["c"] for r in df.select(
        "id", S._kmeans_assign_kernel(W)(F.col("v")).alias("c")).collect()}
    n2 = S._seq_norms(W)
    scores = [
        f"{n2[c]!r}D - 2.0D * {S.dot_sexpr('v', dvec_sexpr(W[c]))}"
        for c in range(k)
    ]
    arr = F.expr(f"array({', '.join(scores)})")
    expr_c = F.expr(
        "array_position(arr, array_min(arr))")
    expr = {r["id"]: r["c"] for r in df.select(
        "id", arr.alias("arr")).select(
        "id", expr_c.cast("int").alias("c")).collect()}
    assert kern == expr
    # cross-check against plain python argmin on the same doubles
    for i, v in enumerate(vecs):
        best = None
        for c in range(k):
            acc = 0.0
            for d in range(DIMS):
                acc += v[d] * W[c][d]
            s = n2[c] - 2.0 * acc
            if best is None or s < best[0]:
                best = (s, c + 1)
        assert kern[i] == best[1], f"argmin mismatch on {v}"
