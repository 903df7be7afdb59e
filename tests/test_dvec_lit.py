"""dvec_sexpr / dmat_sexpr: the single-parse double-array literal must
be plan- and bit-identical to the Column-by-Column ``F.lit`` form (which
pays ~5 py4j driver round-trips per element — a 16x64 centroid matrix is
~5k round-trips of single-threaded driver time per query
construction)."""

import re
import struct

import pyspark.sql.functions as F
import pytest

from waimak_spark.functions.util import dmat_sexpr, dvec_lit, dvec_sexpr

EDGE_VALUES = [6.103515625e-05, -0.0, 0.0, 1.0, -1.0,
               1e300, -1.7976931348623157e308, 5e-324,
               27.598716222137345, -0.8965240651741624]


def _norm_plan(df) -> str:
    """Analyzed plan string modulo expression IDs and lambda-variable
    names (construction-order counters and spellings, not semantics)."""
    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+", "#", s)
    return re.sub(r"lambda '?\w+#", "lambda _#", s)


def _col_dot(a, b):
    """Column-built sequential dot: the independent reference the
    ``dot_sexpr`` fragment is compared against."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


class TestDvecLit:
    def test_bit_identity_edge_values(self, spark):
        df = spark.range(1).select(
            dvec_lit(EDGE_VALUES).alias("a"),
            F.lit([float(x) for x in EDGE_VALUES]).alias("b"))
        row = df.collect()[0]
        assert [struct.pack("d", x) for x in row["a"]] == \
               [struct.pack("d", x) for x in row["b"]]
        assert df.schema["a"].dataType == df.schema["b"].dataType

    def test_matrix_bit_identity(self, spark):
        m = [[1.5, -2.5e-10], [0.0, -0.0], [5e-324, 1e300]]
        df = spark.range(1).select(F.expr(dmat_sexpr(m)).alias("a"),
                                   F.lit(m).alias("b"))
        row = df.collect()[0]
        assert [[struct.pack("d", x) for x in r] for r in row["a"]] == \
               [[struct.pack("d", x) for x in r] for r in row["b"]]
        assert df.schema["a"].dataType == df.schema["b"].dataType

    def test_analyzed_plan_identical_in_consumer(self, spark):
        """The _ivf_scores fragment (zip_with over the two literals) —
        the hottest consumer — analyzed-plan-identical to the same shape
        built from Columns over ``F.lit`` literals."""
        from waimak_spark.functions import similarity as S

        M = S._centroid_matrix(4, 8)
        N = S._centroid_norms(4, 8)
        base = spark.range(1).select(F.array(F.lit(1.0)).alias("v"))
        old = _norm_plan(base.select(F.zip_with(
            F.lit(M), F.lit(N),
            lambda w, n2: n2 - 2.0 * _col_dot(F.col("v"), w)).alias("s")))
        new = _norm_plan(base.select(
            F.expr(S._ivf_scores("v", 4, 8)).alias("s")))
        assert old == new

    def test_sexpr_is_one_parse(self):
        s = dvec_sexpr([1.0, -2.0])
        assert s == "array(1.0D,-2.0D)"

    def test_unit_base_sexpr_matches_column_form(self, spark, sf_dir):
        """_pq_unit_base and valid_embeddings as parsed SQL strings
        must keep the OPTIMIZED plan identical to the Column form
        modulo expression IDs and lambda variable names (SQL can't
        reproduce pyspark's positional x/y renaming without shadowing),
        and the output
        bit-identical — the value check is what makes the
        alpha-blind plan comparison sound."""
        import pyspark.sql.functions as F

        from waimak_spark.functions import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

        def old_valid(emb, dims, vec_col="embedding"):
            v = F.col(vec_col)
            finite = F.forall(
                S.as_double(v),
                lambda x: x.isNotNull() & ~F.isnan(x)
                & (F.abs(x) != F.lit(float("inf"))))
            return emb.where(v.isNotNull() & (F.size(v) == dims) & finite)

        def old_unit_base(emb, dims, id_col, vec_col):
            base = (old_valid(emb, dims, vec_col)
                    .select(F.col(id_col),
                            S.as_double(F.col(vec_col)).alias("raw")))
            nrm = F.sqrt(_col_dot(F.col("raw"), F.col("raw")))
            unit = F.element_at(
                F.transform(F.array(nrm),
                            lambda n: F.transform(F.col("raw"),
                                                  lambda x: x / n)), 1)
            return (base.where(nrm > 0)
                    .select(id_col, unit.alias("v")))

        def norm(df):
            s = df._jdf.queryExecution().optimizedPlan().toString()
            s = re.sub(r"#\d+", "#", s)
            return re.sub(r"lambda '?[a-z]+(_\d+)?#", "lambda _#", s)

        old = old_unit_base(emb, 64, "vec_id", "embedding")
        new = S._pq_unit_base(emb, 64, "vec_id", "embedding")
        assert norm(old) == norm(new)
        ro = old.orderBy("vec_id").collect()
        rn = new.orderBy("vec_id").collect()
        assert len(ro) == len(rn) and len(ro) > 0
        for a, b in zip(ro, rn):
            assert a["vec_id"] == b["vec_id"]
            assert [struct.pack("d", x) for x in a["v"]] == \
                   [struct.pack("d", x) for x in b["v"]]

    def test_non_finite_rejected_by_parse(self, spark):
        # the callers only ever pass finite doubles (validated
        # embeddings, computed norms); nan/inf have no SQL literal form
        # and must fail loudly, not silently drift
        with pytest.raises(Exception):
            spark.range(1).select(
                dvec_lit([float("nan")])).collect()
