"""Small shared helpers for the functions package."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """JVM-backed local DataFrame from a bounded list of driver rows.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` PYTHON-evaluated slices: every downstream
    action (including a broadcast build over the frame) pays one Python
    worker round-trip per slice — measured ~0.7 s per action for an
    8-row frame on local[32], and 5+ s if the frame is coalesced (the
    single task then drains all slices SEQUENTIALLY through Python
    workers).  The Arrow path ships one record batch to the JVM at
    construction time and evaluates JVM-side afterwards (~0.17 s per
    action, measured).  Values are unchanged — the declared schema
    drives the type conversion on both paths; columns are built as
    dtype=object pandas Series so mixed int/None columns never pass
    through float64 (which would corrupt ids above 2^53).

    ``schema`` is a comma-separated ``name type`` string; fields are
    split on TOP-LEVEL commas only (depth-tracked over ``<>``/``()``),
    so ``array<double>``, ``decimal(10,2)`` and multi-field structs all
    parse correctly — and a row/field arity mismatch raises here with a
    clear message instead of as a confusing pandas/Arrow error
    downstream.
    """
    import pandas as pd

    rows = list(rows)
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            field = schema[start:i].strip()
            if field:
                names.append(field.split()[0].strip("`"))
            start = i + 1
    if rows and len(rows[0]) != len(names):
        raise ValueError(
            f"local_rows_df: schema has {len(names)} fields "
            f"({names}) but rows have {len(rows[0])} values")
    pdf = pd.DataFrame(
        {n: pd.Series([r[i] for r in rows], dtype=object)
         for i, n in enumerate(names)})
    return spark.createDataFrame(pdf, schema)


def free_ckpt_blocks(df: DataFrame) -> None:
    """Unpersist the RDD blocks a ``localCheckpoint(eager=True)`` pinned.

    ``df.rdd.unpersist()`` silently frees NOTHING here:
    ``df.rdd`` derives a fresh javaToPython RDD at storage level NONE,
    while the checkpoint's blocks belong to the internal RDD the
    ``LogicalRDD`` leaf of the checkpointed frame wraps.  Measured: after
    ``cut.rdd.unpersist(False)`` the block manager still held the
    checkpoint blocks; after ``LogicalRDD.rdd().unpersist(False)`` it
    held zero.  Walks the analyzed plan (the frame is a checkpoint
    output or a narrow op directly over one, so every LogicalRDD leaf
    belongs to this checkpoint) and unpersists each leaf's backing RDD.
    Best-effort: failures leave blocks to the JVM ContextCleaner."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "LogicalRDD":
                node.rdd().unpersist(False)
            else:
                children = node.children()
                for i in range(children.size()):
                    stack.append(children.apply(i))
    except Exception:
        pass


def dvec_sexpr(vals) -> str:
    """Spark-SQL fragment for an ``array<double>`` literal.

    ``F.lit(list_of_floats)`` (or ``F.array(*[F.lit(x) ...])``) builds
    the literal Column-by-Column over py4j — ~5 driver round-trips PER
    ELEMENT, so a 16x64 centroid matrix costs ~5k round-trips of pure
    single-threaded driver time before any job runs.  Emitting the same
    values as ONE parsed SQL string is a single round-trip.  ``repr``
    round-trips every finite double exactly and the ``D`` suffix forces
    DoubleType (a bare decimal literal would parse as DECIMAL and change
    the expression tree); the analyzed plan is identical to the
    ``F.lit`` form modulo expression IDs (locked in
    tests/test_dvec_lit.py)."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in vals) + ")"


def dvec_lit(vals):
    """``F.lit(list_of_floats)`` as one parsed expression — see
    :func:`dvec_sexpr`."""
    from pyspark.sql import functions as F

    return F.expr(dvec_sexpr(vals))


def dmat_sexpr(rows) -> str:
    """Spark-SQL fragment for an ``array<array<double>>`` literal — see
    :func:`dvec_sexpr`."""
    return "array(" + ",".join(dvec_sexpr(r) for r in rows) + ")"
