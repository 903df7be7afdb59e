"""Kernel fragments: each kernel has one Spark form (the ``_sexpr``
Spark-SQL fragment) next to its DuckDB oracle (``_sql``), and the two
tokenize every ASCII whitespace character the same way."""

import importlib
import pkgutil

import duckdb
import pytest

import waimak_spark.functions as functions_pkg
from waimak_spark.functions.text import QUALITY_SQL, TOKENS_SQL, tokens_sexpr

# Java's \s class: space, \t, \n, \x0B, \f, \r
WHITESPACE = [" ", "\t", "\n", "\x0b", "\x0c", "\r"]


def _texts():
    out = []
    for i, ws in enumerate(WHITESPACE):
        out.append((2 * i, f"The a{ws}b,{ws}c!{ws}{ws}is it"))
        out.append((2 * i + 1, f"{ws}Ab{ws}of{ws}"))
    return out


def test_no_sexpr_kernel_keeps_a_second_spark_form():
    """For every ``X_sexpr`` in a ``waimak_spark.functions`` module, the
    module has no ``X``: one Spark-SQL fragment per kernel."""
    twins = []
    for info in pkgutil.iter_modules(functions_pkg.__path__):
        mod = importlib.import_module(f"{functions_pkg.__name__}."
                                      f"{info.name}")
        twins += [f"{info.name}.{name[:-len('_sexpr')]}"
                  for name in dir(mod)
                  if name.endswith("_sexpr")
                  and hasattr(mod, name[:-len("_sexpr")])]
    assert not twins, f"kernels with a second Spark form: {twins}"


def test_tokenizer_splits_every_ascii_whitespace_like_the_oracle(spark):
    rows = _texts()
    got = {r.doc_id: list(r.t) for r in spark.createDataFrame(
        rows, "doc_id bigint, text string").selectExpr(
        "doc_id", f"{tokens_sexpr('text')} as t").collect()}
    con = duckdb.connect()
    con.execute("create table documents (doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", rows)
    want = dict(con.execute(
        f"select doc_id, {TOKENS_SQL.format(col='text')} from documents"
    ).fetchall())
    assert got == want
    # and each separator really splits: six tokens in every even text
    assert all(len(got[2 * i]) == 6 for i in range(len(WHITESPACE)))


def test_text_quality_matches_oracle_on_every_whitespace(spark, tmp_path):
    from waimak_spark.catalog.text import text_quality

    con = duckdb.connect()
    con.execute("create table d (doc_id bigint, text varchar)")
    con.executemany("insert into d values (?, ?)", _texts())
    con.execute(f"copy d to '{tmp_path}/documents.parquet' (format parquet)")
    con.execute(f"create view documents as select * from "
                f"'{tmp_path}/documents.parquet'")

    sdf = text_quality(spark, str(tmp_path))
    cols = sdf.columns
    got = sorted(tuple(r[c] for c in cols) for r in sdf.collect())
    res = con.execute(f"select {', '.join(cols)} from ({QUALITY_SQL})")
    want = sorted(res.fetchall())
    assert len(got) == len(want) == len(_texts())
    for g, w in zip(got, want):
        assert g == pytest.approx(w), (g, w)
