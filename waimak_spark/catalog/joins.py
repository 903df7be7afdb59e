"""Join-helper catalog entries: as-of join (vs DuckDB's native ASOF
JOIN — the strongest possible oracle for these semantics), bucketed range
join, and grouping sets."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.joins import as_of_join, range_join
from .events import _events


def asof_quote_per_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic trades←quotes as-of: every third event is a trade, the rest
    are quotes; each trade picks the latest quote at-or-before its
    timestamp per user (backward inclusive)."""
    ev = _events(spark, sf_dir)
    quotes = (ev.where(F.col("event_id") % 3 != 0)
              .groupBy("user_id", "ts")
              .agg(F.round(F.max("value"), 4).alias("quote")))
    trades = (ev.where(F.col("event_id") % 3 == 0)
              .groupBy("user_id", "ts")
              .agg(F.min("event_id").alias("trade_id")))
    out = as_of_join(trades, quotes, ["user_id"], "ts", "ts", ["quote"])
    # report the trade time in microseconds: DuckDB 1.x reads
    # TIMESTAMP(NANOS) parquet at microsecond precision, and ns→μs
    # truncation is identical on both engines
    return out.select("user_id", F.expr("ts div 1000").alias("trade_ts_us"),
                      "trade_id", "quote")


ASOF_ORACLE = """
    with ev as (
        select user_id, epoch_ns(ts) as ts, event_id, value from events
    ), quotes as (
        select user_id, ts, round(max(value), 4) as quote
        from ev where event_id % 3 != 0 group by 1, 2
    ), trades as (
        select user_id, ts, min(event_id) as trade_id
        from ev where event_id % 3 = 0 group by 1, 2
    )
    select t.user_id, t.ts // 1000 as trade_ts_us, t.trade_id, q.quote
    from trades t
    asof left join quotes q
      on t.user_id = q.user_id and q.ts <= t.ts
"""


def range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: how many of its lineitems were in transit (shipped, not
    yet received, with a deterministic synthetic receipt date) 30 days
    after the order date — a keyed point-in-interval
    join on day numbers."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    epoch = F.lit("1970-01-01")
    pts = orders.select(
        "o_orderkey",
        (F.datediff(F.col("o_orderdate"), epoch) + 30).alias("p"))
    # synthetic receipt date: shipped + 1..30 days (deterministic per line)
    ship_days = F.datediff(F.col("l_shipdate"), epoch)
    ivl = lineitem.select(
        F.col("l_orderkey").alias("o_orderkey"),
        ship_days.alias("s"),
        (ship_days + 1 + (F.col("l_linenumber") * 7) % 30).alias("e"))
    rj = range_join(pts, ivl, "p", "s", "e", on=["o_orderkey"],
                    bucket_width=32)
    return rj.groupBy("o_orderkey").agg(F.count("*").alias("n_in_transit"))


RANGE_JOIN_ORACLE = """
    with pts as (
        select o_orderkey,
               date_diff('day', date '1970-01-01', o_orderdate) + 30 as p
        from orders
    ), ivl as (
        select l_orderkey as o_orderkey,
               date_diff('day', date '1970-01-01', l_shipdate) as s,
               date_diff('day', date '1970-01-01', l_shipdate) + 1 + (l_linenumber * 7) % 30 as e
        from lineitem
    )
    select pts.o_orderkey, count(*) as n_in_transit
    from pts join ivl on pts.o_orderkey = ivl.o_orderkey
                     and pts.p >= ivl.s and pts.p <= ivl.e
    group by pts.o_orderkey
"""


def grouping_sets_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregate in one pass via GROUPING SETS
    ((flag, status), (flag), ())."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count("*").alias("n")))


GROUPING_SETS_ORACLE = """
    select l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) as sum_qty,
           count(*) as n
    from lineitem
    group by grouping sets ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected customer-supplier co-purchase graph
    (Page et al. 1999) — the iterative-distributed class: each power
    iteration is one join + one keyed aggregation (sparse matvec), rank
    frame plan-cut every j iterations, per-iteration rounding keeps the
    trajectory bit-identical to the unrolled-CTE DuckDB oracle;
    verified by tests/test_pagerank.py every pytest run."""
    from ..functions.graph import copurchase_edges, pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # copurchase_edges emits both directions, so every node is a dst —
    # the dst_complete promise holds and the per-iteration nodes join
    # is skipped (bit-identical, identity-locked in tests/test_pagerank)
    return pagerank(copurchase_edges(li, orders), dst_complete=True)


def _pagerank_oracle() -> str:
    from ..functions.graph import copurchase_pagerank_sql

    return copurchase_pagerank_sql()


def er_link_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (Fellegi & Sunter 1969; blocking per Christen
    2012): the customer table linked against its deterministic
    perturbed copy via dual-offset balance-bucket blocking and
    normalized-Levenshtein + balance scoring; every emitted pair
    carries an exact ground-truth bit, so the entry is self-certifying
    like ann_ivf_recall; verified by tests/test_linkage.py every pytest
    run and measured through the catalog EXTRA_ENTRIES registry."""
    from ..functions.linkage import link_customers

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return link_customers(cust)


def _er_link_oracle() -> str:
    from ..functions.linkage import link_customers_sql

    return link_customers_sql()


ENTRIES = {
    "asof_quote_per_trade": {"fn": asof_quote_per_trade,
                             "oracle": ASOF_ORACLE},
    "copurchase_pagerank": {"fn": copurchase_pagerank,
                            "oracle": _pagerank_oracle()},
    "range_join_shipments": {"fn": range_join_shipments,
                             "oracle": RANGE_JOIN_ORACLE},
    "grouping_sets_quantity": {"fn": grouping_sets_quantity,
                               "oracle": GROUPING_SETS_ORACLE},
}
