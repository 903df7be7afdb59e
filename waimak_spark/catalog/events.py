"""Event-stream style queries over the ``events`` table: windowed
aggregation, sessionization, and the storage layer's dedup kernel shape
(latest record per key — AuditTableFile.scala:72-82's
row_number-over-desc-timestamp idiom, re-expressed on events).

Scale notes: sessionization is one shuffle on user_id then narrow window
work; tumbling windows use an arithmetic bucket (no UDF) so the groupBy
gets map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

NANOS = 1_000_000_000


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# tz-free wall-clock epoch: timestampdiff on TIMESTAMP_NTZ operands never
# consults the session timezone, so this matches DuckDB's epoch_ns() (which
# treats naive timestamps as UTC) bit-for-bit on any driver session
_EPOCH_NANOS_SQL = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
    "cast({col} as timestamp_ntz)) * 1000"
)


def epoch_nanos_expr(dtype: str, col: str = "ts") -> str:
    """SQL expression turning an event-time column of ANY physical flavor
    (epoch-nanos bigint from TIMESTAMP(NANOS)+legacy conf, timestamp[us]
    read as TIMESTAMP_NTZ, or plain TIMESTAMP) into epoch nanoseconds.

    Every branch is session-timezone independent (ADVICE r3): the LTZ
    flavor uses ``unix_micros`` (instant -> epoch, no tz consult) rather
    than a cast to NTZ, which would re-render the instant in the session
    timezone and silently diverge from DuckDB's epoch_ns on a non-UTC
    driver session.
    """
    if dtype == "bigint":
        return col
    if dtype == "timestamp":  # TIMESTAMP_LTZ: an instant; epoch is tz-free
        return f"unix_micros({col}) * 1000"
    return _EPOCH_NANOS_SQL.format(col=col)


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with its on-disk schema — the streaming entries
    need this (a file-stream's declared schema must match the files).

    Historical note: the generator has shipped ``ts`` as TIMESTAMP(NANOS)
    (unreadable by the vectorized reader without the nanos-as-long legacy
    conf) and as timestamp[us]; the defensive conf set keeps the nanos
    flavor readable and is a no-op for the others. It never *changes* an
    already-correct session, so repeated query builds are side-effect-free.
    """
    if spark.conf.get(NANOS_CONF, "false") != "true":
        spark.conf.set(NANOS_CONF, "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to epoch NANOSECONDS (bigint),
    whatever the physical parquet type — all downstream time arithmetic
    stays in integer nanos: exact, tz-free, and matched on the oracle side
    by DuckDB's ``epoch_ns``."""
    df = _events_raw(spark, sf_dir)
    expr = epoch_nanos_expr(dict(df.dtypes).get("ts", ""))
    if expr == "ts":
        return df
    return df.withColumn("ts", F.expr(expr).cast("bigint"))


# --------------------------------------------------------------------------
# audit-table snapshot dedup: latest event per (user_id, event_type)
# — the §2.6 deduplicate kernel (row_number over desc ts, keep row 1)
# --------------------------------------------------------------------------

def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id",
                F.round("value", 4).alias("value"))
    )


LATEST_ORACLE = """
    select user_id, event_type, event_id, round(value, 4) as value
    from (
        select *, row_number() over (partition by user_id, event_type
                                     order by ts desc, event_id desc) as rn
        from events
    )
    where rn = 1
"""


# --------------------------------------------------------------------------
# tumbling window aggregation: 5-minute buckets as epoch seconds (tz-safe)
# --------------------------------------------------------------------------

def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    bucket = F.floor(F.col("ts") / (300 * NANOS)) * 300
    return (
        df.groupBy(bucket.cast("bigint").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


TUMBLING_ORACLE = """
    select (epoch_ns(ts) // 300000000000) * 300 as window_start,
           event_type,
           count(*) as n,
           round(sum(value), 4) as sum_value
    from events
    group by 1, 2
"""


# --------------------------------------------------------------------------
# sessionization: gap > 30 min starts a new session; sessions per user
# --------------------------------------------------------------------------

def sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * NANOS), 1).otherwise(0)
    return (
        df.withColumn("new_s", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


SESSIONS_ORACLE = """
    select user_id, sum(new_s)::BIGINT as n_sessions, count(*) as n_events
    from (
        select user_id,
               case when prev_ts is null
                         or epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
                    then 1 else 0 end as new_s
        from (
            select user_id, ts,
                   lag(ts) over (partition by user_id
                                 order by ts, event_id) as prev_ts
            from events
        )
    )
    group by user_id
"""


# --------------------------------------------------------------------------
# running total per user (analytic window over ordered frames)
# --------------------------------------------------------------------------

def running_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, 0))
    return df.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


RUNNING_ORACLE = """
    select user_id, event_id,
           round(sum(value) over (partition by user_id order by ts, event_id
                                  rows between unbounded preceding and current row),
                 4) as running_value
    from events
"""


# --------------------------------------------------------------------------
# approx aggregates — BOUNDS-CHECK oracle: approximate answers can't be
# value-compared across engines, so the query returns per-group verdicts
# of a documented bounds rule and the oracle asserts every verdict holds:
# * approx_count_distinct (HLL++, rsd 0.05) within 5% relative error of
#   the exact distinct count (computed in the same Spark job);
# * percentile_approx(value, 0.5) sits within rank tolerance: the fraction
#   of values <= the reported p50 must land in [0.45, 0.55].
# A broken approx implementation (or a broken exact aggregate) flips a
# boolean and the hash comparison fails.
# --------------------------------------------------------------------------

APPROX_USERS_REL_TOL = 0.05
P50_RANK_LO, P50_RANK_HI = 0.45, 0.55


def approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pass 1: the sketch aggregates, NO distinct aggregate in the mix —
    # mixing countDistinct with percentile_approx in one agg forces the
    # planner out of ObjectHashAggregate into an Expand + sort path
    # (measured 5x slower); the exact distinct moves to pass 2 instead
    df = _events(spark, sf_dir)
    stats = df.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", F.lit(0.5)).alias("p50"),
        F.count("*").alias("n"),
    )
    # pass 2 ranks the reported p50 against the raw values (an aggregate
    # can't reference a peer aggregate's result in-plan) and computes the
    # exact distinct count; the stats side is one row per type — broadcast
    joined = df.select("event_type", "user_id", "value").join(
        F.broadcast(stats), "event_type")
    return (joined.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.countDistinct("user_id").alias("_exact_users"),
        F.max("approx_users").alias("_approx_users"),
        F.avg((F.col("value") <= F.col("p50")).cast("double"))
        .alias("_frac_le_p50"))
        .select("event_type", "n",
                (F.abs(F.col("_approx_users") - F.col("_exact_users"))
                 <= F.col("_exact_users") * APPROX_USERS_REL_TOL)
                .alias("users_within_tol"),
                F.col("_frac_le_p50").between(P50_RANK_LO, P50_RANK_HI)
                .alias("p50_within_tol")))


APPROX_STATS_ORACLE = """
    select event_type,
           count(*) as n,
           true as users_within_tol,
           true as p50_within_tol
    from events
    group by event_type
"""



def events_value_quantiles_kmv(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """KMV bottom-k quantile sketch certification over the events table
    (Bar-Yossef et al. 2002) — the QUANTILE member of the sketch triad
    (CMS = frequencies, HLL = distinct counts): per event_type, the
    exact p50/p95/p99 of `value` (run-once certification), the sketch
    estimate from a 256-row seeded bottom-k sample (bounded state
    regardless of corpus size, exactly mergeable across batches), and
    the exactly-computed rank error with a 2/sqrt(k) tolerance bit;
    verified by tests/test_kmv.py every pytest run."""
    from ..functions import sketch as SK

    return SK.kmv_quantiles(_events_raw(spark, sf_dir))


def _kmv_quantiles_oracle() -> str:
    from ..functions import sketch as SK

    return SK.kmv_quantiles_sql()


# --------------------------------------------------------------------------
# winsorized robust statistics: per-group exact-percentile clipping
# --------------------------------------------------------------------------

def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized value statistics: values clipped at the
    group's EXACT p01/p99 (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition, so the
    clip boundaries agree bit-for-bit before rounding) — the robust-
    scaling step a numeric feature pipeline runs before training, and
    the outlier-diagnosis counts a DQ check consumes.  One percentile
    aggregation (5 rows, broadcast back) + one pass; at 100 TB swap the
    exact percentile for the KMV sketch's estimates, same shape.
    Measured through the catalog EXTRA_ENTRIES registry; verified by
    tests/test_winsorize.py every pytest run."""
    df = _events(spark, sf_dir)
    pct = df.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("_lo"),
        F.expr("percentile(value, 0.99)").alias("_hi"))
    j = df.join(F.broadcast(pct), "event_type")
    w = F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi"))
    return (j.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum((F.col("value") < F.col("_lo")).cast("int"))
                 .cast("bigint").alias("n_clipped_low"),
                 F.sum((F.col("value") > F.col("_hi")).cast("int"))
                 .cast("bigint").alias("n_clipped_high"),
                 F.round(F.min("_lo"), 4).alias("p01"),
                 F.round(F.max("_hi"), 4).alias("p99"),
                 F.round(F.avg("value"), 4).alias("mean_raw"),
                 F.round(F.avg(w), 4).alias("mean_winsorized"))
            .orderBy("event_type"))


WINSORIZED_ORACLE = """
    with pct as (
        select event_type,
               quantile_cont(value, 0.01) as lo,
               quantile_cont(value, 0.99) as hi
        from events group by event_type
    )
    select e.event_type, count(*)::BIGINT as n,
           sum((e.value < lo)::INT)::BIGINT as n_clipped_low,
           sum((e.value > hi)::INT)::BIGINT as n_clipped_high,
           round(min(lo), 4) as p01,
           round(max(hi), 4) as p99,
           round(avg(e.value), 4) as mean_raw,
           round(avg(least(greatest(e.value, lo), hi)), 4)
               as mean_winsorized
    from events e join pct using (event_type)
    group by e.event_type
    order by e.event_type
"""


ENTRIES = {
    "latest_event_per_user_type": {"fn": latest_event_per_user_type,
                                   "oracle": LATEST_ORACLE},
    "tumbling_window_counts": {"fn": tumbling_window_counts,
                               "oracle": TUMBLING_ORACLE},
    "sessions_per_user": {"fn": sessions_per_user, "oracle": SESSIONS_ORACLE},
    "running_value_per_user": {"fn": running_value_per_user,
                               "oracle": RUNNING_ORACLE},
    "approx_event_stats": {"fn": approx_event_stats,
                           "oracle": APPROX_STATS_ORACLE},
    "events_value_quantiles_kmv": {"fn": events_value_quantiles_kmv,
                                   "oracle": _kmv_quantiles_oracle()},
}


# --------------------------------------------------------------------------
# skew-mitigation entries: results are EXACTLY the unsalted answers, so the
# plain-SQL oracles double as proof that salting is distribution-only
# --------------------------------------------------------------------------


def skew_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via the two-stage spread form —
    event_type has 5 hot keys carrying the whole table; the single-stage
    countDistinct would buffer each key's full distinct set on one task."""
    from ..functions.skew import spread_count_distinct

    return spread_count_distinct(
        _events(spark, sf_dir), ["event_type"], "user_id",
        alias="n_users")


SKEW_DISTINCT_ORACLE = """
    select event_type, count(distinct user_id) as n_users
    from events
    group by event_type
"""


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to a per-type dimension through the salted-join
    helper (small side replicated n_salts times, big side spread by row
    hash) — the demonstration dim is derived in-plan; production callers
    pass any non-broadcastable skewed dim."""
    from ..functions.skew import salted_join

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    dim = (ev.select("event_type").distinct()
           .withColumn("type_tag", F.upper(F.col("event_type"))))
    joined = salted_join(ev, dim, on="event_type", n_salts=8)
    return (joined.groupBy("event_type", "type_tag")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


SKEW_JOIN_ORACLE = """
    select e.event_type, upper(e.event_type) as type_tag,
           count(*) as n, round(sum(e.value), 4) as sum_value
    from events e
    join (select distinct event_type from events) d
      on e.event_type = d.event_type
    group by e.event_type
"""


ENTRIES.update({
    "skew_count_distinct": {"fn": skew_count_distinct,
                            "oracle": SKEW_DISTINCT_ORACLE},
    "skew_salted_join": {"fn": skew_salted_join,
                         "oracle": SKEW_JOIN_ORACLE},
})


# --------------------------------------------------------------------------
# funnel analysis: ordered view → click → purchase conversion — the
# sequential-constraint aggregation every product-analytics pipeline needs.
# Each stage is "earliest qualifying event STRICTLY AFTER the previous
# stage's time", computed as conditional min-aggregations chained through
# keys-sized joins (users-count frames — AQE broadcasts them back).
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (_events(spark, sf_dir)
          .where(F.col("event_type").isin(*_FUNNEL_STEPS))
          .select("user_id", "event_type", "ts"))
    s1, s2, s3 = _FUNNEL_STEPS
    t1 = (ev.where(F.col("event_type") == s1)
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (ev.where(F.col("event_type") == s2)
          .join(t1, "user_id")
          .where(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (ev.where(F.col("event_type") == s3)
          .join(t2, "user_id")
          .where(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))
    return (t1
            .join(t2.select("user_id", "t2"), "user_id", "left")
            .join(t3.select("user_id", "t3"), "user_id", "left")
            .agg(F.count("t1").alias("n_step1"),
                 F.count("t2").alias("n_step2"),
                 F.count("t3").alias("n_step3")))


FUNNEL_ORACLE = f"""
    with e as (
        select user_id, event_type, epoch_ns(ts) as ts from events
        where event_type in ('{_FUNNEL_STEPS[0]}', '{_FUNNEL_STEPS[1]}',
                             '{_FUNNEL_STEPS[2]}')
    ), t1 as (
        select user_id, min(ts) as t1 from e
        where event_type = '{_FUNNEL_STEPS[0]}' group by user_id
    ), t2 as (
        select e.user_id, min(e.ts) as t2
        from e join t1 on e.user_id = t1.user_id
        where e.event_type = '{_FUNNEL_STEPS[1]}' and e.ts > t1.t1
        group by e.user_id
    ), t3 as (
        select e.user_id, min(e.ts) as t3
        from e join t2 on e.user_id = t2.user_id
        where e.event_type = '{_FUNNEL_STEPS[2]}' and e.ts > t2.t2
        group by e.user_id
    )
    select count(t1.t1) as n_step1, count(t2.t2) as n_step2,
           count(t3.t3) as n_step3
    from t1
    left join t2 on t1.user_id = t2.user_id
    left join t3 on t1.user_id = t3.user_id
"""


ENTRIES["event_funnel"] = {"fn": event_funnel, "oracle": FUNNEL_ORACLE}
