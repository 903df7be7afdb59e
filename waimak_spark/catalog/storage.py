"""Storage-layer catalog entries: a REAL audit-table round trip whose
results are oracle-checkable in plain SQL.

The build appends two batches of the ``orders`` table (batch 2 simulates
updates: every third order re-arrives 1000 days later with status ``U`` and
a bumped price), compacts hot → cold, and then answers:

* ``storage_snapshot_dedup`` — latest state per primary key through
  ``AuditTable.snapshot`` (partition-pruned scan → window dedup);
* ``storage_all_between`` — the update events in a time range through
  ``AuditTable.all_between`` (partition-pruned scan + timestamp filter).

The oracle reproduces the appended union + window in ANSI SQL over the
same source parquet, so a hash match certifies the whole storage path:
staged region writes, layout, partition pruning, compaction merge, dedup.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import AuditTableInfo, FileStorageOps
from ..storage.audit import AuditTableFile, create_table, open_tables

_BUILD_MARKER = "_BUILD_OK"
# bump when the audit layout or the batch construction changes: a marker
# from an older build (persisted /tmp across driver rounds) must not be
# trusted to match the current reader
_BUILD_VERSION = "v2"
UPDATE_EVERY = 3  # every third order gets an update in batch 2
UPDATE_DELAY_DAYS = 1000
CUTOFF = "2000-01-01 00:00:00"  # between batch-1 and batch-2 date ranges


def _base_dir(sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return f"/tmp/waimak_catalog_storage/{tag}"


def _batches(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    b1 = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").alias("last_updated"),
    )
    b2 = (
        orders.where(F.col("o_orderkey") % UPDATE_EVERY == 0)
        .select(
            "o_orderkey", "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
            (F.col("o_orderdate").cast("timestamp")
             + F.expr(f"interval {UPDATE_DELAY_DAYS} days")).alias("last_updated"),
        )
    )
    return b1, b2


def _audit_orders(spark: SparkSession, sf_dir: str) -> AuditTableFile:
    """Build (once per sf_dir) and open the audit table."""
    base = _base_dir(sf_dir)
    ops = FileStorageOps(spark, base)
    marker = f"{base}/{_BUILD_MARKER}"

    def _marker_current() -> bool:
        try:
            return (ops.fops.exists(marker)
                    and ops.fops.read_string(marker).strip() == _BUILD_VERSION)
        except Exception:
            return False

    if not _marker_current():
        shutil.rmtree(base, ignore_errors=True)
        b1, b2 = _batches(spark, sf_dir)
        info = AuditTableInfo("orders_audit", ["o_orderkey"], {}, True)
        t = create_table(ops, info)
        t, _ = t.append(b1, "last_updated")
        t, _ = t.append(b2, "last_updated")
        t.compact(small_region_row_threshold=10**9)
        ops.fops.write_string(marker, _BUILD_VERSION)
    tables, _ = open_tables(ops, ["orders_audit"])
    return tables["orders_audit"]


def storage_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _audit_orders(spark, sf_dir)
    return t.snapshot().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


SNAPSHOT_ORACLE = f"""
    with appended as (
        select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               cast(o_orderdate as timestamp) as last_updated
        from orders
        union all
        select o_orderkey, o_custkey, 'U' as o_orderstatus,
               o_totalprice + 1.0 as o_totalprice,
               cast(o_orderdate as timestamp)
                   + interval {UPDATE_DELAY_DAYS} day as last_updated
        from orders where o_orderkey % {UPDATE_EVERY} = 0
    )
    select o_orderkey, o_custkey, o_orderstatus, o_totalprice
    from (
        select *, row_number() over (partition by o_orderkey
                                     order by last_updated desc) as rn
        from appended
    ) where rn = 1
"""


def storage_all_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _audit_orders(spark, sf_dir)
    from datetime import datetime

    cutoff = datetime.fromisoformat(CUTOFF.replace(" ", "T"))
    return t.all_between(cutoff, None).select(
        "o_orderkey", "o_orderstatus",
        F.col("_de_last_updated").alias("last_updated"))


ALL_BETWEEN_ORACLE = f"""
    with appended as (
        select o_orderkey, o_orderstatus,
               cast(o_orderdate as timestamp) as last_updated
        from orders
        union all
        select o_orderkey, 'U' as o_orderstatus,
               cast(o_orderdate as timestamp)
                   + interval {UPDATE_DELAY_DAYS} day as last_updated
        from orders where o_orderkey % {UPDATE_EVERY} = 0
    )
    select o_orderkey, o_orderstatus, last_updated
    from appended
    where last_updated >= timestamp '{CUTOFF}'
"""


# -- snapshot_diff CDC surface (VERDICT r10 #7) -----------------------------
# A SECOND audit table whose batch-2 contains both UPDATES to existing
# keys and genuinely NEW keys, so the change-data view exercises 'added'
# AND 'changed' in one oracle-checked entry ('removed' cannot occur in a
# forward diff over append-only history — covered by the reversed-
# direction unit tests in tests/test_storage.py).  The testdata's
# o_orderdate spans 1995-01-01..2001-08-01, so delay 3000 days puts every
# batch-2 record in 2003-03..2009-10 — strictly after CUTOFF AND after
# every batch-1 record.  snapshot(CUTOFF) therefore holds the batch-1
# records dated <= CUTOFF; batch-1 keys dated later surface as 'added'
# alongside the batch-2-only keys (their to-side value is the LATEST
# record — the update where one exists).
CDC_DELAY_DAYS = 3000
CDC_NEW_EVERY = 5  # keys divisible by 5 first appear in batch 2
_CDC_MARKER = "_BUILD_CDC_OK"
_CDC_VERSION = "cdc_v1"


def _audit_orders_cdc(spark: SparkSession, sf_dir: str) -> AuditTableFile:
    """Build (once per sf_dir) and open the CDC demo audit table — its
    own marker, its own table folder; rebuilding the main table wipes
    the shared base dir and this marker with it, so the two builds can
    never read each other's stale layout."""
    base = _base_dir(sf_dir)
    ops = FileStorageOps(spark, base)
    marker = f"{base}/{_CDC_MARKER}"

    def _marker_current() -> bool:
        try:
            return (ops.fops.exists(marker)
                    and ops.fops.read_string(marker).strip() == _CDC_VERSION)
        except Exception:
            return False

    if not _marker_current():
        shutil.rmtree(f"{base}/orders_cdc", ignore_errors=True)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        b1 = (orders.where(F.col("o_orderkey") % CDC_NEW_EVERY != 0)
              .select("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice",
                      F.col("o_orderdate").cast("timestamp")
                      .alias("last_updated")))
        late = (F.col("o_orderdate").cast("timestamp")
                + F.expr(f"interval {CDC_DELAY_DAYS} days"))
        b2 = (orders.where((F.col("o_orderkey") % UPDATE_EVERY == 0)
                           & (F.col("o_orderkey") % CDC_NEW_EVERY != 0))
              .select("o_orderkey", "o_custkey",
                      F.lit("U").alias("o_orderstatus"),
                      (F.col("o_totalprice") + F.lit(1.0))
                      .alias("o_totalprice"),
                      late.alias("last_updated"))
              .unionByName(
                  orders.where(F.col("o_orderkey") % CDC_NEW_EVERY == 0)
                  .select("o_orderkey", "o_custkey",
                          F.lit("N").alias("o_orderstatus"),
                          "o_totalprice", late.alias("last_updated"))))
        info = AuditTableInfo("orders_cdc", ["o_orderkey"], {}, True)
        t = create_table(ops, info)
        t, _ = t.append(b1, "last_updated")
        t, _ = t.append(b2, "last_updated")
        t.compact(small_region_row_threshold=10**9)
        ops.fops.write_string(marker, _CDC_VERSION)
    tables, _ = open_tables(ops, ["orders_cdc"])
    return tables["orders_cdc"]


def storage_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data view between two audit-table snapshots
    (``AuditTableFile.snapshot_diff``): one full-outer PK join between
    snapshot(CUTOFF) and the latest snapshot — 'added' rows are the
    batch-2-only keys, 'changed' rows the updated ones, with TO-side
    values.  Measured through the catalog EXTRA_ENTRIES registry;
    lockstep-verified every pytest run."""
    from datetime import datetime

    t = _audit_orders_cdc(spark, sf_dir)
    cutoff = datetime.fromisoformat(CUTOFF.replace(" ", "T"))
    return (t.snapshot_diff(cutoff, None)
            .select("change_type", "o_orderkey", "o_custkey",
                    "o_orderstatus", "o_totalprice"))


SNAPSHOT_DIFF_ORACLE = f"""
    with appended as (
        select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               cast(o_orderdate as timestamp) as last_updated
        from orders where o_orderkey % {CDC_NEW_EVERY} <> 0
        union all
        select o_orderkey, o_custkey, 'U' as o_orderstatus,
               o_totalprice + 1.0 as o_totalprice,
               cast(o_orderdate as timestamp)
                   + interval {CDC_DELAY_DAYS} day as last_updated
        from orders where o_orderkey % {UPDATE_EVERY} = 0
                      and o_orderkey % {CDC_NEW_EVERY} <> 0
        union all
        select o_orderkey, o_custkey, 'N' as o_orderstatus,
               o_totalprice, cast(o_orderdate as timestamp)
                   + interval {CDC_DELAY_DAYS} day as last_updated
        from orders where o_orderkey % {CDC_NEW_EVERY} = 0
    ),
    snap_a as (
        select * from (
            select *, row_number() over (partition by o_orderkey
                                         order by last_updated desc) as rn
            from appended where last_updated <= timestamp '{CUTOFF}'
        ) where rn = 1
    ),
    snap_b as (
        select * from (
            select *, row_number() over (partition by o_orderkey
                                         order by last_updated desc) as rn
            from appended
        ) where rn = 1
    )
    select case when a.o_orderkey is null then 'added'
                when b.o_orderkey is null then 'removed'
                else 'changed' end as change_type,
           coalesce(b.o_orderkey, a.o_orderkey) as o_orderkey,
           -- the WHOLE to-side record for added/changed rows, the
           -- from-side for removed (a per-column coalesce would
           -- silently back-fill NULL transitions from the old record)
           case when b.o_orderkey is not null then b.o_custkey
                else a.o_custkey end as o_custkey,
           case when b.o_orderkey is not null then b.o_orderstatus
                else a.o_orderstatus end as o_orderstatus,
           case when b.o_orderkey is not null then b.o_totalprice
                else a.o_totalprice end as o_totalprice
    from snap_a a full outer join snap_b b
      on a.o_orderkey = b.o_orderkey
    where a.o_orderkey is null or b.o_orderkey is null
       or a.o_custkey is distinct from b.o_custkey
       or a.o_orderstatus is distinct from b.o_orderstatus
       or a.o_totalprice is distinct from b.o_totalprice
"""


ENTRIES = {
    "storage_snapshot_dedup": {"fn": storage_snapshot_dedup,
                               "oracle": SNAPSHOT_ORACLE},
    "storage_all_between": {"fn": storage_all_between,
                            "oracle": ALL_BETWEEN_ORACLE},
}
