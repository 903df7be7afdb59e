"""AuditTable on partitioned Parquet: append-only hot/cold regions with
primary-key snapshot dedup, time-range reads and compaction.

Re-expresses the reference's ``AuditTableFile``
(waimak-storage/.../AuditTableFile.scala:26-464) Spark-first:

* layout ``<base>/<table>/de_store_type=hot|cold/de_store_region=rNNN/``
  — Hive-style partition directories, so ``allBetween``'s ``IN``
  filters prune whole regions at the Parquet scan (no custom reader);
* ``append`` stamps ``_de_last_updated`` and writes one new hot region
  (AuditTableFile.scala:56-70); the region's count and max
  ``_de_last_updated`` are observed on the written frame
  (``DataFrame.observe``) instead of re-reading the region, so an append
  is one Spark job;
* ``snapshot`` = partition-pruned scan → latest-per-PK window
  (AuditTableFile.scala:72-82);
* each read is one Spark-SQL fragment per step, because every PySpark
  Column call costs several py4j round trips (origin tracking) where a
  parsed string costs one: ``all_between``'s filter is one predicate, the
  partition ids plus the time bounds rendered as the literals ``F.lit``
  would build (a bound it cannot render keeps ``F.lit``), and the
  latest-per-PK window is one ``row_number() OVER (...)`` fragment, with
  ``snapshot`` dropping the rank and ``_de_last_updated`` in one call;
* ``compact`` merges all hot + small cold regions into one new cold
  region, sized by a pluggable compaction partitioner, with the replaced
  region folders moved to a trash bin (AuditTableFile.scala:99-210);
* region metadata is cached under ``.regioninfo`` and validated against
  the partition-directory glob on open, falling back to a groupBy scan
  (AuditTableFile.scala:262-446).  The cache also carries the table's
  data schema whenever it is known to equal the ``mergeSchema`` inference
  over the table root (first append, a same-schema append, a compaction
  that keeps the schema or leaves no other region); reads then pass it to
  the reader and launch no schema-inference job.  Otherwise it holds none
  and reads infer as usual.

Timestamps: ``_de_last_updated`` takes whatever type the caller's
last-updated column has (timestamp or epoch-long) — all kernels only
compare/order it, so both work unchanged on both engines.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..filesystem import nullable
from ..sql_text import _lit, _sql_name, _sql_string
from .file_ops import REGION_INFO_DIRECTORY, FileStorageOps

STORE_TYPE_COLUMN = "de_store_type"
STORE_REGION_COLUMN = "de_store_region"
DE_LAST_UPDATED_COLUMN = "_de_last_updated"
HOT_PARTITION = "hot"
COLD_PARTITION = "cold"


class StorageException(Exception):
    pass


@dataclass(frozen=True)
class AuditTableInfo:
    """Static table metadata persisted in the ``.table_info`` sidecar
    (AuditTableFile.scala:476)."""

    table_name: str
    primary_keys: Sequence[str]
    meta: dict[str, str] = field(default_factory=dict)
    retain_history: bool = True


@dataclass
class AuditTableRegionInfo:
    """Per-region metadata (AuditTableFile.scala:490): counts and max
    last-updated drive compaction decisions and ingestion watermarks."""

    table_name: str
    store_type: str
    store_region: str
    created_on: Optional[Any] = None  # datetime (UTC naive) or None
    is_deprecated: bool = False
    count: int = 0
    max_last_updated: Optional[Any] = None  # same type as the table's column


# partitioner: (region DataFrame, total row count, total input bytes) -> n
CompactionPartitioner = Callable[[DataFrame, int, int], int]


def _observe_region_stats(df: DataFrame
                          ) -> tuple[DataFrame, Callable[[], tuple[int, Any]]]:
    """``df`` with count(``_de_last_updated``) and max(``_de_last_updated``)
    observed while it is written, plus a getter for the two values — the
    stats the reference re-reads the region for (AuditTableFile.scala:
    212-216), at no extra Spark job.  Call the getter after the write."""
    obs = Observation()
    # SQL strings: one py4j round-trip per metric instead of a Column tree
    observed = df.observe(
        obs, F.expr(f"count({DE_LAST_UPDATED_COLUMN}) AS count"),
        F.expr(f"max({DE_LAST_UPDATED_COLUMN}) AS max"))

    def stats() -> tuple[int, Any]:
        m = obs.get
        return int(m["count"]), m["max"]

    return observed, stats


class AuditTableFile:
    """One audit table instance. Mutators (``append``/``compact``) may be
    called at most ONCE per instance (AuditTableFile.scala:36-38) and
    return a NEW instance carrying the updated region list."""

    def __init__(self, table_info: AuditTableInfo,
                 regions: list[AuditTableRegionInfo],
                 ops: FileStorageOps, full_region_view: bool = True,
                 schema: Optional[StructType] = None):
        self.table_info = table_info
        self.regions = list(regions)
        self.ops = ops
        #: False when opened with include_hot=False — the in-memory region
        #: list is then a PARTIAL view and must never drive mutation
        self.full_region_view = full_region_view
        #: data schema of the whole table (partition columns excluded) when
        #: known to equal the mergeSchema inference over the table root;
        #: a cold-only view may be narrower, so it never uses one
        self.schema = schema if full_region_view else None
        self._was_modified = False
        self.table_path = f"{ops.base_path}/{table_info.table_name}"
        self.hot_path = f"{self.table_path}/{STORE_TYPE_COLUMN}={HOT_PARTITION}"
        self.cold_path = f"{self.table_path}/{STORE_TYPE_COLUMN}={COLD_PARTITION}"

    # -- metadata ---------------------------------------------------------------
    @property
    def table_name(self) -> str:
        return self.table_info.table_name

    @property
    def meta(self) -> dict[str, str]:
        return dict(self.table_info.meta)

    def get_latest_timestamp(self) -> Optional[Any]:
        """Max ``_de_last_updated`` across regions — the ingestion
        watermark (AuditTableFile.scala:54)."""
        vals = [r.max_last_updated for r in self.regions
                if r.max_last_updated is not None]
        return max(vals) if vals else None

    def active_region_ids(self) -> list[str]:
        return [r.store_region for r in self.regions if not r.is_deprecated]

    def _next_region_id(self) -> str:
        """Sequential ids zero-padded to 20 chars
        (AuditTableFile.nextLongRegion, :250)."""
        ids = self.active_region_ids()
        nxt = max(int(i[1:]) for i in ids) + 1 if ids else 0
        return f"r{nxt:020d}"

    def _mark_to_update(self) -> None:
        if not self.full_region_view:
            # a handle opened with include_hot=False sees only cold regions:
            # _next_region_id would re-issue an existing HOT region's id and
            # the staged write's move_overwrite_folder would silently
            # replace that region's data — refuse instead of losing data
            raise StorageException(
                f"Table [{self.table_name}] was opened without hot regions "
                "(include_hot=False) and cannot be mutated: the next region "
                "id cannot be derived from a partial region view. Re-open "
                "the table with include_hot=True to append or compact.")
        if self._was_modified:
            raise StorageException(
                f"Table [{self.table_name}] can no longer be updated.")
        self._was_modified = True

    # -- lifecycle --------------------------------------------------------------
    def init_new_table(self) -> "AuditTableFile":
        """Create folders + sidecars; fails if the table already exists or
        has no primary keys (AuditTableFile.scala:117-127)."""
        if self.ops.fops.exists(self.table_path):
            raise StorageException(
                f"Table [{self.table_name}] already exists in path "
                f"[{self.table_path}]")
        if not self.table_info.primary_keys:
            raise StorageException(
                f"Table [{self.table_name}] must have at least one column "
                f"in primary keys.")
        self.ops.fops.mkdirs(self.hot_path)
        self.ops.fops.mkdirs(self.cold_path)
        self.ops.write_table_info(self.table_info)
        return self._set_regions([])

    def update_table_info(self, info: AuditTableInfo) -> "AuditTableFile":
        self.ops.write_table_info(info)
        return AuditTableFile(info, self.regions, self.ops,
                              self.full_region_view, self.schema)

    def _set_regions(self, regions: list[AuditTableRegionInfo],
                     schema: Optional[StructType] = None) -> "AuditTableFile":
        """Persist the region cache and table schema and return the new
        table state (AuditTableFile.setRegions, :262-274). The JSON cache
        is tiny, so unlike the reference's append-mode Parquet we always
        rewrite it whole — same semantics, no Spark job."""
        self.ops.write_region_cache(self.table_name, regions, schema)
        return AuditTableFile(self.table_info, regions, self.ops,
                              self.full_region_view, schema)

    # -- kernels ----------------------------------------------------------------
    def append(self, df: DataFrame, last_updated: Column | str,
               append_ts: Optional[datetime] = None
               ) -> tuple["AuditTableFile", int]:
        """Add one hot region stamped with ``_de_last_updated``
        (AuditTableFile.scala:56-70). Returns (new table state, row count).
        """
        self._mark_to_update()
        append_ts = append_ts or datetime.utcnow()
        region_id = self._next_region_id()
        region_path = f"{self.hot_path}/{STORE_REGION_COLUMN}={region_id}"
        lu = F.col(last_updated) if isinstance(last_updated, str) else last_updated
        with_lu = df.withColumn(DE_LAST_UPDATED_COLUMN, lu)
        observed, stats = _observe_region_stats(with_lu)
        self.ops.write_parquet(self.table_name, region_path, observed)
        count, max_lu = stats()
        region = AuditTableRegionInfo(self.table_name, HOT_PARTITION,
                                      region_id, append_ts, False, count, max_lu)
        # the table's schema stays known only while every region has it
        written = nullable(with_lu.schema)
        schema = written if not self.regions or written == self.schema else None
        return self._set_regions(self.regions + [region], schema), count

    def all_between(self, from_ts: Optional[Any] = None,
                    to_ts: Optional[Any] = None) -> Optional[DataFrame]:
        """Every audit row with ``from_ts <= _de_last_updated <= to_ts``.

        One scan of the table root; the ``de_store_type``/``de_store_region``
        filters sit on partition columns, so Catalyst prunes non-active
        region directories before any IO (AuditTableFile.scala:133-142).
        The filter is one SQL predicate; a bound :func:`_lit` does not
        render is added as an ``F.lit`` comparison.
        """
        ids = self.active_region_ids()
        if not ids:
            return None
        df = self.ops.open_parquet(self.table_path, schema=self.schema)
        if df is None:
            return None
        regions = ", ".join(map(_sql_string, ids))
        where = [f"{STORE_TYPE_COLUMN} IN ('{HOT_PARTITION}', "
                 f"'{COLD_PARTITION}')",
                 f"{STORE_REGION_COLUMN} IN ({regions})"]
        unrendered = []
        for op, bound in ((">=", from_ts), ("<=", to_ts)):
            if bound is not None:
                try:
                    where.append(f"{DE_LAST_UPDATED_COLUMN} {op} {_lit(bound)}")
                except ValueError:
                    unrendered.append((op, bound))
        df = df.where(" AND ".join(where))
        for op, bound in unrendered:
            lu = F.col(DE_LAST_UPDATED_COLUMN)
            df = df.where(lu >= F.lit(bound) if op == ">=" else lu <= F.lit(bound))
        return df

    def _latest(self, df: DataFrame) -> DataFrame:
        """The latest record per primary key, still carrying its
        ``_rowNum`` (always 1): the canonical row_number-over-desc-timestamp
        idiom (AuditTableFile.scala:78-82) as one SQL window fragment.
        Each key resolves as ``F.col(key)`` does."""
        keys = ", ".join(map(_sql_name, self.table_info.primary_keys))
        rank = F.expr(f"row_number() OVER (PARTITION BY {keys} "
                      f"ORDER BY {DE_LAST_UPDATED_COLUMN} DESC)")
        return df.withColumn("_rowNum", rank).where("_rowNum = 1")

    def deduplicate(self, df: DataFrame) -> DataFrame:
        """Latest record per primary key (AuditTableFile.scala:78-82)."""
        return self._latest(df).drop("_rowNum")

    def snapshot(self, ts: Optional[Any] = None) -> Optional[DataFrame]:
        """Deduplicated state of the table as of ``ts``
        (AuditTableFile.scala:72-76)."""
        df = self.all_between(None, ts)
        if df is None:
            return None
        return self._latest(df).drop("_rowNum", DE_LAST_UPDATED_COLUMN)

    def snapshot_diff(self, from_ts: Optional[Any],
                      to_ts: Optional[Any]) -> Optional[DataFrame]:
        """Change-data view between two snapshot timestamps (beyond the
        reference's surface — the audit-table design records exactly
        the history this needs): one row per primary key whose state
        differs between ``snapshot(from_ts)`` and ``snapshot(to_ts)``,
        tagged ``change_type`` in {'added', 'removed', 'changed'}, with
        the TO-side values for added/changed rows and the FROM-side
        values for removed ones.  One full-outer join on the primary
        key; value comparison is a null-safe struct equality, so NULL
        transitions count as changes.  At 100 TB both sides prune to
        their ``<= ts`` regions at the scan (the all_between partition
        filters), and the join shuffles on the PK only."""
        a = self.snapshot(from_ts)
        b = self.snapshot(to_ts)
        if a is None or b is None:
            return None
        pks = list(self.table_info.primary_keys)
        non_pk = [c for c in b.columns if c not in pks]
        val = (lambda df: F.struct(*[F.col(c) for c in non_pk])
               if non_pk else F.lit(0))
        a2 = a.select(*pks, val(a).alias("_va"),
                      F.lit(True).alias("_in_a"))
        b2 = b.select(*pks, val(b).alias("_vb"),
                      F.lit(True).alias("_in_b"))
        j = a2.join(b2, pks, "full_outer")
        change = (F.when(F.col("_in_a").isNull(), F.lit("added"))
                  .when(F.col("_in_b").isNull(), F.lit("removed"))
                  .when(~F.col("_va").eqNullSafe(F.col("_vb")),
                        F.lit("changed")))
        picked = F.when(F.col("_in_b").isNotNull(), F.col("_vb")) \
                  .otherwise(F.col("_va"))
        return (j.withColumn("_ct", change)
                .where(F.col("_ct").isNotNull())
                .select(F.col("_ct").alias("change_type"), *pks,
                        *[picked.getField(c).alias(c) for c in non_pk])
                .orderBy(*pks))

    # -- compaction (AuditTableFile.scala:99-210) -------------------------------
    def compact(self, compact_ts: Optional[datetime] = None,
                trash_max_age_ms: int = 86_400_000,
                small_region_row_threshold: int = 50_000_000,
                compaction_partitioner: Optional[CompactionPartitioner] = None,
                recompact_all: bool = False,
                layout_cols: Optional[list[str]] = None) -> "AuditTableFile":
        """Merge all hot regions + small cold regions into ONE new cold
        region; replaced region folders go to the trash bin and aged trash
        is purged. Tables with ``retain_history=False`` are deduplicated
        during the merge.

        ``layout_cols``: when given, the merged region is written
        Z-ORDERED on these columns (operators/layout.py) instead of
        round-robin repartitioned — compaction is exactly the moment a
        100 TB deployment pays for read locality, and the z-layout gives
        every output file narrow footer min/max bands on EVERY listed
        column so later keyed/range reads prune files.  Costs one extra
        quantile pass over the merged data (a deliberate maintenance
        trade; the row set written is identical either way,
        test-locked)."""
        self._mark_to_update()
        compact_ts = compact_ts or datetime.utcnow()
        if compaction_partitioner is None:
            from .actions import total_bytes_partitioner
            compaction_partitioner = total_bytes_partitioner()
        to_compact = self._regions_to_compact(small_region_row_threshold,
                                              recompact_all)
        new_self = self._compact_regions(to_compact, compact_ts,
                                         compaction_partitioner,
                                         layout_cols)
        self.ops.purge_trash(self.table_name,
                             int(compact_ts.timestamp() * 1000),
                             trash_max_age_ms)
        return new_self

    def _regions_to_compact(self, small_region_row_threshold: int,
                            recompact_all: bool) -> list[AuditTableRegionInfo]:
        """All regions if recompacting or not retaining history; else all
        hot + under-threshold cold, unless that is a single cold region
        (AuditTableFile.scala:151-165)."""
        if recompact_all or not self.table_info.retain_history:
            return list(self.regions)
        picked = [
            r for r in self.regions
            if (r.store_type == COLD_PARTITION
                and r.count < small_region_row_threshold)
            or (r.store_type == HOT_PARTITION and not r.is_deprecated)
        ]
        if len(picked) < 2 and not any(
                r.store_type == HOT_PARTITION for r in picked):
            return []
        return picked

    def _region_path(self, r: AuditTableRegionInfo) -> str:
        base = self.hot_path if r.store_type == HOT_PARTITION else self.cold_path
        return f"{base}/{STORE_REGION_COLUMN}={r.store_region}"

    def _compact_regions(self, to_compact: list[AuditTableRegionInfo],
                         compact_ts: datetime,
                         partitioner: CompactionPartitioner,
                         layout_cols: Optional[list[str]] = None
                         ) -> "AuditTableFile":
        if not to_compact:
            return AuditTableFile(self.table_info, self.regions, self.ops,
                                  self.full_region_view, self.schema)
        ids = {r.store_region for r in to_compact}
        region_id = self._next_region_id()
        new_path = f"{self.cold_path}/{STORE_REGION_COLUMN}={region_id}"
        if self.ops.fops.exists(new_path):
            raise StorageException(
                f"Can not compact table [{self.table_name}], as path "
                f"[{new_path}] already exists")
        paths = [self._region_path(r) for r in to_compact]
        data = self.ops.open_parquet(*paths, schema=self.schema)
        if data is not None:
            data = data.drop(STORE_TYPE_COLUMN, STORE_REGION_COLUMN)
            if not self.table_info.retain_history:
                data = self.deduplicate(data)
            # clear the cache first so a failure mid-write can't leave a
            # stale cache pointing at trashed regions
            self.ops.clear_region_cache(self.table_name)
            total_rows = sum(r.count for r in to_compact)
            total_bytes = sum(self.ops.fops.total_size(p) for p in paths)
            target = max(1, partitioner(data, total_rows, total_bytes))
            # partition count from driver-side file metadata, NOT
            # data.rdd.getNumPartitions(): .rdd finalizes the physical plan
            # and under AQE that EXECUTES upstream shuffle stages — with
            # retain_history=False `data` contains the dedup window, so the
            # compaction would run that shuffle once for the count and
            # again for the write (two Spark jobs instead of one)
            try:
                current = len(data.inputFiles())
            except Exception:
                current = 0  # no file provenance → repartition (safe side)
            if layout_cols:
                from ..operators.layout import zorder_layout
                data = zorder_layout(data, layout_cols,
                                     num_partitions=target)
            else:
                data = (data.repartition(target) if target > current
                        else data.coalesce(target))
            # observed on the final frame: the z-order quantile pass above
            # is an action on the unobserved input and must not fire it
            observed, stats = _observe_region_stats(data)
            self.ops.atomic_write_and_cleanup(
                self.table_name, observed, new_path, paths,
                int(compact_ts.timestamp() * 1000))
            count, max_lu = stats()
            remaining = [r for r in self.regions if r.store_region not in ids]
            new_region = AuditTableRegionInfo(
                self.table_name, COLD_PARTITION, region_id, compact_ts,
                False, count, max_lu)
            merged = nullable(data.schema)
            schema = (merged if not remaining or merged == self.schema
                      else None)
            return self._set_regions(remaining + [new_region], schema)
        return AuditTableFile(self.table_info, self.regions, self.ops,
                              self.full_region_view, self.schema)


# ---------------------------------------------------------------------------
# open / create (AuditTableFile.scala:295-463, Storage.scala:77-116)
# ---------------------------------------------------------------------------


def apply_changes(base: DataFrame, diff: DataFrame,
                  primary_keys: Sequence[str]) -> DataFrame:
    """Apply a :meth:`AuditTableFile.snapshot_diff` view to a
    materialized snapshot — the CONSUMER half of the change-data
    contract a downstream system (search index, feature store, cache)
    runs instead of re-reading the whole table:

    * ``removed`` keys leave the base;
    * ``added`` / ``changed`` rows upsert their TO-side values.

    Round-trip law (test-locked in tests/test_storage.py):
    ``apply_changes(snapshot(a), snapshot_diff(a, b), pks)`` equals
    ``snapshot(b)`` as a row set, in BOTH time directions (the reverse
    diff's 'removed' rows undo the forward 'added' ones).

    100 TB shape: one PK-keyed left-anti join of the base against the
    diff's key set (every diffed key leaves the base, whatever its
    change type) + one union with the upsert rows — the diff side is
    CDC-sized, so AQE broadcasts it when small; the base never sorts."""
    pks = list(primary_keys)
    missing = [c for c in ["change_type", *pks] if c not in diff.columns]
    if missing:
        raise ValueError(f"diff frame lacks columns: {missing}")
    upserts = (diff.where(F.col("change_type").isin("added", "changed"))
               .drop("change_type"))
    kept = base.join(diff.select(*pks), pks, "left_anti")
    return kept.unionByName(upserts.select(*base.columns))


def create_table(ops: FileStorageOps, info: AuditTableInfo) -> AuditTableFile:
    return AuditTableFile(info, [], ops).init_new_table()


def open_tables(ops: FileStorageOps, table_names: Sequence[str],
                include_hot: bool = True,
                skip_region_info_cache: bool = False
                ) -> tuple[dict[str, AuditTableFile], list[str]]:
    """Open many tables with one region-inference pass; returns
    ({name: table}, [missing names]) (AuditTableFile.openTables)."""
    existing = set(ops.list_tables())
    exist = [t for t in table_names if t in existing]
    missing = [t for t in table_names if t not in existing]
    regions, schemas = infer_regions_with_stats(ops, exist, include_hot,
                                                skip_region_info_cache)
    by_table: dict[str, list[AuditTableRegionInfo]] = {}
    for r in regions:
        by_table.setdefault(r.table_name, []).append(r)
    out = {}
    for t in exist:
        info = ops.read_table_info(t)
        out[t] = AuditTableFile(info, by_table.get(t, []), ops,
                                full_region_view=include_hot,
                                schema=schemas.get(t))
    return out, missing


def get_or_create_tables(ops: FileStorageOps, table_names: Sequence[str],
                         metadata_retrieval: Optional[
                             Callable[[str], AuditTableInfo]] = None,
                         update_table_metadata: bool = False,
                         include_hot: bool = True) -> list[AuditTableFile]:
    """Open existing tables / create missing ones via the metadata
    function (Storage.getOrCreateFileTables, Storage.scala:77-116)."""
    tables, missing = open_tables(ops, table_names, include_hot)
    if missing and metadata_retrieval is None:
        raise StorageException(
            "The following tables were not found in the storage layer and "
            "could not be created as no metadata function was defined: "
            + ",".join(missing))
    if update_table_metadata and metadata_retrieval is None:
        raise StorageException(
            "updateMetadata is set to true but no metadata function was defined")
    if update_table_metadata:
        tables = {t: tbl.update_table_info(metadata_retrieval(t))
                  for t, tbl in tables.items()}
    for t in missing:
        tables[t] = create_table(ops, metadata_retrieval(t))
    return [tables[t] for t in table_names]


# -- region inference --------------------------------------------------------


def infer_regions_with_stats(ops: FileStorageOps, table_names: Sequence[str],
                             include_hot: bool = True,
                             skip_region_info_cache: bool = False
                             ) -> tuple[list[AuditTableRegionInfo],
                                        dict[str, StructType]]:
    """Cache-validated region inference (AuditTableFile.scala:295-317):
    use the cached region info for tables whose cache exactly matches the
    partition-directory glob; for the rest, fall back to a Parquet groupBy
    scan merged with zero-count path-only entries.  Also returns the
    cached schema of each table whose cache validated and holds one."""
    cache_info: list[AuditTableRegionInfo] = []
    cache_schemas: dict[str, StructType] = {}
    if not skip_region_info_cache:
        for t in table_names:
            cached = ops.read_region_cache(t)
            if cached is not None:
                regions, schema = cached
                cache_info.extend(
                    r for r in regions
                    if include_hot or r.store_type != HOT_PARTITION)
                if schema is not None:
                    cache_schemas[t] = schema
    path_info = _infer_regions_from_paths(ops, table_names, include_hot)
    cache_keys_by_table: dict[str, set] = {}
    for r in cache_info:
        cache_keys_by_table.setdefault(r.table_name, set()).add(
            (r.store_type, r.store_region))
    path_keys_by_table: dict[str, set] = {}
    for r in path_info:
        path_keys_by_table.setdefault(r.table_name, set()).add(
            (r.store_type, r.store_region))
    valid_tables = {
        t for t, keys in cache_keys_by_table.items()
        if path_keys_by_table.get(t, set()) == keys
    }
    valid_cache = [r for r in cache_info if r.table_name in valid_tables]
    to_scan = [t for t in table_names if t not in valid_tables]
    from_parquet = {
        (r.table_name, r.store_type, r.store_region): r
        for r in _infer_regions_from_parquet(ops, to_scan, include_hot)
    }
    from_paths = {
        (r.table_name, r.store_type, r.store_region): r
        for r in path_info if r.table_name in set(to_scan)
    }
    merged = [from_parquet.get(k, v) for k, v in from_paths.items()]
    merged += [v for k, v in from_parquet.items() if k not in from_paths]
    schemas = {t: s for t, s in cache_schemas.items() if t in valid_tables}
    return merged + valid_cache, schemas


def _infer_regions_from_paths(ops: FileStorageOps,
                              table_names: Sequence[str],
                              include_hot: bool) -> list[AuditTableRegionInfo]:
    """Zero-count region entries from the partition-directory glob — the
    only way to see regions whose Parquet is empty
    (AuditTableFile.scala:404-421)."""
    if not table_names:
        return []
    tset = "{" + ",".join(table_names) + "}"
    store_glob = "*" if include_hot else COLD_PARTITION
    pattern = (f"{ops.base_path}/{tset}/{STORE_TYPE_COLUMN}={store_glob}"
               f"/{STORE_REGION_COLUMN}=*")
    out = []
    for p in ops.fops.glob(pattern):
        parts = p.rstrip("/").split("/")
        out.append(AuditTableRegionInfo(
            table_name=parts[-3],
            store_type=parts[-2].split("=", 1)[1],
            store_region=parts[-1].split("=", 1)[1],
        ))
    return out


def _infer_regions_from_parquet(ops: FileStorageOps,
                                table_names: Sequence[str],
                                include_hot: bool,
                                page_size: int = 20
                                ) -> list[AuditTableRegionInfo]:
    """Region stats from the data itself: per-table groupBy over
    (store_type, store_region), unioned across ≤page_size tables so one
    Spark job covers a page (AuditTableFile.scala:370-398)."""
    out: list[AuditTableRegionInfo] = []
    names = list(table_names)
    for i in range(0, len(names), page_size):
        page, dfs = names[i:i + page_size], []
        for t in page:
            df = ops.open_parquet(f"{ops.base_path}/{t}")
            if df is None:
                continue
            types = ([HOT_PARTITION, COLD_PARTITION] if include_hot
                     else [COLD_PARTITION])
            dfs.append(
                df.where(F.col(STORE_TYPE_COLUMN).isin(types))
                .groupBy(STORE_TYPE_COLUMN, STORE_REGION_COLUMN)
                .agg(F.count(DE_LAST_UPDATED_COLUMN).alias("count"),
                     F.max(DE_LAST_UPDATED_COLUMN).alias("max_last_updated"))
                .select(F.lit(t).alias("table_name"),
                        F.col(STORE_TYPE_COLUMN).alias("store_type"),
                        F.col(STORE_REGION_COLUMN).alias("store_region"),
                        F.col("count"), F.col("max_last_updated"))
            )
        if not dfs:
            continue
        union = dfs[0]
        for d in dfs[1:]:
            union = union.unionByName(d, allowMissingColumns=False)
        for row in union.collect():
            out.append(AuditTableRegionInfo(
                table_name=row["table_name"],
                store_type=row["store_type"],
                store_region=row["store_region"],
                count=int(row["count"]),
                max_last_updated=row["max_last_updated"],
            ))
    return out
