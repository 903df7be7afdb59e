"""Audit storage layer round-trips on a tmpdir — scenarios ported from the
reference's TestAuditTableFile.scala / TestStorageActions.scala."""

import json
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from waimak_spark.storage import (
    AuditTableFile,
    AuditTableInfo,
    AuditTableRegionInfo,
    FileStorageOps,
    StorageException,
    run_single_compaction_during_window,
    total_bytes_partitioner,
    total_cells_partitioner,
)
from waimak_spark.storage.audit import (
    COLD_PARTITION,
    DE_LAST_UPDATED_COLUMN,
    HOT_PARTITION,
    STORE_REGION_COLUMN,
    STORE_TYPE_COLUMN,
    create_table,
    get_or_create_tables,
    open_tables,
)

T0 = datetime(2018, 1, 1, 10, 0, 0)
T1 = datetime(2018, 1, 2, 10, 0, 0)
T2 = datetime(2018, 1, 3, 10, 0, 0)

INFO = AuditTableInfo("persons", ["id"], {"source": "test"}, True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id int, name string, updated timestamp")


def _b1(spark):
    return _batch(spark, [(1, "alice", T0), (2, "bob", T0)])


def _b2(spark):
    # id=2 updated, id=3 new
    return _batch(spark, [(2, "bobby", T1), (3, "carol", T1)])


@pytest.fixture()
def ops(spark, tmp_path):
    return FileStorageOps(spark, str(tmp_path / "storage"))


class TestCreateOpen:
    def test_create_and_info_roundtrip(self, ops):
        t = create_table(ops, INFO)
        assert t.regions == []
        info = ops.read_table_info("persons")
        assert info.primary_keys == ["id"]
        assert info.meta == {"source": "test"}
        assert info.retain_history is True

    def test_create_fails_if_exists(self, ops):
        create_table(ops, INFO)
        with pytest.raises(StorageException, match="already exists"):
            create_table(ops, INFO)

    def test_create_fails_without_pks(self, ops):
        with pytest.raises(StorageException, match="primary keys"):
            create_table(ops, AuditTableInfo("nopk", [], {}, True))

    def test_open_missing_fails_without_metadata_fn(self, ops):
        with pytest.raises(StorageException, match="not found"):
            get_or_create_tables(ops, ["persons"], None, False)

    def test_get_or_create_creates_then_opens(self, ops, spark):
        tables = get_or_create_tables(ops, ["persons"], lambda t: INFO, False)
        assert tables[0].table_name == "persons"
        # second call opens the existing table
        tables2 = get_or_create_tables(ops, ["persons"], None, False)
        assert tables2[0].table_info.primary_keys == ["id"]


class TestAppendSnapshot:
    def test_append_creates_hot_regions_with_stats(self, ops, spark):
        t = create_table(ops, INFO)
        t, c1 = t.append(_b1(spark), "updated", T0)
        assert c1 == 2
        t, c2 = t.append(_b2(spark), "updated", T1)
        assert c2 == 2
        assert [r.store_type for r in t.regions] == [HOT_PARTITION] * 2
        assert [r.count for r in t.regions] == [2, 2]
        assert t.get_latest_timestamp() == T1
        assert t.regions[0].store_region == "r" + "0" * 20

    def test_snapshot_dedups_to_latest(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        snap = {r["id"]: r["name"]
                for r in t.snapshot(T2).select("id", "name").collect()}
        assert snap == {1: "alice", 2: "bobby", 3: "carol"}

    def test_snapshot_at_earlier_ts_ignores_later(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        snap = {r["id"]: r["name"]
                for r in t.snapshot(T0).select("id", "name").collect()}
        assert snap == {1: "alice", 2: "bob"}

    def test_all_between_bounds(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        assert t.all_between(T1, None).count() == 2
        assert t.all_between(None, T0).count() == 2
        assert t.all_between(None, None).count() == 4

    def test_single_mutation_guard(self, ops, spark):
        t = create_table(ops, INFO)
        t2, _ = t.append(_b1(spark), "updated", T0)
        with pytest.raises(StorageException, match="no longer"):
            t.append(_b2(spark), "updated", T1)
        # the returned instance can mutate once more
        t3, _ = t2.append(_b2(spark), "updated", T1)
        assert len(t3.regions) == 2


class TestCompaction:
    def _loaded(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        return t

    def test_compact_merges_hot_into_cold(self, ops, spark):
        t = self._loaded(ops, spark)
        t = t.compact(T2, small_region_row_threshold=10)
        assert [r.store_type for r in t.regions] == [COLD_PARTITION]
        assert t.regions[0].count == 4
        # data intact after compaction
        snap = {r["id"]: r["name"]
                for r in t.snapshot(T2).select("id", "name").collect()}
        assert snap == {1: "alice", 2: "bobby", 3: "carol"}
        # hot dirs moved to trash
        trash = ops.fops.list_dirs(f"{ops.trash_folder}/persons")
        assert len(trash) == 1

    def test_compact_nothing_when_single_cold_and_no_hot(self, ops, spark):
        t = self._loaded(ops, spark)
        t = t.compact(T2, small_region_row_threshold=10)
        t = t.compact(T2, small_region_row_threshold=10)
        assert [r.store_type for r in t.regions] == [COLD_PARTITION]

    def test_compact_dedups_when_not_retaining_history(self, ops, spark):
        info = AuditTableInfo("persons", ["id"], {}, retain_history=False)
        t = create_table(ops, info)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        t = t.compact(T2)
        assert t.regions[0].count == 3  # history collapsed to latest per PK
        rows = t.all_between(None, None).count()
        assert rows == 3

    def test_trash_purged_by_age(self, ops, spark):
        t = self._loaded(ops, spark)
        t = t.compact(T2, trash_max_age_ms=86_400_000)
        # trash from this compaction is new → kept
        assert len(ops.fops.list_dirs(f"{ops.trash_folder}/persons")) == 1
        purged = ops.purge_trash(
            "persons", int(T2.timestamp() * 1000) + 200_000_000, 100_000_000)
        assert purged == 1

    def test_compaction_sizes_with_partitioners(self, ops, spark):
        df = _b1(spark)
        assert total_cells_partitioner(4)(df, 8, 0) == 6  # 8 rows*3 cols/4
        assert total_bytes_partitioner(100)(df, 0, 250) == 3
        assert total_bytes_partitioner(100)(df, 0, 0) == 1

    def test_compact_never_finalizes_plan_via_rdd(self, ops, spark,
                                                  monkeypatch):
        """`.rdd` finalizes the physical plan, and under AQE that EXECUTES
        upstream shuffle stages — with retain_history=False the compaction
        data contains the dedup window, so the old
        `data.rdd.getNumPartitions()` ran that shuffle once for the
        partition count and again for the write. Lock the fix by making
        any `.rdd` access during compaction fail loudly."""
        from pyspark.sql import DataFrame

        info = AuditTableInfo("persons", ["id"], {}, retain_history=False)
        t = create_table(ops, info)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)

        def boom(self):
            raise AssertionError(
                ".rdd accessed during compaction: plan finalization "
                "executes shuffle stages under AQE")

        monkeypatch.setattr(DataFrame, "rdd", property(boom))
        t = t.compact(T2)
        assert t.regions[0].count == 3

    def test_calls_launch_only_the_jobs_their_data_needs(self, ops, spark):
        """Region stats are observed during the write and the schema comes
        from the region cache, so: an append is its write job alone, a
        snapshot plan is built without any job (no footer inference), and
        a default compaction is its write job alone."""
        t = create_table(ops, INFO)
        (t, _), jobs = _jobs(spark, lambda: t.append(_b1(spark), "updated", T0))
        assert jobs == 1
        (t, _), jobs = _jobs(spark, lambda: t.append(_b2(spark), "updated", T1))
        assert jobs == 1
        t = open_tables(ops, ["persons"])[0]["persons"]
        snap, jobs = _jobs(spark, lambda: t.snapshot(T2))
        assert jobs == 0
        assert snap.count() == 3
        t, jobs = _jobs(spark, lambda: t.compact(T2))
        assert jobs == 1
        assert [r.count for r in t.regions] == [4]


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched) — counted through a job
    group once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestRegionInference:
    def test_reopen_uses_cache(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        tables, missing = open_tables(ops, ["persons", "ghost"])
        assert missing == ["ghost"]
        t2 = tables["persons"]
        assert len(t2.regions) == 1
        assert t2.regions[0].count == 1 + 1
        assert t2.get_latest_timestamp() == T0

    def test_invalid_cache_falls_back_to_scan(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        # corrupt the cache: claim a region that does not exist on disk
        regions, schema = ops.read_region_cache("persons")
        assert schema is not None
        regions.append(AuditTableRegionInfo("persons", HOT_PARTITION,
                                            "r" + "9" * 20, T0, False, 99, T0))
        ops.write_region_cache("persons", regions, schema)
        tables, _ = open_tables(ops, ["persons"])
        inferred = tables["persons"].regions
        assert len(inferred) == 2  # ghost region ignored, stats re-inferred
        assert sorted(r.count for r in inferred) == [2, 2]
        assert tables["persons"].get_latest_timestamp() == T1
        # the schema came from the same invalid sidecar: discarded too
        assert tables["persons"].schema is None
        assert tables["persons"].all_between(None, None).count() == 4

    def test_skip_cache_scan(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        tables, _ = open_tables(ops, ["persons"], skip_region_info_cache=True)
        assert tables["persons"].regions[0].count == 2

    def test_include_hot_false_hides_hot_regions(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t = t.compact(T1, small_region_row_threshold=10)
        t2, _ = t.append(_b2(spark), "updated", T1)
        tables, _ = open_tables(ops, ["persons"], include_hot=False)
        cold_only = tables["persons"]
        assert [r.store_type for r in cold_only.regions] == [COLD_PARTITION]
        snap = {r["id"] for r in cold_only.snapshot(T2).collect()}
        assert snap == {1, 2}  # hot batch invisible

    def test_partial_region_view_refuses_mutation(self, ops, spark):
        """A handle opened with include_hot=False sees only cold regions:
        deriving the next region id from that partial view would reuse an
        existing hot region's id and silently overwrite its data — both
        mutators must refuse."""
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t = t.compact(T1, small_region_row_threshold=10)
        t, _ = t.append(_b2(spark), "updated", T1)  # live hot region r1
        tables, _ = open_tables(ops, ["persons"], include_hot=False)
        cold_only = tables["persons"]
        with pytest.raises(StorageException, match="include_hot"):
            cold_only.append(_b2(spark), "updated", T2)
        with pytest.raises(StorageException, match="include_hot"):
            cold_only.compact(T2)
        # the hot region's data is untouched
        full, _ = open_tables(ops, ["persons"])
        assert full["persons"].all_between(None, None).count() == 4


class TestObservedRegionStats:
    """Region count / max ``_de_last_updated`` come from an Observation on
    the written frame; they must equal a re-read of the region, counting
    non-null ``_de_last_updated`` only."""

    @staticmethod
    def _reread(ops, t):
        return [tuple(ops.spark.read.parquet(t._region_path(r))
                      .select(F.count(DE_LAST_UPDATED_COLUMN),
                              F.max(DE_LAST_UPDATED_COLUMN)).first())
                for r in t.regions]

    @staticmethod
    def _stats(t):
        return [(r.count, r.max_last_updated) for r in t.regions]

    @pytest.mark.parametrize("lu_type, lo, hi", [
        ("timestamp", T0, T1),
        ("long", 1_514_800_800, 1_514_887_200),
    ])
    def test_append_stats_match_reread_with_nulls(self, ops, spark,
                                                  lu_type, lo, hi):
        df = spark.createDataFrame(
            [(1, "a", lo), (2, "b", hi), (3, "c", None)],
            f"id int, name string, updated {lu_type}")
        t = create_table(ops, INFO)
        t, count = t.append(df, "updated", T0)
        assert count == 2  # the null last_updated row is not counted
        assert self._stats(t) == self._reread(ops, t) == [(2, hi)]

    @pytest.mark.parametrize("rows", [[], [(1, "a", None)]],
                             ids=["empty", "all_null"])
    def test_batch_without_last_updated(self, ops, spark, rows):
        """Observation.get returns (0, None) instead of blocking when no
        row reaches the metrics."""
        t = create_table(ops, INFO)
        t, count = t.append(_batch(spark, rows), "updated", T0)
        assert count == 0
        assert self._stats(t) == self._reread(ops, t) == [(0, None)]

    def test_compaction_without_history(self, ops, spark):
        info = AuditTableInfo("persons", ["id"], {}, retain_history=False)
        t = create_table(ops, info)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        t = t.compact(T2)
        assert self._stats(t) == self._reread(ops, t) == [(3, T1)]

    def test_layout_compaction(self, ops, spark):
        """The z-order quantile pass is an action on the merge input that
        runs before the write; the stats still describe the written
        region."""
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        t = t.compact(T2, recompact_all=True, layout_cols=["id"],
                      compaction_partitioner=lambda d, r, b: 2)
        assert self._stats(t) == self._reread(ops, t) == [(4, T1)]


class TestSchemaCache:
    """The region cache carries the table's data schema whenever it is
    known to equal the mergeSchema inference over the table root."""

    MATRIX = StructType([
        StructField("id", IntegerType(), False),
        StructField("amount", DecimalType(12, 3), False),
        StructField("ts", TimestampType(), True),
        StructField("ts_ntz", TimestampNTZType(), True),
        StructField("nested", StructType([
            StructField("a", LongType(), False),
            StructField("b", StructType([
                StructField("c", StringType(), False)]), True)]), False),
        StructField("tags", ArrayType(StringType(), False), True),
        StructField("attrs", MapType(StringType(), DoubleType(), False), True),
        StructField("updated", TimestampType(), False),
        # char/varchar columns: a string with Spark's char/varchar metadata
        StructField("code", StringType(), False,
                    {"__CHAR_VARCHAR_TYPE_STRING": "char(3)"}),
        StructField("note", StringType(), True,
                    {"__CHAR_VARCHAR_TYPE_STRING": "varchar(8)"}),
    ])

    @staticmethod
    def _matrix_rows(first_id):
        return [(i, Decimal("12.345") * i, T0, T1,
                 (i * 10, ("x" * i,)), ["t", str(i)], {"k": i / 2}, T0,
                 f"c{i:02d}", f"note {i}")
                for i in range(first_id, first_id + 3)]

    @staticmethod
    def _inferred(ops, table):
        df = (ops.spark.read.option("mergeSchema", "true")
              .parquet(f"{ops.base_path}/{table}"))
        return StructType([f for f in df.schema.fields
                           if f.name not in (STORE_TYPE_COLUMN,
                                             STORE_REGION_COLUMN)])

    def test_stored_schema_equals_inference_over_type_matrix(self, ops,
                                                             spark):
        info = AuditTableInfo("matrix", ["id"], {}, True)
        t = create_table(ops, info)
        t, _ = t.append(spark.createDataFrame(self._matrix_rows(1),
                                              self.MATRIX), "updated", T0)
        assert t.schema == self._inferred(ops, "matrix")
        t, _ = t.append(spark.createDataFrame(self._matrix_rows(4),
                                              self.MATRIX), "updated", T1)
        assert t.schema == self._inferred(ops, "matrix")
        t = t.compact(T2, small_region_row_threshold=10)
        assert t.schema == self._inferred(ops, "matrix")
        reopened = open_tables(ops, ["matrix"])[0]["matrix"]
        assert reopened.schema == t.schema
        got = sorted(tuple(r) for r in reopened.snapshot(T2)
                     .select(*self.MATRIX.fieldNames()).collect())
        want = sorted(tuple(r) for r in
                      spark.createDataFrame(self._matrix_rows(1)
                                            + self._matrix_rows(4),
                                            self.MATRIX).collect())
        assert got == want

    @pytest.mark.parametrize("route", ["cache", "staged"])
    def test_flow_reread_schema_equals_inference(self, spark, tmp_path,
                                                 route):
        """A flow's unpartitioned re-read of a folder it just wrote is given
        the written schema instead of inferring it; over the type matrix
        that schema equals the inference over the folder, both for a
        ``cache_as_parquet`` re-read and for a committed checked label
        staged by its producer."""
        from waimak_spark.dataflow.spark_flow import Waimak
        from waimak_spark.dataquality import (CollectingAlertHandler,
                                              DataQualityCheck)
        from waimak_spark.operators import ParquetDataCommitter

        temp = str(tmp_path / "flowtmp")
        seen = []

        def probe(df):
            folder = df.inputFiles()[0].rsplit("/", 1)[0]
            seen.append((folder, df.schema, spark.read.parquet(folder).schema))

        class Probe(DataQualityCheck):
            def get_alerts(self, label, df):
                probe(df)
                return []

        frame = spark.createDataFrame(self._matrix_rows(1), self.MATRIX)
        flow = Waimak.spark_flow(spark, temp).open("m", lambda c: frame)
        if route == "cache":
            flow = (flow.cache_as_parquet("m")
                    .unit_transform("m", fn=probe, name="probe")
                    .unit_transform("m", fn=lambda df: None, name="other"))
        else:
            flow = (flow.add_data_quality_check("m", Probe(),
                                                CollectingAlertHandler())
                    .commit("c", "m")
                    .push("c", ParquetDataCommitter(str(tmp_path / "out"))))
        flow.execute()
        [(folder, passed, inferred)] = seen
        assert folder.startswith(f"file://{temp}/")
        assert passed == inferred
        assert [f.metadata for f in passed.fields][-2:] == [
            f.metadata for f in self.MATRIX.fields][-2:]

    def test_added_column_drops_schema_and_reads_union(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        wider = spark.createDataFrame(
            [(3, "carol", T1, "nz")],
            "id int, name string, updated timestamp, country string")
        t, _ = t.append(wider, "updated", T1)
        assert t.schema is None
        assert open_tables(ops, ["persons"])[0]["persons"].schema is None
        rows = {r["id"]: r["country"]
                for r in t.all_between(None, None).collect()}
        assert rows == {1: None, 2: None, 3: "nz"}
        # a compaction that leaves no other region knows the schema again
        t = t.compact(T2, small_region_row_threshold=10)
        assert t.schema == self._inferred(ops, "persons")
        assert "country" in t.schema.fieldNames()

    def test_include_hot_false_ignores_stored_schema(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t = t.compact(T1, small_region_row_threshold=10)
        t, _ = t.append(_b2(spark), "updated", T1)
        assert open_tables(ops, ["persons"])[0]["persons"].schema is not None
        cold_only = open_tables(ops, ["persons"], include_hot=False)[0]
        assert cold_only["persons"].schema is None
        assert {r["id"] for r in cold_only["persons"].snapshot(T2)
                .collect()} == {1, 2}

    def test_bare_list_sidecar_opens_and_is_rewritten(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        path = f"{ops.base_path}/.regioninfo/persons.json"
        doc = json.loads(ops.fops.read_string(path))
        ops.fops.write_string(path, json.dumps(doc["regions"]))
        t = open_tables(ops, ["persons"])[0]["persons"]
        assert [r.count for r in t.regions] == [2]
        assert t.schema is None
        assert t.all_between(None, None).count() == 2
        t, _ = t.append(_b2(spark), "updated", T1)
        doc = json.loads(ops.fops.read_string(path))
        assert set(doc) == {"schema", "regions"}
        assert len(doc["regions"]) == 2
        assert open_tables(ops, ["persons"])[0]["persons"] \
            .all_between(None, None).count() == 4


class TestCompactionWindow:
    REGIONS_HOT = [AuditTableRegionInfo("t", HOT_PARTITION, "r0",
                                        datetime(2018, 1, 1, 1), False, 1, None)]

    def test_not_in_window(self):
        d = run_single_compaction_during_window(10, 12)
        assert d(self.REGIONS_HOT, 1, datetime(2018, 1, 1, 9, 59)) is False

    def test_in_window_with_hot(self):
        d = run_single_compaction_during_window(10, 12)
        assert d(self.REGIONS_HOT, 1, datetime(2018, 1, 1, 10, 30)) is True

    def test_no_hot_regions(self):
        d = run_single_compaction_during_window(10, 12)
        regions = [AuditTableRegionInfo("t", COLD_PARTITION, "r0",
                                        datetime(2017, 12, 31, 11), False, 1, None)]
        assert d(regions, 1, datetime(2018, 1, 1, 10, 30)) is False

    def test_already_compacted_in_window(self):
        d = run_single_compaction_during_window(10, 12)
        regions = self.REGIONS_HOT + [
            AuditTableRegionInfo("t", COLD_PARTITION, "r1",
                                 datetime(2018, 1, 1, 10, 15), False, 1, None)]
        assert d(regions, 1, datetime(2018, 1, 1, 10, 30)) is False

    def test_window_spanning_midnight(self):
        d = run_single_compaction_during_window(22, 3)
        assert d(self.REGIONS_HOT, 1, datetime(2018, 1, 1, 23, 30)) is True
        assert d(self.REGIONS_HOT, 1, datetime(2018, 1, 2, 2, 30)) is True
        assert d(self.REGIONS_HOT, 1, datetime(2018, 1, 2, 12, 0)) is False


class TestStorageFlowActions:
    def test_write_then_snapshot_through_flow(self, spark, tmp_path):
        from waimak_spark.dataflow.spark_flow import Waimak

        base = str(tmp_path / "flowstore")
        df = _b1(spark)
        flow = (Waimak.spark_flow(spark, str(tmp_path / "tmp"))
                .add_input("persons", df)
                .get_or_create_audit_table(base, "persons",
                                           metadata_retrieval=lambda t: INFO)
                .write_to_storage("persons", "updated", T0))
        flow.execute()

        df2 = _b2(spark)
        flow2 = (Waimak.spark_flow(spark, str(tmp_path / "tmp2"))
                 .add_input("persons", df2)
                 .get_audit_table(base, "persons")
                 .write_to_storage("persons", "updated", T1,
                                   do_compaction=lambda r, c, t: True))
        flow2.execute()

        # compaction happened: only cold regions remain on disk
        ops = FileStorageOps(spark, base)
        tables, _ = open_tables(ops, ["persons"])
        assert [r.store_type for r in tables["persons"].regions] == [COLD_PARTITION]

        flow3 = (Waimak.spark_flow(spark, str(tmp_path / "tmp3"))
                 .snapshot_from_storage(base, T2, "persons",
                                        output_prefix="snap"))
        _, final = flow3.execute()
        snap = {r["id"]: r["name"]
                for r in final.inputs.get("snap_persons").select("id", "name").collect()}
        assert snap == {1: "alice", 2: "bobby", 3: "carol"}

    def test_load_from_storage_range(self, spark, tmp_path):
        from waimak_spark.dataflow.spark_flow import Waimak

        base = str(tmp_path / "flowstore2")
        flow = (Waimak.spark_flow(spark, str(tmp_path / "tmp"))
                .add_input("persons", _b1(spark))
                .get_or_create_audit_table(base, "persons",
                                           metadata_retrieval=lambda t: INFO)
                .write_to_storage("persons", "updated", T0))
        flow.execute()
        flow2 = (Waimak.spark_flow(spark, str(tmp_path / "tmp2"))
                 .load_from_storage(base, "persons", from_ts=T1,
                                    output_prefix="hist"))
        _, final = flow2.execute()
        assert final.inputs.get("hist_persons").count() == 0


class TestCompactZorderLayout:
    """compact(layout_cols=...) writes the merged cold region Z-ORDERED
    (operators/layout.py) — identical row set and region bookkeeping to
    the round-robin path, but the region's files carry narrow footer
    min/max bands on every listed column."""

    def _numbers(self, spark, n=4000):
        import pyspark.sql.functions as F

        return (spark.range(n)
                .select(F.col("id").cast("int").alias("id"),
                        (F.col("id") % 97).cast("double").alias("a"),
                        ((F.col("id") * 31) % 89).cast("double").alias("b"),
                        F.lit(T0).alias("updated")))

    def test_layout_preserves_rows_and_narrows_bands(self, ops, spark):
        import duckdb

        info = AuditTableInfo("numbers", ["id"], {}, True)
        t = create_table(ops, info)
        df = self._numbers(spark)
        t, _ = t.append(df, "updated", T0)
        t = t.compact(T2, small_region_row_threshold=10**9,
                      recompact_all=True,
                      compaction_partitioner=lambda d, r, b: 8,
                      layout_cols=["a", "b"])
        assert [r.store_type for r in t.regions] == [COLD_PARTITION]
        assert t.regions[0].count == 4000
        # identical row set to the source
        got = sorted((r["id"], r["a"], r["b"]) for r in
                     t.all_between(None, None)
                     .select("id", "a", "b").collect())
        want = sorted((r["id"], r["a"], r["b"]) for r in df.collect())
        assert got == want
        # every file carries narrow bands on BOTH z-ordered columns
        region_dir = (f"{ops.base_path}/numbers/de_store_type=cold/"
                      f"de_store_region={t.regions[0].store_region}")
        con = duckdb.connect()
        cov = {}
        for col in ("a", "b"):
            rows = con.execute(f"""
                select file_name, min(stats_min_value::DOUBLE),
                       max(stats_max_value::DOUBLE)
                from parquet_metadata('{region_dir}/*.parquet')
                where path_in_schema = '{col}'
                group by file_name
            """).fetchall()
            assert len(rows) == 8
            lo = min(r[1] for r in rows)
            hi = max(r[2] for r in rows)
            cov[col] = sum(r[2] - r[1] for r in rows) / ((hi - lo) * 8)
        assert cov["a"] < 0.6 and cov["b"] < 0.6

    def test_layout_path_equals_roundrobin_rowset(self, ops, spark):
        """With retain_history=False the dedup window runs before the
        layout — the kept row set must be identical on both paths."""
        info = AuditTableInfo("numbers2", ["id"], {},
                              retain_history=False)
        t = create_table(ops, info)
        t, _ = t.append(self._numbers(spark, 500), "updated", T0)
        t, _ = t.append(self._numbers(spark, 500), "updated", T1)
        t = t.compact(T2, layout_cols=["a"])
        assert t.regions[0].count == 500  # dedup by PK still applied
        assert t.all_between(None, None).count() == 500


class TestSnapshotDiff:
    """Change-data view between two snapshot timestamps: full-outer
    join on the PK, null-safe struct comparison for 'changed'."""

    def test_added_changed_removed(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        diff = [(r.change_type, r.id, r.name)
                for r in t.snapshot_diff(T0, T1).collect()]
        # id=2 bob -> bobby (changed), id=3 new (added); id=1 untouched
        assert diff == [("changed", 2, "bobby"), ("added", 3, "carol")]
        # reversed direction swaps roles and reports FROM-side values
        # for removed rows
        rev = [(r.change_type, r.id, r.name)
               for r in t.snapshot_diff(T1, T0).collect()]
        assert rev == [("changed", 2, "bob"), ("removed", 3, "carol")]

    def test_identical_snapshots_diff_empty(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        assert t.snapshot_diff(T0, T0).count() == 0

    def test_null_transition_counts_as_change(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_batch(spark, [(1, None, T1)]), "updated", T1)
        diff = [(r.change_type, r.id, r.name)
                for r in t.snapshot_diff(T0, T1).collect()]
        assert diff == [("changed", 1, None)]


class TestApplyChanges:
    """The CDC consumer: apply_changes(snapshot(a), snapshot_diff(a, b))
    must reconstruct snapshot(b) exactly — the round-trip law that makes
    the diff a complete change contract, in BOTH time directions."""

    def _table(self, ops, spark):
        t = create_table(ops, INFO)
        t, _ = t.append(_b1(spark), "updated", T0)
        t, _ = t.append(_b2(spark), "updated", T1)
        return t

    @staticmethod
    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    def test_forward_round_trip(self, ops, spark):
        from waimak_spark.storage import apply_changes

        t = self._table(ops, spark)
        got = apply_changes(t.snapshot(T0), t.snapshot_diff(T0, T1),
                            ["id"])
        assert self._rows(got) == self._rows(t.snapshot(T1))

    def test_reverse_round_trip_undoes_adds(self, ops, spark):
        """The reverse diff's 'removed' rows must delete the keys the
        forward direction added — time travel BACKWARD from the latest
        snapshot."""
        from waimak_spark.storage import apply_changes

        t = self._table(ops, spark)
        got = apply_changes(t.snapshot(T1), t.snapshot_diff(T1, T0),
                            ["id"])
        assert self._rows(got) == self._rows(t.snapshot(T0))

    def test_empty_diff_is_identity(self, ops, spark):
        from waimak_spark.storage import apply_changes

        t = self._table(ops, spark)
        got = apply_changes(t.snapshot(T0), t.snapshot_diff(T0, T0),
                            ["id"])
        assert self._rows(got) == self._rows(t.snapshot(T0))

    def test_round_trip_on_cdc_catalog_table(self, spark, sf_dir):
        """The law at catalog scale: the dedicated CDC audit table
        (updates + new keys, real parquet regions) round-trips from its
        CUTOFF snapshot to the latest through storage_snapshot_diff's
        underlying frame."""
        from datetime import datetime

        from waimak_spark.catalog.storage import CUTOFF, _audit_orders_cdc
        from waimak_spark.storage import apply_changes

        t = _audit_orders_cdc(spark, sf_dir)
        cutoff = datetime.fromisoformat(CUTOFF.replace(" ", "T"))
        got = apply_changes(t.snapshot(cutoff),
                            t.snapshot_diff(cutoff, None), ["o_orderkey"])
        assert self._rows(got) == self._rows(t.snapshot(None))

    def test_missing_columns_rejected(self, ops, spark):
        from waimak_spark.storage import apply_changes

        t = self._table(ops, spark)
        with pytest.raises(ValueError, match="change_type"):
            apply_changes(t.snapshot(T0),
                          t.snapshot(T0),  # not a diff frame
                          ["id"])

    def test_plan_anti_join_no_scale_killers(self, ops, spark):
        from waimak_spark.storage import apply_changes

        t = self._table(ops, spark)
        df = apply_changes(t.snapshot(T0), t.snapshot_diff(T0, T1),
                           ["id"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
