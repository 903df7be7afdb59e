"""SparkDataFlow: the DataFlow bound to a SparkSession, plus the action
library (open / transform / sql / write / cache / debug).

Re-expresses the reference's Spark action surface
(waimak-core/.../dataflow/spark/SparkDataFlow.scala:15-150 and
dataflow/spark/package.scala:34-760) as plain keyword-argument methods —
the 12 ``transform`` arities collapse into one variadic method, Scala's
curried builder blocks become keyword args.

Key semantics kept from the reference:

* labels referenced by ``sql`` actions are registered as temp views on the
  thread that completes the producing action (SparkDataFlow.scala:76-86);
* ``openCSV`` defaults header=true, inferSchema=true (package.scala:510);
* ``writeCSV`` repartitions to ``num_files`` (default 1, package.scala:618);
* ``cacheAsParquet`` cuts the plan by write+re-read under the temp folder
  (SparkInterceptors.scala:48-65), scheduled lazily by a metadata extension
  that skips labels read fewer than twice (CacheMetadataExtension.scala:13-48;
  readers are consumer actions, data-quality checks and pending commits);
* temp folder is wiped/created in ``prepare_for_execution`` and deleted in
  ``finalise_execution`` unless configured otherwise
  (SparkDataFlow.scala:88-122).
"""

from __future__ import annotations

import re
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..filesystem import FileOps
from .action import DataFlowAction, SimpleAction
from .entities import DataFlowEntities
from .exceptions import DataFlowException, FlowValidationException
from .flow import DataFlow, FlowContext, MetadataExtension

_LABEL_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

CONF_REMOVE_TEMP = "spark.waimak.dataflow.removeTempAfterExecution"
CONF_CACHE_ONLY_REUSED = "spark.waimak.dataflow.cacheOnlyReusedLabels"


def _validate_label(label: str) -> str:
    if not _LABEL_RE.match(label):
        raise FlowValidationException(
            f"Label [{label}] is not a valid SQL temp-view name"
        )
    return label


class SparkFlowContext(FlowContext):
    """Context handed to action bodies: session + temp folder + file ops."""

    def __init__(self, spark: SparkSession, temp_folder: str | None = None):
        self.spark = spark
        self.temp_folder = temp_folder
        self.file_ops = FileOps(spark)

    def get_boolean(self, key: str, default: bool) -> bool:
        v = self.spark.conf.get(key, str(default).lower())
        return str(v).lower() == "true"

    def get_long(self, key: str, default: int) -> int:
        return int(self.spark.conf.get(key, str(default)))

    def get_string(self, key: str, default: str) -> str:
        return self.spark.conf.get(key, default)


class SparkDataFlow(DataFlow):
    """DataFlow with a SparkSession and the Spark action library."""

    context: SparkFlowContext

    def __init__(self, spark: SparkSession, temp_folder: str | None = None):
        super().__init__(SparkFlowContext(spark, temp_folder))

    @property
    def spark(self) -> SparkSession:
        return self.context.spark

    @property
    def temp_folder(self) -> str | None:
        return self.context.temp_folder

    # -- combine (SparkDataFlow.scala:133-148) --------------------------------
    def combine(self, other: DataFlow):
        merged = super().combine(other)
        if self.temp_folder is None and getattr(other, "temp_folder", None):
            merged = merged._copy(
                context=SparkFlowContext(self.spark, other.temp_folder))
        return merged

    # -- lifecycle overrides -------------------------------------------------
    def executed(self, action: DataFlowAction, outputs: Sequence[Optional[Any]]):
        flow = super().executed(action, outputs)
        # register sql-referenced labels as temp views as soon as produced,
        # on the completing thread, to avoid consumer races
        for label, value in zip(action.output_labels, outputs):
            if label in flow.sql_tables and isinstance(value, DataFrame):
                value.createOrReplaceTempView(label)
        return flow

    def prepare_for_execution(self):
        flow = super().prepare_for_execution()
        # seed inputs referenced by sql actions
        for label in flow.sql_tables & flow.inputs.labels():
            v = flow.inputs[label]
            if isinstance(v, DataFrame):
                v.createOrReplaceTempView(label)
        if flow.temp_folder:
            flow.context.file_ops.delete(flow.temp_folder, recursive=True)
            flow.context.file_ops.mkdirs(flow.temp_folder)
        return flow

    def finalise_execution(self):
        if self.temp_folder and self.context.get_boolean(CONF_REMOVE_TEMP, True):
            self.context.file_ops.delete(self.temp_folder, recursive=True)
        return self

    # ======================= sources (§2.2) ==================================
    def open(self, label: str, opener: Callable[[SparkFlowContext], DataFrame]):
        """Generic open: any ``context -> DataFrame`` lambda."""
        _validate_label(label)
        return self.add_action(
            SimpleAction([], [label], lambda _i, c: [opener(c)], name=f"open:{label}")
        )

    def open_parquet(self, base_path: str, *labels: str,
                     snapshot_folder: str | None = None,
                     output_prefix: str | None = None,
                     options: dict[str, str] | None = None):
        """Folder-per-label Parquet: reads ``base_path/label[/snapshot]``."""
        flow = self
        for label in labels:
            out = f"{output_prefix}_{label}" if output_prefix else label
            path = f"{base_path}/{label}"
            if snapshot_folder:
                path = f"{path}/{snapshot_folder}"
            flow = flow.open_file_parquet(path, out, options=options)
        return flow

    def open_file_parquet(self, path: str, label: str,
                          options: dict[str, str] | None = None):
        """Single complete path (glob allowed)."""
        _validate_label(label)
        opts = options or {}

        def body(_i: DataFlowEntities, c: SparkFlowContext):
            return [c.spark.read.options(**opts).parquet(path)]

        return self.add_action(SimpleAction([], [label], body, name=f"openParquet:{label}"))

    def open_csv(self, base_path: str, *labels: str,
                 snapshot_folder: str | None = None,
                 output_prefix: str | None = None,
                 options: dict[str, str] | None = None):
        flow = self
        for label in labels:
            out = f"{output_prefix}_{label}" if output_prefix else label
            path = f"{base_path}/{label}"
            if snapshot_folder:
                path = f"{path}/{snapshot_folder}"
            flow = flow.open_file_csv(path, out, options=options)
        return flow

    def open_file_csv(self, path: str, label: str,
                      options: dict[str, str] | None = None):
        _validate_label(label)
        opts = {"header": "true", "inferSchema": "true"}
        opts.update(options or {})

        def body(_i: DataFlowEntities, c: SparkFlowContext):
            return [c.spark.read.options(**opts).csv(path)]

        return self.add_action(SimpleAction([], [label], body, name=f"openCSV:{label}"))

    def open_file_json(self, path: str, label: str,
                       options: dict[str, str] | None = None,
                       schema: str | None = None):
        """JSON lines source (single complete path, glob allowed).  Pass an
        explicit ``schema`` DDL string at scale — schema inference is a
        full extra pass over the data."""
        _validate_label(label)
        opts = options or {}

        def body(_i: DataFlowEntities, c: SparkFlowContext):
            reader = c.spark.read.options(**opts)
            if schema is not None:
                reader = reader.schema(schema)
            return [reader.json(path)]

        return self.add_action(
            SimpleAction([], [label], body, name=f"openJSON:{label}"))

    def open_file_orc(self, path: str, label: str,
                      options: dict[str, str] | None = None):
        """ORC source (single complete path, glob allowed)."""
        _validate_label(label)
        opts = options or {}

        def body(_i: DataFlowEntities, c: SparkFlowContext):
            return [c.spark.read.options(**opts).orc(path)]

        return self.add_action(
            SimpleAction([], [label], body, name=f"openORC:{label}"))

    def open_table(self, db_name: str, *table_names: str,
                   label_prefix: str | None = None):
        """Metastore tables via ``select * from db.table``."""
        flow = self
        for t in table_names:
            label = f"{label_prefix}_{t}" if label_prefix else t
            _validate_label(label)

            def body(_i, c, db=db_name, tbl=t):
                return [c.spark.table(f"{db}.{tbl}")]

            flow = flow.add_action(
                SimpleAction([], [label], body, name=f"openTable:{db_name}.{t}")
            )
        return flow

    # ===================== transformations (§2.3) =============================
    def transform(self, *input_labels: str, output: str,
                  fn: Callable[..., DataFrame]):
        """Variadic 1..N → 1 transform; ``fn`` receives one DataFrame per input."""
        _validate_label(output)

        def body(i: DataFlowEntities, _c):
            return [fn(*[i.get(l) for l in input_labels])]

        return self.add_action(
            SimpleAction(list(input_labels), [output], body, name=f"transform:{output}")
        )

    def typed_transform(self, *input_labels: str, output: str,
                        fn: Callable[..., Any]):
        """Transform whose output may be any Python object (Dataset => T)."""
        def body(i: DataFlowEntities, _c):
            return [fn(*[i.get(l) for l in input_labels])]

        return self.add_action(
            SimpleAction(list(input_labels), [output], body,
                         name=f"typedTransform:{output}")
        )

    def unit_transform(self, *input_labels: str, fn: Callable[..., None],
                       name: str = "unitTransform"):
        """Side-effecting action with no outputs (base of all writes)."""
        def body(i: DataFlowEntities, _c):
            fn(*[i.get(l) for l in input_labels])
            return []

        return self.add_action(SimpleAction(list(input_labels), [], body, name=name))

    def sql(self, *input_labels: str, output: str, query: str,
            drop_columns: Sequence[str] | None = None):
        """Run Spark SQL over input labels pre-registered as temp views."""
        _validate_label(output)
        for l in input_labels:
            _validate_label(l)

        def body(_i: DataFlowEntities, c: SparkFlowContext):
            df = c.spark.sql(query)
            if drop_columns:
                df = df.drop(*drop_columns)
            return [df]

        flow = self.add_action(
            SimpleAction(list(input_labels), [output], body, name=f"sql:{output}")
        )
        flow.sql_tables |= set(input_labels)
        return flow

    def alias(self, label: str, alias: str):
        """Expose an entity under a second label (same DataFrame)."""
        _validate_label(alias)
        action = SimpleAction([label], [alias], lambda i, _c: [i.get(label)],
                              name=f"alias:{label}->{alias}")
        action.is_alias = True  # reads nothing: its label's readers do
        return self.add_action(action)

    def partition_sort(self, input_label: str, output: str,
                       partition_cols: Sequence[str],
                       sort_cols: Sequence[str] = ()):
        """repartition(cols) + sortWithinPartitions(cols) — pre-write shuffle
        control / secondary sort (package.scala:340-343)."""
        def fn(df: DataFrame) -> DataFrame:
            out = df.repartition(*[df[c] for c in partition_cols])
            if sort_cols:
                out = out.sortWithinPartitions(*sort_cols)
            return out

        return self.transform(input_label, output=output, fn=fn)

    def in_place_transform(self, label: str, fn: Callable[[DataFrame], DataFrame]):
        """Post-process a label in place by intercepting its producer."""
        from .interceptor import PostActionInterceptor, post_transform

        return PostActionInterceptor.attach(self, label, post_transform(fn))

    def debug_as_table(self, *labels: str):
        """Register labels as temp views only (debug)."""
        flow = self
        for label in labels:
            _validate_label(label)

            def body(i: DataFlowEntities, _c, l=label):
                i.get(l).createOrReplaceTempView(l)
                return []

            flow = flow.add_action(
                SimpleAction([label], [], body, name=f"debugAsTable:{label}")
            )
        return flow

    def show(self, label: str, n: int = 20, truncate: bool = True):
        return self.unit_transform(
            label, fn=lambda df: df.show(n, truncate), name=f"show:{label}"
        )

    def print_schema(self, label: str):
        return self.unit_transform(
            label, fn=lambda df: df.printSchema(), name=f"printSchema:{label}"
        )

    # ========================= caching (§2.4) =================================
    def cache_as_parquet(self, *labels: str, partitions: int | None = None,
                         partition_cols: Sequence[str] | None = None,
                         repartition: bool = True):
        """Plan-cut cache: write to temp as Parquet, re-open. Scheduled via the
        cache metadata extension (skips labels read fewer than twice when
        ``spark.waimak.dataflow.cacheOnlyReusedLabels`` is true)."""
        from ..operators.cache import CacheAsParquetExtension

        flow = self
        for label in labels:
            flow = flow.with_extension(
                CacheAsParquetExtension(label, partitions=partitions,
                                        partition_cols=partition_cols,
                                        repartition=repartition)
            )
        return flow

    def spark_cache(self, *labels: str, storage_level: str = "MEMORY_AND_DISK"):
        """df.persist(level) forced by a cheap head(1) — SparkInterceptors.scala:31-46."""
        from ..operators.cache import SparkCacheExtension

        flow = self
        for label in labels:
            flow = flow.with_extension(SparkCacheExtension(label, storage_level))
        return flow

    # ========================= sinks (§2.5) ===================================
    def write(self, label: str, pre: Callable[[DataFrame], DataFrame] | None,
              writer: Callable[[Any], None], name: str | None = None):
        """Base write: optional pre-transform then a ``df.write``-consuming fn."""
        def fn(df: DataFrame) -> None:
            if pre is not None:
                df = pre(df)
            writer(df.write)

        return self.unit_transform(label, fn=fn, name=name or f"write:{label}")

    def write_parquet(self, base_path: str, *labels: str, overwrite: bool = False):
        """N labels → ``base_path/label``; ErrorIfExists unless overwrite."""
        mode = "overwrite" if overwrite else "errorifexists"
        flow = self
        for label in labels:
            flow = flow.write(
                label, None,
                lambda w, l=label: w.mode(mode).parquet(f"{base_path}/{l}"),
                name=f"writeParquet:{label}",
            )
        return flow

    def write_partitioned_parquet(self, base_path: str, label: str,
                                  partition_cols: Sequence[str] = (),
                                  num_partitions: int | None = None,
                                  repartition: bool = True,
                                  overwrite: bool = False):
        mode = "overwrite" if overwrite else "errorifexists"

        def pre(df: DataFrame) -> DataFrame:
            if num_partitions is not None:
                return df.repartition(num_partitions)
            if partition_cols and repartition:
                return df.repartition(*[df[c] for c in partition_cols])
            return df

        def writer(w) -> None:
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.mode(mode).parquet(f"{base_path}/{label}")

        return self.write(label, pre, writer, name=f"writePartitionedParquet:{label}")

    def write_clustered_parquet(self, base_path: str, label: str,
                                cluster_cols: Sequence[str],
                                num_partitions: int | None = None,
                                overwrite: bool = False):
        """Range-partition by ``cluster_cols`` then sort within partitions
        before writing — the CLUSTER BY layout: each output file covers a
        narrow, non-overlapping range of the cluster key, so parquet
        row-group min/max statistics let later range/point scans on that
        key skip whole files. At 100 TB this is the difference between a
        full-table scan and touching a handful of files for a keyed or
        time-range read; it's the layout the storage layer's compaction
        also wants for its `_de_last_updated` reads.

        One range shuffle (with a sampling pass to pick balanced
        boundaries) + an in-partition sort — no global sort."""
        mode = "overwrite" if overwrite else "errorifexists"
        cols = list(cluster_cols)
        if not cols:
            raise DataFlowException("write_clustered_parquet needs >=1 "
                                    "cluster column")

        def pre(df: DataFrame) -> DataFrame:
            key = [df[c] for c in cols]
            ranged = (df.repartitionByRange(num_partitions, *key)
                      if num_partitions is not None
                      else df.repartitionByRange(*key))
            return ranged.sortWithinPartitions(*key)

        def writer(w) -> None:
            w.mode(mode).parquet(f"{base_path}/{label}")

        return self.write(label, pre, writer,
                          name=f"writeClusteredParquet:{label}")

    def write_zordered_parquet(self, base_path: str, label: str,
                               zorder_cols: Sequence[str],
                               bits: int | None = None,
                               num_partitions: int | None = None,
                               overwrite: bool = False):
        """Multi-column Z-order clustered write (operators/layout.py):
        where :meth:`write_clustered_parquet` gives file skipping on ONE
        leading key, the Morton-interleaved equi-depth key gives every
        file a narrow footer min/max band on EVERY listed column, so
        predicates on any of them prune files.  One quantile pass + one
        range shuffle + an in-partition sort — no global sort, no Python
        in the row path."""
        from ..operators.layout import ZORDER_BITS, zorder_layout

        mode = "overwrite" if overwrite else "errorifexists"
        cols = list(zorder_cols)
        if not cols:
            raise DataFlowException("write_zordered_parquet needs >=1 "
                                    "z-order column")

        def pre(df: DataFrame) -> DataFrame:
            return zorder_layout(df, cols, bits or ZORDER_BITS,
                                 num_partitions)

        def writer(w) -> None:
            w.mode(mode).parquet(f"{base_path}/{label}")

        return self.write(label, pre, writer,
                          name=f"writeZorderedParquet:{label}")

    def write_csv(self, base_path: str, *labels: str,
                  options: dict[str, str] | None = None,
                  overwrite: bool = False, num_files: int = 1):
        mode = "overwrite" if overwrite else "errorifexists"
        opts = {"header": "true"}
        opts.update(options or {})
        flow = self
        for label in labels:
            flow = flow.write(
                label,
                (lambda df, n=num_files: df.repartition(n)) if num_files else None,
                lambda w, l=label: w.options(**opts).mode(mode).csv(f"{base_path}/{l}"),
                name=f"writeCSV:{label}",
            )
        return flow

    def write_partitioned_csv(self, base_path: str, label: str,
                              partition_cols: Sequence[str] = (),
                              repartition: bool = True,
                              options: dict[str, str] | None = None,
                              overwrite: bool = False):
        """CSV with partition folders (package.scala:604-615): repartition
        on the partition columns so each partition directory gets one file
        per shuffle partition, then ``partitionBy().csv()``."""
        mode = "overwrite" if overwrite else "errorifexists"
        opts = {"header": "true"}
        opts.update(options or {})

        def pre(df: DataFrame) -> DataFrame:
            if partition_cols and repartition:
                return df.repartition(*[df[c] for c in partition_cols])
            return df

        def writer(w) -> None:
            w = w.options(**opts)
            if partition_cols:
                w = w.partitionBy(*list(partition_cols))
            w.mode(mode).csv(f"{base_path}/{label}")

        return self.write(label, pre, writer,
                          name=f"writePartitionedCSV:{label}")

    def write_json(self, base_path: str, *labels: str,
                   overwrite: bool = False, num_files: int = 1):
        """JSON-lines sink, one folder per label."""
        mode = "overwrite" if overwrite else "errorifexists"
        flow = self
        for label in labels:
            flow = flow.write(
                label,
                (lambda df, n=num_files: df.repartition(n)) if num_files else None,
                lambda w, l=label: w.mode(mode).json(f"{base_path}/{l}"),
                name=f"writeJSON:{label}",
            )
        return flow

    def write_orc(self, base_path: str, *labels: str,
                  overwrite: bool = False):
        """ORC sink, one folder per label."""
        mode = "overwrite" if overwrite else "errorifexists"
        flow = self
        for label in labels:
            flow = flow.write(
                label, None,
                lambda w, l=label: w.mode(mode).orc(f"{base_path}/{l}"),
                name=f"writeORC:{label}",
            )
        return flow

    def write_bucketed_table(self, db_name: str, label: str,
                             bucket_cols: Sequence[str], num_buckets: int,
                             sort_cols: Sequence[str] | None = None,
                             overwrite: bool = False,
                             append: bool = False):
        """Managed table bucketed (and optionally sorted) on the join key.

        Bucketing is the 100-TB co-location primitive: two tables bucketed
        on the same key with the same bucket count join WITHOUT a shuffle —
        the exchange that dominates large fact-fact joins disappears from
        every downstream query, paid for once at write time. Requires a
        metastore table (``saveAsTable``); plain parquet files cannot carry
        bucket metadata.

        ``append=True`` adds new rows to an EXISTING bucketed table: each
        append job writes its own bucket-tagged files (only the new batch
        is scanned and shuffled — the resident data is untouched), readers
        union the per-bucket files, and bucket pruning / shuffle-free
        joins keep working.  Spark validates that the declared bucket spec
        matches the existing table's, so a drifting ``num_buckets`` fails
        loudly instead of silently corrupting co-location.
        """
        if overwrite and append:
            raise ValueError("write_bucketed_table: overwrite and append "
                             "are mutually exclusive")
        mode = ("append" if append
                else "overwrite" if overwrite else "errorifexists")

        def writer(w) -> None:
            w = w.bucketBy(num_buckets, *list(bucket_cols))
            if sort_cols:
                w = w.sortBy(*list(sort_cols))
            w.mode(mode).format("parquet").saveAsTable(f"{db_name}.{label}")

        return self.write(label, None, writer,
                          name=f"writeBucketedTable:{db_name}.{label}")

    def write_hive_managed_table(self, db_name: str, *labels: str,
                                 overwrite: bool = False):
        mode = "overwrite" if overwrite else "errorifexists"
        flow = self
        for label in labels:
            flow = flow.write(
                label, None,
                lambda w, l=label: w.mode(mode).saveAsTable(f"{db_name}.{l}"),
                name=f"writeHiveManagedTable:{db_name}.{label}",
            )
        return flow

    def write_as_named_files(self, label: str, dest_path: str, num_files: int,
                             prefix: str, fmt: str = "parquet",
                             options: dict[str, str] | None = None):
        """Write exactly ``num_files`` files named ``prefix[.i].ext``:
        write to temp, glob part files, rename (WriteAsNamedFilesAction.scala:27-68)."""
        from ..operators.named_files import write_as_named_files_body

        if fmt == "text" and num_files > 1:
            # checkTextWriteOptions — fail at build time, not mid-flow
            raise ValueError(
                "When writing text files only 1 file is able to be written")

        return self.unit_transform(
            label,
            fn=lambda df: write_as_named_files_body(
                self.context, df, dest_path, num_files, prefix, fmt, options or {}
            ),
            name=f"writeAsNamedFiles:{label}",
        )

    # ==================== commit protocol (§2.5) ==============================
    def commit(self, commit_name: str, *labels: str,
               partitions: Sequence[str] | int | None = None,
               repartition: bool = True, cache_labels: bool = True):
        """Declare labels as part of a named commit (two-phase with push)."""
        from ..operators.commit import CommitMetadataExtension

        return CommitMetadataExtension.add_commit(
            self, commit_name, labels, partitions, repartition, cache_labels
        )

    def push(self, commit_name: str, committer: Any):
        """Bind a DataCommitter to a declared commit."""
        from ..operators.commit import CommitMetadataExtension

        return CommitMetadataExtension.add_push(self, commit_name, committer)

    # ==================== data quality (§2.8) =================================
    def add_data_quality_check(self, label: str, check, *handlers):
        """Attach a data-quality check + alert handlers to a label
        (dataquality/package.scala:16-29). Expanded at prepare time by
        the DQ metadata extension: the label is materialized once, the
        checks read the written files, alerts route by importance."""
        from ..dataquality import add_data_quality_check as _add

        return _add(self, label, check, *handlers)

    # ==================== storage layer (§2.6) ================================
    def get_or_create_audit_table(self, storage_base_path: str,
                                  *table_names: str,
                                  metadata_retrieval=None,
                                  label_prefix: str | None = "audittable",
                                  include_hot: bool = True,
                                  update_table_metadata: bool | None = None):
        """Open/create audit tables as flow entities (StorageActions.scala:145)."""
        from ..storage import actions as SA

        return SA.get_or_create_audit_table(
            self, storage_base_path, metadata_retrieval, label_prefix,
            include_hot, update_table_metadata, table_names)

    def get_audit_table(self, storage_base_path: str, *table_names: str,
                        label_prefix: str | None = "audittable",
                        include_hot: bool = True):
        from ..storage import actions as SA

        return SA.get_audit_table(self, storage_base_path, label_prefix,
                                  include_hot, table_names)

    def write_to_storage(self, label_name: str, last_updated_col: str,
                         append_dt=None, do_compaction=None,
                         audit_table_label_prefix: str = "audittable"):
        from ..storage import actions as SA

        return SA.write_to_storage(
            self, label_name, last_updated_col, append_dt,
            do_compaction or (lambda r, c, t: False),
            audit_table_label_prefix)

    def snapshot_from_storage(self, storage_base_path: str, snapshot_ts,
                              *table_names: str, include_hot: bool = True,
                              output_prefix: str | None = None):
        from ..storage import actions as SA

        return SA.snapshot_from_storage(self, storage_base_path, snapshot_ts,
                                        include_hot, output_prefix, table_names)

    def load_from_storage(self, storage_base_path: str, *table_names: str,
                          from_ts=None, to_ts=None, include_hot: bool = True,
                          output_prefix: str | None = None):
        from ..storage import actions as SA

        return SA.load_from_storage(self, storage_base_path, from_ts, to_ts,
                                    include_hot, output_prefix, table_names)


class Waimak:
    """Entry points (reference Waimak.scala:37-55)."""

    @staticmethod
    def spark_flow(spark: SparkSession, temp_folder: str | None = None) -> SparkDataFlow:
        return SparkDataFlow(spark, temp_folder)

    @staticmethod
    def spark_executor(max_parallel_actions: int = 20, priority_strategy=None):
        from .executor import ParallelDataFlowExecutor, race_to_outputs

        return ParallelDataFlowExecutor(
            max_jobs=max_parallel_actions,
            priority_strategy=priority_strategy or race_to_outputs,
        )
