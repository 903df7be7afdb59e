"""Caching extensions: cacheAsParquet (plan-cut via write+re-read under the
temp folder) and sparkCache (persist + force).

Re-expresses SparkInterceptors.scala:31-65 and
CacheMetadataExtension.scala:9-82. The "cache only if reused" analysis —
skip the cache when a label has fewer than two readers, governed by
``spark.waimak.dataflow.cacheOnlyReusedLabels`` (default true) — is the
reference's answer to repeated-subplan execution; write+re-read truncates
lineage, spills to disk, and survives executor loss, which at 100 TB is far
more robust than ``persist(MEMORY_AND_DISK)``.

A label's readers (:func:`readers`) are its consumer actions, its
data-quality checks and the commits that declare it and have not been
expanded yet (each will add a stage action reading it); an alias counts
the readers of the label it publishes.  A check runs
after every post-action of its label, so a cached checked label is checked
on the cached value.  A re-read passes the schema of the frame it wrote
minus its partition columns (:func:`materialize`), so it launches no
schema-inference job; partition value types are still inferred from the
directory names, as a plain read infers them.
"""

from __future__ import annotations

import dataclasses
from typing import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..dataflow.flow import (
    CONF_EXTENSIONS,
    DataFlow,
    DataFlowConfigurationExtension,
    MetadataExtension,
    register_configuration_extension,
)
from ..dataflow.interceptor import PostActionInterceptor
from ..dataflow.spark_flow import CONF_CACHE_ONLY_REUSED
from ..filesystem import nullable, read_parquet


def _producer(flow: DataFlow, label: str):
    return next((a for a in flow.actions if label in a.output_labels), None)


def checked(flow: DataFlow, label: str) -> bool:
    """True when a data-quality check reads ``label``: attached to its
    producer, or declared on the flow and not yet expanded."""
    from ..dataquality.core import DataQualityMetadataExtension

    return label in getattr(_producer(flow, label), "checks", {}) or any(
        m.label == label
        for e in flow.get_extensions_of_type(DataQualityMetadataExtension)
        for m in e.meta)


def readers(flow: DataFlow, label: str) -> int:
    """How many times ``label`` will be read: once per consumer action, once
    for its data-quality checks, and once per commit that declares it and
    has not been expanded into stage actions yet.  An alias republishes the
    same DataFrame and reads nothing, so it counts its own label's readers."""
    from .commit import CommitMetadataExtension

    actions = sum(
        (readers(flow, a.output_labels[0]) if getattr(a, "is_alias", False)
         else 1)
        for a in flow.actions if label in a.input_labels)
    commits = sum(e.label == label
                  for c in flow.get_extensions_of_type(CommitMetadataExtension)
                  for entries in c.commits.values() for e in entries)
    return actions + commits + checked(flow, label)


def parquet_cached(flow: DataFlow, label: str) -> bool:
    return label in getattr(_producer(flow, label), "parquet_cached_labels", ())


def _mark_cached(flow: DataFlow, label: str, attr: str) -> DataFlow:
    """Record on the producer's interceptor that ``label`` is already
    cached so a second cache request becomes a no-op — an explicit
    ``cache_as_parquet`` plus the commit extension's auto-cache of reused
    committed labels would otherwise stack two write+re-read posts on one
    label: the second overwrite deletes the files the first one's re-read
    plan points at (self-overwrite read failure). One cache per label,
    like the reference.  Every later re-wrap of the producer keeps the
    mark (``PostActionInterceptor.attach`` copies the interceptor)."""
    producer = _producer(flow, label)
    setattr(producer, attr, getattr(producer, attr) | {label})
    return flow


def write_parquet(df: DataFrame, path: str, num_partitions: int | None = None,
                  partition_cols: Sequence[str] = (),
                  repartition: bool = True) -> DataFrame:
    """Overwrite ``path`` with ``df`` as Parquet: repartitioned to
    ``num_partitions``, else by ``partition_cols`` (unless ``repartition``
    is false), and laid out by ``partition_cols``.  Returns the frame as
    written."""
    if num_partitions is not None:
        df = df.repartition(num_partitions)
    elif partition_cols and repartition:
        df = df.repartition(*[df[c] for c in partition_cols])
    w = df.write
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.mode("overwrite").parquet(path)
    return df


def materialize(context, df: DataFrame, path: str,
                num_partitions: int | None = None,
                partition_cols: Sequence[str] = (),
                repartition: bool = True) -> DataFrame:
    """Write ``df`` to ``path`` (:func:`write_parquet`) and re-read it,
    given the written schema — what inference over the files would return
    — so the re-read launches no Spark job.  Partition columns are left
    out of it, as the writer leaves them out of the files: their types are
    inferred from the directory names, as a plain read infers them."""
    written = write_parquet(df, path, num_partitions, partition_cols,
                            repartition)
    keys = {c.lower() for c in partition_cols}
    schema = StructType([f for f in nullable(written.schema).fields
                         if f.name.lower() not in keys])
    return read_parquet(context.spark, path, schema=schema)


class CacheAsParquetExtension(MetadataExtension):
    def __init__(self, label: str, partitions: int | None = None,
                 partition_cols: Sequence[str] | None = None,
                 repartition: bool = True):
        self.label = label
        self.partitions = partitions
        self.partition_cols = list(partition_cols or [])
        self.repartition = repartition

    def pre_execution(self, flow: DataFlow) -> DataFlow:
        flow = flow.without_extension(self)
        only_reused = flow.context.get_boolean(CONF_CACHE_ONLY_REUSED, True)
        if only_reused and readers(flow, self.label) < 2:
            return flow
        if parquet_cached(flow, self.label):
            return flow  # already cached — never stack a second write+re-read

        ext = self

        def post(label: str, value, context):
            if value is None:
                return None
            if context.temp_folder is None:
                raise ValueError("cache_as_parquet requires a flow temp folder")
            return materialize(context, value, f"{context.temp_folder}/{label}",
                               ext.partitions, ext.partition_cols,
                               ext.repartition)

        flow = PostActionInterceptor.attach(flow, self.label, post)
        return _mark_cached(flow, self.label, "parquet_cached_labels")


class SparkCacheExtension(MetadataExtension):
    def __init__(self, label: str, storage_level: str = "MEMORY_AND_DISK"):
        self.label = label
        self.storage_level = storage_level

    def pre_execution(self, flow: DataFlow) -> DataFlow:
        flow = flow.without_extension(self)
        only_reused = flow.context.get_boolean(CONF_CACHE_ONLY_REUSED, True)
        if only_reused and readers(flow, self.label) < 2:
            return flow
        if self.label in getattr(_producer(flow, self.label),
                                 "spark_cached_labels", ()):
            return flow
        level = getattr(StorageLevel, self.storage_level)

        def post(_label: str, value, _context):
            if value is None:
                return None
            df: DataFrame = value.persist(level)
            df.head(1)  # cheap forcing action (vs rdd.isEmpty in the reference)
            return df

        flow = PostActionInterceptor.attach(flow, self.label, post)
        return _mark_cached(flow, self.label, "spark_cached_labels")


# ---------------------------------------------------------------------------
# Conf-driven cache extensions (CacheConfigurationExtension.scala:6-29):
# enabled by listing their key in ``spark.waimak.dataflow.extensions``;
# each parses ``spark.waimak.dataflow.extensions.<key>.{cacheAll,cacheLabels}``
# and routes through the same flow methods as the programmatic API, so the
# cache-only-if-reused rule and the one-cache-per-label guard apply equally.
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class _CacheExtensionConf:
    """CacheConfigurationExtensionConf (CacheConfigurationExtension.scala:29)."""

    cacheAll: bool = False
    cacheLabels: list[str] = dataclasses.field(default_factory=list)


class CacheConfigurationExtension(DataFlowConfigurationExtension):
    """Shared conf-parse + label-enumeration for the two cache extensions.

    With ``cacheAll`` every output label of every action is cached (the
    reference's ``flow.actions.flatMap(_.outputLabels)``); otherwise only
    the comma-separated ``cacheLabels``."""

    def _labels_to_cache(self, flow) -> list[str]:
        from ..app.config import parse_config

        conf = parse_config(
            _CacheExtensionConf, flow.context,
            f"{CONF_EXTENSIONS}.{self.extension_key}.")
        if conf.cacheAll:
            return [l for a in flow.actions for l in a.output_labels]
        return conf.cacheLabels

    def pre_execution_manipulation(self, flow):
        return self.cache_labels(flow, self._labels_to_cache(flow))

    def cache_labels(self, flow, labels):  # pragma: no cover - abstract
        raise NotImplementedError


@register_configuration_extension
class CacheAsParquetConfigurationExtension(CacheConfigurationExtension):
    extension_key = "cacheasparquet"

    def cache_labels(self, flow, labels):
        return flow.cache_as_parquet(*labels)


@register_configuration_extension
class SparkCacheConfigurationExtension(CacheConfigurationExtension):
    extension_key = "sparkcache"

    def cache_labels(self, flow, labels):
        return flow.spark_cache(*labels)
