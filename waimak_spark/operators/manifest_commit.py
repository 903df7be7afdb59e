"""Rename-free manifest commit for object stores.

The reference's ``ParquetDataCommitter`` publishes data by atomically
renaming a staged directory (CommitAction, SparkDataFlow.scala:154-204) —
correct on HDFS, but object stores have no atomic directory rename: a
"rename" is a per-object copy+delete, so readers can observe half-moved
tables. SURVEY §7.3 flags this; the manifest committer is the standard
rename-free answer (the core idea behind Delta/Iceberg commit logs,
reduced to the engine's needs):

* **stage** — write each label's Parquet straight into its final bucket at
  ``output_base/<label>/_data/<commit_uuid>/`` (data never moves again; an
  uncommitted data dir is invisible garbage, not a torn table);
* **move** — the commit point: publish ONE commit-level manifest
  ``output_base/_manifests/manifest-<version>.json`` naming every label's
  data dir, via a **create-exclusive** write (``FileSystem.create`` with
  ``overwrite=false`` — namenode-arbitrated on HDFS, a conditional PUT on
  stores that support it). Two racing commits contend on the same version
  number and exactly one create succeeds; there is no exists()+rename
  TOCTOU window, and because ALL labels of a commit live in one manifest
  file, multi-label publication is all-or-nothing — a reader can never see
  label A at the new version and label B at the old one. Labels not part
  of this commit are carried forward from the previous manifest;
* **finish** — retire manifests beyond ``keep_versions`` and delete data
  dirs referenced by no live manifest.

Readers resolve the newest *readable* manifest and scan only the data dir
it names (:func:`read_manifest_table`): a manifest file observed mid-write
(created but not yet fully flushed — possible because create-exclusive
publishes content non-atomically) parses as garbage and is skipped, so
readers fall back to the previous committed version instead of failing.
"""

from __future__ import annotations

import json
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..dataflow.action import SimpleAction
from ..dataflow.exceptions import DataFlowException, FlowValidationException
from .cache import write_parquet
from .commit import CommitEntry, DataCommitter

_MANIFEST_RE = re.compile(r"^manifest-(\d{10})\.json$")
MANIFESTS_DIR = "_manifests"
DATA_DIR = "_data"


def _manifest_name(version: int) -> str:
    return f"manifest-{version:010d}.json"


def _list_versions(ops, output_base: str) -> list[int]:
    mdir = f"{output_base}/{MANIFESTS_DIR}"
    if not ops.exists(mdir):
        return []
    out = []
    for f in ops.list_files(mdir):
        m = _MANIFEST_RE.match(f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _try_read_manifest(ops, output_base: str, version: int) -> Optional[dict]:
    """Manifest contents, or None when the file is unreadable/garbage —
    i.e. a racing writer has created it but not finished flushing."""
    try:
        m = json.loads(ops.read_string(
            f"{output_base}/{MANIFESTS_DIR}/{_manifest_name(version)}"))
        return m if isinstance(m, dict) and "labels" in m else None
    except Exception:
        return None


def _read_manifest(ops, output_base: str, version: int) -> dict:
    m = _try_read_manifest(ops, output_base, version)
    if m is None:
        raise DataFlowException(
            f"No readable manifest version {version} under [{output_base}]")
    return m


def latest_manifest(ops, output_base: str) -> Optional[tuple[int, dict]]:
    """Newest READABLE manifest (version, contents), skipping any version
    whose file exists but does not parse (a commit in flight)."""
    for v in reversed(_list_versions(ops, output_base)):
        m = _try_read_manifest(ops, output_base, v)
        if m is not None:
            return v, m
    return None


def current_version(ops, output_base: str) -> Optional[int]:
    found = latest_manifest(ops, output_base)
    return found[0] if found else None


def read_manifest_table(spark: SparkSession, output_base: str, label: str,
                        version: int | None = None) -> DataFrame:
    """Load one label as of the newest (or a specific) manifest version."""
    from ..filesystem import FileOps

    ops = FileOps(spark)
    if version is not None:
        manifest = _read_manifest(ops, output_base, version)
    else:
        found = latest_manifest(ops, output_base)
        if found is None:
            raise DataFlowException(
                f"No committed manifest under [{output_base}]")
        manifest = found[1]
    entry = manifest["labels"].get(label)
    if entry is None:
        raise DataFlowException(
            f"Label [{label}] is not part of manifest version "
            f"{manifest['version']} under [{output_base}]")
    return spark.read.parquet(entry["data_path"])


class ManifestParquetDataCommitter(DataCommitter):
    """Object-store-safe committer: immobile data dirs + one atomic
    commit-level manifest per push. Drop-in alternative to
    ``ParquetDataCommitter`` in ``push(name)(committer)``."""

    def __init__(self, output_base: str, keep_versions: int = 3):
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self.output_base = output_base
        self.keep_versions = keep_versions

    def validate(self, flow, commit_name: str,
                 entries: list[CommitEntry]) -> None:
        # no temp folder needed — data stages into its final bucket
        if not entries:
            raise FlowValidationException(
                f"Commit [{commit_name}]: no labels declared")

    def _data_path(self, label: str, commit_uuid: str) -> str:
        return f"{self.output_base}/{label}/{DATA_DIR}/{commit_uuid}"

    def stage(self, flow, commit_name, commit_uuid, entries):
        for e in entries:
            def body(i, _c, e=e):
                write_parquet(i.get(e.label),
                              self._data_path(e.label, commit_uuid), *e.layout)
                return []

            flow = flow.add_action(SimpleAction(
                [e.label], [], body, name=f"manifestStage:{e.label}"))
        return flow

    def move(self, flow, commit_name, commit_uuid, entries):
        committer = self

        def body(_i, c):
            ops = c.file_ops
            base = committer.output_base
            ops.mkdirs(f"{base}/{MANIFESTS_DIR}")
            prev = latest_manifest(ops, base)
            # next version counts EVERY manifest file, readable or not: a
            # writer that crashed between create-exclusive and flush leaves
            # unreadable garbage at its version — deriving from the latest
            # READABLE version would retarget that slot forever ("lost the
            # race" on every retry, permanent wedge). Burning the garbage
            # version number instead keeps commits live; readers skip it
            # and finish() retires it with age like any other version.
            all_versions = _list_versions(ops, base)
            version = (all_versions[-1] + 1) if all_versions else 0
            # carry forward labels committed earlier but not in this push,
            # so the newest manifest is always a complete table of contents
            labels = dict(prev[1]["labels"]) if prev is not None else {}
            for e in entries:
                labels[e.label] = {
                    "data_path": committer._data_path(e.label, commit_uuid),
                    "partitions": list(e.partitions or []),
                }
            manifest = {
                "version": version,
                "commit_uuid": commit_uuid,
                "commit_name": commit_name,
                "labels": labels,
            }
            final = f"{base}/{MANIFESTS_DIR}/{_manifest_name(version)}"
            # create-exclusive IS the commit point: of two racing commits
            # targeting the same version number exactly one create
            # succeeds, and since every label of this push is inside this
            # ONE file, multi-label publication is all-or-nothing
            if not ops.write_string_exclusive(final, json.dumps(manifest)):
                raise DataFlowException(
                    f"Commit [{commit_name}]: lost the race publishing "
                    f"version {version} under [{base}]")
            return []

        return flow.add_action(SimpleAction(
            [], [], body, name=f"manifestMove:{commit_name}",
            requires_all_inputs=False))

    def finish(self, flow, commit_name, commit_uuid, entries):
        committer = self

        def body(_i, c):
            ops = c.file_ops
            base = committer.output_base
            versions = _list_versions(ops, base)
            retired = versions[:-committer.keep_versions] \
                if len(versions) > committer.keep_versions else []
            live = [v for v in versions if v not in retired]
            live_dirs = set()
            for v in live:
                m = _try_read_manifest(ops, base, v)
                if m is not None:
                    live_dirs.update(e["data_path"]
                                     for e in m["labels"].values())
            for v in retired:
                m = _try_read_manifest(ops, base, v)
                if m is not None:
                    for e in m["labels"].values():
                        data = e["data_path"]
                        if data not in live_dirs and ops.exists(data):
                            ops.delete(data, recursive=True)
                ops.delete(f"{base}/{MANIFESTS_DIR}/{_manifest_name(v)}",
                           recursive=False)
            return []

        return flow.add_action(SimpleAction(
            [], [], body, name=f"manifestFinish:{commit_name}",
            requires_all_inputs=False))
