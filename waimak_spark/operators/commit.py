"""Two-phase commit protocol: ``commit(name)(labels…)`` declares, ``push
(name)(committer)`` binds a committer; at prepare time the declarations are
rewritten into stage → move → finish actions ordered by tags.

Re-expresses the reference's commit machinery
(waimak-core/.../dataflow/package.scala:32-98,
CommitMetadataExtension.scala:9-129, spark/ParquetDataCommitter.scala:31-218,
CommitAction in SparkDataFlow.scala:154-204):

* stage: each committed label is written as Parquet under
  ``temp_folder/commit-<uuid>/<label>``;
* move: one atomic FS rename per label into
  ``output_base/<label>[/<snapshot_folder>]`` — fails if the destination
  snapshot already exists (exactly-once-ish commit);
* finish: snapshot cleanup strategy (keep newest N date-named snapshots)
  + optional metastore DDL sync.

Ordering is enforced purely with tags (stage tag ← move dependency; move
tag ← finish dependency), exactly like the reference wires it
(CommitMetadataExtension.scala:27-43).

A committed label with a data-quality check whose commit stage is its only
consumer action is staged by its producer: the producer's interceptor
writes it straight into ``temp_folder/commit-<uuid>/<label>`` with the
stage's own write (:func:`~.cache.write_parquet`) and re-reads it, the check reads
those files, and the stage action launches no Spark job.  A label with any
other reader than its check and this commit keeps the ``temp/<label>``
cache and is staged from it, because the move must never rename files a
later action still reads.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence


from ..dataflow.action import SimpleAction
from ..dataflow.exceptions import DataFlowException, FlowValidationException
from ..dataflow.flow import DataFlow, MetadataExtension
from ..dataflow.interceptor import PostActionInterceptor
from .cache import (_mark_cached, checked, materialize, parquet_cached,
                    readers, write_parquet)

CONF_CACHE_COMMITTED = "spark.waimak.dataflow.cacheReusedCommittedLabels"


@dataclass(frozen=True)
class CommitEntry:
    label: str
    partitions: Optional[Sequence[str]] = None  # partition columns
    num_partitions: Optional[int] = None
    repartition: bool = True
    cache: bool = True

    @property
    def layout(self) -> tuple:
        """``write_parquet``'s layout arguments for this label."""
        return self.num_partitions, list(self.partitions or []), self.repartition


class DataCommitter:
    """Committer contract: validate → stage → move → finish."""

    def validate(self, flow: DataFlow, commit_name: str,
                 entries: list[CommitEntry]) -> None: ...

    def stage(self, flow: DataFlow, commit_name: str, commit_uuid: str,
              entries: list[CommitEntry]) -> DataFlow:
        raise NotImplementedError

    def move(self, flow: DataFlow, commit_name: str, commit_uuid: str,
             entries: list[CommitEntry]) -> DataFlow:
        raise NotImplementedError

    def finish(self, flow: DataFlow, commit_name: str, commit_uuid: str,
               entries: list[CommitEntry]) -> DataFlow:
        raise NotImplementedError


class CommitMetadataExtension(MetadataExtension):
    """Accumulates commit/push declarations; expands them at prepare time."""

    def __init__(self,
                 commits: dict[str, list[CommitEntry]] | None = None,
                 pushes: dict[str, DataCommitter] | None = None):
        self.commits = dict(commits or {})
        self.pushes = dict(pushes or {})

    # -- builder hooks ------------------------------------------------------
    @staticmethod
    def _current(flow: DataFlow) -> tuple[DataFlow, "CommitMetadataExtension"]:
        existing = flow.get_extensions_of_type(CommitMetadataExtension)
        if existing:
            ext = existing[0]
            new = CommitMetadataExtension(ext.commits, ext.pushes)
            flow = flow.without_extension(ext).with_extension(new)
            return flow, new
        new = CommitMetadataExtension()
        return flow.with_extension(new), new

    @staticmethod
    def add_commit(flow: DataFlow, name: str, labels: Sequence[str],
                   partitions: Sequence[str] | int | None,
                   repartition: bool, cache: bool) -> DataFlow:
        flow, ext = CommitMetadataExtension._current(flow)
        entries = list(ext.commits.get(name, []))
        seen = {e.label for e in entries}
        for label in labels:
            if label in seen:
                raise FlowValidationException(
                    f"Label [{label}] already declared in commit [{name}]"
                )
            part_cols = partitions if isinstance(partitions, (list, tuple)) else None
            n_parts = partitions if isinstance(partitions, int) else None
            entries.append(CommitEntry(label, part_cols, n_parts, repartition, cache))
        ext.commits[name] = entries
        return flow

    @staticmethod
    def add_push(flow: DataFlow, name: str, committer: DataCommitter) -> DataFlow:
        flow, ext = CommitMetadataExtension._current(flow)
        if name in ext.pushes:
            raise FlowValidationException(f"Commit [{name}] already has a committer")
        ext.pushes[name] = committer
        return flow

    # -- expansion -----------------------------------------------------------
    def pre_execution(self, flow: DataFlow) -> DataFlow:
        flow = flow.without_extension(self)
        no_push = set(self.commits) - set(self.pushes)
        no_commit = set(self.pushes) - set(self.commits)
        if no_push or no_commit:
            raise FlowValidationException(
                f"Commits without pushes: {sorted(no_push)}; "
                f"pushes without commits: {sorted(no_commit)}"
            )
        # every committed label must be produced by some action or provided
        # as an input — report per commit, before the synthetic stage actions
        # would turn this into a generic dangling-dependency error
        # (CommitMetadataExtension.scala's validation, surfaced in
        # TestSparkCommitter.scala:169-185 as "Commit definitions with
        # labels that are not produced by any action")
        produced = {l for a in flow.actions for l in a.output_labels}
        produced |= flow.inputs.labels()
        unproduced = {
            name: sorted({e.label for e in entries} - produced)
            for name, entries in self.commits.items()
        }
        unproduced = {k: v for k, v in unproduced.items() if v}
        if unproduced:
            detail = ", ".join(
                f"{k} -> {{{', '.join(v)}}}" for k, v in sorted(unproduced.items()))
            raise FlowValidationException(
                "Commit definitions with labels that are not produced by "
                f"any action: [{detail}]")
        cache_committed = flow.context.get_boolean(CONF_CACHE_COMMITTED, True)
        # the commits not expanded yet stay declared, so that their stages
        # count as readers of their labels while each commit is expanded
        pending = dict(self.commits)
        for name, entries in self.commits.items():
            declared = CommitMetadataExtension(pending)
            flow = flow.with_extension(declared)
            committer = self.pushes[name]
            committer.validate(flow, name, entries)
            commit_uuid = uuid.uuid4().hex
            reused = [e.label for e in entries
                      if cache_committed and e.cache
                      and readers(flow, e.label) > 1]
            stage_tag = f"commit_{name}_stage"
            move_tag = f"commit_{name}_move"
            flow = flow.tagged(stage_tag)(
                lambda f: committer.stage(f, name, commit_uuid, entries)
            )
            flow = flow.tag_dependency(stage_tag)(
                lambda f: f.tagged(move_tag)(
                    lambda g: committer.move(g, name, commit_uuid, entries)
                )
            )
            flow = flow.tag_dependency(move_tag)(
                lambda f: committer.finish(f, name, commit_uuid, entries)
            )
            del pending[name]
            flow = flow.without_extension(declared)
            # a label its producer stages is already materialized; a flow
            # without a temp folder materializes nothing
            reused = [l for l in reused if not parquet_cached(flow, l)]
            if reused and getattr(flow.context, "temp_folder", None):
                flow = flow.cache_as_parquet(*reused)
        return flow


def staged_by_producer(flow: DataFlow, label: str) -> bool:
    """True when the commit being expanded and the label's data-quality
    check are its only readers, so its producer can write it straight into
    the commit's staging folder.  A label some other action reads keeps
    its own cache: the move renames the staging folder away."""
    return (checked(flow, label) and readers(flow, label) == 2
            and not parquet_cached(flow, label))


# ---------------------------------------------------------------------------
# Snapshot cleanup strategies (ParquetDataCommitter.scala:142-159)
# ---------------------------------------------------------------------------

CleanupStrategy = Callable[["object", str, list[str]], list[str]]
# (file_ops, table_path, snapshot_dir_names) -> dir names to DELETE


def date_based_snapshot_cleanup(col_name: str, keep_n: int) -> CleanupStrategy:
    """Keep the newest ``keep_n`` snapshot folders named ``col=TIMESTAMP``."""

    prefix = f"{col_name}="

    def strategy(_ops, _table_path: str, snapshots: list[str]) -> list[str]:
        dated = sorted(s for s in snapshots if s.startswith(prefix))
        return dated[:-keep_n] if len(dated) > keep_n else []

    return strategy


class ParquetDataCommitter(DataCommitter):
    """Stage to temp as Parquet → atomic rename into the output base →
    cleanup old snapshots (+ optional metastore sync)."""

    def __init__(self, output_base: str,
                 snapshot_folder: str | None = None,
                 cleanup_strategy: CleanupStrategy | None = None,
                 metastore_connector=None, metastore_db: str | None = None):
        self.output_base = output_base
        self.snapshot_folder = snapshot_folder
        self.cleanup_strategy = cleanup_strategy
        self.metastore_connector = metastore_connector
        self.metastore_db = metastore_db

    # -- validation (ParquetDataCommitter.scala:105-124) -----------------------
    def validate(self, flow: DataFlow, commit_name: str,
                 entries: list[CommitEntry]) -> None:
        if flow.context.temp_folder is None:
            raise FlowValidationException(
                f"Commit [{commit_name}]: ParquetDataCommitter needs a flow temp folder"
            )
        if self.cleanup_strategy is not None and self.snapshot_folder is None:
            raise FlowValidationException(
                f"Commit [{commit_name}]: cleanup strategy requires a snapshot folder"
            )
        if self.snapshot_folder is not None:
            ops = flow.context.file_ops
            for e in entries:
                dest = f"{self.output_base}/{e.label}/{self.snapshot_folder}"
                if ops.exists(dest):
                    raise FlowValidationException(
                        f"Commit [{commit_name}]: snapshot [{dest}] already exists"
                    )

    def _staging(self, flow: DataFlow, commit_uuid: str) -> str:
        return f"{flow.context.temp_folder}/commit-{commit_uuid}"

    def stage(self, flow, commit_name, commit_uuid, entries):
        staging = self._staging(flow, commit_uuid)
        for e in entries:
            path = f"{staging}/{e.label}"
            if staged_by_producer(flow, e.label):
                def post(_l, value, context, e=e, path=path):
                    if value is None:
                        return None
                    return materialize(context, value, path, *e.layout)

                flow = PostActionInterceptor.attach(flow, e.label, post)
                flow = _mark_cached(flow, e.label, "parquet_cached_labels")

                def body(_i, _c):
                    return []
            else:
                def body(i, _c, e=e, path=path):
                    write_parquet(i.get(e.label), path, *e.layout)
                    return []

            flow = flow.add_action(
                SimpleAction([e.label], [], body, name=f"commitStage:{e.label}")
            )
        return flow

    def move(self, flow, commit_name, commit_uuid, entries):
        staging = self._staging(flow, commit_uuid)
        committer = self

        def body(_i, c):
            ops = c.file_ops
            for e in entries:
                dest = f"{committer.output_base}/{e.label}"
                if committer.snapshot_folder:
                    dest = f"{dest}/{committer.snapshot_folder}"
                # re-check at move time (not just prepare-time validate):
                # a concurrent or re-run commit must fail, never silently
                # overwrite an existing destination/snapshot (exactly-once)
                if ops.exists(dest):
                    raise DataFlowException(
                        f"Commit [{commit_name}]: destination [{dest}] already exists"
                    )
                ops.move_overwrite_folder(f"{staging}/{e.label}", dest)
            return []

        return flow.add_action(
            SimpleAction([], [], body, name=f"commitMove:{commit_name}",
                         requires_all_inputs=False)
        )

    def finish(self, flow, commit_name, commit_uuid, entries):
        committer = self

        def body(_i, c):
            ops = c.file_ops
            for e in entries:
                table_path = f"{committer.output_base}/{e.label}"
                if committer.cleanup_strategy is not None:
                    snaps = ops.list_dirs(table_path)
                    for victim in committer.cleanup_strategy(ops, table_path, snaps):
                        ops.delete(f"{table_path}/{victim}", recursive=True)
                if committer.metastore_connector is not None:
                    committer.metastore_connector.update_table_location(
                        committer.metastore_db, e.label,
                        f"{table_path}/{committer.snapshot_folder}"
                        if committer.snapshot_folder else table_path,
                        partition_cols=list(e.partitions or []),
                    )
            ops.delete(f"{c.temp_folder}/commit-{commit_uuid}", recursive=True)
            return []

        return flow.add_action(
            SimpleAction([], [], body, name=f"commitFinish:{commit_name}",
                         requires_all_inputs=False)
        )
