"""Storage-layer file operations: staged Parquet writes with atomic move,
``.table_info`` metadata sidecars, the region-info cache, and a trash bin
with aged purge.

Re-expresses the reference's ``FileStorageOpsWithStaging``
(waimak-storage/.../FileStorageOps.scala:201-319) over the shared
:class:`waimak_spark.filesystem.FileOps` Hadoop-FS wrapper. Differences by
design:

* the region-info cache is a JSON sidecar under ``.regioninfo/<table>.json``
  instead of a one-row-group Parquet file — it is driver-side metadata of a
  few dozen rows, and a JSON write avoids launching a Spark job per append
  (the validation + fallback semantics are identical).  Its format is
  ``{"schema": <StructType JSON or null>, "regions": [<region>, ...]}``:
  ``schema`` is the table's data schema (partition columns excluded) when
  it is known to equal what ``mergeSchema`` inference over the table root
  would give, so reads can skip the footer-reading inference job.  A bare
  JSON list of regions (the earlier format) still reads, with no schema;
* every Parquet write stages under ``.tmp/<table>/…`` and atomically
  renames into place (FileStorageOps.scala:221-232) — on object stores the
  rename is the hook where a manifest committer would slot in.
"""

from __future__ import annotations

import json
from dataclasses import asdict
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..filesystem import FileOps, read_parquet

if TYPE_CHECKING:  # pragma: no cover
    from .audit import AuditTableInfo, AuditTableRegionInfo

TMP_DIR = ".tmp"
TRASH_DIR = ".Trash"
REGION_INFO_DIRECTORY = ".regioninfo"
TABLE_INFO_FILE = ".table_info"


class FileStorageOps:
    """Physical-storage bridge with staged writes, rooted at ``base_path``."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.fops = FileOps(spark)
        self.tmp_folder = f"{self.base_path}/{TMP_DIR}"
        self.trash_folder = f"{self.base_path}/{TRASH_DIR}"

    # -- reads -----------------------------------------------------------------
    def open_parquet(self, *paths: str,
                     schema: Optional[StructType] = None
                     ) -> Optional[DataFrame]:
        """Read one or more Parquet paths; None if any is missing or empty.

        ``mergeSchema=true`` tolerates schema evolution across regions
        (FileStorageOps.scala:208).  A given ``schema`` (data columns only)
        replaces the footer-reading inference job; it must equal what that
        inference would return.
        """
        if not paths or not all(self.fops.exists(p) for p in paths):
            return None
        try:
            # no basePath: a table-root read discovers the
            # de_store_type/de_store_region partition columns from the
            # directory layout, while a direct region-directory read
            # (compaction merge) sees only the data columns — exactly the
            # reference's openParquet behaviour
            return read_parquet(self.spark, *paths,
                                options={"mergeSchema": "true"},
                                schema=schema)
        except Exception as e:  # AnalysisException: no footers to infer from
            if "infer schema" in str(e).lower() or "PATH_NOT_FOUND" in str(e):
                return None
            raise

    # -- staged writes (FileStorageOps.scala:221-232) --------------------------
    def write_parquet(self, table_name: str, path: str, df: DataFrame,
                      overwrite: bool = True) -> None:
        """Write via ``.tmp/<table>/<leaf>`` then atomic move; with
        ``overwrite=False`` the part files are merge-moved into an existing
        directory (append to a region folder)."""
        leaf = path.rstrip("/").rsplit("/", 1)[-1]
        stage = f"{self.tmp_folder}/{table_name}/{leaf}"
        df.write.mode("overwrite").parquet(stage)
        if overwrite:
            self.fops.move_overwrite_folder(stage, path)
        else:
            self.fops.merge_move_files(stage, path)
            self.fops.delete(stage, recursive=True)

    def atomic_write_and_cleanup(self, table_name: str, df: DataFrame,
                                 new_data_path: str, cleanup_paths: list[str],
                                 append_ts_ms: int) -> None:
        """Compaction write: stage → atomic move to the new region, then
        move replaced region folders into the table's trash, grouped under
        the compaction timestamp (FileStorageOps.scala:238-248)."""
        leaf = new_data_path.rstrip("/").rsplit("/", 1)[-1]
        stage = f"{self.tmp_folder}/{table_name}/{leaf}"
        df.write.mode("overwrite").parquet(stage)
        self.fops.move_overwrite_folder(stage, new_data_path)
        trash = f"{self.trash_folder}/{table_name}/{append_ts_ms}"
        for src in cleanup_paths:
            name = src.rstrip("/").rsplit("/", 1)[-1]
            parent = src.rstrip("/").rsplit("/", 2)[-2]  # de_store_type=…
            self.fops.move_overwrite_folder(src, f"{trash}/{parent}__{name}")

    def purge_trash(self, table_name: str, now_ms: int,
                    max_age_ms: int) -> int:
        """Delete trash entries older than ``max_age_ms``; returns count
        (FileStorageOps.scala:250-261)."""
        root = f"{self.trash_folder}/{table_name}"
        purged = 0
        for name in self.fops.list_dirs(root):
            if name.isdigit() and int(name) < now_ms - max_age_ms:
                self.fops.delete(f"{root}/{name}", recursive=True)
                purged += 1
        return purged

    # -- table metadata sidecar (FileStorageOps.scala:269-307) -----------------
    def write_table_info(self, info: "AuditTableInfo") -> None:
        lines = [
            f"table_name={info.table_name}",
            "primary_keys=" + "|".join(info.primary_keys),
            f"retain_history={str(info.retain_history).lower()}",
        ]
        lines += [f"meta.{k}={v}" for k, v in sorted(info.meta.items())]
        self.fops.write_string(
            f"{self.base_path}/{info.table_name}/{TABLE_INFO_FILE}",
            "\n".join(lines) + "\n",
        )

    def read_table_info(self, table_name: str) -> "AuditTableInfo":
        from .audit import AuditTableInfo, StorageException

        path = f"{self.base_path}/{table_name}/{TABLE_INFO_FILE}"
        if not self.fops.exists(path):
            raise StorageException(f"Table [{table_name}] has no {TABLE_INFO_FILE}")
        props: dict[str, str] = {}
        for line in self.fops.read_string(path).splitlines():
            if "=" in line:
                k, v = line.split("=", 1)
                props[k.strip()] = v.strip()
        meta = {k[5:]: v for k, v in props.items() if k.startswith("meta.")}
        return AuditTableInfo(
            table_name=table_name,
            primary_keys=[p for p in props.get("primary_keys", "").split("|") if p],
            meta=meta,
            retain_history=props.get("retain_history", "true") == "true",
        )

    def list_tables(self) -> list[str]:
        return [d for d in self.fops.list_dirs(self.base_path)
                if not d.startswith(".")]

    # -- region-info cache (AuditTableFile.scala:262-281 semantics) ------------
    def _region_cache_path(self, table_name: str) -> str:
        return f"{self.base_path}/{REGION_INFO_DIRECTORY}/{table_name}.json"

    @staticmethod
    def _encode_val(v):
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return {"$ts": v.isoformat()}
        if isinstance(v, _dt.date):
            return {"$date": v.isoformat()}
        return v

    @staticmethod
    def _decode_val(v):
        import datetime as _dt

        if isinstance(v, dict):
            if "$ts" in v:
                return _dt.datetime.fromisoformat(v["$ts"])
            if "$date" in v:
                return _dt.date.fromisoformat(v["$date"])
        return v

    def write_region_cache(self, table_name: str,
                           regions: list["AuditTableRegionInfo"],
                           schema: Optional[StructType] = None) -> None:
        rows = [
            {k: self._encode_val(v) for k, v in asdict(r).items()}
            for r in regions
        ]
        doc = {"schema": schema.jsonValue() if schema is not None else None,
               "regions": rows}
        self.fops.write_string(self._region_cache_path(table_name),
                               json.dumps(doc, indent=0))

    def read_region_cache(
            self, table_name: str
    ) -> Optional[tuple[list["AuditTableRegionInfo"], Optional[StructType]]]:
        """(regions, table schema or None); None when the sidecar is
        missing or unreadable."""
        from .audit import AuditTableRegionInfo

        path = self._region_cache_path(table_name)
        if not self.fops.exists(path):
            return None
        try:
            doc = json.loads(self.fops.read_string(path))
            if isinstance(doc, list):  # earlier format: regions only
                doc = {"schema": None, "regions": doc}
            schema = doc["schema"]
            regions = [
                AuditTableRegionInfo(
                    **{k: self._decode_val(v) for k, v in r.items()})
                for r in doc["regions"]
            ]
            return regions, (StructType.fromJson(schema)
                             if schema is not None else None)
        except (ValueError, TypeError, KeyError):
            return None

    def clear_region_cache(self, table_name: str) -> None:
        self.fops.delete(self._region_cache_path(table_name), recursive=False)
