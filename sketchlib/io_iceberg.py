"""Table I/O: Iceberg when a runtime catalog is configured, a parquet +
JSON-manifest emulation otherwise (the sandbox ships no Iceberg jar —
verified; SURVEY §7 risk register).

The north_star ingests "an Iceberg table of Common-Crawl-style web pages"
and resumes "from Iceberg-snapshot checkpoints".  Everything above this
module talks to one interface — ``TableIO`` — so swapping the emulation
for a real catalog is a constructor change, not a pipeline change:

    io = table_io(spark)                       # picks the backend
    io.write("webpages", df)                   # snapshot 1
    io.append("webpages", more)                # snapshot 2
    io.read("webpages")                        # current snapshot
    io.read("webpages", snapshot_id=1)         # time travel
    io.snapshots("webpages")                   # lineage

ParquetTableIO emulates Iceberg's core semantics honestly:
- append-only immutable data files,
- an atomically-swapped metadata pointer (manifest.json via commit_json),
- snapshot isolation + time travel (each snapshot lists its file set),
so checkpoint/restart logic developed against it carries over unchanged.

``commit_json`` is the library's one atomic commit: the table manifests
here, checkpoint manifests and streaming state files all go through it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

__all__ = ["table_io", "TableIO", "ParquetTableIO", "IcebergTableIO",
           "has_iceberg", "commit_json"]


def commit_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON: write a uniquely
    named temp file beside it, then rename it over ``path`` (atomic on
    POSIX).  A reader, or a process restarted after a crash, sees the old
    file or the new one, never a torn write.  A crash before the rename
    leaves an orphan temp file that no reader opens; each state file has
    one writer, so the next successful commit removes any such sibling."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    for orphan in glob.glob(f"{glob.escape(path)}.*.tmp"):
        with contextlib.suppress(FileNotFoundError):
            os.remove(orphan)


def has_iceberg(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when an Iceberg SparkCatalog is configured AND its classes are
    on the classpath (a config without the jar would fail at first use)."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl or "iceberg" not in impl.lower():
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # noqa: SLF001
        return True
    except Exception:
        return False


def table_io(spark: SparkSession, warehouse: str | None = None,
             catalog: str = "spark_catalog"):
    if has_iceberg(spark, catalog):
        return IcebergTableIO(spark, catalog)
    return ParquetTableIO(spark, warehouse or
                          os.environ.get("SKETCHLIB_WAREHOUSE",
                                         "/tmp/sketchlib_warehouse"))


class IcebergTableIO:
    """Thin passthrough to a real Iceberg catalog (untestable in-sandbox;
    kept minimal on purpose — the emulation below is the tested path)."""

    def __init__(self, spark: SparkSession, catalog: str):
        self.spark = spark
        self.catalog = catalog

    def _qualified(self, name: str) -> str:
        return f"{self.catalog}.{name}" if "." not in name else name

    def write(self, name: str, df: DataFrame) -> int:
        df.writeTo(self._qualified(name)).createOrReplace()
        return self.snapshots(name)[-1]["snapshot_id"]

    def append(self, name: str, df: DataFrame) -> int:
        df.writeTo(self._qualified(name)).append()
        return self.snapshots(name)[-1]["snapshot_id"]

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        reader = self.spark.read
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.table(self._qualified(name))

    def snapshots(self, name: str) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at FROM "
            f"{self._qualified(name)}.snapshots ORDER BY committed_at").collect()
        return [{"snapshot_id": r["snapshot_id"],
                 "committed_at": str(r["committed_at"])} for r in rows]


class ParquetTableIO:
    """Iceberg-semantics emulation over parquet files + manifest.json."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    # -- layout ------------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name.replace(".", "/"))

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.json")

    def _load(self, name: str) -> dict:
        path = self._manifest_path(name)
        if not os.path.exists(path):
            return {"snapshots": []}
        with open(path) as f:
            return json.load(f)

    def _write_files(self, name: str, df: DataFrame) -> str:
        data_dir = os.path.join(self._dir(name), "data",
                                uuid.uuid4().hex[:12])
        df.write.parquet(data_dir)
        return data_dir

    # -- public API ----------------------------------------------------------
    def write(self, name: str, df: DataFrame) -> int:
        """Replace the table contents (new snapshot referencing only the
        new files; old files stay for time travel)."""
        data_dir = self._write_files(name, df)
        manifest = self._load(name)
        sid = len(manifest["snapshots"]) + 1
        manifest["snapshots"].append({
            "snapshot_id": sid, "operation": "overwrite",
            "committed_at": time.time(), "file_dirs": [data_dir],
        })
        commit_json(self._manifest_path(name), manifest)
        return sid

    def append(self, name: str, df: DataFrame) -> int:
        data_dir = self._write_files(name, df)
        manifest = self._load(name)
        prev = manifest["snapshots"][-1]["file_dirs"] if manifest["snapshots"] else []
        sid = len(manifest["snapshots"]) + 1
        manifest["snapshots"].append({
            "snapshot_id": sid, "operation": "append",
            "committed_at": time.time(), "file_dirs": prev + [data_dir],
        })
        commit_json(self._manifest_path(name), manifest)
        return sid

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        manifest = self._load(name)
        if not manifest["snapshots"]:
            raise FileNotFoundError(f"no such table: {name}")
        if snapshot_id is None:
            snap = manifest["snapshots"][-1]
        else:
            snap = next((s for s in manifest["snapshots"]
                         if s["snapshot_id"] == snapshot_id), None)
            if snap is None:
                raise ValueError(
                    f"table {name} has no snapshot {snapshot_id}; "
                    f"known: {[s['snapshot_id'] for s in manifest['snapshots']]}")
        return self.spark.read.parquet(*snap["file_dirs"])

    def snapshots(self, name: str) -> list[dict]:
        return list(self._load(name)["snapshots"])
