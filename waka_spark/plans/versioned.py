"""Snapshot-versioned parquet tables — the engine-side stand-in for the
Iceberg table features the north rule materializes nodes/edges into
(snapshot commits, time travel, rollback, snapshot expiry, data-file
compaction). On a cluster with Iceberg jars these calls map 1:1 onto
catalog operations (``VERSION AS OF``, ``rollback_to_snapshot``,
``expire_snapshots``, ``rewrite_data_files``); here each snapshot is a
``v{N}`` parquet dir plus a JSON manifest, and the commit point is an
atomic ``os.replace`` of the ``_CURRENT`` pointer file — the same
discipline as plans/checkpoint.py manifests and streaming/ingest.py's
merge bridge (which this module now backs).

Why it matters at 10^12 turns: the materialized KG tables are rewritten
by every streaming MERGE commit; readers must never observe a half-written
snapshot (pointer repoint is the linearization point), operators need to
diff/debug against older snapshots (time travel), a bad merge must be
undoable without data movement (rollback = pointer repoint), and
storage must not grow one full table copy per commit forever (expiry).
Compaction keeps the file count bounded: a high-frequency merge stream
otherwise accretes thousands of small files per partition and scan
planning starts to dominate (the exact problem Iceberg's
rewrite_data_files exists for).
"""

from __future__ import annotations

import json
import math
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from waka_spark.plans.checkpoint import counted_write


class VersionedTable:
    """A parquet table with Iceberg-like snapshot semantics.

    Layout::

        {path}/v0/part-*.parquet     snapshot 0 data files
        {path}/v1/...                snapshot 1
        {path}/_manifest_v1.json     rows / n_files / parent for v1
        {path}/_CURRENT              pointer: name of the live snapshot
    """

    def __init__(self, path: str) -> None:
        self.path = path

    # -- pointer ---------------------------------------------------------
    def current_version(self) -> Optional[int]:
        ptr = os.path.join(self.path, "_CURRENT")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return int(fh.read().strip().lstrip("v"))

    def versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(self.path)
            if d.startswith("v") and d[1:].isdigit()
            and os.path.isdir(os.path.join(self.path, d))
        )

    def _repoint(self, version: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, "_CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"v{version}")
        os.replace(tmp, os.path.join(self.path, "_CURRENT"))

    # -- commits ---------------------------------------------------------
    def commit(self, df: DataFrame, n_files: Optional[int] = None,
               meta: Optional[dict] = None) -> int:
        """Write ``df`` as the next snapshot and repoint. Returns the new
        version number. The data write happens BEFORE the pointer moves, so
        a crash mid-commit leaves the table on the old snapshot (readers
        resolve the pointer first, like an Iceberg catalog swap).
        ``meta`` entries are recorded in the manifest — e.g. the streaming
        bridge stamps ``batch_id`` so an at-least-once foreachBatch replay
        can recognize an already-applied batch (Iceberg's
        write-ahead-commit-property idiom). The manifest's ``rows`` is
        observed by the write job itself
        (``plans/checkpoint.counted_write``), not read back."""
        cur = self.current_version()
        version = 0 if cur is None else cur + 1
        out = df.coalesce(n_files) if n_files else df
        vdir = os.path.join(self.path, f"v{version}")
        n_rows = counted_write(out, vdir)
        files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
        manifest = {
            "version": version,
            "parent": cur,
            "rows": n_rows,
            "n_files": len(files),
            **(meta or {}),
        }
        mtmp = os.path.join(self.path, f"_manifest_v{version}.json.tmp")
        with open(mtmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(mtmp, os.path.join(self.path, f"_manifest_v{version}.json"))
        self._repoint(version)
        return version

    def manifest(self, version: int) -> dict:
        with open(os.path.join(self.path, f"_manifest_v{version}.json")) as fh:
            return json.load(fh)

    # -- reads -----------------------------------------------------------
    def read(self, spark: SparkSession, version: Optional[int] = None) -> DataFrame:
        """Read the live snapshot, or ``version`` for time travel
        (Iceberg ``VERSION AS OF``)."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        vdir = os.path.join(self.path, f"v{v}")
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"snapshot v{v} missing (expired?)")
        return spark.read.parquet(vdir)

    # -- maintenance -----------------------------------------------------
    def rollback(self, version: int) -> None:
        """Repoint ``_CURRENT`` at an older snapshot — zero data movement
        (Iceberg ``rollback_to_snapshot``). The abandoned newer snapshots
        stay readable for forensics until expired."""
        if not os.path.isdir(os.path.join(self.path, f"v{version}")):
            raise FileNotFoundError(f"snapshot v{version} does not exist")
        self._repoint(version)

    def expire(self, keep_last: int = 2) -> list[int]:
        """Delete all snapshot dirs except the current one and the
        ``keep_last`` most recent (Iceberg ``expire_snapshots``). Returns
        the expired version numbers. The pointer target is always kept,
        so concurrent readers of the live snapshot are safe; time-travel
        reads of expired versions raise."""
        import shutil

        cur = self.current_version()
        keep = set(sorted(self.versions())[-keep_last:])
        if cur is not None:
            keep.add(cur)
        expired = []
        for v in self.versions():
            if v in keep:
                continue
            shutil.rmtree(os.path.join(self.path, f"v{v}"), ignore_errors=True)
            m = os.path.join(self.path, f"_manifest_v{v}.json")
            if os.path.exists(m):
                os.remove(m)
            expired.append(v)
        return expired

    def compact(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
    ) -> int:
        """Rewrite the live snapshot into ceil(rows / target) data files
        and commit it as a new snapshot (Iceberg ``rewrite_data_files``,
        bin-pack strategy). Row-identical by construction; only the file
        layout changes, so scan planning on a merge-heavy table stops
        degrading with commit count."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        rows = self.manifest(cur)["rows"]
        n_files = max(1, math.ceil(rows / target_rows_per_file))
        return self.commit(self.read(spark), n_files=n_files)
