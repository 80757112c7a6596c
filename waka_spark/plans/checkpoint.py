"""Per-stage checkpointing with lineage + counters, and mid-run resume
(north rule: "every stage checkpoints per-partition lineage + counters so
the pipeline resumes mid-run").

This is the durable of the two ways ``KGPipeline.run`` materializes its
stage graph (plans/pipeline.py): the same stages, in the same order, each
written through :meth:`CheckpointManager.stage` instead of cut with an
eager ``localCheckpoint``.

Layout under ``base_path/run_id/``:

    <stage>/data/...            stage output parquet (written via temp+rename)
    <stage>/manifest.json       committed AFTER data: stage metadata,
                                row count, wall ms, per-file row counts,
                                and the stage's schema

A stage is complete iff its manifest exists — the manifest write is the
commit point, and the temp→final rename makes the data write idempotent
(SURVEY.md §7.3: write-to-temp, atomic swap). A resumed run with the same
(base_path, run_id) loads completed stages from parquet instead of
recomputing; lineage is cut at each materialization, which doubles as the
iterative-algorithm checkpointing guidance for long pipelines.

A commit runs no Spark action besides the write itself:

- ``rows_out`` comes from an ``Observation`` on the written frame
  (:func:`counted_write`), not from reading the output back;
- ``partitions`` holds the row count of every written data file (one per
  write task), read from the Parquet footers through the Hadoop
  ``FileSystem`` on the driver — no job, and the same calls on an object
  store;
- ``schema`` is the frame's schema as JSON, so the committed data — and a
  resumed stage — is read back without a schema-inference job. A manifest
  without ``schema`` (written before the key existed) resumes by
  inference.

On a real cluster base_path is an object-store/HDFS path; the rename goes
through the Hadoop FileSystem API instead of os.rename — localized here so
the swap is the only storage-specific line.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def counted_write(df: DataFrame, path: str) -> int:
    """Write ``df`` as parquet to ``path`` (overwrite) and return its row
    count, observed during the write job itself."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite").parquet(path))
    return obs.get["rows"]


def parquet_file_rows(spark: SparkSession, path: str) -> list[dict]:
    """``[{"file", "rows"}]`` for every data file directly under ``path``,
    from the Parquet footers — driver-side reads, no Spark job."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    dir_path = jvm.org.apache.hadoop.fs.Path(path)
    out = []
    for status in dir_path.getFileSystem(conf).listStatus(dir_path):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):  # _SUCCESS, .crc: not data
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                status, conf))
        try:
            out.append({"file": name, "rows": reader.getRecordCount()})
        finally:
            reader.close()
    return sorted(out, key=lambda f: f["file"])


@dataclass
class CheckpointManager:
    spark: SparkSession
    base_path: str
    run_id: str = "run-0"
    stages_run: list[str] = field(default_factory=list)
    stages_resumed: list[str] = field(default_factory=list)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_path, self.run_id, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "manifest.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def _read(self, data_dir: str, manifest: dict) -> DataFrame:
        reader = self.spark.read
        if "schema" in manifest:
            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        return reader.parquet(data_dir)

    def stage(self, name: str, compute: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage's output, computing + committing it if needed."""
        data_dir = os.path.join(self._stage_dir(name), "data")
        if self.is_complete(name):
            self.stages_resumed.append(name)
            return self._read(data_dir, self.manifest(name))

        started = time.time()
        df = compute()

        tmp_dir = os.path.join(
            self._stage_dir(name), f"_tmp-{uuid.uuid4().hex[:8]}"
        )
        n_rows = counted_write(df, tmp_dir)

        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)
        os.rename(tmp_dir, data_dir)  # Hadoop FileSystem.rename on a cluster

        manifest = {
            "run_id": self.run_id,
            "stage": name,
            "status": "COMPLETE",
            "rows_out": n_rows,
            "wall_ms": int((time.time() - started) * 1000),
            "partitions": parquet_file_rows(self.spark, data_dir),
            "schema": df.schema.jsonValue(),
            "output_path": data_dir,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp_manifest = self._manifest_path(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp_manifest, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp_manifest, self._manifest_path(name))

        self.stages_run.append(name)
        return self._read(data_dir, manifest)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)


def run_checkpointed(
    pipeline, transcripts: DataFrame, manager: CheckpointManager,
) -> dict[str, DataFrame]:
    """``pipeline.run`` with every stage committed through ``manager``."""
    return pipeline.run(transcripts, checkpoints=manager)
