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
                                row count, wall ms, per-partition counters

A stage is complete iff its manifest exists — the manifest write is the
commit point, and the temp→final rename makes the data write idempotent
(SURVEY.md §7.3: write-to-temp, atomic swap). A resumed run with the same
(base_path, run_id) loads completed stages from parquet instead of
recomputing; lineage is cut at each materialization, which doubles as the
iterative-algorithm checkpointing guidance for long pipelines.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def stage(self, name: str, compute: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage's output, computing + committing it if needed."""
        data_dir = os.path.join(self._stage_dir(name), "data")
        if self.is_complete(name):
            self.stages_resumed.append(name)
            return self.spark.read.parquet(data_dir)

        started = time.time()
        df = compute()

        tmp_dir = os.path.join(
            self._stage_dir(name), f"_tmp-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("overwrite").parquet(tmp_dir)

        # per-partition lineage counters from the materialized output
        counters = (
            self.spark.read.parquet(tmp_dir)
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        n_rows = sum(r["rows"] for r in counters)

        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)
        os.rename(tmp_dir, data_dir)  # Hadoop FileSystem.rename on a cluster

        manifest = {
            "run_id": self.run_id,
            "stage": name,
            "status": "COMPLETE",
            "rows_out": n_rows,
            "wall_ms": int((time.time() - started) * 1000),
            "partitions": [
                {"partition_id": r["partition_id"], "rows": r["rows"]}
                for r in counters
            ],
            "output_path": data_dir,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp_manifest = self._manifest_path(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp_manifest, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp_manifest, self._manifest_path(name))

        self.stages_run.append(name)
        return self.spark.read.parquet(data_dir)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)


def run_checkpointed(
    pipeline, transcripts: DataFrame, manager: CheckpointManager,
) -> dict[str, DataFrame]:
    """``pipeline.run`` with every stage committed through ``manager``."""
    return pipeline.run(transcripts, checkpoints=manager)
