"""Bucketed-table materialization: co-located joins without a shuffle.

At 10^12 turns the KG's ``nodes``/``edges`` tables (and any hot dimension
above the broadcast threshold) are re-joined constantly — entity
enrichment, incremental MERGE, eval joins. Storing both sides bucketed on
the join key (Iceberg: ``bucket(N, key)`` partition transform; Spark
tables: ``bucketBy(N, key)``) makes every such join exchange-free: the
scan itself reports HashPartitioning(key, N), so the planner drops the
Exchange on both sides — the single biggest recurring shuffle in the
pipeline's steady state (north rule: "materializing nodes/edges tables in
Iceberg", "bucketed conv_id" — SURVEY.md §1.3).

Rules for the free join (pinned by tests/test_scale_machinery.py):
- both sides bucketed on the join key with the SAME bucket count
  (different counts shuffle the smaller-bucketed side),
- one FILE per bucket (``write_bucketed`` repartitions by the bucket key
  before writing — repartition and bucketBy share the Murmur3-pmod
  assignment, so each writer task owns exactly one bucket),
- bucket pruning: an equality filter on the bucket key scans 1/N files.

The join still carries an in-partition Sort: Spark 3+ drops the
``sortBy`` metadata on read unless
``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (the default
is off because multi-file buckets would need a merge-sort read). That
sort is per-task, spill-free at sane bucket sizes, and ~free next to the
exchange it replaces; flip the legacy conf only when buckets are
guaranteed single-file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` as a bucketed (and per-bucket sorted) table.

    Parquet + ``bucketBy`` here; on an Iceberg catalog the same layout is
    ``ALTER TABLE ... ADD PARTITION FIELD bucket(N, key)`` and the write
    path is unchanged.
    """
    keys = [key] if isinstance(key, str) else list(key)
    # route each bucket to ONE writer task (repartition and bucketBy share
    # the Murmur3-pmod assignment): one file per bucket is the condition
    # under which the reader's per-bucket sort order is trusted and the
    # downstream merge join skips its Sort — with multiple files per
    # bucket Spark must re-sort even though the exchange is still elided
    (
        df.repartition(n_buckets, *[df[k] for k in keys])
        .write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables — planner emits a sort-merge join
    with NO Exchange (and no Sort when the tables were written sorted)."""
    keys = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), keys, how)
