"""Scan-parallelism floor for CPU-heavy narrow stages over small inputs.

A small parquet file reads as 1-2 scan partitions (``maxPartitionBytes``
packing), so any narrow CPU-heavy pipeline on top of it — token explodes,
higher-order-function expressions, Arrow/Python passes — runs on one core
while the rest of the cluster idles. The floor repartitions the rows to
2× cores, but ONLY when the optimizer's size estimate says the input is
small enough that the scan could have under-split (< cores × 128 MB, the
default ``maxPartitionBytes`` — below it the extra shuffle is trivially
cheap). A LARGE input already splits to >= cores partitions at the scan,
and repartitioning it would exchange the full payload corpus-wide for
zero parallelism gain — a multi-TB shuffle per pass at the 100 TB design
point. (Deciding via pre-AQE ``df.rdd.getNumPartitions()`` was rejected
earlier: it reports ``spark.sql.shuffle.partitions`` for any shuffled
input and forces a plan-to-RDD conversion; the plan-stats probe costs
neither.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast-hint ``df`` when a KNOWN row count proves it fits in the
    session's 64 MB broadcast budget; identity otherwise. For iterative
    operators whose per-round state is a checkpointed ExistingRDD with
    unknown stats, the planner otherwise falls back to sort-merge and
    re-shuffles + re-sorts the big side every round — the caller usually
    has (or can count, near-free on a materialized frame) the exact state
    size, which makes this decision precise where stats cannot be. The
    row width is the schema's default size (Catalyst's own per-type
    estimate: 20 B per string, 8 B per long or double)."""
    if n_rows is not None and (
            n_rows * df._jdf.schema().defaultSize() <= 64 * 1024 * 1024):
        return F.broadcast(df)
    return df


def parallel_floor(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` to 2× cores hashed on ``key_col`` iff its
    optimizer size estimate is below cores × 128 MB; identity otherwise.
    When the estimate is unknown or the probe fails, the concrete
    partition count decides instead (below). Every graph operator applies
    this at edge ingest: a shared similarity-graph parquet of one ~36 MB
    file scans as ONE partition, and every per-edge pass would then run on
    a single core."""
    sc = df.sparkSession.sparkContext
    floor = 2 * sc.defaultParallelism
    try:
        # sizeInBytes is a Scala BigInt: py4j hands it over as a Python
        # int (no .toString()); str() also accepts a JavaObject
        size_bytes = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        # stats unavailable: decide as for unknown stats below — assuming
        # "small" would shuffle an input of any size
        size_bytes = 1 << 62
    if size_bytes >= sc.defaultParallelism * 128 * 1024 * 1024:
        if size_bytes < (1 << 62):
            return df
        # Stats UNKNOWN, not large: a localCheckpoint scan (LogicalRDD)
        # reports Long.MaxValue, which the threshold above misreads as
        # "huge — skip". That skip serialized k_truss's round-1 support
        # pass onto the peeled round state's single cached partition
        # (38.8s vs 7.5s for round 0 at sf0.1). Fall back to the concrete
        # partition count: exact and cheap for a materialized RDD scan;
        # for a shuffled plan it reports the shuffle partition count,
        # which is exactly the parallelism the stage would get.
        try:
            if df.rdd.getNumPartitions() >= sc.defaultParallelism:
                return df
        except Exception:
            return df
    return df.repartition(floor, F.col(key_col))
