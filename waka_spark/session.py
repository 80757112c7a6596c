"""SparkSession factory with the engine's physical-design defaults.

Local mode here; on a real cluster the same config ships via
``spark-submit --py-files waka_spark.zip job.py`` (see scripts/submit_job.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of detected host memory, clamped to [4g, 64g]."""
    try:
        total_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    except (ValueError, OSError, AttributeError):
        total_gb = 16.0
    return f"{min(64, max(4, int(total_gb // 2)))}g"


def get_spark(
    app_name: str = "waka_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    AQE is on (runtime coalesce + skew-join splitting — our conv_id key is
    Zipf-skewed by design); Arrow is on for every pandas-UDF stage; the
    shuffle partition count defaults to the core count rather than 200 so
    local runs don't fragment into tiny tasks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)

    # local-mode shuffle + localCheckpoint blocks go through spark.local.dir;
    # on this sandbox the root disk (~200 MB/s) throttles 32 concurrent
    # writers, so prefer tmpfs. On a real cluster executors use their own
    # SSD-backed dirs and this env is simply unset-or-overridden.
    local_dir = os.environ.get(
        "WAKA_LOCAL_DIR",
        "/dev/shm/waka-spark" if os.path.isdir("/dev/shm") else "",
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # default heap sized from detected host memory (~half, capped at
        # 64g, floored at 4g); bench paths opt into more via WAKA_DRIVER_MEM.
        # A fixed 64g default invites OS OOM-kills on smaller hosts.
        .config("spark.driver.memory",
                os.environ.get("WAKA_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
