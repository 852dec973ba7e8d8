"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the big-cluster case (AQE on, skew-join handling,
zstd parquet, Arrow for the pandas-UDF kernels) while remaining correct on
``local[N]``. Tests and bench override ``shuffle_partitions`` to match the
local core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hiss-cube-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master``/``shuffle_partitions`` come from the
    deployment; locally we default to ``local[$SPARK_GRAFT_CPUS]`` and one
    shuffle partition per core (AQE coalesces further at runtime).

    On an already running session ``getOrCreate`` applies the runtime SQL
    options below to it (shuffle partitions, time zone, Arrow batch size,
    AQE). A caller that must not change someone else's session takes
    ``SparkSession.getActiveSession()`` instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the pandas-UDF numeric kernels.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Deterministic timestamps regardless of host TZ (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Array-heavy rows (image tiles, spectra) are wide: keep split sizes
        # moderate so a scan partition stays executor-memory friendly.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

