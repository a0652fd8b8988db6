"""SparkSession factory.

One local JVM (``local[N]``) with this conf set:

- AQE on (runtime coalescing, skew-join splitting): AQE re-plans from
  runtime stats instead of trusting the static shuffle-partition count.
- shuffle partitions sized to the core count (the AQE *initial* number).
- Arrow enabled for every pandas UDF / toPandas path.
- UTC session timezone so timestamp semantics are deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "n2khab_mhq_data_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE's runtime broadcast conversion keys on COMPRESSED shuffle
        # bytes, but the driver builds the HashedRelation from
        # DESERIALIZED rows (~20-30x blowup observed) — at the 64 MB
        # static threshold a converted join can demand ~2 GB of driver
        # heap per build and OOM ("Not enough memory to build and
        # broadcast", seen live at the r10 x10 doc tier). 16 MB bounds
        # a build at ~500 MB deserialized: safe on the default 8 GB
        # driver while keeping every legitimately-small conversion
        # (dims, centroid tables, quantile grids are all << 16 MB).
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(16 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
