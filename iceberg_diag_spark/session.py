"""SparkSession factory with scale-appropriate defaults.

Defaults are chosen for correctness-stable comparisons (UTC session
time zone, deterministic Arrow batches) and for 100 TB habits (AQE on,
skew-join handling on, partition coalescing on). On a real cluster the
same config applies; only sizes (shuffle partitions, maxPartitionBytes)
are re-tuned per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "iceberg-diag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS or *]`` with 32 shuffle
    partitions (matches core count; AQE coalesces below that when
    volumes are small). Cluster deployments pass their own master/conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic semantics across engines (DuckDB oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps in the testdata are NTZ-like; read as-is.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Scale posture: adaptive execution fixes shuffle sizing and
        # skew at runtime — mandatory at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Join strategy: allow shuffled-hash join where its size
        # conditions fit instead of always sort-merge (guide §3.1 —
        # SHJ skips both sort passes; the build-side-OOM risk is
        # bounded by AQE's sizing and the threshold below). Both
        # knobs env-overridable for cluster re-tuning; the AQE
        # runtime SMJ→SHJ rewrite threshold is per-partition build
        # size, so it scales with shuffle partitioning, not data.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", "128m"),
        )
        # Arrow for pandas UDF exchange (binpack_groups, sequence
        # packing, multimodal plumbing; the diagnostics panel uses none).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep broadcast threshold at default 10MB; dims here are tiny.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Managed tables (bucketed sinks) land outside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sparkdiag-warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
