"""SparkSession helper tuned for the local[32] test environment while
keeping cluster-correct defaults (AQE, skew handling, Arrow)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_positive_int(name: str, default: int) -> int:
    """``int(os.environ[name])``, or ``default`` when unset or empty;
    raises a ``ValueError`` naming the variable on a non-integer or
    non-positive value instead of failing later inside Spark."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value <= 0:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


def get_spark(app_name: str = "lshrs_spark", *, cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = _env_positive_int("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Path-based store opens: above this many root paths Spark
        # launches a DISTRIBUTED listing job instead of listing on the
        # driver. This engine's store layouts top out at 64-128
        # partition directories by design (num_centroids <= 128,
        # num_buckets <= 64), where the listing job's dispatch cost
        # alone exceeds a driver-side listing on ANY filesystem
        # (measured r15: whole-store open min 585 -> 295 ms, and far
        # less variance). Deployments reading external tables with
        # thousands of partition dirs on an object store can lower it
        # via the env knob. The setting covers every read in the
        # session, not only the engine's store opens.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(_env_positive_int("SPARK_GRAFT_LIST_THRESHOLD", 384)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def right_size_shuffle(
    df,
    *,
    target_partition_mb: int = 128,
    set_conf: bool = True,
) -> int:
    """Recommend (and by default set) ``spark.sql.shuffle.partitions``
    from the Catalyst size estimate of ``df``'s optimized plan, so each
    reduce partition lands near ``target_partition_mb`` — the knob that
    decides whether a 100 TB shuffle spills (too few partitions) or
    drowns in task overhead (too many). Floor: the cluster's default
    parallelism, so small inputs still use every core. AQE's partition
    coalescing then trims the tail downward at runtime; this sets the
    UPPER bound AQE works under, which AQE itself cannot raise."""
    if target_partition_mb < 1:
        raise ValueError("target_partition_mb must be >= 1")
    spark = df.sparkSession
    size_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    floor = spark.sparkContext.defaultParallelism
    parts = max(floor, -(-size_bytes // (target_partition_mb << 20)))
    if set_conf:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return parts
