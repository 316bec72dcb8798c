"""SparkSession factory with scale-oriented defaults.

Local mode stands in for a multi-executor cluster; every conf below is the
one you would also set on a 1000-executor cluster (AQE, skew-join handling,
Arrow for the pandas-UDF exchange, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mbdm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] -> N concurrent tasks; shuffle partitions ~ cores avoids both
    # under- and over-parallelization (default 200 is wrong for local).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else max(int(n), 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge joins to shuffled-hash when the MEASURED
        # per-partition build side fits (guide §3.1): the replay's batch-
        # bounded full-outer joins then skip both sorts; 256 MB per partition
        # is conservative against executor memory at any scale because AQE
        # first coalesces partitions toward the advisory size.  It fires:
        # every replay_bulk and update() batch's merge write and changelog
        # append ends in a ShuffledHashJoin FullOuter, a SortMergeJoin with
        # the conf at 0 (plans/r07/shj_final_plan.txt)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured in this environment: native codec paths (snappy/lz4/zstd)
        # serialize pathologically under many concurrent writers of nested
        # (array/struct) columns — uncompressed is 3-8x faster end-to-end.
        # On a real cluster with object storage, flip to zstd for cold data
        # and keep hot-path scratch uncompressed.
        .config("spark.sql.parquet.compression.codec", os.environ.get("MBDM_CODEC", "uncompressed"))
        .config("spark.driver.memory", os.environ.get("MBDM_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # LakeTable scans pass the manifest's explicit file list to the
        # parquet reader; above this many paths Spark launches a distributed
        # listing job just to re-stat files the manifest already knows.
        # 2048 keeps per-batch hot-path scans (typically 10^1-10^3 files
        # after bucket pruning) driver-side — one fewer job per phase per
        # batch; scans wider than this still fan the listing out to the
        # cluster, which is the right trade on object storage.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
