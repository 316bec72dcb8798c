"""SparkSession factory with scale-oriented defaults.

Local mode stands in for a multi-executor cluster; every conf below is the
one you would also set on a 1000-executor cluster (AQE, skew-join handling,
Arrow for the pandas-UDF exchange, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# generated classes the codegen cache holds (Spark's default: 100).  The
# measured working set is 111 distinct classes for one replay_bulk benchmark
# process (65 for query_suite) and 2014 for the whole test suite in one JVM;
# 4096 holds either with room.  A cached class costs ~4 KB of Metaspace
# (small projections, measured), and a benchmark process's Metaspace did
# not move (159.6 MB vs 160.6 MB at the default).
CODEGEN_CACHE_ENTRIES = 4096


def engine_conf() -> dict[str, str]:
    """The engine's SQL confs — one list for :func:`get_spark` and for jobs
    launched by ``spark-submit`` (``jobs/replay_job.py``), which keep
    master, deploy mode, driver memory and shuffle partitions
    submit-controlled."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE rewrite sort-merge joins to shuffled-hash when the MEASURED
        # per-partition build side fits (guide §3.1): the replay's batch-
        # bounded full-outer joins then skip both sorts; 256 MB per partition
        # is conservative against executor memory at any scale because AQE
        # first coalesces partitions toward the advisory size.  It fires:
        # every replay_bulk and update() batch's merge write and changelog
        # append ends in a ShuffledHashJoin FullOuter, a SortMergeJoin with
        # the conf at 0 (plans/r07/shj_final_plan.txt)
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "256m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # the codec of LakeTable and changelog data files (MBDM_CODEC).
        # measured in this environment: native codec paths (snappy/lz4/zstd)
        # serialize pathologically under many concurrent writers of nested
        # (array/struct) columns — uncompressed is 3-8x faster end-to-end.
        # On a real cluster with object storage, flip to zstd for cold data
        # and keep hot-path scratch uncompressed.
        "spark.sql.parquet.compression.codec": os.environ.get("MBDM_CODEC", "uncompressed"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # LakeTable scans pass the manifest's explicit file list to the
        # parquet reader; above this many paths Spark launches a distributed
        # listing job just to re-stat files the manifest already knows.
        # 2048 keeps per-batch hot-path scans (typically 10^1-10^3 files
        # after bucket pruning) driver-side — one fewer job per phase per
        # batch; scans wider than this still fan the listing out to the
        # cluster, which is the right trade on object storage.
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "2048",
        # generated classes are cached by source text; Spark's default of
        # 100 entries is below one CDC process's working set, so the LRU
        # evicted and Janino recompiled (and HotSpot re-JITted) the same
        # plans op after op
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # the cache key is the source text, and a whole-stage class is named
        # after its codegen stage id, which AQE assigns in stage
        # materialization order — timing-dependent when a batch runs two
        # jobs at once (changelog append ∥ merge write).  Unnumbered names
        # let the same pipeline hit the cache whatever id it drew.
        "spark.sql.codegen.useIdInClassName": "false",
    }


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
        .config("spark.driver.memory", os.environ.get("MBDM_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in engine_conf().items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
