"""Tuned SparkSession builder for the crawl engine."""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "bbcrawl-spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """SparkSession with the engine's scale-oriented defaults.

    * AQE on (runtime re-plan, skew-join splitting, shuffle coalescing)
    * shuffle partitions ∝ cores (overridable; on a real cluster size to
      cluster cores × 2-3)
    * Arrow enabled with batches capped at 16 MB as well as 10000 rows —
      HTML blobs are large, so batches stay memory-bounded on executors
    * runtime Bloom-filter join pruning on (bonus on top of the persistent
      application-level seen Bloom)
    """
    import os

    if master is None:
        master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores or 8) * 2, 8)
    if driver_memory is None:
        # local mode runs every task in the driver JVM: the 1g default heap
        # GC-thrashes as soon as task parallelism rises. Measured on this
        # box: >=16g heaps degrade 2-8x (GC/paging pathology), 12g is the
        # sweet spot; DataFrame.cache spills to disk beyond it anyway.
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory)
        # G1 (the Java 17 default) anti-scales on this box under the high
        # allocation rates of codegen'd string work: measured 8.7s @32c vs
        # 5.3s @8c on a 10M-row regex map. ParallelGC restores scaling
        # (1.3s @32c vs 3.4s @8c on the same workload).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled hash join over sort-merge where the build side fits:
        # the seen-set anti-joins probe a 20M-row table — hashing 64
        # ~2.5 MB build partitions beats sorting both sides (plain
        # anti-join 4.0s -> 1.3s isolated; in-bench A/B 3.1s vs 4.8s).
        # Statically only when size stats prove the build side small; at
        # runtime AQE converts SMJ to SHJ when every post-shuffle build
        # partition is under the threshold — set equal to the partition
        # sizing AQE already targets, so the hash build is bounded by the
        # same memory budget on any cluster size (not a local[32] tune).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: the old 1024-row cap approximated a MEMORY
        # bound for large HTML blobs but shredded narrow numeric UDF
        # inputs (the 20M-hash Bloom pass crossed the boundary in ~20k
        # 8 KB batches). Spark 4's byte-based cap bounds memory directly:
        # 16 MB/batch keeps HTML batches at the old ~800-1000 rows while
        # hash/embedding columns batch at the 10k-row default (bloom
        # membership pass 0.90s -> 0.48s, fused extraction 1.62s -> 1.38s
        # at sf0.1; bound is per-batch memory, not scale-dependent).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s
