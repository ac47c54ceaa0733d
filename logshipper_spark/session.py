"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same configs apply, with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and AQE
coalescing/skew-join left on so Catalyst re-plans at runtime.  Arrow is on
because every Python touchpoint in this engine is a vectorized pandas UDF
(per BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "logshipper_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores``: int N → ``local[N]``; "*" → all cores; None → env
    ``SPARK_GRAFT_CPUS`` or "*".  On a cluster, the master is taken from
    spark-submit and this argument is ignored by Spark.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = n if cores == "*" else int(cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd beats snappy on BOTH write wall and file size for this
        # workload (A/B r4, 843k-turn fan-out: 3.0s/30MB vs 5.1s/40MB best
        # walls) and is the modern data-lake default; readers are
        # codec-transparent (incl. the DuckDB oracle).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd level 2, not the parquet-java default 3: order-randomized
        # interleaved A/B on the 705k-row fan-out write (r6) measured
        # levels 1/2 ~8-10% faster walls than level 3 at +4% file size
        # (1.32/1.33 s vs 1.46/1.48 s best-of-2 per round; sizes 23 vs
        # 22 MB).  Level 2 keeps most of the ratio; readers (incl. the
        # DuckDB oracle) are level-transparent.
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "2")
        # Shuffle/spill scratch on tmpfs: this sandbox has ONE virtio disk
        # whose writeback stalls serialize shuffle-heavy stages (measured
        # 6s..98s variance on identical runs at local[32]).  Cluster nodes
        # use local NVMe for spark.local.dir; tmpfs is the sandbox stand-in.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
