"""SparkSession factory tuned for this engine.

Local test profile: ``local[N]`` single-JVM.  The same settings scale
out unchanged — shuffle partitions and AQE matter more, not less, on a
1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "durablestreams_spark", shuffle_partitions: int | None = None):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Runtime skew mitigation: AQE splits oversized shuffle
        # partitions in joins — the no-code-change half of the skew
        # story (the salted-agg pattern in operators/skew.py is the
        # other half, for aggregations AQE can't split).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Test parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as raw int64 nanos and convert in
        # analytics.core.table (no precision loss — data is µs-grained).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Segment files are read by both Spark and pyarrow (compaction
        # concatenates across writers) — pin µs int64 so schemas agree.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Streaming checkpoint metadata (offset/commit logs, state
        # files) goes through the FileSystem API, not the default
        # FileContext one.  On a JVM without the native Hadoop library
        # the FileContext manager forks `readlink`/`chmod` child
        # processes for every temp-file create and rename, so a trigger
        # that does nothing still forked ~60 processes: `walCommit`
        # 30 ms and `commitOffsets` 32 ms of a 157 ms trigger at a
        # 10-files/s source (4-core VM).  Through FileSystem: 13 forks,
        # 8 + 9 ms, 83 ms per trigger.  Both managers write a temp file
        # and rename it; the rename is atomic on local FS and HDFS, and
        # neither is on object stores.  This applies to every
        # streaming query the engine starts.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Long sessions compile one generated class per codegen stage;
        # the JVM default code cache (240 MB) fills after a few hundred
        # stages, the JIT shuts off, and expression-heavy stages drop
        # to interpreter speed (measured: the same LSH query at 3.4 s
        # on a fresh session degrading to 17 s after ~200 stages).
        # A bigger cache + flushing keeps the JIT alive for the whole
        # bench/driver run.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # UI off by default (saves driver memory in the bench/driver
        # runs); SPARK_GRAFT_UI=1 turns it on for profiling sessions
        # that read per-stage metrics from the status API.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
