"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "exactextractr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Arrow is mandatory: all kernels are pandas/Arrow UDFs (no per-row
    Python anywhere, per BASELINE.json input_hint). AQE is enabled so
    skewed candidate joins are re-planned at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows of inline tile tables (in-memory, streaming, DSv2 or derived
        # `bytes`; see sources.tiles.payload_located), of decoded tiles and
        # of weight lists carry ~0.5 MB payloads; ~8 MB batches keep the
        # JVM-side buffer churn inside young-gen (measured: 14s -> 8-11s on
        # the 1024-tile headline vs 64-row/32 MB batches, when its payloads
        # still crossed the JVM). A local parquet tile table ships only
        # metadata and a (file, row) locator per tile
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        # parquet vectorized reader defaults to 4096-row columnar batches —
        # with ~0.5 MB binary tile payloads that would be ~2 GB per batch
        # (tile scans no longer read `bytes`, but other binary tables do)
        .config("spark.sql.parquet.columnarReaderBatchSize", "16")
        .config("spark.sql.orc.columnarReaderBatchSize", "16")
        # spark.sql.files.maxPartitionBytes stays at Spark's default: a
        # Python task costs about 0.15-0.2 core-s of runner overhead (a
        # trivial mapInPandas over 16 one-row partitions, warm, takes
        # 2.4-2.8 s at local[1] and 1.0-1.4 s at local[4] on a 4-core
        # host), and a split holding no parquet row-group midpoint still
        # starts one. Tile files are written as one row group each, so
        # smaller splits only add empty tasks (a 32 MiB split gave 16
        # tasks over 8 such 61 MB files, 8 of them empty)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus) if str(cpus).isdigit() else 32),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # G1 treats the ~32 MB Arrow/columnar batches of inline tile bytes as
        # humongous allocations and GC-storms when many tasks stream them
        # concurrently; the throughput collector handles the short-lived
        # big-buffer churn far better (measured: stage GC 162s -> <20s at
        # local[32] on the zonal kernel stage)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
