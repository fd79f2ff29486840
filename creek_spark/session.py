"""SparkSession construction tuned for both local testing and cluster scale.

Defaults follow the scale guidance in SURVEY.md §4/§7: AQE on (runtime
re-planning, skew-join handling, partition coalescing), UTC session timezone
(the reference's timestamps are µs-UTC, pgtype-avro/conversion.go:29-32),
Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "creek_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from the environment; locally we use
    ``local[$SPARK_GRAFT_CPUS]``.  All settings here are safe at 1000
    executors: AQE re-plans shuffles at runtime, skew-join splitting handles
    hot keys, and shuffle partitions are only a *initial* value under AQE.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # cached plans otherwise pin their pre-AQE partitioning: a small
        # cached aggregate (e.g. customer_rfm's per-customer frame) keeps
        # all `shuffle.partitions` partitions and every consumer stage
        # schedules that many near-empty tasks — letting AQE re-plan the
        # cached output coalesces them to data-sized partitions
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split sizing is left at Spark's defaults DELIBERATELY
        # (round 12): lowering openCostInBytes to fan small single-file
        # tables out was measured to also fan the 15 MB lineitem scan to
        # 32 base splits, and the explode-amplified pair-join shapes
        # (basket/triangle probes) ran 1.5–3× SLOWER at k=16 under the
        # extra concurrent partial-agg memory pressure (interleaved A/B,
        # two heap sizes).  Small-table parallelism comes from the
        # ingest layout instead — and only where per-row compute earns
        # it: sources/layout.py (round 13) cuts ONLY embeddings into at
        # most MULTIFILE_CAP=8 files (one partition per file under
        # default packing); the round-12 blanket cut of every sub-4MB
        # table anti-scaled at local[32] and was reverted.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver-generated events.parquet stores TIMESTAMP(NANOS), which
        # Spark has no native type for; read as long and convert at the
        # source boundary (sources.read_table) with µs truncation, matching
        # how DuckDB/pyarrow surface the same column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # µs/ms parquet timestamps with isAdjustedToUTC=false must read as
        # session-tz TimestampType, not TIMESTAMP_NTZ — the driver switched
        # events.parquet from nanos to µs-NTZ between rounds, and downstream
        # functions (unix_seconds, window) reject NTZ input.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Spark keeps at most this many Janino-compiled classes per JVM
        # (default 100, LRU).  One pass of the 16 headline queries
        # generates ~320 classes and the whole 168-query catalog ~2,720
        # (sf0.01), so at the default every pass recompiled ~318 of its
        # classes, even right after a warm-up that built the same code.
        # 4096 is the smallest power of two >= 1.5x the catalog's set.
        # A full catalog pass (2,711 compiles, all kept; default JVM
        # options) grew metaspace 111 -> 205 MB and class space 15 -> 26
        # MB, ~35 KB per class, so the bound lets the kept classes reach
        # ~140 MB of metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # A killed task still incomplete after this long has its Python
        # worker destroyed, even one it already handed back to the pool
        # for a task of the NEXT job; at the default 2 s, tasks of a
        # failed job waiting on worker start-up (local[32] on 4 cores)
        # broke the next job with a CancelledKeyException.
        .config("spark.python.task.killTimeout", "30s")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
