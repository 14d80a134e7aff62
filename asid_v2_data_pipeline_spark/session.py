"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same plan shape that passes local tests would hold
on a 1000-executor cluster: AQE on (runtime join-strategy switch + skew-join
splitting), auto-broadcast for small dimension tables, Arrow for every
pandas-UDF boundary, UTC session time so timestamp semantics match the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "asid-v2-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic timestamp semantics (matches the DuckDB oracle)
        .config("spark.sql.session.timeZone", "UTC")
        # scale knobs: AQE re-plans joins + splits skewed partitions at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas-UDF / toPandas boundaries
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep scans splittable at 100 TB: default 128m per input partition
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # driver testdata stores TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert at load (schemas.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # generated-class cache: one scenebench `pipeline` op (build, feed
        # and apply over 2 scenes of 128²) generates about 160 distinct
        # classes (80 build, 46 feed, 33 apply).  The stock 100 entries
        # evicted them between ops, so every op recompiled 190-200 classes
        # (about 2.5 s); 1000 holds several such ops and the queries
        # around them.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # the cache is keyed on the source text: with the stage id in the
        # class name, an AQE re-plan that numbers the same stage
        # differently misses the cache (10-36 classes per op after warm-up)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # r13 opt (guide §5): ContextCleaner frees dead checkpoint /
        # broadcast / shuffle state only after the driver JVM happens to
        # garbage-collect the owning object; the stock 30min periodic-GC
        # default lets a long-running session (bench loop, streaming
        # driver, notebook) pile up superseded localCheckpoint blocks in
        # the unified memory region — measured: back-to-back
        # cur_pipeline_v2 passes at sf0.1 degraded 9.0 -> 25.6 s purely
        # from accumulation.  2min keeps sessions flat; env-tunable for
        # clusters that prefer the stock cadence.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_checkpoint(df) -> None:
    """Eagerly free a SUPERSEDED ``localCheckpoint``'s storage blocks
    (r13 opt, guide §5 "unpersist when done").

    ContextCleaner reclaims checkpoint blocks only after the driver JVM
    garbage-collects the owning RDD object, so in a long-running session
    a pipeline that checkpoints stage after stage (curation chains,
    PageRank phases) strands every superseded stage's blocks in the
    unified memory region until some eventual full GC — evicting useful
    blocks and inflating pauses (measured: cur_pipeline_v2 degraded
    9.0 -> 25.6 s over 7 back-to-back sf0.1 passes from accumulation
    alone).  Pipelines call this the moment a checkpoint's every
    consumer has itself been materialized.

    Safety: a localCheckpoint's blocks are the ONLY copy of its data
    (lineage is truncated), so releasing one that a live plan still
    references makes that plan's next action fail LOUDLY with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — a caller bug is an error,
    never silent wrong results.  No-op under Spark Connect (no local
    JVM handle) and on non-checkpoint DataFrames.
    """
    try:
        lp = df._jdf.queryExecution().analyzed()
        if lp.getClass().getSimpleName() == "LogicalRDD":
            lp.rdd().unpersist(False)
    except Exception:
        pass  # best-effort hygiene: Connect plans / already-released
