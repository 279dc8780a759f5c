"""SparkSession factory tuned for the extraction workload.

Local mode stands in for a multi-executor cluster; every knob here is
chosen so the same plan shape survives a 1000-executor deployment:
AQE for runtime skew handling, Arrow for the kernel boundary, shuffle
partition count sized to the parallelism level rather than the default
200 (which would produce tiny partitions at test scale and would be
retuned upward — not off — on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pdf_context_extractor_agent_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session with scale-aware defaults.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default 32). On a real
    cluster the master/deploy settings come from spark-submit and the
    builder silently inherits them; everything set here is
    cluster-size-independent except ``shuffle.partitions`` which should
    be ~2-3x total cores in production.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # size JVM service pools (GC threads, fork-join, netty) to the
        # host's HONEST capacity, not its advertised CPU count: the box
        # advertises 32 CPUs but sustains ~16 effective cores (BENCH.md
        # calibration), so the JVM otherwise over-provisions GC/service
        # threads 2× — the same truth a production executor gets from
        # its cgroup core pinning. JVM flags bind at gateway launch
        # (first session in the process), hence a fixed value.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={os.environ.get('SPARK_GRAFT_EFFECTIVE_CPUS', '16')}",
        )
        # Every explode() in this engine generates from a COMPUTED array
        # (pattern-hit banks, shingle sets, line splits), not a stored
        # column. InferFiltersFromGenerate would copy that whole array
        # expression into a pre-Generate filter — evaluating the most
        # expensive projections of the pipeline twice per row for a
        # skip-empty-arrays optimization that never fires here (the hit
        # bank emits a constant-arity array). Excluding the rule keeps
        # single evaluation; correctness is unaffected (the filter it
        # infers is redundant with Generate's own empty-array handling).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # The generated-class cache is one LRU for the whole JVM, and
        # Spark's default of 100 classes is smaller than one statement
        # run (~145 whole-stage classes on the reports corpus): each
        # class is evicted before its next use, so every warm run
        # recompiled ~140 classes with Janino, a quarter of its wall
        # time, and how long that took followed the JIT's state. Static
        # conf: binds at the first session of the process.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        # broadcast threshold: the pattern/anchor dimension tables are
        # a few KB; the default 10MB is fine, stated here for intent.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_expected_warnings(spark)
    return spark


def _silence_expected_warnings(spark: SparkSession) -> None:
    """Mute WindowExec's no-partition warning for this session.

    The two-phase prefix-sum rank (sampling.assign_offsets, graph
    host_graph) deliberately runs an unpartitioned window over a
    PARTITION-COUNT-sized relation (one row per partition, never data
    rows), so the "moving all data to a single partition" warning is a
    false alarm here — but dozens of them in a bench artifact read as a
    scale bug.  Any genuinely unpartitioned window over data rows would
    be caught by the plan-shape tests, not by this log line.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments just keep the warning


def stop_spark() -> None:
    """Stop the active session (used by the two-parallelism bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
