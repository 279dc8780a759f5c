"""SparkSession factory sized to the host it runs on.

Local mode stands in for a multi-executor cluster; the knobs here keep
the same plan shape on a 1000-executor deployment: AQE for runtime
skew handling, Arrow for the kernel boundary, and a shuffle partition
count sized to the parallelism level rather than Spark's default 200
(tiny partitions at test scale; retuned upward, not off, on a cluster).

Defaults follow the host. ``local[N]`` takes N from the CPUs this
process may run on (its affinity set, capped by a cgroup v2 CPU quota)
and the driver heap is a fixed fraction of usable memory (``MemTotal``
capped by a cgroup v2 memory limit). ``$SPARK_GRAFT_CPUS`` and
``$SPARK_GRAFT_DRIVER_MEM`` override them. The JVM sizes its own JIT
compiler and GC thread pools from the same affinity and cgroup limits,
so no processor-count flag is passed.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

# cgroup v2 interface files of the process's own cgroup and the kernel's
# memory summary (module constants so tests can point them elsewhere)
CGROUP_DIR = "/sys/fs/cgroup"
MEMINFO = "/proc/meminfo"
# the driver heap's share of usable memory: the rest is left to the
# Python workers, Arrow buffers and the JVM's own off-heap use
DRIVER_MEM_FRACTION = 0.5
DRIVER_MEM_CAP_MB = 48 * 1024


def _cgroup_limit(name: str) -> list[str] | None:
    """Fields of a cgroup v2 limit file, or None when there is no file
    or its first field is the ``max`` no-limit sentinel."""
    try:
        with open(os.path.join(CGROUP_DIR, name)) as f:
            fields = f.read().split()
    except OSError:
        return None
    return fields if fields and fields[0] != "max" else None


def usable_cpus() -> int:
    """CPUs this process may run on: its affinity set, capped by the
    cgroup ``cpu.max`` quota (``quota period``), rounded up."""
    cpus = len(os.sched_getaffinity(0))
    quota = _cgroup_limit("cpu.max")
    if quota:
        cpus = min(cpus, max(1, math.ceil(int(quota[0]) / int(quota[1]))))
    return cpus


def usable_mem_mb() -> int:
    """``MemTotal``, capped by the cgroup ``memory.max`` limit, in MB."""
    with open(MEMINFO) as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    limit = _cgroup_limit("memory.max")
    if limit:
        kb = min(kb, int(limit[0]) // 1024)
    return kb // 1024


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the usable CPUs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or usable_cpus())


def default_driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else a fixed fraction of usable
    memory, capped at 48g."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{min(int(usable_mem_mb() * DRIVER_MEM_FRACTION), DRIVER_MEM_CAP_MB)}m"
    )


def get_spark(
    app_name: str = "pdf_context_extractor_agent_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session with scale-aware defaults.

    ``cores=None`` uses ``default_cores()``. On a real
    cluster the master/deploy settings come from spark-submit and the
    builder silently inherits them; everything set here is
    cluster-size-independent except ``shuffle.partitions`` which should
    be ~2-3x total cores in production.
    """
    cores = cores or default_cores()
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
        .config("spark.driver.memory", default_driver_mem())
        # PySpark otherwise records the Python call site of every Column
        # and DataFrame API call in the JVM (about five py4j round trips
        # each) so that an error can name the Python line; a statement
        # plan build makes thousands of such calls. Errors keep their
        # SQL-level context. Read once per process, at the first API
        # call under an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
