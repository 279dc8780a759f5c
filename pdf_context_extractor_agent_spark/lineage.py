"""Checkpoint / lineage / resumable runs (north-rule scale machinery;
absent in the reference beyond per-batch error bookkeeping,
batch_notes_extractor.py:89-99 and parsing_info, balance_sheet.py:152-156).

Model: an extraction run writes its results partitioned by run, plus a
METRICS table with one row per (run_id, partition) — url count, bytes,
kernel wall-clock, status — matching the FIXTURES.md §2 ``metrics``
schema. Resuming a run anti-joins the input against urls already
present in the output, so a crashed job reprocesses only the missing
partitions. On Iceberg the append is an atomic snapshot commit; on the
parquet fallback used here, per-run subdirectories give the same
idempotence.

The per-partition timing comes from the one layout kernel,
``kernels.extract_pages``, whose page rows carry each document's
``kernel_us`` and ``doc_bytes``; they are aggregated per partition
afterwards — no extra pass, no RDD API. The partition id is taken after
the kernel: the kernel is a narrow map, so each output row stays in its
input row's partition.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.html_layout import extract_pages


def instrumented_extract_pages(pages_tbl: DataFrame) -> DataFrame:
    """Kernel page rows plus the partition each document was parsed in,
    so lineage metrics fall out of a cheap aggregation afterwards."""
    return extract_pages(pages_tbl).withColumn("partition_id", F.spark_partition_id())


def partition_metrics(instrumented: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per partition (FIXTURES.md §2 metrics schema)."""
    per_doc = instrumented.groupBy("partition_id", "url").agg(
        F.first("kernel_us").alias("kernel_us"), F.first("doc_bytes").alias("doc_bytes")
    )
    return per_doc.groupBy("partition_id").agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("url_count"),
        F.sum("doc_bytes").alias("bytes"),
        F.expr("sum(kernel_us) div 1000").alias("duration_ms"),
        F.lit("ok").alias("status"),
        F.lit(None).cast("string").alias("error"),
    ).select("run_id", "partition_id", "url_count", "bytes", "duration_ms", "status", "error")


def completed_urls(spark: SparkSession, output_path: str) -> DataFrame | None:
    """urls already extracted by prior runs (None when no output yet)."""
    try:
        return spark.read.parquet(output_path).select("url").distinct()
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Storage backends: the north rule names Iceberg tables; this sandbox has
# no catalog jar. Both backends expose the same two operations so
# ``run_with_checkpoint`` is one code path — when an Iceberg catalog
# appears, only ``storage_for`` routing changes, not the resume logic.
# ---------------------------------------------------------------------------

class PathStorage:
    """Parquet-directory storage (the sandbox fallback): appends are
    per-run subdirectory writes — idempotence from the url anti-join."""

    def __init__(self, spark: SparkSession, output_path: str, metrics_path: str):
        self.spark = spark
        self.output_path = output_path
        self.metrics_path = metrics_path

    def read_done(self) -> DataFrame | None:
        return completed_urls(self.spark, self.output_path)

    def append(self, results: DataFrame, metrics: DataFrame) -> None:
        # metrics BEFORE results: appending to output_path makes Spark
        # re-materialize any cached plan that reads it — and the results
        # lineage contains the anti-join against output_path, so a
        # post-append recompute would see its own output and go empty.
        # Resume keys on the OUTPUT urls (not metrics), so a crash
        # between the two writes only leaves an advisory metrics row.
        metrics.write.mode("append").parquet(self.metrics_path)
        results.write.mode("append").parquet(self.output_path)


class TableStorage:
    """Catalog-table storage — Iceberg in production, where an append is
    an atomic snapshot commit (all-or-nothing visibility; a crashed
    write leaves no partial files for resume to trip on).

    The write goes through the DataFrameWriterV2 ``writeTo(t).append()``
    path — the Iceberg commit protocol — and degrades to the v1
    ``saveAsTable`` append for session-catalog (non-V2) tables, which is
    what this sandbox's catalog stub exercises; the V2 branch itself is
    unit-tested against a recording stub. Ordering contract matches
    PathStorage: metrics first, results second.
    """

    def __init__(self, spark: SparkSession, output_table: str, metrics_table: str):
        self.spark = spark
        self.output_table = output_table
        self.metrics_table = metrics_table

    def read_done(self) -> DataFrame | None:
        try:
            return self.spark.read.table(self.output_table).select("url").distinct()
        except Exception:
            return None

    def _append(self, df: DataFrame, table: str) -> None:
        try:
            df.writeTo(table).append()
        except Exception:
            # v1 session-catalog table (or table absent): the classic
            # writer path; Iceberg catalogs never reach this branch
            df.write.mode("append").saveAsTable(table)

    def append(self, results: DataFrame, metrics: DataFrame) -> None:
        self._append(metrics, self.metrics_table)
        self._append(results, self.output_table)


def storage_for(spark: SparkSession, output: str, metrics: str):
    """Route by locator shape: a path (contains '/') → parquet
    directories; a table name → catalog tables (Iceberg when present)."""
    if "/" in output:
        return PathStorage(spark, output, metrics)
    return TableStorage(spark, output, metrics)


def run_with_checkpoint(
    spark: SparkSession,
    pages_tbl: DataFrame,
    output_path: str,
    metrics_path: str,
    run_id: str | None = None,
    storage=None,
) -> dict:
    """Resumable extraction: skip done urls, extract the rest, append
    page text + lineage metrics. Returns {run_id, processed, skipped}.

    One code path for both backends: ``storage`` defaults by locator
    shape (parquet path here; Iceberg table on a cluster with a
    catalog), and resume is always the url anti-join against the
    committed output — on Iceberg that reads the latest snapshot, so a
    crashed run resumes from the last atomic commit.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    storage = storage or storage_for(spark, output_path, metrics_path)
    total = pages_tbl.select("url").distinct().count()
    done = storage.read_done()
    todo = pages_tbl if done is None else pages_tbl.join(done, "url", "left_anti")

    inst = instrumented_extract_pages(todo).persist()
    n_urls = inst.select("url").distinct().count()
    if n_urls:
        storage.append(
            inst.select("url", "page", "page_text").withColumn("run_id", F.lit(run_id)),
            partition_metrics(inst, run_id),
        )
    inst.unpersist()
    return {"run_id": run_id, "processed": n_urls, "skipped": total - n_urls}
