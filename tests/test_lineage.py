"""Checkpoint / lineage / resume tests."""

import pyspark.sql.functions as F

from pdf_context_extractor_agent_spark.corpus import pages_df
from pdf_context_extractor_agent_spark.lineage import run_with_checkpoint
from pdf_context_extractor_agent_spark.sources import salted_repartition


def test_checkpoint_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")

    first = salted_repartition(pages_df(spark, 6), 4)
    r1 = run_with_checkpoint(spark, first, out, metrics, run_id="run1")
    assert r1 == {"run_id": "run1", "processed": 6, "skipped": 0}

    # grown input (simulates a crawl increment / crashed-run retry):
    # only the 4 new urls are processed
    second = salted_repartition(pages_df(spark, 10), 4)
    r2 = run_with_checkpoint(spark, second, out, metrics, run_id="run2")
    assert r2 == {"run_id": "run2", "processed": 4, "skipped": 6}

    res = spark.read.parquet(out)
    assert res.select("url").distinct().count() == 10
    # no url extracted twice across runs
    assert res.select("url", "page").distinct().count() == res.count()

    m = spark.read.parquet(metrics)
    rows = m.collect()
    assert {r.run_id for r in rows} == {"run1", "run2"}
    assert all(r.status == "ok" for r in rows)
    assert sum(r.url_count for r in rows if r.run_id == "run1") == 6
    assert sum(r.url_count for r in rows if r.run_id == "run2") == 4
    assert all(r.bytes > 0 for r in rows)
    assert m.filter(F.col("duration_ms").isNull()).count() == 0


def test_metrics_rows_describe_their_input_partition(spark, tmp_path):
    """Each metrics row counts the urls and html bytes of one input
    partition: the partition id taken after the kernel is the input's,
    and bytes are summed per document, not per page row."""
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    pg = salted_repartition(pages_df(spark, 10), 4)
    want = {
        r.pid: (r.urls, r.bytes)
        for r in pg.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("url").alias("urls"), F.sum(F.length("html")).alias("bytes"))
        .collect()
    }
    run_with_checkpoint(spark, pg, out, metrics, run_id="m")
    got = {
        r.partition_id: (r.url_count, r.bytes)
        for r in spark.read.parquet(metrics).collect()
    }
    assert len(want) > 1
    assert got == want


def test_metrics_duration_is_summed_kernel_microseconds(spark):
    """duration_ms is the partition's summed per-document kernel_us,
    integer-divided once — a one-document partition of a sub-millisecond
    parse is not floored to 0 document by document."""
    from pdf_context_extractor_agent_spark.lineage import (
        instrumented_extract_pages,
        partition_metrics,
    )

    inst = instrumented_extract_pages(salted_repartition(pages_df(spark, 10), 4)).persist()
    want: dict[int, int] = {}
    for r in inst.select("partition_id", "url", "kernel_us").distinct().collect():
        want[r.partition_id] = want.get(r.partition_id, 0) + r.kernel_us
    got = {r.partition_id: r.duration_ms for r in partition_metrics(inst, "d").collect()}
    inst.unpersist()
    assert len(want) > 1
    assert got == {pid: us // 1000 for pid, us in want.items()}


def test_rerun_is_noop(spark, tmp_path):
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    pg = pages_df(spark, 4)
    run_with_checkpoint(spark, pg, out, metrics, run_id="a")
    r = run_with_checkpoint(spark, pg, out, metrics, run_id="b")
    assert r["processed"] == 0 and r["skipped"] == 4
    assert spark.read.parquet(out).select("url").distinct().count() == 4


def test_table_storage_resume_via_catalog(spark, tmp_path):
    """The Iceberg-shaped code path (catalog tables, not parquet paths):
    run → resume through TableStorage against the local session catalog
    (the sandbox's catalog stub — same storage class, v1 writer branch).
    """
    from pdf_context_extractor_agent_spark.lineage import TableStorage, storage_for

    spark.sql(f"CREATE DATABASE IF NOT EXISTS lin_db LOCATION '{tmp_path}/wh'")
    try:
        st = storage_for(spark, "lin_db.pages_out", "lin_db.pages_metrics")
        assert isinstance(st, TableStorage)
        docs = pages_df(spark, 6, partitions=2)
        r1 = run_with_checkpoint(
            spark, docs, "lin_db.pages_out", "lin_db.pages_metrics"
        )
        assert r1["processed"] == 6 and r1["skipped"] == 0
        assert spark.read.table("lin_db.pages_out").select("url").distinct().count() == 6
        assert spark.read.table("lin_db.pages_metrics").count() >= 1
        r2 = run_with_checkpoint(
            spark, docs, "lin_db.pages_out", "lin_db.pages_metrics"
        )
        assert r2["processed"] == 0 and r2["skipped"] == 6
    finally:
        spark.sql("DROP TABLE IF EXISTS lin_db.pages_out")
        spark.sql("DROP TABLE IF EXISTS lin_db.pages_metrics")
        spark.sql("DROP DATABASE IF EXISTS lin_db")


def test_table_storage_prefers_v2_snapshot_append(spark):
    """On an Iceberg catalog the SAME storage class must take the V2
    ``writeTo(t).append()`` snapshot-commit branch — asserted with a
    recording stub; the v1 fallback must not fire when V2 succeeds."""
    from pdf_context_extractor_agent_spark.lineage import TableStorage

    calls = []

    class _V2Writer:
        def append(self):
            calls.append("v2_append")

    class _StubDF:
        def writeTo(self, table):
            calls.append(f"writeTo:{table}")
            return _V2Writer()

        @property
        def write(self):  # the fallback would land here
            calls.append("v1_write")
            raise AssertionError("v1 fallback taken although V2 append succeeded")

    st = TableStorage(spark, "cat.db.out", "cat.db.metrics")
    st.append(_StubDF(), _StubDF())
    assert calls == [
        "writeTo:cat.db.metrics", "v2_append",   # metrics-first ordering
        "writeTo:cat.db.out", "v2_append",
    ]
