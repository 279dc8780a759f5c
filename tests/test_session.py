"""Session sizing and the driver-side work a statement run leaves out:
the host probe behind ``get_spark``'s defaults, the constant dimension
tables as local relations, and the pages reader's format routing."""

from __future__ import annotations

import uuid

import pytest

from pdf_context_extractor_agent_spark import session


@pytest.fixture
def cgroup(tmp_path, monkeypatch):
    """An empty cgroup directory the probe reads instead of the real one."""
    d = tmp_path / "cgroup"
    d.mkdir()
    monkeypatch.setattr(session, "CGROUP_DIR", str(d))
    return d


def test_usable_cpus_follows_affinity_and_cpu_max(cgroup, monkeypatch):
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2, 5, 7, 9})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.usable_cpus() == 6  # no cpu.max file
    for text, want in [("max 100000\n", 6),      # the no-limit sentinel
                       ("250000 100000\n", 3),   # 2.5 CPUs round up
                       ("20000 100000\n", 1),    # never below one
                       ("800000 100000\n", 6)]:  # quota above the affinity set
        (cgroup / "cpu.max").write_text(text)
        assert session.usable_cpus() == want, text
    assert session.default_cores() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3


def test_driver_mem_follows_memtotal_and_memory_max(cgroup, tmp_path, monkeypatch):
    meminfo = tmp_path / "meminfo"
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:         1000000 kB\n")
    assert session.usable_mem_mb() == 16070
    assert session.default_driver_mem() == "8035m"
    (cgroup / "memory.max").write_text("max\n")
    assert session.default_driver_mem() == "8035m"
    (cgroup / "memory.max").write_text(f"{4 << 30}\n")
    assert session.usable_mem_mb() == 4096
    assert session.default_driver_mem() == "2048m"
    # the heap stays capped at 48g on a large host
    (cgroup / "memory.max").unlink()
    meminfo.write_text("MemTotal:      262144000 kB\n")
    assert session.default_driver_mem() == f"{48 * 1024}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session.default_driver_mem() == "6g"


def test_jvm_sizes_itself_to_the_probed_cpus(spark):
    """No processor-count flag: the JVM's own view of the host (which
    sizes its JIT and GC thread pools) is the probe's."""
    conf = spark.sparkContext.getConf()
    assert "ActiveProcessorCount" not in conf.get("spark.driver.extraJavaOptions", "")
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    assert runtime.availableProcessors() == session.usable_cpus()


def test_dimension_tables_are_local_relations(spark):
    """The two constant dims read without a job, and so without a Python
    worker: a frame made from a list of rows is a PythonRDD, and each
    read of it is a job."""
    from pdf_context_extractor_agent_spark.operators import validate
    from pdf_context_extractor_agent_spark.patterns import item_pattern_df

    dims = [item_pattern_df(spark), validate._essential_dim(spark)]
    for df in dims:
        assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    sc = spark.sparkContext
    group = f"dims-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect the constant dimension tables")
    try:
        rows = [df.collect() for df in dims]
    finally:
        sc._jsc.clearJobGroup()
    assert all(rows)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_read_pages_asks_for_iceberg_only_at_iceberg_metadata(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    from pdf_context_extractor_agent_spark.sources import read_pages

    formats = []
    real_format = DataFrameReader.format

    def recording_format(self, source):
        formats.append(source)
        return real_format(self, source)

    monkeypatch.setattr(DataFrameReader, "format", recording_format)
    plain = str(tmp_path / "parquet")
    spark.range(3).write.parquet(plain)
    assert read_pages(spark, plain).count() == 3
    assert "iceberg" not in formats

    table = tmp_path / "iceberg"
    (table / "metadata").mkdir(parents=True)
    monkeypatch.setattr(DataFrameReader, "load", lambda self, path=None: ("loaded", path))
    assert read_pages(spark, str(table)) == ("loaded", str(table))
    assert formats[-1] == "iceberg"
