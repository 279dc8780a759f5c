#!/usr/bin/env python
"""Extraction benchmark: one workload through the entry points a user
calls, closed loop (one batch job at a time from this process) on
``local[<usable CPUs>]``.

    python3 perfbench/run.py --workload crawl-text --seed 1 --seconds 1 --trace 0

Workloads (inputs are generated from ``--seed`` and written as a
parquet pages table during set-up):

* ``crawl-text``   ``lineage.run_with_checkpoint`` over
  ``sources.skew_partitioned(read_pages(...))`` into a fresh output; a
  PDF-heavy crawl mix.
* ``reports-statements`` ``plans.parse_statements`` (balance sheet) on
  the kernel's pages, then the summary and text sinks; the generator's
  natural report mix.
* ``crawl-resume`` the crawl-text call over a committed prior run of a
  seeded 3/4 of the same input, restored before each invocation.
* ``reports-full`` ``scripts/run_pipeline.py`` ``main`` into a fresh
  output, all six sinks, the report mix. The CLI's ``get_spark`` finds
  this process's session, so it runs warm after the warm-up invocation.
* ``reports-resume`` the same with ``--resume`` over a committed lineage
  run of a seeded 3/4 of the urls.

The first two are the benchmark's workloads (``BENCHMARK.json``); the
others are run by hand. Every workload times warm invocations: set-up
includes one cold invocation.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see ``BENCHMARK.json``). Outputs are checked
against the generator's oracle; a mismatch gives exit code 1. The last
stdout line is the JSON result. Human-readable lines before it name
every metric with its unit; the full artifact (host, samples, spans) is
written to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import importlib.util
import io
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)
PKG = "pdf_context_extractor_agent_spark"
CLI = os.path.join(ROOT, "scripts", "run_pipeline.py")

# crawl-text and reports-statements are the benchmark's workloads
# (BENCHMARK.json); the others are run by hand (see README.md)
WORKLOADS = ("crawl-text", "reports-statements", "crawl-resume", "reports-full",
             "reports-resume")
# statement types reports-statements extracts
STATEMENTS = ("balance_sheet",)
# the Spark driver heap every workload runs with (see _prepare_env)
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _prepare_env(work: str) -> None:
    """Make the package importable here and in Spark's python workers
    from any cwd, keep every temporary file inside ``work``, and fix
    the driver heap."""
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(CLI):
        _fail(f"no {PKG}/ or scripts/run_pipeline.py under {ROOT}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM keeps its temp files here; without UsePerfData it writes no
    # hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o)
    # session.py's default 48 GB driver heap outgrows a 16 GB host: the
    # JVM reached 15 GB resident on reports-full and was killed for lack
    # of memory. The heap is fixed, whatever the caller's environment.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _load_cli():
    spec = importlib.util.spec_from_file_location("run_pipeline", CLI)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# --- workload invocations -------------------------------------------------

class Workload:
    """One workload: its corpus, how to invoke it, how to check outputs.

    Resume workloads start each invocation from a committed prior run
    over a seeded 3/4 of the input's urls, restored before every
    invocation."""

    def __init__(self, name: str, seed: int, work: str, cores: int):
        from perfbench import workloads

        self.name, self.cores = name, cores
        # report workloads write text/ and summary/ sinks; the CLI ones
        # through scripts/run_pipeline.py
        self.reports = name.startswith("reports")
        self.cli = self.reports and name != "reports-statements"
        self.resume = name.endswith("resume")
        self.input = os.path.join(work, "input")
        self.out_root = os.path.join(work, "out")
        self.committed = os.path.join(work, "committed")
        if self.cli:
            self.corpus = workloads.reports_corpus(seed)
        elif self.reports:
            self.corpus = workloads.reports_corpus(seed, types=len(STATEMENTS))
        else:
            self.corpus = workloads.crawl_corpus(seed)
        self.n_docs = len(self.corpus.rows)
        self.new_urls = None
        if self.resume:
            self.new_urls = workloads.resume_new_urls(
                self.corpus, seed, workloads.kind_of if self.reports else workloads.category_of)
        self.committed_bytes: dict[str, int] = {}
        self._k = 0
        self._cli = _load_cli() if self.cli else None

    def write_inputs(self) -> None:
        shutil.rmtree(self.input, ignore_errors=True)
        self.corpus.write(self.input)

    def commit_prior(self, spark) -> None:
        """The committed state resume invocations start from: what the
        lineage layer writes for the already-done urls."""
        from pdf_context_extractor_agent_spark import lineage, sources

        prior = os.path.join(self.out_root, "prior-input")
        self.corpus.subset(set(self.corpus.text) - self.new_urls).write(prior)
        pages = sources.skew_partitioned(sources.read_pages(spark, prior))
        lineage.run_with_checkpoint(spark, pages, f"{self.committed}/text_pages",
                                    f"{self.committed}/metrics")
        shutil.rmtree(prior)
        self.committed_bytes = {d: _du(f"{self.committed}/{d}")
                                for d in ("text_pages", "metrics")}

    def fresh_output(self) -> str:
        self._k += 1
        out = os.path.join(self.out_root, f"run{self._k}")
        if self.resume:
            shutil.copytree(self.committed, out)
        return out

    def invoke(self, spark, out: str) -> dict:
        """One call into the program; returns what the call reported."""
        if not self.reports:
            from pdf_context_extractor_agent_spark import lineage, sources

            pages = sources.skew_partitioned(sources.read_pages(spark, self.input))
            return lineage.run_with_checkpoint(
                spark, pages, f"{out}/text_pages", f"{out}/metrics")
        if not self.cli:
            return self._statements(spark, out)
        argv = ["run_pipeline.py", "--input", self.input, "--output", out,
                "--cores", str(self.cores)] + (["--resume"] if self.resume else [])
        saved, sys.argv = sys.argv, argv
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                rc = self._cli.main()
        finally:
            sys.argv = saved
        if rc:
            raise RuntimeError(f"run_pipeline exited {rc}")
        sys.stderr.write(buf.getvalue())
        for line in buf.getvalue().splitlines():
            if line.startswith("lineage: "):
                return ast.literal_eval(line[len("lineage: "):])
        return {}

    def _statements(self, spark, out: str) -> dict:
        """The library calls the CLI makes for its summary and text sinks,
        written one after another."""
        from pdf_context_extractor_agent_spark import kernels, plans, sources

        pages = sources.skew_partitioned(sources.read_pages(spark, self.input))
        page_df = kernels.extract_pages(pages).persist()
        res = plans.parse_statements(page_df, spark, STATEMENTS)
        res["summary"].write.parquet(f"{out}/summary")
        kernels.extracted_text(page_df).write.parquet(f"{out}/text")
        page_df.unpersist()
        return {}

    def check(self, out: str, info: dict) -> dict:
        """Compare one invocation's committed outputs with the oracle."""
        import pyarrow.dataset as ds

        def page_text(path: str) -> dict[str, str]:
            pages: dict[str, list] = {}
            for r in ds.dataset(path, format="parquet").to_table(
                    columns=["url", "page", "page_text"]).to_pylist():
                pages.setdefault(r["url"], []).append((r["page"], r["page_text"]))
            return {u: "\n".join(p for _, p in sorted(v)) for u, v in pages.items()}

        texts = []
        if self.reports:
            texts.append({r["url"]: r["extracted_text"] for r in
                          ds.dataset(f"{out}/text", format="parquet").to_table().to_pylist()})
        if self.resume or not self.reports:
            # committed and new page text together cover every url once
            texts.append(page_text(f"{out}/text_pages"))
        text_bad = {u for got in texts for u, want in self.corpus.text.items()
                    if got.get(u) != want}
        degraded = len({u for got in texts for u, want in self.corpus.text.items()
                        if want and got.get(u) == ""})
        bad_docs = set(text_bad)
        stmt_expected = stmt_failed = 0
        if self.reports:
            rows = ds.dataset(f"{out}/summary", format="parquet").to_table(
                columns=["url", "statement_type", "is_valid"]).to_pylist()
            per_url: dict[str, list[bool]] = {}
            for r in rows:
                per_url.setdefault(r["url"], []).append(bool(r["is_valid"]))
            for url, (n_exp, n_valid) in self.corpus.statements.items():
                got_v = per_url.pop(url, [])
                fails = abs(len(got_v) - n_exp)
                want_valid = n_valid == n_exp
                fails += sum(1 for v in got_v[:n_exp] if v != want_valid)
                stmt_expected += n_exp
                stmt_failed += fails
                if fails:
                    bad_docs.add(url)
            # statements for urls the input does not hold
            stmt_failed += sum(len(v) for v in per_url.values())
        if self.resume or not self.reports:
            n_new = len(self.new_urls) if self.resume else self.n_docs
            if info.get("processed") != n_new or info.get("skipped") != self.n_docs - n_new:
                bad_docs.add("<lineage counts>")
        return {
            "docs": self.n_docs,
            "failed_docs": len(bad_docs),
            "doc_fail_rate": len(text_bad) / self.n_docs,
            "stmt_expected": stmt_expected,
            "stmt_fail_rate": stmt_failed / stmt_expected if stmt_expected else 0.0,
            "degraded_docs": degraded,
        }


def timed_invocation(wl: Workload, spark, tracer=None) -> dict:
    """One invocation, timed and checked; with a tracer, the invocation
    is the trace's root span ``run``."""
    from perfbench.host import PeakRss, tree_cpu_s

    out = wl.fresh_output()
    cpu0 = tree_cpu_s()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        with tracer.span("run") if tracer else contextlib.nullcontext():
            info = wl.invoke(spark, out)
        wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    prior = wl.committed_bytes
    res = {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb, "info": info,
           "bytes_written": _du(out) - sum(prior.values()),
           "lineage_bytes": sum(_du(f"{out}/{d}") - prior.get(d, 0)
                                for d in ("text_pages", "metrics")),
           **wl.check(out, info)}
    shutil.rmtree(out)
    # the CLI persists its kernel relation and leaves it cached, as a
    # process that exits next may; the next invocation starts uncached
    spark.catalog.clearCache()
    return res


# --- tracing --------------------------------------------------------------

def trace_targets():
    """(owner, attribute, span, count key, materialize) for every layer
    boundary the benchmark's calls cross."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pdf_context_extractor_agent_spark.lineage import PathStorage

    ext = f"{PKG}.plans.extract"
    return [
        (f"{PKG}.session", "get_spark", "session", None, False),
        (f"{PKG}.sources", "skew_partitioned", "sources", None, True),
        (f"{PKG}.kernels", "extract_pages", "kernels", "kernels.pages_out", True),
        (f"{PKG}.lineage", "run_with_checkpoint", "lineage", None, False),
        # the layout kernel as the lineage layer runs it
        (f"{PKG}.lineage", "instrumented_extract_pages", "kernels",
         "kernels.pages_out", True),
        (PathStorage, "read_done", "lineage.read_done", None, True),
        (PathStorage, "append", "lineage.append", None, False),
        (f"{PKG}.plans", "parse_statements", "plans", None, False),
        (ext, "statement_rows", "merge", "merge.rows", True),
        (ext, "identify_structures", "structure", "structure.statements", True),
        (ext, "header_maps", "columns", None, True),
        (ext, "extract_items", "columns", "columns.items", True),
        (ext, "match_items", "match", "match", True),
        (ext, "validation_checks", "validate", "validate.checks", True),
        (ext, "completeness", "validate", None, True),
        (ext, "validation_summary", "validate", None, True),
        (f"{PKG}.operators.notes", "extract_notes", "notes", "notes.rows", True),
        (f"{PKG}.sources.sinks", "write_parsed_json", "sinks", None, False),
        (DataFrameWriter, "parquet", "sinks", None, False),
    ]


PLAN_SPANS = ("plans", "merge", "structure", "columns", "match", "validate")


LATENCY_SAMPLE = 200  # docs per format timed in-process


def kernel_latencies(wl: Workload) -> dict:
    """``parse_doc`` in this process, single-threaded, on the first
    ``LATENCY_SAMPLE`` docs of each format the invocation's kernel parses
    (the new urls on resume workloads). ``parse_s`` estimates the parse
    seconds of all of them: each format's mean times its doc count."""
    from pdf_context_extractor_agent_spark.kernels import parse_doc
    from perfbench.workloads import format_of

    ms: dict[str, list[float]] = {"html": [], "fpdf1": [], "minipdf": []}
    n: dict[str, int] = dict.fromkeys(ms, 0)
    for url, _ts, blob, _text, _lang in wl.corpus.rows:
        if wl.resume and url not in wl.new_urls:
            continue
        fmt = format_of(blob)
        n[fmt] += 1
        if len(ms[fmt]) < LATENCY_SAMPLE:
            t0 = time.perf_counter()
            parse_doc(blob)
            ms[fmt].append((time.perf_counter() - t0) * 1000)
    out = {"parse_s": sum(n[f] * statistics.mean(v) for f, v in ms.items() if v) / 1000}
    for fmt, v in ms.items():
        out[f"kernels.{fmt}_ms_p50"] = _quantile(v, 0.5) if v else 0.0
        out[f"kernels.{fmt}_ms_p99"] = _quantile(v, 0.99) if v else 0.0
    return out


def source_shape(spark, wl: Workload) -> dict:
    from pyspark.sql import functions as F

    from pdf_context_extractor_agent_spark.sources import read_pages, skew_partitioned
    from pdf_context_extractor_agent_spark.sources.pages import DEFAULT_JUMBO_BYTES

    df = skew_partitioned(read_pages(spark, wl.input))
    part_bytes = [r[1] for r in df.groupBy(F.spark_partition_id().alias("p"))
                  .agg(F.sum(F.length("html"))).collect()]
    med = statistics.median(part_bytes)
    return {
        "sources.partitions": df.rdd.getNumPartitions(),
        "sources.part_bytes_max_over_median": max(part_bytes) / med if med else 0.0,
        "sources.jumbo_docs": df.filter(F.length("html") > DEFAULT_JUMBO_BYTES).count(),
    }


def kernel_scale_eff(wl: Workload, cores: int, work: str) -> float:
    """Kernel-stage docs/s at local[cores] over cores x docs/s at
    local[1], on every second doc of this input (one warm-up and one
    timed pass per size)."""
    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.session import get_spark, stop_spark
    from pdf_context_extractor_agent_spark.sources import read_pages, salted_repartition

    path = os.path.join(work, "scale-input")
    wl.corpus.subset({r[0] for r in wl.corpus.rows[::2]}).write(path)
    secs = {}
    for c in (1, cores):
        stop_spark()
        spark = get_spark(app_name=f"perfbench-scale{c}", cores=c)
        src = salted_repartition(read_pages(spark, path), c)
        for _ in range(2):
            t0 = time.perf_counter()
            extract_pages(src).write.format("noop").mode("overwrite").save()
            secs[c] = time.perf_counter() - t0
    stop_spark()
    return secs[1] / (cores * secs[cores])


# span name -> the per-layer metric its self time is reported as; the
# self times of all spans sum to trace.wall_s
SPAN_SECONDS = {
    "run": "trace.root_self_s",
    "session": "session.s",
    "sources": "sources.scan_s",
    "kernels": "kernels.extract_s",
    "lineage": "lineage.count_s",
    "lineage.read_done": "lineage.read_done_s",
    "lineage.append": "lineage.append_s",
    "plans": "plans.build_s",
    "merge": "merge.s",
    "structure": "structure.s",
    "columns": "columns.s",
    "match": "match.s",
    "validate": "validate.s",
    "notes": "notes.s",
    "sinks": "sinks.write_s",
}
SPAN_COUNTS = ("kernels.pages_out", "merge.rows", "structure.statements",
               "columns.items", "match.matched", "match.unmatched",
               "validate.checks", "notes.rows")
PER_LAYER = (
    "session.start_s", "session.s", "session.gc_s", "session.task_busy_share",
    "session.sched_gap_s", "session.sched_delay_s",
    "sources.scan_s", "sources.partitions", "sources.part_bytes_max_over_median",
    "sources.jumbo_docs",
    "kernels.extract_s", "kernels.pages_out", "kernels.html_ms_p50",
    "kernels.html_ms_p99", "kernels.fpdf1_ms_p50", "kernels.fpdf1_ms_p99",
    "kernels.minipdf_ms_p50", "kernels.minipdf_ms_p99", "kernels.boundary_s",
    "kernels.degraded_docs", "kernels.scale_eff",
    "lineage.read_done_s", "lineage.processed", "lineage.skipped",
    "lineage.count_s", "lineage.append_s",
    "lineage.bytes_written",
    "plans.build_s", "plans.exchanges", "plans.shuffle_mb",
    "merge.s", "merge.rows", "structure.s", "structure.statements",
    "columns.s", "columns.items", "match.s", "match.matched", "match.unmatched",
    "match.hit_rate", "validate.s", "validate.checks", "notes.s", "notes.rows",
    "sinks.write_s", "sinks.bytes", "run_pipeline.report_s",
    "trace.root_self_s", "trace.wall_s", "trace.overhead_s",
)
# layers only the CLI workloads reach; the others report the rest
CLI_LAYER = ("session.s", "notes.s", "notes.rows", "run_pipeline.report_s")
BENCH_LAYER = tuple(k for k in PER_LAYER if k not in CLI_LAYER)


def traced_metrics(wl: Workload, spark, work: str, cores: int, session_start_s: float,
                   untraced: dict) -> tuple[dict, list[dict], dict]:
    """Per-layer metrics of one traced invocation (after ``untraced``,
    the same invocation without tracing), plus the spans and the
    invocation's own result. Stops ``spark``."""
    from perfbench.eventlog import EventLog
    from perfbench.spans import Tracer, instrument, self_times

    tracer = Tracer()
    with instrument(tracer, trace_targets()):
        res = timed_invocation(wl, spark, tracer)
    spans = tracer.spans
    root = next(s for s in spans if s["name"] == "run")
    wall = root["end"] - root["start"]

    def windows(names) -> list[tuple[float, float]]:
        return [(tracer.epoch_at(s["start"]), tracer.epoch_at(s["end"]))
                for s in spans if s["name"] in names]

    # the parquet writes of a lineage append are the lineage layer's, not
    # the sinks': sinks.* cover the writers outside lineage
    names = {s["id"]: s["name"] for s in spans}
    for s in spans:
        if s["name"] == "sinks" and names.get(s["parent"]) == "lineage.append":
            s["name"] = "lineage.append"
    m = {metric: 0.0 for metric in SPAN_SECONDS.values()}
    for name, secs in self_times(spans).items():
        m[SPAN_SECONDS[name]] = secs
    m.update({k: tracer.counts.get(k, 0) for k in SPAN_COUNTS})
    seen = m["match.matched"] + m["match.unmatched"]
    last_child_end = max((s["end"] for s in spans if s["parent"] == root["id"]),
                         default=root["end"])
    lat = kernel_latencies(wl)
    m.update({k: v for k, v in lat.items() if k.startswith("kernels.")})
    m.update(source_shape(spark, wl))
    m.update({
        "session.start_s": session_start_s,
        "trace.wall_s": wall,
        "trace.overhead_s": wall - untraced["wall_s"],
        "kernels.degraded_docs": res["degraded_docs"],
        "lineage.processed": res["info"].get("processed", 0),
        "lineage.skipped": res["info"].get("skipped", 0),
        "lineage.bytes_written": res["lineage_bytes"],
        "match.hit_rate": m["match.matched"] / seen if seen else 0.0,
        "sinks.bytes": res["bytes_written"] - res["lineage_bytes"],
        # the CLI's closing counts run after its last layer call
        "run_pipeline.report_s": root["end"] - last_child_end if wl.cli else 0.0,
    })
    # the event log is complete once the context stops
    event_dir = os.path.join(work, "events")
    spark.stop()
    log = EventLog(event_dir)
    rt = log.window(tracer.epoch_at(root["start"]), tracer.epoch_at(root["end"]), cores)
    m.update({f"session.{k}": rt[k] for k in
              ("gc_s", "task_busy_share", "sched_gap_s", "sched_delay_s")})
    plan_stages = log.stages_submitted_in(windows(PLAN_SPANS))
    m["plans.exchanges"] = log.exchanges_started_in(windows(PLAN_SPANS))
    m["plans.shuffle_mb"] = log.stage_shuffle_mb(plan_stages)
    kernel_stages = log.stages_submitted_in(windows(("kernels",)))
    m["kernels.boundary_s"] = log.stage_busy_s(kernel_stages) - lat["parse_s"]
    # the N-vs-1 gate is the crawl lane's; the report inputs are too small for it
    m["kernels.scale_eff"] = 0.0 if wl.reports else kernel_scale_eff(wl, cores, work)
    missing = set(PER_LAYER) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: m[k] for k in PER_LAYER}, spans, res


# --- command --------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(BENCH_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its outputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _prepare_env(work)
    try:
        return run(args, work)
    finally:
        try:
            shutdown_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            # the parent stays while another run uses it
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))


def run(args, work: str) -> int:
    from perfbench.host import describe, usable_cpus

    cores = usable_cpus()
    t_setup = time.perf_counter()
    from pdf_context_extractor_agent_spark.session import get_spark

    extra = {}
    if args.trace:
        os.makedirs(os.path.join(work, "events"))
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.dir": "file://" + os.path.join(work, "events")}
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=extra)
    session_start_s = time.perf_counter() - t_setup
    host = describe(spark)
    t0 = time.perf_counter()
    wl = Workload(args.workload, args.seed, work, cores)
    wl.write_inputs()
    gen_s = time.perf_counter() - t0
    # warm-up: the cold invocation (on resume workloads, after committing
    # the prior run). It pays the JIT and python worker start-up that a
    # CLI user pays on every run, in a fresh process; here it is set-up.
    t0 = time.perf_counter()
    if wl.resume:
        wl.commit_prior(spark)
    warmups = [timed_invocation(wl, spark)]
    warmup_s = time.perf_counter() - t0
    setup_s = session_start_s + gen_s + warmup_s

    samples = []
    t_measure = time.perf_counter()
    while not samples or time.perf_counter() - t_measure < args.seconds:
        samples.append(timed_invocation(wl, spark))
        if args.trace:
            break  # one untraced reference before the traced invocation
    checks = samples + warmups

    if args.trace:
        metrics, spans, traced = traced_metrics(
            wl, spark, work, cores, session_start_s, samples[0])
        checks.append(traced)
        units = {k: _unit(k) for k in metrics}
        layer_sum = sum(metrics[k] for k in SPAN_SECONDS.values())
        reported = PER_LAYER if wl.cli else BENCH_LAYER
    else:
        spans = []
        reported = tuple(END_TO_END_UNITS)
        wall = statistics.median(s["wall_s"] for s in samples)
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": wl.n_docs / wall,
            "cpu_s_per_kdoc": statistics.median(s["cpu_s"] for s in samples)
            / wl.n_docs * 1000,
            "peak_rss_mb": statistics.median(s["peak_rss_mb"] for s in samples),
        }
        units = END_TO_END_UNITS
    attempted = sum(c["docs"] for c in checks)
    failed = sum(c["failed_docs"] for c in checks)
    doc_fail = sum(c["doc_fail_rate"] * c["docs"] for c in checks) / attempted
    stmt_exp = sum(c["stmt_expected"] for c in checks)
    stmt_fail = (sum(c["stmt_fail_rate"] * c["stmt_expected"] for c in checks) / stmt_exp
                 if stmt_exp else 0.0)

    print(json.dumps({"host": host}))
    print(f"workload {args.workload} seed {args.seed}: {wl.n_docs} docs, "
          f"{len(samples)} timed invocation(s), local[{cores}], closed loop, one client")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    if args.trace:
        print(f"layer self times sum to {layer_sum:.6g} s of trace.wall_s "
              f"{metrics['trace.wall_s']:.6g} s")
    print(f"doc_fail_rate {doc_fail:.6g} ratio")
    if wl.reports:
        print(f"stmt_fail_rate {stmt_fail:.6g} ratio ({stmt_exp} expected statements)")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in reported},
    }
    os.makedirs(os.path.join(BENCH_DIR, "results"), exist_ok=True)
    with open(os.path.join(BENCH_DIR, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"result": result, "host": host, "setup": {
            "session_start_s": session_start_s, "gen_s": gen_s,
            "warmup_s": warmup_s, "warmup_walls_s": [w["wall_s"] for w in warmups]}, "samples": samples, "spans": spans,
            "doc_fail_rate": doc_fail, "stmt_fail_rate": stmt_fail}, f, indent=1,
            default=str)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ms_p50") or name.endswith("_ms_p99"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_share", "_rate", "_eff", "_over_median")):
        return "ratio"
    return "count"


def shutdown_spark() -> None:
    """Stop the session, then the JVM and the python workers under it,
    and wait until every process this run started has exited."""
    from perfbench.host import tree_pids

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from pdf_context_extractor_agent_spark.session import stop_spark

    # an interrupted run can leave the py4j connection unusable; the JVM
    # is stopped below either way
    with contextlib.suppress(Exception):
        stop_spark()
    gateway = SparkContext._gateway
    children = [p for p in tree_pids() if p != os.getpid()]
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


if __name__ == "__main__":
    raise SystemExit(main())
