"""Self-tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run, workloads  # noqa: E402
from perfbench.spans import self_times  # noqa: E402

from pdf_context_extractor_agent_spark.kernels import parse_doc  # noqa: E402

BENCH = os.path.join(os.path.dirname(run.BENCH_DIR), "BENCHMARK.json")


def test_same_seed_same_inputs_and_digest():
    a, b = workloads.reports_corpus(7, 20), workloads.reports_corpus(7, 20)
    assert [r[0] for r in a.rows] == [r[0] for r in b.rows]
    assert [r[2] for r in a.rows] == [r[2] for r in b.rows]
    assert a.digest() == b.digest()
    c = workloads.crawl_corpus(7, 16)
    assert c.digest() == workloads.crawl_corpus(7, 16).digest()


def test_other_seed_other_docs():
    a, b = workloads.reports_corpus(1, 20), workloads.reports_corpus(2, 20)
    assert not {r[0] for r in a.rows} & {r[0] for r in b.rows}
    assert a.digest() != b.digest()
    assert (workloads.crawl_indices(1, 16) != workloads.crawl_indices(2, 16))


def test_mixes_have_equal_shares():
    idx = workloads.report_indices(3, 20)
    assert sorted(i % 10 for i in idx) == sorted(list(range(10)) * 2)
    idx = workloads.crawl_indices(3, 16)
    for accept in workloads.CRAWL_CATEGORIES.values():
        assert sum(1 for i in idx if accept(i)) == 2
    cats = [workloads.category_of(r[0]) for r in workloads.crawl_corpus(3, 16).rows]
    assert all(cats.count(k) == 2 for k in workloads.CRAWL_CATEGORIES)


def test_crawl_categories_are_disjoint():
    for i in range(3000):
        hits = [n for n, accept in workloads.CRAWL_CATEGORIES.items() if accept(i)]
        assert len(hits) <= 1, (i, hits)
        # every minipdf doc falls in one of the five slices
        assert hits or i % 10 not in (3, 4, 6, 7), i


def test_oracle_holds_on_tiny_input():
    """The kernel reproduces the oracle text of every crawl category and
    report kind, and statement expectations follow the kind."""
    for corpus in (workloads.reports_corpus(5, 10), workloads.crawl_corpus(5, 8)):
        for url, _ts, blob, text, _lang in corpus.rows:
            got = "\n".join(p["page_text"] for p in parse_doc(blob))
            assert got == corpus.text[url] == text, url
    stmts = workloads.reports_corpus(5, 10).statements
    assert sum(v[0] for v in stmts.values()) == 22  # 7 kinds x 3 + kind 8
    assert sum(v[1] for v in stmts.values()) == 21
    # at 2,000 docs: 4,400 statements, 4,200 of them valid
    assert sum(workloads.expected_statements(i)[0] for i in range(2000)) == 4400
    assert sum(workloads.expected_statements(i)[1] for i in range(2000)) == 4200
    # the balance sheet alone (reports-statements): one per kind but 6-7
    bs = workloads.reports_corpus(5, 30, types=len(run.STATEMENTS)).statements
    assert sum(v[0] for v in bs.values()) == 24
    assert sum(v[1] for v in bs.values()) == 21


def test_resume_split_is_seeded_quarter_of_each_category():
    c = workloads.crawl_corpus(4, 32)
    new = workloads.resume_new_urls(c, 4, workloads.category_of)
    assert new == workloads.resume_new_urls(c, 4, workloads.category_of)
    assert sorted(workloads.category_of(u) for u in new) == sorted(workloads.CRAWL_CATEGORIES)
    r = workloads.reports_corpus(4, 40)
    new = workloads.resume_new_urls(r, 4, workloads.kind_of)
    assert sorted(workloads.kind_of(u) for u in new) == [str(k) for k in range(10)]


def test_self_times_account_for_wall():
    spans = [
        {"id": 1, "name": "run", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "kernels", "start": 1.0, "end": 4.0, "parent": 1},
        # two concurrent sink writers share their overlap
        {"id": 3, "name": "sinks", "start": 5.0, "end": 9.0, "parent": 1},
        {"id": 4, "name": "notes", "start": 5.0, "end": 7.0, "parent": 1},
    ]
    st = self_times(spans)
    assert abs(sum(st.values()) - 10.0) < 1e-9
    assert st["kernels"] == 3.0
    assert st["notes"] == 1.0 and st["sinks"] == 3.0
    assert st["run"] == 3.0


def test_every_metric_is_named_with_a_unit():
    with open(BENCH) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    # the benchmark's workloads' traced runs report exactly these
    assert [m["name"] for m in bench["per_layer"]] == list(run.BENCH_LAYER)
    for m in bench["per_layer"]:
        assert run._unit(m["name"]) == m["unit"], m["name"]
    assert set(run.BENCH_LAYER) < set(run.PER_LAYER)
    # every name the self times are reported under is a per-layer metric
    assert set(run.SPAN_SECONDS.values()) <= set(run.PER_LAYER)
    assert ({w["name"] for w in bench["workloads"]}
            == {"crawl-text", "reports-statements"})
    assert set(run.WORKLOADS) >= {w["name"] for w in bench["workloads"]}


def test_nearest_rank_quantile():
    assert run._quantile(list(range(1, 11)), 0.5) == 5
    assert run._quantile(list(range(1, 101)), 0.99) == 99
    assert run._quantile([3.0], 0.99) == 3.0
