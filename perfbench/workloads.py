"""Seeded workload inputs and their oracles.

The seed picks document indices for the corpus generator
(``corpus.make_doc``); the program under test only sees the pages table
written from them. The oracle is the generator's own: the expected text
of every url (``corpus.render_text``) and, for report docs, the
statements its kind implies.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_context_extractor_agent_spark.corpus import make_doc

# indices are drawn below this bound; url and content are functions of
# the index alone, so distinct indices give distinct docs
_INDEX_SPACE = 10_000_000

REPORT_DOCS = 30  # three of each kind i % 10
CRAWL_DOCS = 600  # 75 per crawl category

# PDF-heavy crawl mix: each category is a residue class of the
# generator's index, so a doc's format and slice follow from its index.
# Every minipdf doc (i % 10 == 4) falls in one of the five slices.
CRAWL_CATEGORIES = {
    "fpdf1": lambda i: i % 10 == 3,
    "cid": lambda i: i % 30 == 4 and i % 50 != 24,
    "objstm": lambda i: i % 50 == 24,
    "rc4": lambda i: i % 60 == 44 and i % 50 != 24,
    "broken_xref": lambda i: i % 30 == 24 and i % 50 != 24,
    "simple_font": lambda i: i % 30 == 14 and i % 60 != 44 and i % 50 != 24,
    "web_en": lambda i: i % 10 == 6,
    "web_es": lambda i: i % 10 == 7,
}


def expected_statements(i: int, types: int = 3) -> tuple[int, int]:
    """(statements, valid statements) of report doc ``i`` when ``types``
    statement types are extracted, the balance sheet first (the CLI's
    default is balance sheet, income statement, cash flow). Kinds 6-7
    hold none; kind 8 holds only an invalid balance sheet."""
    kind = i % 10
    if kind in (6, 7):
        return (0, 0)
    if kind == 8:
        return (1, 0)
    return (types, types)


def _draw(rng: random.Random, accept, n: int, taken: set[int]) -> list[int]:
    out = []
    while len(out) < n:
        i = rng.randrange(_INDEX_SPACE)
        if accept(i) and i not in taken:
            taken.add(i)
            out.append(i)
    return out


def report_indices(seed: int, n: int = REPORT_DOCS) -> list[int]:
    """The generator's natural mix: equal shares of every kind."""
    rng, taken = random.Random(seed), set()
    per_kind = n // 10
    return sorted(
        i for kind in range(10)
        for i in _draw(rng, lambda i, k=kind: i % 10 == k, per_kind, taken)
    )


def crawl_indices(seed: int, n: int = CRAWL_DOCS) -> list[int]:
    rng, taken = random.Random(seed), set()
    per_cat = n // len(CRAWL_CATEGORIES)
    return sorted(
        i for accept in CRAWL_CATEGORIES.values()
        for i in _draw(rng, accept, per_cat, taken)
    )


class Corpus:
    """Rows of one workload input plus the oracle derived from them."""

    def __init__(self, rows: list[tuple], statements: dict[str, tuple[int, int]]):
        self.rows = rows
        self.text = {r[0]: r[3] for r in rows}
        # url -> (statements, valid statements) the doc's kind implies
        self.statements = statements

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        cols = list(zip(*self.rows))
        table = pa.table({
            "url": pa.array(cols[0], pa.string()),
            "warc_ts": pa.array(cols[1], pa.timestamp("us")),
            "html": pa.array(cols[2], pa.binary()),
            "text": pa.array(cols[3], pa.string()),
            "lang": pa.array(cols[4], pa.string()),
        })
        # several files, as a table's input splits would be
        step = max(1, len(self.rows) // 4)
        for k, lo in enumerate(range(0, len(self.rows), step)):
            pq.write_table(table.slice(lo, step), f"{path}/part-{k:05d}.parquet")

    def subset(self, urls: set[str]) -> "Corpus":
        return Corpus([r for r in self.rows if r[0] in urls],
                      {u: v for u, v in self.statements.items() if u in urls})

    def digest(self) -> str:
        h = hashlib.sha256()
        for url in sorted(self.text):
            h.update(url.encode() + b"\0" + self.text[url].encode() + b"\0")
        return h.hexdigest()


def reports_corpus(seed: int, n: int = REPORT_DOCS, types: int = 3) -> Corpus:
    idx = report_indices(seed, n)
    rows = [make_doc(i) for i in idx]
    return Corpus(rows, {r[0]: expected_statements(i, types) for i, r in zip(idx, rows)})


def crawl_corpus(seed: int, n: int = CRAWL_DOCS) -> Corpus:
    # the crawl lane writes page text only: no statement expectations
    return Corpus([make_doc(i) for i in crawl_indices(seed, n)], {})


def resume_new_urls(corpus: Corpus, seed: int, categories) -> set[str]:
    """A seeded quarter (at least one) of each category's urls: the ones
    a resume workload has not committed yet. ``categories`` maps a url to
    its category."""
    rng = random.Random(seed ^ 0xD0E)
    by_cat: dict[str, list[str]] = {}
    for url in sorted(corpus.text):
        by_cat.setdefault(categories(url), []).append(url)
    return {u for urls in by_cat.values() for u in rng.sample(urls, max(1, len(urls) // 4))}


def doc_index(url: str) -> int:
    return int(url.rsplit("/doc", 1)[1].split(".")[0])


def category_of(url: str) -> str:
    """Crawl category of a url this module generated."""
    i = doc_index(url)
    return next(name for name, accept in CRAWL_CATEGORIES.items() if accept(i))


def kind_of(url: str) -> str:
    """Report kind (``i % 10``) of a url this module generated."""
    return str(doc_index(url) % 10)


def format_of(blob: bytes) -> str:
    """Kernel lane a blob takes (the dispatch ``parse_doc`` makes)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import is_minipdf
    from pdf_context_extractor_agent_spark.kernels.pdfish_layout import is_pdfish

    if is_pdfish(blob):
        return "fpdf1"
    if is_minipdf(blob):
        return "minipdf"
    return "html"
