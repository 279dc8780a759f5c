"""HTML → page layout kernel.

Plays the role of the reference's PDF layer: where the reference calls
``page.extract_text() / extract_tables() / find_tables() / extract_words()``
(reference: src/pdf_reader.py:61-100; src/parsers/batch_notes_extractor.py:
454-517), this kernel parses the ``html binary`` column and emits, per
page: the main-content text, text lines with layout Y positions, and
tables with Y extents — everything downstream needs, produced once.

Determinism: boilerplate subtrees (nav/header/footer/aside/script/style
and class-hinted wrappers) are dropped; each block-level element yields
one line; table rows yield one line of tab-joined cells; Y advances a
fixed 12.0 per line (a layout engine resolving reading order — no float
nondeterminism). The extracted doc text (pages joined by '\n') is the
byte-identity invariant against the corpus ``text`` column.

Runs as ``mapInPandas`` (Arrow batches, zero per-row Python outside the
kernel); the binary column is pruned away immediately after.
"""

from __future__ import annotations

import re
import time
from html import unescape
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINE_HEIGHT = 12.0

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        # reference get_page_info metadata (src/pdf_reader.py:102-136):
        # rotation degrees; 0 for HTML and unrotated PDF pages
        T.StructField("rotation", T.IntegerType(), True),
        T.StructField("page_text", T.StringType(), True),
        T.StructField(
            "lines",
            T.ArrayType(
                T.StructType(
                    [T.StructField("y", T.DoubleType()), T.StructField("text", T.StringType())]
                )
            ),
        ),
        T.StructField(
            "tables",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("table_idx", T.IntegerType()),
                        T.StructField("y_top", T.DoubleType()),
                        T.StructField("y_bottom", T.DoubleType()),
                        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
                    ]
                )
            ),
        ),
        # per-document values, repeated on every page row of the
        # document: the parse_doc wall time (µs) and the input blob size
        T.StructField("kernel_us", T.LongType(), True),
        T.StructField("doc_bytes", T.LongType(), True),
    ]
)

_SKIP_TAGS = {"script", "style", "nav", "footer", "aside", "header", "noscript", "iframe", "head"}
_SKIP_CLASS_HINTS = ("nav", "footer", "menu", "sidebar", "banner", "advert", "cookie")
_TEXT_TAGS = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre", "span", "a", "b", "i", "em", "strong"}
_VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"}
# paragraph-flushing block tags (p/li/blockquote/pre + h1..h6) as one
# set lookup — these run once per start AND end tag corpus-wide
_FLUSH_TAGS = {"p", "li", "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6"}


def _norm(s: str) -> str:
    """Collapse whitespace runs to single spaces and strip."""
    return " ".join(s.split())


# colspan/rowspan clamp: hostile crawl HTML carries colspan="2000000000";
# expanding that per cell would allocate gigabytes inside one task. 512
# comfortably exceeds any real table while bounding worst-case cell fanout.
_SPAN_CAP = 512


def _span_int(v) -> int:
    try:
        n = int(str(v).strip())
    except (TypeError, ValueError):
        return 1
    return 1 if n < 1 else min(n, _SPAN_CAP)


class _LayoutParser(HTMLParser):
    """Single-pass DOM-less layout walk (stdlib only, fully deterministic)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_stack: list[str] = []
        self.pages: list[list[tuple]] = []          # list of block lists
        self._blocks: list[tuple] | None = None     # current page blocks
        self._pre_page: list[tuple] = []            # content before any page div
        self._saw_page_div = False
        self._buf: list[str] | None = None          # paragraph text buffer
        self._table: list[list[str]] | None = None
        self._row_cells: list[tuple[str, int, int]] | None = None
        self._cell: list[str] | None = None
        self._cell_span: tuple[int, int] = (1, 1)
        # pending rowspan coverage: grid column → (rows remaining, value).
        # The standard HTML table algorithm: each <tr> places its cells
        # left-to-right, skipping columns still covered by a rowspan from
        # an earlier row; spanned positions repeat the cell's value
        # (pandas.read_html semantics), so downstream always sees the
        # fully-normalized rectangular grid.
        self._rowspans: dict[int, tuple[int, str]] = {}

    # -- helpers ---------------------------------------------------------
    def _target(self) -> list[tuple]:
        return self._blocks if self._blocks is not None else self._pre_page

    def _flush_buf(self) -> None:
        if self._buf is not None:
            text = _norm("".join(self._buf))
            if text:
                self._target().append(("p", text))
            self._buf = None

    def _place_row(self) -> None:
        """Materialize the finished <tr> into the normalized grid.

        Cells fill left-to-right, skipping columns still covered by a
        rowspan from an earlier row; a colspan-c cell occupies c columns
        (value repeated), a rowspan-r cell registers r-1 rows of pending
        coverage. Uncovered holes under a pending rowspan further right
        pad with "" so the grid stays rectangular per-row.
        """
        cells = self._row_cells
        spans = self._rowspans
        out: list[str] = []
        col = idx = 0
        while idx < len(cells) or (spans and col <= max(spans)):
            pending = spans.get(col)
            if pending is not None:
                rem, val = pending
                out.append(val)
                if rem <= 1:
                    del spans[col]
                else:
                    spans[col] = (rem - 1, val)
            elif idx < len(cells):
                text, cs, rs = cells[idx]
                idx += 1
                for _ in range(cs):
                    out.append(text)
                    if rs > 1:
                        spans[col] = (rs - 1, text)
                    col += 1
                continue
            else:
                out.append("")  # hole left of a pending rowspan column
            col += 1
        self._table.append(out)
        self._row_cells = None

    # -- HTMLParser hooks --------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if self._skip_stack:
            if tag not in _VOID_TAGS:
                self._skip_stack.append(tag)
            return
        # the no-attrs case is the overwhelming majority: skip all class
        # handling for it (this handler runs once per start tag corpus-wide)
        cls = ""
        if attrs:
            for k, v in attrs:
                if k == "class":
                    cls = v or ""
                    break
        if tag in _SKIP_TAGS or (cls and any(h in cls.lower() for h in _SKIP_CLASS_HINTS)):
            self._skip_stack.append(tag)
            return
        if cls and tag == "div" and "page" in cls.split():
            self._flush_buf()
            if self._blocks is not None:
                self.pages.append(self._blocks)
            self._blocks = []
            self._saw_page_div = True
            return
        if tag == "table":
            self._flush_buf()
            self._table = []
            self._rowspans = {}
        elif tag == "tr" and self._table is not None:
            self._row_cells = []
        elif tag in ("td", "th") and self._row_cells is not None:
            cs = rs = 1
            if attrs:
                for k, v in attrs:
                    if k == "colspan":
                        cs = _span_int(v)
                    elif k == "rowspan":
                        rs = _span_int(v)
            self._cell_span = (cs, rs)
            self._cell = []
        elif tag in _TEXT_TAGS and self._table is None:
            if tag in _FLUSH_TAGS:
                self._flush_buf()
                self._buf = []
        elif tag == "br" and self._buf is not None:
            self._buf.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if self._skip_stack:
            if tag == self._skip_stack[-1]:
                self._skip_stack.pop()
            return
        if tag in ("td", "th") and self._cell is not None:
            self._row_cells.append((_norm("".join(self._cell)), *self._cell_span))
            self._cell = None
        elif tag == "tr" and self._row_cells is not None:
            self._place_row()
        elif tag == "table" and self._table is not None:
            self._target().append(("table", self._table))
            self._table = None
            self._row_cells = None
            self._rowspans = {}
        elif tag in ("p", "li", "blockquote", "pre") or (len(tag) == 2 and tag[0] == "h"):
            self._flush_buf()
        elif tag == "div" and self._blocks is not None and self._saw_page_div:
            # a page div may close; further content goes to pre_page of next
            pass

    def handle_data(self, data: str) -> None:
        if self._skip_stack:
            return
        if self._cell is not None:
            self._cell.append(data)
        elif self._buf is not None:
            self._buf.append(data)
        elif data.strip() and self._table is None:
            # bare text outside any paragraph → its own line
            self._target().append(("p", _norm(data)))

    def result(self) -> list[list[tuple]]:
        self._flush_buf()
        if self._blocks is not None:
            self.pages.append(self._blocks)
        if self._pre_page:
            # content outside page divs becomes a leading page (or the
            # only page for documents without explicit page structure)
            self.pages.insert(0, self._pre_page)
        return self.pages


def parse_doc(blob: bytes) -> list[dict]:
    """binary → per-page structs, format dispatched by content sniffing
    (SURVEY.md §7 step 4): PDF-style content streams go through the
    glyph-clustering kernel, everything else through the DOM walk.

    NEVER raises: a malformed document degrades to one empty page so a
    single corrupt crawl record cannot fail a task (and with it, after
    retries, the whole 10^12-row job). The lineage layer surfaces such
    documents as zero-text pages rather than exceptions.
    """
    from .minipdf_layout import is_minipdf, parse_minipdf
    from .pdfish_layout import is_pdfish, parse_pdfish

    empty = [{"page": 1, "width": 612.0, "height": 792.0, "rotation": 0,
              "page_text": "", "lines": [], "tables": []}]
    try:
        if is_pdfish(blob):
            pages = parse_pdfish(blob)
        elif is_minipdf(blob):
            pages = parse_minipdf(blob)
        else:
            pages = parse_html_doc(blob)
        # zero pages (e.g. a corrupt PDF with no parseable streams) must
        # still yield one empty page: otherwise the url vanishes from
        # every output AND from the lineage/resume bookkeeping, so a
        # checkpointed rerun would re-process the poison doc forever
        return pages or empty
    except Exception:
        return empty


# --- fast event tokenizer -------------------------------------------------
# html.parser spends ~60% of HTML kernel time in per-character goahead()
# and attribute-regex parse_starttag(). This regex tokenizer produces the
# SAME handler event stream (start/end/data with entities unescaped, the
# only attribute anyone reads is `class`, script/style bodies skipped as
# CDATA) and drives the identical _LayoutParser handlers — semantics are
# pinned by the byte-identity corpus, the entity test, and the 200-case
# generative fuzz. Any exception falls back to html.parser.

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
# markup declarations / PIs / CDATA: html.parser routes these to
# handle_decl/handle_pi/unknown_decl (all no-ops here) — the fast path
# must drop them too, not emit them as character data (arbitrary crawl
# HTML starts with <!DOCTYPE html>)
_DECL_RE = re.compile(
    r"<!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA section (may contain '>')
    r"|<![^>]*>"                  # declarations / doctypes / bogus comments —
                                  # ends at the first '>', matching the stdlib
                                  # fallback (which likewise leaves an internal
                                  # subset's trailing ']>' as character data)
    r"|<\?[^>]*>",                # processing instruction (ends at '>')
    re.S | re.I,
)
_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>", re.S)
_CLASS_ATTR_RE = re.compile(r"""class\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)
_SPAN_ATTR_RE = re.compile(
    r"""(colspan|rowspan)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)


def _fast_feed(parser: _LayoutParser, text: str) -> None:
    text = _COMMENT_RE.sub("", text)
    if "<!" in text or "<?" in text:
        text = _DECL_RE.sub("", text)
    lower = None  # full-text lowercase copy built lazily: only the
    pos = 0       # script/style CDATA search needs it, and most crawl
    search = _TAG_RE.search  # documents in the hot loop have neither
    handle_data = parser.handle_data
    handle_start = parser.handle_starttag
    handle_end = parser.handle_endtag
    while True:
        m = search(text, pos)
        if m is None:
            break
        s = m.start()
        if s > pos:
            data = text[pos:s]
            handle_data(unescape(data) if "&" in data else data)
        pos = m.end()
        closing, tag, rest = m.group(1, 2, 3)
        tag = tag.lower()
        if closing:
            handle_end(tag)
            continue
        attrs: list[tuple[str, str | None]] = []
        if "class" in rest or "CLASS" in rest:
            cm = _CLASS_ATTR_RE.search(rest)
            if cm:
                attrs = [("class", cm.group(1) or cm.group(2) or cm.group(3) or "")]
        # span attributes matter only on table cells; the overwhelmingly
        # common attr-less <td> skips this entirely via the `rest` guard
        if rest and tag in ("td", "th") and ("span" in rest or "SPAN" in rest or "Span" in rest):
            for sm in _SPAN_ATTR_RE.finditer(rest):
                attrs.append(
                    (sm.group(1).lower(), sm.group(2) or sm.group(3) or sm.group(4) or "")
                )
        handle_start(tag, attrs)
        if rest.rstrip().endswith("/"):
            handle_end(tag)
        elif tag in ("script", "style"):
            # CDATA content mode: everything until the closing tag is raw
            # (a '<div>' inside a JS string must not become an event)
            if lower is None:
                lower = text.lower()
            close = lower.find("</" + tag, pos)
            pos = len(text) if close < 0 else close
    if pos < len(text):
        data = text[pos:]
        handle_data(unescape(data) if "&" in data else data)


def parse_html_doc(html_bytes: bytes) -> list[dict]:
    """binary → per-page structs (pure function; unit-testable off-Spark)."""
    text = html_bytes.decode("utf-8", errors="replace")
    parser = _LayoutParser()
    try:
        _fast_feed(parser, text)
    except Exception:
        parser = _LayoutParser()
        parser.feed(text)
    out = []
    for page_no, blocks in enumerate(parser.result(), start=1):
        lines: list[tuple[float, str]] = []
        tables: list[tuple[int, float, float, list[list[str]]]] = []
        y = 0.0
        for kind, payload in blocks:
            if kind == "p":
                lines.append((y, payload))
                y += LINE_HEIGHT
            else:
                y_top = y
                for row in payload:
                    lines.append((y, "\t".join(row)))
                    y += LINE_HEIGHT
                tables.append((len(tables), y_top, y, payload))
        out.append(
            {
                "page": page_no,
                "width": 612.0,
                "height": 792.0,
                "rotation": 0,
                "page_text": "\n".join(t for _, t in lines),
                "lines": lines,
                "tables": tables,
            }
        )
    return out


def extract_pages(pages_tbl: DataFrame) -> DataFrame:
    """(url, …, html, …) → one row per page with text/lines/tables, plus
    the document's kernel wall time in microseconds (``kernel_us``) and input size
    (``doc_bytes``) on each of its page rows.

    This is the only page-extraction loop: lineage metrics aggregate
    its per-document columns. Only (url, html) are shipped into Python —
    Catalyst prunes the rest at the scan. Repartition/salting happens
    upstream (sources.pages).
    """
    src = pages_tbl.select("url", "html")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for url, blob in zip(b["url"], b["html"]):
                t0 = time.monotonic_ns()
                pages = parse_doc(bytes(blob))
                us = (time.monotonic_ns() - t0) // 1000
                for p in pages:
                    rows.append(
                        (url, p["page"], p["width"], p["height"],
                         p.get("rotation", 0), p["page_text"], p["lines"], p["tables"],
                         us, len(blob))
                    )
            yield pd.DataFrame(
                rows,
                columns=["url", "page", "width", "height", "rotation",
                         "page_text", "lines", "tables", "kernel_us", "doc_bytes"],
            )

    return src.mapInPandas(kernel, schema=PAGE_SCHEMA)


def extracted_text(page_df: DataFrame) -> DataFrame:
    """Reassemble per-url main-content text (the byte-identity surface).

    Pure relational: ordered collect over the page window, no shuffle
    beyond the one groupBy — and that aggregation is partial-aggregated
    map-side by Catalyst.
    """
    return (
        page_df.groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("page"), F.col("page_text")))
                    ),
                    lambda s: s["page_text"],
                ),
                "\n",
            ).alias("extracted_text")
        )
    )
