"""Deterministic synthetic corpus generator.

Produces the BASELINE.json input table
``(url string, warc_ts timestamp, html binary, text string, lang string)``
at any scale, seeded purely by document index — no RNG state, so any row
can be regenerated independently on any executor (the generator itself
runs distributed via ``spark.range(n).mapInPandas``).

Documents embed the reference's golden fixtures (FIXTURES.md §3-§6;
reference: src/parsers/balance_sheet.py:832-856 for fixture A) rendered
into simple HTML wrapped in boilerplate (nav/header/footer/script), so
the expected extracted main-content ``text`` is known a priori and byte
identity can be asserted per url.

Document type by ``i % 10``:
  0-4  full statement doc (balance + income + cash-flow + notes), zh —
       kinds 3-4 are rendered as FPDF1 positioned-glyph content streams
       (kernels/pdfish_layout.py) instead of HTML, so the PDF-style
       layout-reconstruction path shares the same byte-identity oracle
  5    statement doc with thousands-separator number formatting
  6-7  plain webtext doc (boilerplate-strip path only), en/es
  8    fixture-A verbatim balance sheet (structure-invalid fallback path:
       no 非流动负债 anchor → SI2 confidence 4/5)
  9    statement doc whose final balance table also contains the
       parent-company marker (exercises P4 table split)
"""

from __future__ import annotations

import datetime as dt
import html as _html
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# block model: ("p", text) | ("table", rows: list[list[str]])
Block = tuple
Page = list

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_EPOCH = dt.datetime(2024, 4, 1, 0, 0, 0)

_WORDS = (
    "data table query scan join filter group window sort merge batch stream "
    "vector column row key value hash part order line fast slow big small"
).split()


def _num(v: float, comma: bool) -> str:
    return f"{v:,.2f}" if comma else f"{v:.2f}"


def _fixture_a_rows() -> list[list[str]]:
    """Golden fixture A verbatim (reference balance_sheet.py:835-856)."""
    return [
        ["项目", "本期末", "上期末", "附注"],
        ["流动资产：", "", "", ""],
        ["货币资金", "1000000.00", "900000.00", "六、1"],
        ["应收账款", "500000.00", "450000.00", "六、2"],
        ["存货", "300000.00", "280000.00", "六、3"],
        ["流动资产合计", "1800000.00", "1630000.00", ""],
        ["非流动资产：", "", "", ""],
        ["固定资产", "2000000.00", "1900000.00", "六、4"],
        ["无形资产", "100000.00", "95000.00", "六、5"],
        ["非流动资产合计", "2100000.00", "1995000.00", ""],
        ["资产总计", "3900000.00", "3625000.00", ""],
        ["流动负债：", "", "", ""],
        ["短期借款", "200000.00", "180000.00", "六、6"],
        ["应付账款", "300000.00", "250000.00", "六、7"],
        ["流动负债合计", "500000.00", "430000.00", ""],
        ["所有者权益：", "", "", ""],
        ["实收资本", "2000000.00", "2000000.00", "六、8"],
        ["未分配利润", "1400000.00", "1195000.00", "六、9"],
        ["所有者权益合计", "3400000.00", "3195000.00", ""],
        ["负债和所有者权益总计", "3900000.00", "3625000.00", ""],
    ]


def _balance_rows(m: int, comma: bool, header: list[str]) -> tuple[list[list[str]], list[list[str]]]:
    """Self-consistent full balance sheet split across two page-tables.

    All three validation levels pass at 0.1% tolerance:
    CA 1.8M·m + NCA 2.1M·m = assets 3.9M·m;
    CL 0.5M·m + NCL 0.4M·m = liab 0.9M·m;
    equity = 2.0M + 1.1M − 0.1M(减：库存股) = 3.0M·m; L&E = 3.9M·m.
    """
    def n(base: float) -> str:
        return _num(base * m, comma)

    def p(base: float) -> str:  # previous period: 90% of current
        return _num(base * m * 0.9, comma)

    part1 = [
        header,
        ["流动资产：", "", "", ""],
        ["货币资金", n(1_000_000), p(1_000_000), "六、1"],
        ["应收账款", n(500_000), p(500_000), "六、2"],
        ["存货", n(300_000), p(300_000), "六、3"],
        ["流动资产合计", n(1_800_000), p(1_800_000), ""],
        ["非流动资产：", "", "", ""],
        ["固定资产", n(2_000_000), p(2_000_000), "六、4"],
        ["无形资产", n(100_000), p(100_000), "六、5"],
        ["非流动资产合计", n(2_100_000), p(2_100_000), ""],
        ["资产总计", n(3_900_000), p(3_900_000), ""],
    ]
    part2 = [
        header,  # repeated page-break header → dropped by M2
        ["流动负债：", "", "", ""],
        ["短期借款", n(200_000), p(200_000), "六、6"],
        ["应付账款", n(300_000), p(300_000), "六、7"],
        ["流动负债合计", n(500_000), p(500_000), ""],
        ["非流动负债：", "", "", ""],
        ["长期借款", n(400_000), p(400_000), "六、8"],
        ["非流动负债合计", n(400_000), p(400_000), ""],
        ["负债合计", n(900_000), p(900_000), ""],
        ["所有者权益：", "", "", ""],
        ["实收资本", n(2_000_000), p(2_000_000), "六、9"],
        ["未分配利润", n(1_100_000), p(1_100_000), "六、10"],
        ["减：库存股", n(100_000), p(100_000), "六、11"],
        ["所有者权益合计", n(3_000_000), p(3_000_000), ""],
        ["负债和所有者权益总计", n(3_900_000), p(3_900_000), ""],
    ]
    return part1, part2


def _income_rows(m: int, comma: bool) -> list[list[str]]:
    def n(base: float) -> str:
        return _num(base * m, comma)

    def p(base: float) -> str:
        return _num(base * m * 0.9, comma)

    return [
        ["项目", "本期发生额", "上期发生额", "附注"],
        ["一、营业总收入", n(10_000_000), p(10_000_000), "七、1"],
        ["其中：营业收入", n(10_000_000), p(10_000_000), ""],
        ["二、营业总成本", n(7_500_000), p(7_500_000), ""],
        ["营业成本", n(6_000_000), p(6_000_000), "七、2"],
        ["税金及附加", n(100_000), p(100_000), ""],
        ["销售费用", n(400_000), p(400_000), ""],
        ["管理费用", n(300_000), p(300_000), ""],
        ["研发费用", n(500_000), p(500_000), ""],
        ["财务费用", n(200_000), p(200_000), ""],
        ["三、营业利润", n(2_500_000), p(2_500_000), ""],
        ["四、利润总额", n(2_500_000), p(2_500_000), ""],
        ["减：所得税费用", n(500_000), p(500_000), ""],
        ["五、净利润", n(2_000_000), p(2_000_000), ""],
        ["归属于母公司股东的净利润", n(1_900_000), p(1_900_000), ""],
        ["少数股东损益", n(100_000), p(100_000), ""],
        ["六、其他综合收益的税后净额", n(50_000), p(50_000), ""],
        ["七、综合收益总额", n(2_050_000), p(2_050_000), ""],
        ["八、每股收益", "", "", ""],
        ["基本每股收益", "1.23", "1.11", ""],
        ["稀释每股收益", "1.20", "1.08", ""],
    ]


def _cash_flow_rows(m: int, comma: bool) -> list[list[str]]:
    def n(base: float) -> str:
        return _num(base * m, comma)

    def p(base: float) -> str:
        return _num(base * m * 0.9, comma)

    return [
        ["项目", "本期金额", "上期金额", "附注"],
        ["一、经营活动产生的现金流量：", "", "", ""],
        ["销售商品、提供劳务收到的现金", n(8_000_000), p(8_000_000), ""],
        ["收到的税费返还", n(100_000), p(100_000), ""],
        ["收到其他与经营活动有关的现金", n(200_000), p(200_000), ""],
        ["经营活动现金流入小计", n(8_300_000), p(8_300_000), ""],
        ["购买商品、接受劳务支付的现金", n(5_000_000), p(5_000_000), ""],
        ["支付给职工以及为职工支付的现金", n(1_000_000), p(1_000_000), ""],
        ["支付的各项税费", n(600_000), p(600_000), ""],
        ["支付其他与经营活动有关的现金", n(200_000), p(200_000), ""],
        ["经营活动现金流出小计", n(6_800_000), p(6_800_000), ""],
        ["经营活动产生的现金流量净额", n(1_500_000), p(1_500_000), ""],
        ["二、投资活动产生的现金流量：", "", "", ""],
        ["收回投资收到的现金", n(500_000), p(500_000), ""],
        ["投资活动现金流入小计", n(500_000), p(500_000), ""],
        ["购建固定资产、无形资产和其他长期资产支付的现金", n(1_200_000), p(1_200_000), ""],
        ["投资活动现金流出小计", n(1_200_000), p(1_200_000), ""],
        ["投资活动产生的现金流量净额", _num(-700_000 * m, comma), _num(-700_000 * m * 0.9, comma), ""],
        ["三、筹资活动产生的现金流量：", "", "", ""],
        ["取得借款收到的现金", n(1_000_000), p(1_000_000), ""],
        ["筹资活动现金流入小计", n(1_000_000), p(1_000_000), ""],
        ["偿还债务支付的现金", n(800_000), p(800_000), ""],
        ["分配股利、利润或偿付利息支付的现金", n(300_000), p(300_000), ""],
        ["筹资活动现金流出小计", n(1_100_000), p(1_100_000), ""],
        ["筹资活动产生的现金流量净额", _num(-100_000 * m, comma), _num(-100_000 * m * 0.9, comma), ""],
        ["四、汇率变动对现金及现金等价物的影响", _num(-50_000 * m, comma), _num(-50_000 * m * 0.9, comma), ""],
        ["五、现金及现金等价物净增加额", n(650_000), p(650_000), ""],
        ["加：期初现金及现金等价物余额", n(1_000_000), p(1_000_000), ""],
        ["六、期末现金及现金等价物余额", n(1_650_000), p(1_650_000), ""],
    ]


def _notes_pages(m: int, comma: bool) -> list[Page]:
    """Two footnote pages per FIXTURES.md §6: L1/L2 grammar, tables
    positioned between titles, numbering continuity across the break."""
    def n(base: float) -> str:
        return _num(base * m, comma)

    t_cash = [["项目", "期末余额", "期初余额"],
              ["库存现金", n(10_000), n(9_000)],
              ["银行存款", n(990_000), n(891_000)]]
    t_ar_class = [["类别", "账面余额"], ["单项计提", n(100_000)], ["组合计提", n(400_000)]]
    t_ar_age = [["账龄", "金额"], ["1年以内", n(450_000)], ["1至2年", n(50_000)]]
    t_inv = [["项目", "期末余额"], ["原材料", n(120_000)], ["库存商品", n(180_000)]]
    page_a: Page = [
        ("p", "七、合并财务报表项目注释"),
        ("p", "1、 货币资金"),
        ("p", "货币资金明细情况如下。"),
        ("table", t_cash),
        ("p", "2、 应收账款"),
        ("p", "（1） 应收账款分类列示"),
        ("table", t_ar_class),
        ("p", "（2） 账龄分析"),
        ("table", t_ar_age),
    ]
    page_b: Page = [
        ("p", "3、 存货"),
        ("p", "存货按类别列示如下。"),
        ("table", t_inv),
        ("p", "4、 其他说明"),
        ("p", "无其他需要说明的重大事项。"),
    ]
    return [page_a, page_b]


def _webtext_pages(i: int) -> list[Page]:
    """Plain word-soup webtext (deterministic, no RNG state)."""
    pages = []
    for p in range(2):
        lines = []
        for ln in range(8):
            k = (i * 31 + p * 7 + ln) % len(_WORDS)
            words = [_WORDS[(k + j * 3) % len(_WORDS)] for j in range(12)]
            lines.append(("p", " ".join(words)))
        pages.append(lines)
    return pages


def _twocol_page(i: int) -> Page:
    """A two-column appendix page (positioned-glyph kinds only).

    The physical layout puts the first four lines in a left column and
    the next four in a right column at the same Ys (``colstart`` /
    ``colbreak`` markers); logical reading order — what render_text
    emits and byte-identity therefore asserts — is left column in full,
    then right column. A flat Y sort would interleave them, so corpus
    identity on these docs certifies the kernel's XY-cut. First words
    cycle through distinct lengths so no ≥3 consecutive lines share an
    X-anchor signature (keeps alignment-table detection quiet here).
    """
    leads = ("key", "data", "query")  # lengths 3/4/5 → distinct anchors
    def line(k: int) -> str:
        tail = " ".join(
            _WORDS[(i * 13 + k * 5 + j) % len(_WORDS)] for j in range(3)
        )
        return f"{leads[k % 3]} {tail}"

    page: Page = [("p", "appendix digest"), ("colstart", None)]
    page += [("p", line(k)) for k in range(4)]
    page.append(("colbreak", None))
    page += [("p", line(k + 4)) for k in range(4)]
    return page


def _aligned_table_page(i: int) -> Page:
    """A page whose table renders with NO ruling lines (``atable``):
    cells anchor at shared column Xs only, so the kernel must detect it
    from column alignment. Cell widths are fixed per column (gap stays
    below the XY-cut gutter threshold — a cut can't slice the table)."""
    rows = [["metr0", "cur0", "prv0"]] + [
        [
            f"m{r:04d}",
            f"{(i * 7 + r * 3) % 10000:04d}",
            f"{(i * 13 + r * 5) % 10000:04d}",
        ]
        for r in range(1, 5)
    ]
    return [("p", "metrics digest"), ("atable", rows)]


def doc_content(i: int) -> tuple[list[Page], str]:
    """Logical content of document ``i`` → (pages, lang)."""
    kind = i % 10
    m = 1 + (i % 997)
    comma = kind == 5
    if kind in (6, 7):
        return _webtext_pages(i), ("en" if kind == 6 else "es")
    if kind == 8:
        pages: list[Page] = [
            [("p", f"示例公司{i:06d} 2024年年度报告")],
            [("p", "合并资产负债表"), ("p", "编制单位：示例公司 单位：元"),
             ("table", _fixture_a_rows())],
            [("p", "母公司资产负债表"), ("table", _fixture_a_rows()[:6])],
        ]
        return pages, "zh"

    header = [
        ["项目", "本期末", "上期末", "附注"],
        ["项目", "附注", "2024年12月31日", "2023年12月31日"],
        ["项目", "期末余额", "年初余额", "附注"],
        ["会计科目", "本期末", "上期末", "附注"],
    ][i % 4]
    part1, part2 = _balance_rows(m, comma, header)

    pages = [
        [("p", f"示例公司{i:06d} 2024年年度报告"), ("p", "第三节 财务报告")],
        [("p", "合并资产负债表"), ("p", "编制单位：示例公司 单位：元"), ("table", part1)],
    ]
    if kind == 9:
        # end marker and the parent-company marker inside ONE table → P4
        # must split the table and cut rows at the marker.
        merged = part2 + [["母公司资产负债表", "", "", ""], ["货币资金", "999999.00", "888888.00", ""]]
        pages.append([("table", merged)])
    else:
        pages.append([("table", part2)])
        pages.append([("p", "母公司资产负债表"), ("table", part1[:5])])
    pages.append([("p", "合并利润表"), ("table", _income_rows(m, comma))])
    pages.append([("p", "合并现金流量表"), ("table", _cash_flow_rows(m, comma))])
    pages.extend(_notes_pages(m, comma))
    if kind in (3, 4):
        # positioned-glyph layout slices (byte-identity certifies the
        # kernel's XY-cut and alignment-table paths; slice 4 composes
        # two-column layout with the CID/ObjStm minipdf encodings)
        if i % 30 in (3, 4, 14, 23):
            pages.append(_twocol_page(i))
        if i % 30 in (13, 23, 24):
            pages.append(_aligned_table_page(i))
    return pages, "zh"


# ---------------------------------------------------------------------------
# Rendering: blocks → extracted-text oracle, and blocks → HTML.
# The TEXT SPEC (the per-row byte-identity invariant): per page, each
# paragraph is one line; each table row is one line of cells joined by
# tabs; lines joined by '\n'; pages joined by '\n'.
# ---------------------------------------------------------------------------

def render_text(pages: list[Page]) -> str:
    lines: list[str] = []
    for page in pages:
        for kind, payload in page:
            if kind == "p":
                lines.append(payload)
            elif kind in ("colstart", "colbreak"):
                continue  # layout markers carry no text
            else:  # "table" | "atable" (unruled): rows join by tabs
                for row in payload:
                    lines.append("\t".join(row))
    return "\n".join(lines)


_BOILER_HEAD = (
    "<html><head><title>annual report</title>"
    "<style>body{font:12px serif}</style>"
    "<script>var tracker=1;</script></head><body>"
    "<nav><ul><li>首页</li><li>公告</li><li>关于</li></ul></nav>"
    "<header><h1>SiteBanner 年报披露平台</h1></header><main>"
)
_BOILER_TAIL = (
    "</main><aside>广告位 advertisement</aside>"
    "<footer>© 2024 annual-report-mirror — legal — privacy</footer>"
    "<script>console.log('x')</script></body></html>"
)


def _span_tiles(rows: list[list[str]]) -> list[list[tuple[str, int, int]]]:
    """Tile a cell grid into maximal equal-value rectangles (row-major
    greedy): per uncovered cell, extend right while equal, then extend the
    whole strip down while every covered row matches. Each grid position
    is covered exactly once, so the HTML-table placement algorithm
    (colspan/rowspan expansion, spanned values repeated) reconstructs the
    grid byte-for-byte — which is what the corpus byte-identity invariant
    then certifies about the kernel."""
    covered = [[False] * len(r) for r in rows]
    out: list[list[tuple[str, int, int]]] = []
    for r, row in enumerate(rows):
        cells: list[tuple[str, int, int]] = []
        for c, val in enumerate(row):
            if covered[r][c]:
                continue
            w = 1
            while c + w < len(row) and not covered[r][c + w] and row[c + w] == val:
                w += 1
            h = 1
            while (
                r + h < len(rows)
                and len(rows[r + h]) >= c + w
                and not any(
                    covered[r + h][c2] or rows[r + h][c2] != val
                    for c2 in range(c, c + w)
                )
            ):
                h += 1
            for rr in range(r, r + h):
                for cc in range(c, c + w):
                    covered[rr][cc] = True
            cells.append((val, w, h))
        out.append(cells)
    return out


def render_html(pages: list[Page], spans: bool = False) -> str:
    parts = [_BOILER_HEAD]
    for page in pages:
        parts.append('<div class="page">')
        for kind, payload in page:
            if kind in ("colstart", "colbreak"):
                continue  # physical-layout markers have no HTML analog
            if kind == "p":
                parts.append(f"<p>{_html.escape(payload)}</p>")
            elif spans:
                # web-real tables: adjacent equal cells merged into
                # colspan/rowspan spans (Common-Crawl HTML uses these
                # constantly); the kernel must re-normalize the grid
                parts.append("<table>")
                for cells in _span_tiles(payload):
                    tds = "".join(
                        "<td%s%s>%s</td>"
                        % (
                            f' colspan="{w}"' if w > 1 else "",
                            f' rowspan="{h}"' if h > 1 else "",
                            _html.escape(v),
                        )
                        for v, w, h in cells
                    )
                    parts.append(f"<tr>{tds}</tr>")
                parts.append("</table>")
            else:
                parts.append("<table>")
                for row in payload:
                    parts.append(
                        "<tr>" + "".join(f"<td>{_html.escape(c)}</td>" for c in row) + "</tr>"
                    )
                parts.append("</table>")
        parts.append("</div>")
    parts.append(_BOILER_TAIL)
    return "".join(parts)


_CHAR_W = 6


_COL2_X = 340  # right-column X base on two-column pages (gutter ≥ 100 px)


def render_pdfish(pages: list[Page]) -> bytes:
    """Render the content model as an FPDF1 positioned-glyph content
    stream — positions only, NO structure: paragraph lines become
    word-runs with deterministic ±1 Y jitter (the kernel must re-cluster
    them), tables become ruling-line grids plus cell glyphs (the kernel
    must re-detect rows/columns geometrically). ``atable`` blocks render
    the same cell glyphs WITHOUT ruling segments (the kernel must detect
    the table from column alignment alone), and ``colstart``/``colbreak``
    markers lay the enclosed paragraphs out in two physical columns (the
    kernel must recover logical reading order via XY-cut — a flat Y sort
    would interleave the columns)."""
    out = ["FPDF1"]
    for page in pages:
        out.append("P 612 792")
        y = 20
        x_base = 20
        col_top = 20
        for kind, payload in page:
            if kind == "colstart":
                col_top = y
            elif kind == "colbreak":
                x_base = _COL2_X
                y = col_top
            elif kind == "p":
                x = x_base
                for wi, word in enumerate(payload.split(" ")):
                    jit = (wi * 7 + y) % 3 - 1
                    out.append(f"T {x} {y + jit} {word}")
                    x += (len(word) + 1) * _CHAR_W
                y += 12
            else:
                ruled = kind == "table"
                rows = payload
                ncols = max(len(r) for r in rows)
                col_w = [
                    max((len(r[c]) if c < len(r) else 0) for r in rows) * _CHAR_W + 8
                    for c in range(ncols)
                ]
                cols_x = [x_base]
                for w in col_w:
                    cols_x.append(cols_x[-1] + w)
                rows_y = [y + i * 12 for i in range(len(rows) + 1)]
                if ruled:
                    for ry in rows_y:
                        out.append(f"L {cols_x[0]} {ry} {cols_x[-1]} {ry}")
                    for cx in cols_x:
                        out.append(f"L {cx} {rows_y[0]} {cx} {rows_y[-1]}")
                for ri, r in enumerate(rows):
                    cy = rows_y[ri] + 3
                    for ci, cell in enumerate(r):
                        if cell:
                            out.append(f"T {cols_x[ci] + 2} {cy} {cell}")
                y = rows_y[-1] + 12
    return ("\n".join(out) + "\n").encode("utf-8")


def render_minipdf_doc(pages: list[Page], cid: bool = False,
                       mixed_codespace: bool = False,
                       scrambled_encoding: bool = False,
                       objstm: bool = False,
                       simple_font: bool = False,
                       encrypt: bool = False) -> bytes:
    """Render the content model as a structurally valid minimal PDF:
    same deterministic geometry as FPDF1 (word runs with ±1 Y jitter,
    ruling-line grids) but expressed in real PDF content-stream
    operators (Tm/Td/Tj text, m-l-S rules) with bottom-left origin.

    ``cid=True`` renders every show-string through an Identity-H Type0
    font: text becomes 2-byte-CID hex strings (``<0001…> Tj``) whose
    CIDs are an arbitrary (sorted-charset-index) permutation decoded
    only via the embedded /ToUnicode CMap — so byte-identity on these
    docs proves the kernel actually consults the CMap, the encoding
    path every real CJK PDF takes (reference dep: pdfplumber,
    src/pdf_reader.py:17-29).

    ``mixed_codespace=True`` (implies cid) additionally declares a
    1-byte <00><7F> + 2-byte <8140><FFFF> codespace — the shape every
    real GBK/Big5-style CJK encoding has: ASCII chars become PERMUTED
    1-byte codes (xor-scrambled, so identity cannot fake the decode)
    and CJK chars 2-byte codes from 0x8140 up; byte-identity then
    certifies the kernel's variable-byte codespacerange walk.

    ``scrambled_encoding=True`` (implies cid) routes /F2's /Encoding
    through an embedded CMap STREAM instead of the /Identity-H name:
    show-string hex carries CODES ≠ CIDs (a contiguous offset run that
    compresses to cidrange, plus scattered cidchar singles), the
    Encoding CMap maps codes→CIDs, and /ToUnicode maps CIDs→text —
    the two-layer decode every real non-Identity CJK PDF performs
    (reference dep: pdfplumber, src/pdf_reader.py:17-29).

    ``objstm=True`` emits the PDF 1.5 layout (dict objects packed in a
    Flate'd /ObjStm, binary cross-reference stream) — what every modern
    real-world writer produces by default.

    ``encrypt=True`` wraps the classic layout in the standard security
    handler (40-bit RC4, empty passwords, all permissions) — the
    restrict-printing-not-reading encryption real annual reports
    carry, which pdfplumber opens silently (reference
    src/pdf_reader.py:17-29). Byte identity over this slice certifies
    the kernel's key derivation + per-object RC4 decrypt tier.

    ``simple_font=True`` renders every ASCII table cell through an
    embedded TrueType font ``/F3`` carrying /FirstChar + /Widths, with
    the cell's show-string SPLIT into two consecutive ``Tj`` operators
    and no repositioning between them — the second half's X exists only
    via the font's glyph-width advance, the way metrics-aware real
    writers emit text. Byte-identity over these docs proves the kernel
    reads simple-font /Widths (pdfplumber's non-CID metric path,
    reference dep: src/pdf_reader.py:17-29); the width array leads with
    junk entries below the first used code, so an off-by-one in
    /FirstChar indexing mis-places the second half and fails identity."""
    from .kernels.minipdf_layout import PAGE_H, _escape, cid_hex, render_minipdf

    cid_of: dict[str, int] = {}
    nbytes_of: dict[str, int] | None = None
    codespace: list[tuple[int, int, int]] | None = None
    code_of_cid: dict[int, int] | None = None
    if cid or mixed_codespace or scrambled_encoding:
        cid = True
        charset = sorted({c for page in pages for k, payload in page
                          if k not in ("colstart", "colbreak")
                          for s in (payload.split(" ") if k == "p"
                                    else [c for r in payload for c in r])
                          for c in s} | {" "})
        if mixed_codespace:
            codespace = [(1, 0x00, 0x7F), (2, 0x8140, 0xFFFF)]
            nbytes_of = {}
            wide = 0
            for c in charset:
                if ord(c) < 0x80:
                    # bijective 7-bit scramble: decode MUST go through
                    # the CMap, not code==codepoint identity
                    cid_of[c] = (ord(c) ^ 0x15) & 0x7F
                    nbytes_of[c] = 1
                else:
                    cid_of[c] = 0x8140 + wide
                    nbytes_of[c] = 2
                    wide += 1
        else:
            # CID 0 is .notdef by convention; start at 1
            cid_of = {c: i + 1 for i, c in enumerate(charset)}

    show_code_of = cid_of
    if scrambled_encoding:
        # codes ≠ CIDs: most chars take a contiguous +0x0400 offset
        # (compresses to one cidrange in the Encoding CMap), every 5th
        # char an irregular 0xE000-block single (exercises cidchar).
        # Identity decoding of these codes yields garbage — byte-
        # identity proves the kernel walked BOTH CMap layers.
        code_of_cid = {}
        show_code_of = {}
        for j, c in enumerate(charset):
            cid_v = cid_of[c]
            code = 0xE000 + j if j % 5 == 0 else cid_v + 0x0400
            code_of_cid[code] = cid_v
            show_code_of[c] = code

    def show(s: str) -> str:
        return cid_hex(s, show_code_of, nbytes_of) if cid else f"({_escape(s)})"

    font = "/F2" if cid else "/F1"

    simple_widths: tuple[int, list[int]] | None = None
    if simple_font:
        used = {c for page in pages for k, payload in page
                if k not in ("colstart", "colbreak", "p")
                for r in payload for cell in r for c in cell
                if " " <= c <= "~"}
        # FirstChar below the lowest used code, junk width (≠ the real
        # 600 = CHAR_W·1000/size) on every unused slot: any indexing
        # slip lands on junk and breaks byte identity
        first_char = 29
        simple_widths = (
            first_char,
            [600 if chr(c) in used else 444 for c in range(first_char, 127)],
        )

    streams = []
    for page in pages:
        ops: list[str] = []

        def text(x: int, ly: int, s: str) -> None:
            if (
                simple_font
                and len(s) >= 2
                and all(" " <= c <= "~" for c in s)
            ):
                # metrics-positioned split: the second Tj's X is purely
                # the /Widths advance over the first half's glyphs
                h1, h2 = s[: len(s) // 2], s[len(s) // 2:]
                ops.append(
                    f"BT /F3 10 Tf 1 0 0 1 {x} {PAGE_H - ly} Tm "
                    f"({_escape(h1)}) Tj ({_escape(h2)}) Tj ET"
                )
                return
            ops.append(f"BT {font} 10 Tf 1 0 0 1 {x} {PAGE_H - ly} Tm {show(s)} Tj ET")

        def seg(x1: int, ly1: int, x2: int, ly2: int) -> None:
            ops.append(f"{x1} {PAGE_H - ly1} m {x2} {PAGE_H - ly2} l S")

        y = 20
        x_base = 20
        col_top = 20
        for kind, payload in page:
            if kind == "colstart":
                col_top = y
            elif kind == "colbreak":
                x_base = _COL2_X
                y = col_top
            elif kind == "p":
                # one text object per paragraph: first word positions via
                # Tm, the rest via relative Td displacements
                words = payload.split(" ")
                parts = []
                x_prev = y_prev = None
                x = x_base
                for wi, word in enumerate(words):
                    jit = (wi * 7 + y) % 3 - 1
                    px, py = x, PAGE_H - (y + jit)
                    if wi == 0:
                        parts.append(f"1 0 0 1 {px} {py} Tm {show(word)} Tj")
                    else:
                        parts.append(f"{px - x_prev} {py - y_prev} Td {show(word)} Tj")
                    x_prev, y_prev = px, py
                    x += (len(word) + 1) * _CHAR_W
                ops.append(f"BT {font} 10 Tf " + " ".join(parts) + " ET")
                y += 12
            else:
                ruled = kind == "table"
                rows = payload
                ncols = max(len(r) for r in rows)
                col_w = [
                    max((len(r[c]) if c < len(r) else 0) for r in rows) * _CHAR_W + 8
                    for c in range(ncols)
                ]
                cols_x = [x_base]
                for w in col_w:
                    cols_x.append(cols_x[-1] + w)
                rows_y = [y + k * 12 for k in range(len(rows) + 1)]
                if ruled:
                    for ry in rows_y:
                        seg(cols_x[0], ry, cols_x[-1], ry)
                    for cx in cols_x:
                        seg(cx, rows_y[0], cx, rows_y[-1])
                for ri, r in enumerate(rows):
                    cy = rows_y[ri] + 3
                    for ci, cell in enumerate(r):
                        if cell:
                            text(cols_x[ci] + 2, cy, cell)
                y = rows_y[-1] + 12
        streams.append("\n".join(ops))
    if cid:
        return render_minipdf(
            streams,
            cid_cmap={v: k for k, v in cid_of.items()},
            # half the CID docs Flate their CMap stream (real writers do)
            compress_cmap=(len(cid_of) % 2 == 0),
            cid_codespace=codespace,
            cid_encoding=code_of_cid,
            objstm=objstm,
            simple_widths=simple_widths,
            encrypt=encrypt,
        )
    return render_minipdf(streams, objstm=objstm, simple_widths=simple_widths,
                          encrypt=encrypt)


def _break_xref(blob: bytes) -> bytes:
    """Corrupt a classic PDF's cross-reference table in place: every
    offset zeroed and ``startxref`` pointed at 0 — the 'malformed xref'
    damage real-world PDFs commonly carry. Every byte before the xref
    table is untouched, so object offsets stay where they were; the
    tail may get shorter, since the ``startxref`` offset becomes the
    single digit ``0``. Non-classic layouts (xref streams) are returned
    unchanged."""
    p = blob.rfind(b"\nxref\n")
    if p < 0 or b"trailer" not in blob[p:]:
        return blob
    tail = re.sub(rb"\b\d{10} 00000 n", b"0000000000 00000 n", blob[p:])
    tail = re.sub(rb"startxref\s+\d+", b"startxref\n0", tail)
    return blob[:p] + tail


def make_doc(i: int) -> tuple[str, dt.datetime, bytes, str, str]:
    pages, lang = doc_content(i)
    kind = i % 10
    ext = "pdf" if kind in (3, 4) else "html"
    url = f"https://reports.example.com/{i % 97:02d}/doc{i:08d}.{ext}"
    warc_ts = _EPOCH + dt.timedelta(seconds=i % 86_400)
    if kind == 3:
        blob = render_pdfish(pages)
    elif kind == 4:
        # every third minipdf doc (i ≡ 4 mod 30) is CID-encoded through
        # a Type0 font + embedded ToUnicode CMap; every sixth
        # (i ≡ 34 mod 60) uses a mixed 1-/2-byte codespace; and every
        # twelfth (i ≡ 4 mod 120) routes /Encoding through an embedded
        # non-identity CMap stream (codes ≠ CIDs) — byte-identity over
        # the corpus therefore certifies the CID decode path, the
        # variable-byte codespacerange walk, AND the two-layer
        # code→CID→unicode decode
        # every fifth (i ≡ 24 mod 50) additionally uses the PDF 1.5
        # ObjStm + xref-stream layout (intersecting the CID slices at
        # e.g. i ≡ 124 mod 150, so the combined path is corpus-covered)
        # every i ≡ 14 (mod 30) doc shows its ASCII table cells through
        # an embedded /FirstChar+/Widths TrueType font as split Tj runs
        # positioned only by glyph advance — byte identity certifies the
        # simple-font width path (disjoint from the CID slice i ≡ 4)
        blob = render_minipdf_doc(
            pages,
            cid=(i % 30 == 4),
            mixed_codespace=(i % 60 == 34),
            scrambled_encoding=(i % 120 == 4),
            objstm=(i % 50 == 24),
            simple_font=(i % 30 == 14),
            # every i = 44 (mod 60) classic-layout doc is RC4-encrypted
            # (standard handler, empty passwords) -- composing with the
            # simple-font slice; objstm members skip it (xref streams
            # must stay plaintext)
            encrypt=(i % 60 == 44 and i % 50 != 24),
        )
        if i % 30 == 24:
            # every i ≡ 24 (mod 30) classic-layout doc ships a BROKEN
            # cross-reference table (all offsets zeroed, startxref 0) —
            # the damage pdfplumber absorbs by rescanning for objects
            # (reference src/pdf_reader.py:27). The kernel resolves
            # objects by scanning "N 0 obj" directly, never the xref,
            # so identity over this slice certifies that tolerance.
            # (objstm docs i ≡ 24 mod 50 carry a binary xref stream
            # instead — _break_xref leaves non-classic layouts alone.)
            blob = _break_xref(blob)
    else:
        # every seventh HTML doc renders its tables with colspan/rowspan
        # merges of adjacent equal cells (the web-real table shape), so
        # corpus byte-identity certifies the kernel's grid normalization
        blob = render_html(pages, spans=(i % 7 == 1)).encode("utf-8")
    return url, warc_ts, blob, render_text(pages), lang


def pages_df(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Distributed corpus build: spark.range → mapInPandas (no driver loop).

    At real scale this is the Iceberg ``pages`` table scan; here the
    generator plays the table. Partition count controls source
    parallelism the same way input splits would.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [make_doc(int(i)) for i in b["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )
