"""N2-N8 notes pipeline tests against the FIXTURES.md §6 golden pages."""

import pyspark.sql.functions as F
import pytest

from pdf_context_extractor_agent_spark.operators.notes import extract_notes, notes_continuity


@pytest.fixture(scope="module")
def doc0_notes(spark, page_df):
    notes = extract_notes(page_df).filter(F.col("url").contains("doc00000000"))
    return notes.orderBy("page", "y").collect()


def test_title_grammar_and_hierarchy(doc0_notes):
    got = [(n.page, n.number, n.level, n.title) for n in doc0_notes]
    assert got == [
        (7, "1", 1, "货币资金"),
        (7, "2", 1, "应收账款"),
        (7, "1", 2, "应收账款分类列示"),
        (7, "2", 2, "账龄分析"),
        (8, "3", 1, "存货"),
        (8, "4", 1, "其他说明"),
    ]


def test_positional_table_assignment(doc0_notes):
    """N6: parent with children gets NO tables; children and childless
    L1 notes each own the tables inside their Y interval
    (batch_notes_extractor.py:324-343, 519-556)."""
    by_key = {(n.number, n.level): n for n in doc0_notes}
    assert by_key[("1", 1)].table_count == 1      # childless L1
    assert by_key[("2", 1)].table_count == 0      # parent of two L2
    assert not by_key[("2", 1)].has_table
    assert by_key[("1", 2)].table_count == 1
    assert by_key[("2", 2)].table_count == 1
    assert by_key[("3", 1)].table_count == 1
    # table contents flow through as rows×cells
    t = by_key[("1", 2)].tables[0]
    assert t[0] == ["类别", "账面余额"]


def test_note_text_slice(doc0_notes):
    """N7: next ≤10 lines after the title (the reference ignores the
    next-title bound — reproduced faithfully)."""
    n1 = next(n for n in doc0_notes if (n.number, n.level) == ("1", 1))
    lines = n1.text.split("\n")
    assert lines[0] == "货币资金明细情况如下。"
    assert len(lines) <= 10


def test_continuity_across_pages(spark, page_df):
    """N8: first L1 number on page p+1 == last on page p + 1."""
    cont = notes_continuity(extract_notes(page_df))
    rows = cont.filter(F.col("url").contains("doc00000000")).orderBy("page").collect()
    assert [(r.first_num, r.last_num, r.continuity_ok) for r in rows] == [
        (1, 2, True),
        (3, 4, True),
    ]
    assert cont.filter(~F.col("continuity_ok")).count() == 0


def test_text_mode_between_titles(spark):
    """Single-page variant (notes_extractor.py:17-54): text runs to the
    next title of ANY level, uncapped — vs the batch mode's ≤10 lines
    ignoring the bound."""
    from pdf_context_extractor_agent_spark.corpus import PAGES_SCHEMA  # noqa: F401
    from pdf_context_extractor_agent_spark.kernels.html_layout import PAGE_SCHEMA
    from pdf_context_extractor_agent_spark.operators.notes import extract_notes

    lines = [(0.0, "1、 货币资金")]
    lines += [(12.0 * (i + 1), f"content line {i}") for i in range(13)]
    lines += [(12.0 * 14, "2、 应收账款"), (12.0 * 15, "tail line")]
    page = spark.createDataFrame(
        [("u", 1, 612.0, 792.0, 0, "\n".join(t for _, t in lines), lines, [], 0, 0)],
        PAGE_SCHEMA,
    )
    batch = {r.number: r.text for r in extract_notes(page, "batch").collect()}
    between = {r.number: r.text for r in extract_notes(page, "between_titles").collect()}
    # batch: 10-line cap, bound ignored (note 1 even swallows nothing past cap)
    assert batch["1"].split("\n") == [f"content line {i}" for i in range(10)]
    # between_titles: all 13 lines, stops before title 2
    assert between["1"].split("\n") == [f"content line {i}" for i in range(13)]
    assert between["2"] == "tail line"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        extract_notes(page, "nope")


def test_merge_cross_page_notes(spark):
    """A note whose body spills onto the next page: the next page's
    pre-title lines append to it and it reports is_complete=False."""
    from pdf_context_extractor_agent_spark.kernels.html_layout import PAGE_SCHEMA
    from pdf_context_extractor_agent_spark.operators.notes import (
        extract_notes,
        merge_cross_page_notes,
    )

    p1 = [(0.0, "1、 货币资金"), (12.0, "p1 body"), (24.0, "2、 应收账款"), (36.0, "spill start")]
    p2 = [(0.0, "spill end"), (12.0, "3、 存货"), (24.0, "p2 body")]
    page = spark.createDataFrame(
        [("u", 1, 612.0, 792.0, 0, "\n".join(t for _, t in p1), p1, [], 0, 0),
         ("u", 2, 612.0, 792.0, 0, "\n".join(t for _, t in p2), p2, [], 0, 0)],
        PAGE_SCHEMA,
    )
    notes = extract_notes(page, "between_titles")
    out = {r.number: r for r in merge_cross_page_notes(notes, page).collect()}
    assert out["2"].text == "spill start\nspill end"
    assert out["2"].is_complete is False
    assert out["1"].text == "p1 body" and out["1"].is_complete is True
    assert out["3"].text == "p2 body" and out["3"].is_complete is True


def test_notes_workbook_structure_golden():
    """Golden structure of the notes workbook walk (reference
    tools/export_notes_to_excel.py): TOC rows with prefix-matched sub
    counts, sheet names sanitized, content sheets with positional
    sub-note attachment and captioned tables shifted one column right."""
    from pdf_context_extractor_agent_spark.sources.sinks import (
        notes_workbook_structure,
        sanitize_sheet_name,
    )

    notes = [
        {"number": "1", "level": 1, "title": "货币资金", "full_title": "1、 货币资金",
         "page": 1, "y": 10.0, "text": "cash text",
         "tables": [[["项目", "金额"], ["库存现金", "5.00"]]], "table_count": 1},
        {"number": "1.1", "level": 2, "title": "库存现金", "full_title": "1.1 库存现金",
         "page": 1, "y": 40.0, "text": "sub text", "tables": [], "table_count": 0},
        # an L2 whose NUMBER claims note 1 but which sits after L1 #2 —
        # the TOC counts it under 1 (prefix rule), the content sheet
        # attaches it to 2 (positional rule): both reference behaviors
        {"number": "1.9", "level": 2, "title": "错位子项", "full_title": "1.9 错位子项",
         "page": 2, "y": 30.0, "text": "stray", "tables": [], "table_count": 0},
        {"number": "2", "level": 1, "title": "应收账款", "full_title": "2、 应收账款",
         "page": 2, "y": 10.0, "text": "ar text", "tables": [], "table_count": 0},
    ]
    wb = notes_workbook_structure(notes)

    assert [r["序号"] for r in wb["toc"]] == ["1", "2"]
    assert wb["toc"][0]["子项数量"] == 2          # prefix rule: 1.1 AND 1.9
    assert wb["toc"][0]["表格数量"] == 1
    assert wb["toc"][0]["工作表名称"] == "1_货币资金"
    assert wb["toc"][1]["子项数量"] == 0

    s1, s2 = wb["sheets"]
    assert s1["name"] == "1_货币资金"
    assert "注释标题：1、 货币资金" in s1["info_text"]
    assert "包含表格：1个" in s1["info_text"]
    assert s1["rows"][0] == ["层级", "标题", "页码", "内容"]
    assert s1["rows"][1] == ["一级", "1、 货币资金", 1, "cash text"]
    assert s1["rows"][2] == ["表格 1", "", "", ""]
    assert s1["rows"][3] == ["", "项目", "金额"]      # tables start at col B
    assert s1["rows"][4] == ["", "库存现金", "5.00"]
    # positional: only 1.1 attaches to note 1 (1.9 is past L1 #2's page)
    l2_rows_s1 = [r for r in s1["rows"] if r and r[0] == "二级"]
    assert [r[1] for r in l2_rows_s1] == ["1.1 库存现金"]
    # ...and 1.9 lands on sheet 2 despite its number
    l2_rows_s2 = [r for r in s2["rows"] if r and r[0] == "二级"]
    assert [r[1] for r in l2_rows_s2] == ["1.9 错位子项"]

    # sheet-name sanitization parity
    assert sanitize_sheet_name("3、 很长" + "字" * 40) .endswith("...")
    assert len(sanitize_sheet_name("字" * 64)) <= 31
    assert sanitize_sheet_name("a/b*c?d[e]") == "abcde"


def test_notes_workbook_from_pipeline(spark, page_df):
    """End-to-end: extract_notes on a corpus doc feeds the workbook walk
    (one sheet per L1 note, every sheet name Excel-legal)."""
    from pdf_context_extractor_agent_spark.sources.sinks import (
        notes_to_excel,
        notes_workbook_structure,
    )

    url = page_df.select("url").first().url
    notes = [
        r.asDict(recursive=True)
        for r in extract_notes(page_df.filter(F.col("url") == url)).collect()
    ]
    assert notes, "fixture doc has no notes"
    wb = notes_workbook_structure(notes)
    n_l1 = sum(1 for n in notes if n["level"] == 1)
    assert len(wb["toc"]) == n_l1
    assert len(wb["sheets"]) == n_l1
    for s in wb["sheets"]:
        assert len(s["name"]) <= 31 and not set(s["name"]) & set(r'\/*?:[]')
        assert s["rows"][0] == ["层级", "标题", "页码", "内容"]
    # writer degrades gracefully without openpyxl (this container)
    import importlib.util
    has_openpyxl = importlib.util.find_spec("openpyxl") is not None
    result = notes_to_excel(
        extract_notes(page_df.filter(F.col("url") == url)), "/tmp/_notes_wb.xlsx", url
    )
    assert result is has_openpyxl
