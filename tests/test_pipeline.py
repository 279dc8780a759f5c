"""Golden end-to-end tests: fixture A byte-parity, full-doc validation,
boundary-path vs SI-path agreement (SURVEY.md §5 rebuild test plan)."""

import pyspark.sql.functions as F
import pytest

from pdf_context_extractor_agent_spark.corpus import _fixture_a_rows
from pdf_context_extractor_agent_spark.operators.merge import merged_clean_rows
from pdf_context_extractor_agent_spark.plans import (
    parse_balance_via_boundary,
    parse_statements,
)
from pdf_context_extractor_agent_spark.plans.extract import _parse_from_rows

from .conftest import rows_from_tables


@pytest.fixture(scope="module")
def fixture_a_result(spark):
    raw = rows_from_tables(spark, "fixture-a", [_fixture_a_rows()])
    rows = merged_clean_rows(raw)
    return _parse_from_rows(rows, spark, ("balance_sheet",))


def test_fixture_a_parsed_items(fixture_a_result):
    """Reference expectation (balance_sheet.py:832-866 + FIXTURES.md §3):
    9 classified items + 6 totals, document order preserved."""
    parsed = fixture_a_result["parsed"].orderBy("row_order").collect()
    cats = [(r.section_path, r.standard_name, r.current_period) for r in parsed if not r.is_total]
    tots = [(r.standard_name, r.current_period) for r in parsed if r.is_total]
    assert cats == [
        ("assets.current_assets", "货币资金", "1000000.00"),
        ("assets.current_assets", "应收账款", "500000.00"),
        ("assets.current_assets", "存货", "300000.00"),
        ("assets.non_current_assets", "固定资产", "2000000.00"),
        ("assets.non_current_assets", "无形资产", "100000.00"),
        ("liabilities.current_liabilities", "短期借款", "200000.00"),
        ("liabilities.current_liabilities", "应付账款", "300000.00"),
        ("equity.items", "实收资本", "2000000.00"),
        ("equity.items", "未分配利润", "1400000.00"),
    ]
    assert tots == [
        ("current_assets_total", "1800000.00"),
        ("non_current_assets_total", "2100000.00"),
        ("assets_total", "3900000.00"),
        ("current_liabilities_total", "500000.00"),
        ("equity_total", "3400000.00"),
        ("liabilities_and_equity_total", "3900000.00"),
    ]
    # notes extracted alongside (六、1 …)
    assert [r.note for r in parsed if r.standard_name == "货币资金"] == ["六、1"]


def test_fixture_a_short_liability_rows_match(fixture_a_result):
    """短期借款/应付账款 match as current liabilities."""
    parsed = fixture_a_result["parsed"].collect()
    names = {r.standard_name for r in parsed}
    assert {"短期借款", "应付账款"} <= names


def test_fixture_a_structure_invalid_but_parsed(fixture_a_result):
    """Fixture A lacks the 非流动负债 anchor → SI2 invalid at 4/5
    confidence; the parser falls back to the full table (reference
    balance_sheet.py:178-192)."""
    s = fixture_a_result["structure"].collect()[0]
    assert not s.is_valid
    assert abs(s.confidence - 0.8) < 1e-9
    assert fixture_a_result["parsed"].count() == 15


def test_fixture_a_validation(fixture_a_result):
    """All arithmetic checks pass EXCEPT the missing 非流动负债合计
    subtotal (the reference fails that check too: '未找到合计项目' →
    error, balance_sheet.py:726-729)."""
    checks = {r.check_name: r for r in fixture_a_result["checks"].collect()}
    failed = [n for n, r in checks.items() if not r.passed]
    assert failed == ["非流动负债合计"]
    for name in ("流动资产合计", "非流动资产合计", "流动负债合计", "所有者权益合计"):
        assert checks[name].passed and checks[name].difference == 0.0
    assert checks["总平衡"].passed
    # parsing_info parity: 15 matched / 5 unmatched of 20 rows
    info = fixture_a_result["parsing_info"].collect()[0]
    assert (info.matched_items, info.unmatched_items, info.total_rows) == (15, 5, 20)
    # completeness: reference quirk caps balance score at 6/8
    comp = fixture_a_result["completeness"].collect()[0]
    assert abs(comp.completeness_score - 0.75) < 1e-9


def test_parsing_info_counts_edges(spark):
    """parsing_info is one aggregation over the pid-joined items: a
    statement whose items all match reports 0 unmatched (not null), one
    whose items all miss reports 0 matched, and total_rows is the merged
    table's row count."""
    # income anchors 营业利润/利润总额/净利润 are also item names, so
    # every row of this (SI-invalid, fully parsed) table matches
    all_hit = [["营业利润", "10.00", "9.00"], ["利润总额", "10.00", "9.00"],
               ["净利润", "8.00", "7.00"]]
    # the 流动资产 anchor row and an unknown name: nothing matches
    all_miss = [["流动资产：", "", ""], ["无此项目", "1.00", "2.00"]]
    raw = rows_from_tables(spark, "all-hit", [all_hit]).unionByName(
        rows_from_tables(spark, "all-miss", [all_miss])
    )
    rows = merged_clean_rows(raw)
    res = _parse_from_rows(rows, spark, ("balance_sheet", "income_statement"))
    info = {(r.url, r.statement_type): r for r in res["parsing_info"].collect()}
    assert set(info) == {("all-hit", "income_statement"), ("all-miss", "balance_sheet")}
    hit, miss = info["all-hit", "income_statement"], info["all-miss", "balance_sheet"]
    assert (hit.matched_items, hit.unmatched_items) == (3, 0)
    assert (miss.matched_items, miss.unmatched_items) == (0, 2)
    n_rows = {r.url: r["count"] for r in rows.groupBy("url").count().collect()}
    assert (hit.total_rows, miss.total_rows) == (n_rows["all-hit"], n_rows["all-miss"])
    # the summary carries the same counts
    summ = {r.url: r for r in res["summary"].collect()}
    assert (summ["all-hit"].matched_items, summ["all-hit"].unmatched_items) == (3, 0)
    assert (summ["all-miss"].matched_items, summ["all-miss"].unmatched_items) == (0, 2)


@pytest.fixture(scope="module")
def full_results(spark, page_df):
    res = parse_statements(page_df, spark)
    return {
        "summary": res["summary"].collect(),
        "checks": res["checks"].collect(),
        "slots": res["slots"].collect(),
    }


def test_full_docs_all_validations_pass(full_results):
    """Every generated statement doc is self-consistent → every check
    green at reference tolerances, all three statement types."""
    for row in full_results["summary"]:
        doc_i = int(row.url.split("doc")[1].split(".")[0])
        if doc_i % 10 == 8:  # fixture-A docs: known NCL-subtotal failure
            assert row.errors == 1
            continue
        assert row.errors == 0, (row.url, row.statement_type)
        assert row.warnings == 0
    stmts = {r.statement_type for r in full_results["summary"]}
    assert stmts == {"balance_sheet", "income_statement", "cash_flow"}


def test_full_docs_check_coverage(full_results):
    by_stmt: dict[str, set] = {}
    for c in full_results["checks"]:
        by_stmt.setdefault(c.statement_type, set()).add(c.check_name)
    assert by_stmt["balance_sheet"] >= {
        "流动资产合计", "非流动资产合计", "流动负债合计", "非流动负债合计",
        "所有者权益合计", "资产总计", "负债合计", "负债和所有者权益总计", "总平衡",
    }
    assert by_stmt["income_statement"] == {"营业总成本", "净利润", "净利润归属"}
    assert by_stmt["cash_flow"] == {
        "经营活动净额", "投资活动净额", "筹资活动净额", "现金净增加额", "期末余额",
    }


def test_deduction_item_negated(full_results):
    """减：库存股 must be subtracted in the equity subtotal — the docs
    only balance if the deduction sign is honored, and the slot keeps
    the raw string value."""
    slots = [r for r in full_results["slots"] if r.standard_name == "减：库存股"]
    assert slots, "减：库存股 should be matched into equity.items"
    for c in full_results["checks"]:
        if c.check_name == "所有者权益合计" and c.calculated is not None:
            assert c.passed


def test_webtext_docs_produce_no_statements(full_results):
    urls = {r.url for r in full_results["summary"]}
    assert not any("doc00000006" in u or "doc00000007" in u for u in urls)


def test_boundary_path_agrees_with_si_path(spark, page_df):
    """main.py-style P2-P4 plan and the SI-driven plan produce identical
    balance-sheet slots for every statement doc (incl. the P4 split doc)."""
    si = parse_statements(page_df, spark, ("balance_sheet",))
    bd = parse_balance_via_boundary(page_df, spark)
    a = si["slots"].select("url", "section_path", "standard_name", "current_period")
    b = bd["slots"].select("url", "section_path", "standard_name", "current_period")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_p4_split_excludes_parent_company_rows(spark, page_df):
    """Doc 9's final table embeds the 母公司 marker + one parent row;
    P4 must cut at the marker so 货币资金 appears exactly once."""
    bd = parse_balance_via_boundary(page_df, spark)
    rows = bd["rows"].filter(F.col("url").contains("doc00000009"))
    cnt = rows.filter(F.element_at("cells", 1) == "货币资金").count()
    assert cnt == 1
    assert rows.filter(F.element_at("cells", 1).contains("母公司")).count() == 0


def test_ragged_one_cell_rows_do_not_abort(spark):
    """ANSI-mode regression: a document containing a 1-cell table row
    (ragged extraction output) must parse, not abort the job."""
    from pdf_context_extractor_agent_spark.operators.merge import merged_clean_rows

    table = [
        ["合并资产负债表"],                       # 1-cell row
        ["项目", "本期末", "上期末", "附注"],
        ["流动资产：", "", "", ""],
        ["货币资金", "100.00", "90.00", "六、1"],
        ["流动资产合计", "100.00", "90.00", ""],
    ]
    raw = rows_from_tables(spark, "ragged", [table])
    res = _parse_from_rows(merged_clean_rows(raw), spark, ("balance_sheet",))
    rows = res["parsed"].collect()  # must not raise
    assert {r.standard_name for r in rows} >= {"货币资金", "current_assets_total"}
