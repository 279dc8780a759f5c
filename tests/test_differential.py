"""Differential parity tests: the READ-ONLY reference implementation at
/root/reference is imported as a test oracle and run side-by-side with
this engine on seeded pseudo-random statement tables. This is the
strongest parity evidence available in-sandbox (the reference's real
PDF golden corpus is stripped — FIXTURES.md §7).

Nothing from the reference is copied; it is executed, and outputs are
compared field-for-field.
"""

from __future__ import annotations

import logging
import random
import sys

import pytest

sys.path.insert(0, "/root/reference")
logging.disable(logging.CRITICAL)

try:
    from src.parsers.balance_sheet import BalanceSheetParser
    from src.parsers.cash_flow import CashFlowParser
    from src.parsers.column_analyzer import ColumnAnalyzer, ColumnType
    from src.parsers.income_statement import IncomeStatementParser
except ModuleNotFoundError as exc:
    pytest.skip(
        f"reference implementation not importable ({exc}); the differential oracle needs it",
        allow_module_level=True,
    )

from pdf_context_extractor_agent_spark.operators.columns import (  # noqa: E402
    analyze_columns,
    extract_row,
)
from pdf_context_extractor_agent_spark.operators.merge import merged_clean_rows  # noqa: E402
from pdf_context_extractor_agent_spark.plans.extract import _parse_from_rows  # noqa: E402

from .conftest import rows_from_tables  # noqa: E402

_ROLE = {
    ColumnType.ITEM_NAME: "item_name",
    ColumnType.CURRENT_PERIOD: "current_period",
    ColumnType.PREVIOUS_PERIOD: "previous_period",
    ColumnType.NOTE: "note",
}

# ---------------------------------------------------------------------------
# cell vocabulary for fuzzing
# ---------------------------------------------------------------------------
_HEADER_CELLS = ["项目", "科目", "本期末", "上期末", "期末余额", "年初余额",
                 "2024年12月31日", "2023年12月31日", "本年度", "上年度", "附注", "备注"]
_NAME_CELLS = ["货币资金", "应收账款", "存货", "固定资产", "无形资产", "短期借款",
               "应付账款", "长期借款", "实收资本", "未分配利润", "减：库存股",
               "其中：优先股", "永续债", "其他综合收益", "流动资产合计", "资产总计",
               "随便什么行", "营业收入", "减：所得税费用", "基本每股收益"]
_VALUE_CELLS = ["1000000.00", "1,234,567.89", "-500.00", "0.00", "123456", "-",
                "--", "", "n/a", "七、1", "6", "1.23"]


def _rand_row(rng: random.Random) -> list[str]:
    n = rng.randint(1, 6)
    pool = _HEADER_CELLS + _NAME_CELLS + _VALUE_CELLS
    return [rng.choice(pool) for _ in range(n)]


def test_column_analyzer_differential():
    """500 fuzzed rows: role→index maps must agree exactly with the
    reference's ColumnAnalyzer (use_cache=False path)."""
    rng = random.Random(20240816)
    ref = ColumnAnalyzer()
    for i in range(500):
        row = _rand_row(rng)
        ref.reset_cache()
        got_ref = {_ROLE[k]: v for k, v in ref.analyze_row_structure(row, use_cache=False).items()}
        got_mine = analyze_columns(row)
        assert got_mine == got_ref, (i, row, got_mine, got_ref)


def test_extract_row_differential():
    """500 fuzzed (row, header) pairs: item name + extracted values must
    match the reference's BaseStatementParser.extract_values_from_row +
    get_item_name_from_row byte-for-byte."""
    rng = random.Random(77)
    ref = BalanceSheetParser()
    for i in range(500):
        row = _rand_row(rng)
        hdr_variant = rng.randint(0, 3)
        if hdr_variant == 0:
            header_info = {"item_name_col": 0, "current_period_col": 1,
                           "previous_period_col": 2, "note_col": 3}
        elif hdr_variant == 1:
            header_info = {"item_name_col": 0, "current_period_col": 2,
                           "previous_period_col": 3, "note_col": 1}
        elif hdr_variant == 2:
            header_info = {"item_name_col": 0, "current_period_col": None,
                           "previous_period_col": None, "note_col": None}
        else:
            header_info = {"item_name_col": 1, "current_period_col": 2,
                           "previous_period_col": 4, "note_col": None}
        ref.reset_cache()
        ref_name = ref.get_item_name_from_row(row, header_info)
        ref_vals = ref.extract_values_from_row(row, header_info)
        name, cur, prev, note = extract_row(
            row,
            header_info["item_name_col"],
            header_info["current_period_col"],
            header_info["previous_period_col"],
            header_info["note_col"],
        )
        assert name == ref_name, (i, row, header_info)
        assert cur == ref_vals.get("current_period"), (i, row, header_info, cur, ref_vals)
        assert prev == ref_vals.get("previous_period"), (i, row, header_info)
        assert note == ref_vals.get("note"), (i, row, header_info)


# ---------------------------------------------------------------------------
# full-table differential through Spark
# ---------------------------------------------------------------------------

def _gen_balance_table(rng: random.Random) -> list[list[str]]:
    def money() -> str:
        v = rng.randint(1, 9_000_000) / 100
        return f"{v:,.2f}" if rng.random() < 0.3 else f"{v:.2f}"

    def maybe_empty(s: str) -> str:
        return "" if rng.random() < 0.15 else s

    header = rng.choice([
        ["项目", "本期末", "上期末", "附注"],
        ["项目", "期末余额", "年初余额", "附注"],
        ["项目", "附注", "2024年12月31日", "2023年12月31日"],
    ])
    note_first = header[1] == "附注"
    rows = [header, ["流动资产：", "", "", ""]]

    def item(name: str) -> list[str]:
        nv = f"六、{rng.randint(1, 30)}"
        if note_first:
            return [name, nv, maybe_empty(money()), maybe_empty(money())]
        return [name, maybe_empty(money()), maybe_empty(money()), nv]

    for n in rng.sample(["货币资金", "应收账款", "存货", "应收票据", "预付款项", "其他流动资产"], rng.randint(2, 5)):
        rows.append(item(n))
    rows.append(["流动资产合计", money(), money(), ""])
    rows.append(["非流动资产：", "", "", ""])
    for n in rng.sample(["固定资产", "无形资产", "商誉", "在建工程", "长期股权投资"], rng.randint(1, 4)):
        rows.append(item(n))
    rows.append(["非流动资产合计", money(), money(), ""])
    rows.append(["资产总计", money(), money(), ""])
    rows.append(["流动负债：", "", "", ""])
    for n in rng.sample(["短期借款", "应付账款", "应付票据", "应交税费", "合同负债"], rng.randint(1, 4)):
        rows.append(item(n))
    rows.append(["流动负债合计", money(), money(), ""])
    if rng.random() < 0.7:
        rows.append(["非流动负债：", "", "", ""])
        for n in rng.sample(["长期借款", "应付债券", "租赁负债", "预计负债"], rng.randint(1, 3)):
            rows.append(item(n))
        rows.append(["非流动负债合计", money(), money(), ""])
        rows.append(["负债合计", money(), money(), ""])
    rows.append(["所有者权益：", "", "", ""])
    for n in rng.sample(["实收资本", "资本公积", "减：库存股", "盈余公积", "未分配利润", "少数股东权益"], rng.randint(2, 5)):
        rows.append(item(n))
    if rng.random() < 0.5:
        rows.append(["归属于母公司所有者权益合计", money(), money(), ""])
    rows.append(["所有者权益合计", money(), money(), ""])
    rows.append(["负债和所有者权益总计", money(), money(), ""])
    if rng.random() < 0.3:
        rows.append(["一些无法匹配的说明行", "", "", ""])
    # duplicate leakage row (exercises J2 first-wins)
    if rng.random() < 0.4:
        rows.append(item("货币资金"))
    return rows


def _gen_income_table(rng: random.Random) -> list[list[str]]:
    def money() -> str:
        v = rng.randint(1, 9_000_000) / 100
        return f"{v:,.2f}" if rng.random() < 0.3 else f"{v:.2f}"

    rows = [["项目", "本期发生额", "上期发生额", "附注"]]
    rows.append(["一、营业总收入", money(), money(), ""])
    if rng.random() < 0.8:
        rows.append(["其中：营业收入", money(), money(), ""])
    rows.append(["二、营业总成本", money(), money(), ""])
    for n in rng.sample(["营业成本", "税金及附加", "销售费用", "管理费用", "研发费用", "财务费用"],
                        rng.randint(2, 6)):
        rows.append([n, money(), money(), f"七、{rng.randint(1, 20)}"])
    if rng.random() < 0.5:
        rows.append(["加：其他收益", money(), money(), ""])
    rows.append(["三、营业利润", money(), money(), ""])
    if rng.random() < 0.5:
        rows.append(["加：营业外收入", money(), money(), ""])
    rows.append(["四、利润总额", money(), money(), ""])
    rows.append(["减：所得税费用", money(), money(), ""])
    rows.append(["五、净利润", money(), money(), ""])
    if rng.random() < 0.7:
        rows.append(["归属于母公司股东的净利润", money(), money(), ""])
        rows.append(["少数股东损益", money(), money(), ""])
    rows.append(["六、其他综合收益的税后净额", money(), money(), ""])
    rows.append(["七、综合收益总额", money(), money(), ""])
    rows.append(["八、每股收益", "", "", ""])
    rows.append(["基本每股收益", "1.23", "1.10", ""])
    rows.append(["稀释每股收益", "1.20", "1.08", ""])
    return rows


def _gen_cash_flow_table(rng: random.Random) -> list[list[str]]:
    def money() -> str:
        v = rng.randint(-9_000_000, 9_000_000) / 100
        return f"{v:.2f}"

    rows = [["项目", "本期金额", "上期金额", "附注"]]
    rows.append(["一、经营活动产生的现金流量：", "", "", ""])
    for n in rng.sample(["销售商品、提供劳务收到的现金", "收到的税费返还",
                         "收到其他与经营活动有关的现金"], rng.randint(1, 3)):
        rows.append([n, money(), money(), ""])
    rows.append(["经营活动现金流入小计", money(), money(), ""])
    for n in rng.sample(["购买商品、接受劳务支付的现金", "支付给职工以及为职工支付的现金",
                         "支付的各项税费", "支付其他与经营活动有关的现金"], rng.randint(1, 4)):
        rows.append([n, money(), money(), ""])
    rows.append(["经营活动现金流出小计", money(), money(), ""])
    rows.append(["经营活动产生的现金流量净额", money(), money(), ""])
    rows.append(["二、投资活动产生的现金流量：", "", "", ""])
    rows.append(["收回投资收到的现金", money(), money(), ""])
    rows.append(["投资活动现金流入小计", money(), money(), ""])
    rows.append(["购建固定资产、无形资产和其他长期资产支付的现金", money(), money(), ""])
    rows.append(["投资活动现金流出小计", money(), money(), ""])
    rows.append(["投资活动产生的现金流量净额", money(), money(), ""])
    rows.append(["三、筹资活动产生的现金流量：", "", "", ""])
    rows.append(["取得借款收到的现金", money(), money(), ""])
    rows.append(["筹资活动现金流入小计", money(), money(), ""])
    rows.append(["偿还债务支付的现金", money(), money(), ""])
    rows.append(["筹资活动现金流出小计", money(), money(), ""])
    rows.append(["筹资活动产生的现金流量净额", money(), money(), ""])
    if rng.random() < 0.6:
        rows.append(["四、汇率变动对现金及现金等价物的影响", money(), money(), ""])
    rows.append(["五、现金及现金等价物净增加额", money(), money(), ""])
    if rng.random() < 0.8:
        rows.append(["加：期初现金及现金等价物余额", money(), money(), ""])
    rows.append(["六、期末现金及现金等价物余额", money(), money(), ""])
    return rows


def _ref_parse(table: list[list[str]], stmt: str):
    if stmt == "balance_sheet":
        p = BalanceSheetParser()
        parsed = p.parse_balance_sheet(table)
        checks = p.validate_balance_sheet(parsed)
    elif stmt == "income_statement":
        p = IncomeStatementParser()
        parsed = p.parse_income_statement(table)
        checks = p.validate_income_statement(parsed)
    else:
        p = CashFlowParser()
        parsed = p.parse_cash_flow(table)
        checks = p.validate_cash_flow(parsed)
    return parsed, checks


N_TABLES = 12


@pytest.fixture(scope="module")
def diff_results(spark):
    rng = random.Random(991)
    tables = {f"t{i:02d}": _gen_balance_table(rng) for i in range(N_TABLES)}
    refs = {url: _ref_parse(t, "balance_sheet") for url, t in tables.items()}

    raw = None
    for url, t in tables.items():
        df = rows_from_tables(spark, url, [t])
        raw = df if raw is None else raw.unionByName(df)
    res = _parse_from_rows(merged_clean_rows(raw), spark, ("balance_sheet",))
    mine_parsed = {}
    for r in res["parsed"].collect():
        mine_parsed.setdefault(r.url, []).append(r)
    info = {r.url: r for r in res["parsing_info"].collect()}
    checks = {}
    for c in res["checks"].collect():
        checks.setdefault(c.url, {})[c.check_name] = c
    return tables, refs, mine_parsed, info, checks


def test_ordered_items_differential(diff_results):
    tables, refs, mine_parsed, _info, _checks = diff_results
    for url in tables:
        ref_items = refs[url][0]["ordered_items"]
        mine = sorted(mine_parsed.get(url, []), key=lambda r: r.row_order)
        got = [
            (r.section_path, r.standard_name, r.original_name,
             r.current_period, r.previous_period, r.note)
            for r in mine
        ]
        want = [
            (o["section"], o["standard_name"], o["data"]["original_name"],
             o["data"].get("current_period"), o["data"].get("previous_period"),
             o["data"].get("note"))
            for o in ref_items
        ]
        assert got == want, (url, got, want)


def test_parsing_info_differential(diff_results):
    tables, refs, _mine, info, _checks = diff_results
    for url in tables:
        ref_info = refs[url][0]["parsing_info"]
        assert info[url].matched_items == ref_info["matched_items"], url
        assert info[url].unmatched_items == len(ref_info["unmatched_items"]), url
        assert info[url].total_rows == ref_info["total_rows"], url


def test_validation_differential(diff_results):
    tables, refs, _mine, _info, checks = diff_results
    for url in tables:
        ref_checks = refs[url][1]["balance_check"]
        mine = checks.get(url, {})
        for rc in ref_checks["level1_subtotal_checks"] + ref_checks["level2_category_checks"]:
            mc = mine.get(rc["name"])
            # reference emits level-2 entries only when applicable; ours too
            if rc.get("calculated") is None and rc["name"] not in mine:
                continue
            assert mc is not None, (url, rc["name"])
            assert bool(mc.passed) == bool(rc["passed"]), (url, rc["name"], mc, rc)
            if rc.get("calculated") is not None:
                assert abs(mc.calculated - rc["calculated"]) < 1e-6, (url, rc["name"])
                assert abs(mc.reported - rc["reported"]) < 1e-6, (url, rc["name"])
        l3 = ref_checks["level3_total_check"]
        if l3 is not None:
            mc = mine.get("总平衡")
            assert mc is not None and bool(mc.passed) == bool(l3["passed"]), url


@pytest.fixture(scope="module")
def diff_results_other(spark):
    """Income + cash-flow differential corpus in one Spark pass."""
    rng = random.Random(4242)
    tables = {}
    for i in range(6):
        tables[f"inc{i}"] = ("income_statement", _gen_income_table(rng))
    for i in range(6):
        tables[f"cf{i}"] = ("cash_flow", _gen_cash_flow_table(rng))
    refs = {url: _ref_parse(t, stmt) for url, (stmt, t) in tables.items()}

    raw = None
    for url, (_stmt, t) in tables.items():
        df = rows_from_tables(spark, url, [t])
        raw = df if raw is None else raw.unionByName(df)
    res = _parse_from_rows(
        merged_clean_rows(raw), spark, ("income_statement", "cash_flow")
    )
    mine_parsed: dict[str, list] = {}
    for r in res["parsed"].collect():
        if r.statement_type == tables[r.url][0]:
            mine_parsed.setdefault(r.url, []).append(r)
    info = {(r.url, r.statement_type): r for r in res["parsing_info"].collect()}
    checks: dict[str, dict] = {}
    for c in res["checks"].collect():
        if c.statement_type == tables[c.url][0]:
            checks.setdefault(c.url, {})[c.check_name] = c
    return tables, refs, mine_parsed, info, checks


def test_income_cashflow_ordered_items_differential(diff_results_other):
    tables, refs, mine_parsed, _info, _checks = diff_results_other
    for url, (stmt, _t) in tables.items():
        ref_items = refs[url][0]["ordered_items"]
        mine = sorted(mine_parsed.get(url, []), key=lambda r: r.row_order)
        got = [
            (r.section_path, r.standard_name, r.original_name,
             r.current_period, r.previous_period, r.note)
            for r in mine
        ]
        want = [
            (o["section"], o["standard_name"], o["data"]["original_name"],
             o["data"].get("current_period"), o["data"].get("previous_period"),
             o["data"].get("note"))
            for o in ref_items
        ]
        assert got == want, (url, stmt, got, want)


def test_income_cashflow_parsing_info_differential(diff_results_other):
    tables, refs, _mine, info, _checks = diff_results_other
    for url, (stmt, _t) in tables.items():
        ref_info = refs[url][0]["parsing_info"]
        mi = info[(url, stmt)]
        assert mi.matched_items == ref_info["matched_items"], (url, stmt)
        assert mi.unmatched_items == len(ref_info["unmatched_items"]), (url, stmt)


def test_income_cashflow_validation_differential(diff_results_other):
    tables, refs, _mine, _info, checks = diff_results_other
    name_map = {
        "营业总成本": "营业总成本", "净利润": "净利润", "净利润归属": "净利润归属",
        "经营活动净额": "经营活动净额", "投资活动净额": "投资活动净额",
        "筹资活动净额": "筹资活动净额", "现金净增加额": "现金净增加额", "期末余额": "期末余额",
    }
    for url, (stmt, _t) in tables.items():
        ref_bc = refs[url][1]["balance_check"]
        ref_all = []
        for key in ("level1_subtotal_checks", "level2_profit_checks",
                    "level3_attribution_checks", "level2_net_flow_checks",
                    "level3_total_checks"):
            ref_all += ref_bc.get(key, [])
        mine = checks.get(url, {})
        for rc in ref_all:
            mc = mine.get(name_map[rc["name"]])
            assert mc is not None, (url, rc["name"])
            assert bool(mc.passed) == bool(rc["passed"]), (url, rc["name"], mc, rc)
            assert abs(mc.calculated - rc["calculated"]) < 1e-6, (url, rc["name"])
