"""Pattern banks as data — the broadcast dimension tables of the engine.

The reference hardcodes its regex dictionaries inside parser classes and
relies on Python dict iteration order for first-match-wins semantics
(reference: src/parsers/balance_sheet.py:25-112, income_statement.py:23-75,
cash_flow.py:22-77, statement_structure_identifier.py:33-101,
table_extractor.py:18-32, column_analyzer.py:28-45). Here that ordering
becomes explicit data — ``(cat_ord, std_ord, pat_ord)`` columns — so the
match winner is a deterministic ``row_number()`` window instead of loop
order, and the whole bank ships to executors as one tiny broadcast table.

All regexes are Java-regex compatible (they use only ``^ $ \\s \\d .* .{n,m}``
and a negative lookahead, identical semantics to Python ``re.search`` under
Spark's ``rlike``).
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# ---------------------------------------------------------------------------
# Column-role keyword banks (reference: src/parsers/column_analyzer.py:28-45)
# Role scan order is load-bearing: ITEM, CURRENT, PREVIOUS, NOTE.
# ---------------------------------------------------------------------------
ROLE_ORDER = ["item_name", "current_period", "previous_period", "note"]

COLUMN_KEYWORDS: dict[str, list[str]] = {
    "item_name": [r"项目", r"科目", r"会计科目", r"资产", r"负债", r"所有者权益"],
    "current_period": [
        r"期末", r"本期末", r"本年末", r"本期", r"2024\s*年.*期末",
        r"2024\s*年.*12\s*月.*31\s*日", r"当期", r"本年", r"年末余额", r"期末余额",
        r"本年度", r"2024\s*年度", r"本期金额", r"本期发生额",
    ],
    "previous_period": [
        r"期初", r"上期末", r"上年末", r"上期", r"2023\s*年.*期末",
        r"2023\s*年.*12\s*月.*31\s*日", r"上年", r"年初余额", r"期初余额",
        r"上年度", r"2023\s*年度", r"上期金额", r"上期发生额",
    ],
    "note": [r"附注", r"注释", r"注", r"备注"],
}

# Cell-content predicates (reference: column_analyzer.py:196-241).
NOTE_FORMAT_PATTERNS = [
    r"[一二三四五六七八九十]+、\d+",
    r"[一二三四五六七八九十]+\(\d+\)",
    r"[一二三四五六七八九十]+、\(\d+\)",
]
NOTE_PURE_DIGIT = r"^\d{1,3}$"  # pure digits, len<=3
MONEY_FORMAT = r"^\s*-?(\d{1,3}(,\d{3})*|\d+)(\.\d+)?\s*$"

# ---------------------------------------------------------------------------
# Balance-sheet page-boundary banks (reference: table_extractor.py:18-32)
# ---------------------------------------------------------------------------
BALANCE_START_PATTERNS = [r"合并资产负债表", r"资产负债表"]
BALANCE_END_PATTERNS = [
    r"负债和所有者权益总计",
    r"负债和所有者权益（或股东权益）总计",
    r"负债和股东权益总计",
]
NEXT_TABLE_PATTERNS = [r"母公司资产负债表", r"母公司合并资产负债表"]

# Duplicate-header detection on cross-page merge
# (reference: table_extractor.py:301-315) — keyword *pairs*, not regexes.
HEADER_KEYWORD_PAIRS = [("项目", "附注"), ("本期末", "上期末"), ("2024年", "2023年")]

# ---------------------------------------------------------------------------
# Structure anchors (reference: statement_structure_identifier.py:33-101)
# rows: (statement_type, anchor_name, anchor_ord, required, pattern, pat_ord)
# ---------------------------------------------------------------------------
_ANCHOR_SPEC: dict[str, list[tuple[str, bool, list[str]]]] = {
    "balance_sheet": [
        ("流动资产", True, [r"^流动资产：?$"]),
        ("非流动资产", True, [r"^非流动资产：?$"]),
        ("流动负债", True, [r"^流动负债：?$"]),
        ("非流动负债", True, [r"^非流动负债：?$"]),
        ("所有者权益", True, [r"^所有者权益.*：?$", r"^股东权益.*：?$"]),
    ],
    "income_statement": [
        ("营业总收入", True, [r"^一、营业总收入$", r"^营业总收入$"]),
        ("营业总成本", True, [r"^二、营业总成本$", r"^营业总成本$"]),
        ("营业利润", True, [r"^三、营业利润", r"^二、营业利润", r"^营业利润"]),
        ("利润总额", True, [r"^四、利润总额", r"^三、利润总额", r"^利润总额"]),
        ("净利润", True, [r"^五、净利润", r"^四、净利润", r"^净利润(?!（)"]),
        ("其他综合收益", False, [r"^六、其他综合收益的税后净额", r"^其他综合收益.*税后净额"]),
        ("综合收益总额", False, [r"^七、综合收益总额", r"^八、综合收益总额", r"^综合收益总额"]),
        ("每股收益", False, [r"^八、每股收益", r"^九、每股收益"]),
    ],
    "cash_flow": [
        ("经营活动", True, [r"^一、经营活动产生的现金流\s*量：?$"]),
        ("经营活动流入小计", True, [r"^经营活动现金流入小计$"]),
        ("经营活动流出小计", True, [r"^经营活动现金流出小计$"]),
        ("经营活动净额", True, [r"^经营活动产生的现金流\s*量净\s*额$", r"^经营活动产生的现金流量净额$"]),
        ("投资活动", True, [r"^二、投资活动产生的现金流\s*量：?$"]),
        ("投资活动流入小计", True, [r"^投资活动现金流入小计$"]),
        ("投资活动流出小计", True, [r"^投资活动现金流出小计$"]),
        ("投资活动净额", True, [r"^投资活动产生的现金流\s*量净\s*额$", r"^投资活动产生的现金流量净额$"]),
        ("筹资活动", True, [r"^三、筹资活动产生的现金流\s*量：?$"]),
        ("筹资活动流入小计", True, [r"^筹资活动现金流入小计$"]),
        ("筹资活动流出小计", True, [r"^筹资活动现金流出小计$"]),
        ("筹资活动净额", True, [r"^筹资活动产生的现金流\s*量净\s*额$", r"^筹资活动产生的现金流量净额$"]),
        ("汇率影响", False, [r"^四、汇率变动对现金及现金等\s*价物的\s*影响$"]),
        ("现金净增加额", False, [r"^五、现金及现金等价物净增加\s*额$"]),
        ("期末余额", True, [r"^六、期末现金及现金等价物余\s*额$"]),
    ],
}

# End-of-data patterns per statement (reference: identifier.py:76-101).
STATEMENT_END_PATTERNS: dict[str, list[str]] = {
    "balance_sheet": [
        r"^负债和所有者权益总计$",
        r"^负债和所有者权益.*总计$",
        r"^负债和股东权益.*总计$",
    ],
    "income_statement": [r"^.*稀释每股收益.*$"],
    "cash_flow": [r"^六、期末现金及现金等价物余\s*额$"],
}

# Header-row predicate used by SI3 (reference: identifier.py:296-298).
HEADER_MUST_MATCH = r"项目"
HEADER_ALSO_MATCH = r"期末|期初|本期|上期|年度|金额"

# ---------------------------------------------------------------------------
# Item-match pattern bank (J1/J3).
# (statement_type, section_path, standard_name, [patterns]) in match order.
# Balance categories: balance_sheet.py:25-112; try-order :217-262;
# totals routing :320-427. Income: income_statement.py:23-75; cash flow:
# cash_flow.py:22-77. ``is_total`` rows replicate the if/elif chain of
# ``_match_total_items`` — tried only after every category bank misses.
# ---------------------------------------------------------------------------
_S = "balance_sheet"
_ITEM_SPEC: list[tuple[str, str, str, list[str], bool]] = [
    # ---- balance sheet: current assets (cat 0)
    (_S, "assets.current_assets", "货币资金", [r"货币资金"], False),
    (_S, "assets.current_assets", "交易性金融资产", [r"交易性金融资产"], False),
    (_S, "assets.current_assets", "衍生金融资产", [r"衍生金融资产"], False),
    (_S, "assets.current_assets", "应收票据", [r"应收票据"], False),
    (_S, "assets.current_assets", "应收账款", [r"应收账款"], False),
    (_S, "assets.current_assets", "应收款项融资", [r"应收款项融资"], False),
    (_S, "assets.current_assets", "预付款项", [r"预付款项"], False),
    (_S, "assets.current_assets", "其他应收款", [r"其他应收款"], False),
    (_S, "assets.current_assets", "存货", [r"存货"], False),
    (_S, "assets.current_assets", "合同资产", [r"合同资产"], False),
    (_S, "assets.current_assets", "持有待售资产", [r"持有待售资产"], False),
    (_S, "assets.current_assets", "一年内到期的非流动资产", [r"一年内到期的非流动资产"], False),
    (_S, "assets.current_assets", "其他流动资产", [r"其他流动资产"], False),
    # ---- balance sheet: non-current assets (cat 1)
    (_S, "assets.non_current_assets", "债权投资", [r"债权投资"], False),
    (_S, "assets.non_current_assets", "其他债权投资", [r"其他债权投资"], False),
    (_S, "assets.non_current_assets", "长期应收款", [r"长期应收款"], False),
    (_S, "assets.non_current_assets", "长期股权投资", [r"长期股权投资"], False),
    (_S, "assets.non_current_assets", "其他权益工具投资", [r"其他权益工具投资"], False),
    (_S, "assets.non_current_assets", "其他非流动金融资产", [r"其他非流动金融资产"], False),
    (_S, "assets.non_current_assets", "投资性房地产", [r"投资性房地产"], False),
    (_S, "assets.non_current_assets", "固定资产", [r"固定资产"], False),
    (_S, "assets.non_current_assets", "在建工程", [r"在建工程"], False),
    (_S, "assets.non_current_assets", "生产性生物资产", [r"生产性生物资产"], False),
    (_S, "assets.non_current_assets", "油气资产", [r"油气资产"], False),
    (_S, "assets.non_current_assets", "使用权资产", [r"使用权资产"], False),
    (_S, "assets.non_current_assets", "无形资产", [r"无形资产"], False),
    (_S, "assets.non_current_assets", "开发支出", [r"开发支出"], False),
    (_S, "assets.non_current_assets", "商誉", [r"商誉"], False),
    (_S, "assets.non_current_assets", "长期待摊费用", [r"长期待摊费用"], False),
    (_S, "assets.non_current_assets", "递延所得税资产", [r"递延所得税资产"], False),
    (_S, "assets.non_current_assets", "其他非流动资产", [r"其他非流动资产"], False),
    # ---- balance sheet: current liabilities (cat 2)
    (_S, "liabilities.current_liabilities", "短期借款", [r"短期借款"], False),
    (_S, "liabilities.current_liabilities", "交易性金融负债", [r"交易性金融负债"], False),
    (_S, "liabilities.current_liabilities", "衍生金融负债", [r"衍生金融负债"], False),
    (_S, "liabilities.current_liabilities", "应付票据", [r"应付票据"], False),
    (_S, "liabilities.current_liabilities", "应付账款", [r"应付账款"], False),
    (_S, "liabilities.current_liabilities", "预收款项", [r"预收款项"], False),
    (_S, "liabilities.current_liabilities", "合同负债", [r"合同负债"], False),
    (_S, "liabilities.current_liabilities", "应付职工薪酬", [r"^应付职工薪酬$"], False),
    (_S, "liabilities.current_liabilities", "应交税费", [r"应交税费"], False),
    (_S, "liabilities.current_liabilities", "其他应付款", [r"其他应付款"], False),
    (_S, "liabilities.current_liabilities", "持有待售负债", [r"持有待售负债"], False),
    (_S, "liabilities.current_liabilities", "一年内到期的非流动负债", [r"一年内到期的非流动负债"], False),
    (_S, "liabilities.current_liabilities", "其他流动负债", [r"其他流动负债"], False),
    # ---- balance sheet: non-current liabilities (cat 3)
    (_S, "liabilities.non_current_liabilities", "长期借款", [r"长期借款"], False),
    (_S, "liabilities.non_current_liabilities", "应付债券", [r"应付债券"], False),
    (_S, "liabilities.non_current_liabilities", "其中：优先股", [r"其中：优先股"], False),
    (_S, "liabilities.non_current_liabilities", "永续债", [r"永续债"], False),
    (_S, "liabilities.non_current_liabilities", "租赁负债", [r"租赁负债"], False),
    (_S, "liabilities.non_current_liabilities", "长期应付款", [r"长期应付款"], False),
    (_S, "liabilities.non_current_liabilities", "长期应付职工薪酬", [r"长期应付职工薪酬"], False),
    (_S, "liabilities.non_current_liabilities", "预计负债", [r"预计负债"], False),
    (_S, "liabilities.non_current_liabilities", "递延收益", [r"递延收益"], False),
    (_S, "liabilities.non_current_liabilities", "递延所得税负债", [r"递延所得税负债"], False),
    (_S, "liabilities.non_current_liabilities", "其他非流动负债", [r"其他非流动负债"], False),
    # ---- balance sheet: equity items (cat 4)
    (_S, "equity.items", "实收资本", [r"实收资本", r"股本"], False),
    (_S, "equity.items", "其他权益工具", [r"其他权益工具"], False),
    (_S, "equity.items", "其中：优先股", [r"其中：优先股"], False),
    (_S, "equity.items", "永续债", [r"永续债"], False),
    (_S, "equity.items", "资本公积", [r"资本公积"], False),
    (_S, "equity.items", "减：库存股", [r"减：库存股"], False),
    (_S, "equity.items", "其他综合收益", [r"其他综合收益"], False),
    (_S, "equity.items", "专项储备", [r"专项储备"], False),
    (_S, "equity.items", "盈余公积", [r"盈余公积"], False),
    (_S, "equity.items", "未分配利润", [r"未分配利润"], False),
    (_S, "equity.items", "少数股东权益", [r"少数股东权益"], False),
    # ---- balance sheet: totals routing (cat 5, if/elif order of
    #      _match_total_items, balance_sheet.py:320-427)
    (_S, "assets.current_assets_total", "current_assets_total", [r"^流动资产合计$"], True),
    (_S, "assets.non_current_assets_total", "non_current_assets_total", [r"^非流动资产合计$"], True),
    (_S, "assets.assets_total", "assets_total", [r"资产总计"], True),
    (_S, "liabilities.current_liabilities_total", "current_liabilities_total", [r"^流动负债合计$"], True),
    (_S, "liabilities.non_current_liabilities_total", "non_current_liabilities_total", [r"^非流动负债合计$"], True),
    (_S, "liabilities.liabilities_total", "liabilities_total", [r"负债合计"], True),
    (_S, "equity.parent_equity_total", "parent_equity_total",
     [r"归属于母公司所有者权益（或股东权益）?\s*合\s*计|归属于母公司.*权益.*合\s*计"], True),
    (_S, "equity.equity_total", "equity_total", [r"^所有者权益.*?合\s*计$|^股东权益\s*合\s*计$"], True),
    (_S, "liabilities_and_equity_total", "liabilities_and_equity_total",
     [r"负债和所有者权益.{0,10}总计|负债和股东权益.{0,10}总计"], True),
]

_I = "income_statement"
_ITEM_SPEC += [
    # ---- income: revenue (cat 0)
    (_I, "revenue", "operating_revenue", [r"^营业收入$", r"^其中：营业收入$"], False),
    (_I, "revenue", "operating_total_revenue", [r"^一、营业总收入$", r"^营业总收入$"], False),
    # ---- income: costs (cat 1)
    (_I, "costs", "operating_cost", [r"^营业成本$", r"^其中：营业成本$"], False),
    (_I, "costs", "taxes_and_surcharges", [r"^税金及附加$"], False),
    (_I, "costs", "selling_expenses", [r"^销售费用$"], False),
    (_I, "costs", "administrative_expenses", [r"^管理费用$"], False),
    (_I, "costs", "rd_expenses", [r"^研发费用$"], False),
    (_I, "costs", "financial_expenses", [r"^财务费用$"], False),
    (_I, "costs", "operating_total_cost", [r"^二、营业总成本$", r"^营业总成本$"], False),
    # ---- income: other items (cat 2)
    (_I, "other_items", "other_income", [r"^加：其他收益$", r"^其他收益$"], False),
    (_I, "other_items", "investment_income", [r"^投资收益", r"^加：投资收益"], False),
    (_I, "other_items", "fair_value_change",
     [r"^公允价值变动收益", r"^其中：对联营企业和合营企业的投资收益"], False),
    (_I, "other_items", "credit_impairment", [r"^信用减值损失", r"^加：信用减值损失"], False),
    (_I, "other_items", "asset_impairment", [r"^资产减值损失", r"^加：资产减值损失"], False),
    (_I, "other_items", "asset_disposal", [r"^资产处置收益", r"^加：资产处置收益"], False),
    # ---- income: profit (cat 3)
    (_I, "profit", "operating_profit", [r"^三、营业利润", r"^二、营业利润", r"^营业利润"], False),
    (_I, "profit", "non_operating_income", [r"^加：营业外收入", r"^营业外收入"], False),
    (_I, "profit", "non_operating_expenses", [r"^减：营业外支出", r"^营业外支出"], False),
    (_I, "profit", "total_profit", [r"^四、利润总额", r"^三、利润总额", r"^利润总额"], False),
    (_I, "profit", "income_tax", [r"^减：所得税费用", r"^所得税费用"], False),
    (_I, "profit", "net_profit", [r"^五、净利润", r"^四、净利润", r"^净利润(?!（)"], False),
    (_I, "profit", "continuing_operations_profit", [r"持续经营净利润", r"^1\.持续经营净利润"], False),
    (_I, "profit", "discontinued_operations_profit", [r"终止经营净利润", r"^2\.终止经营净利润"], False),
    (_I, "profit", "parent_net_profit",
     [r"归属于母公司.*的净利润", r"归属于母公司股东的净利润", r"^1\.归属于母公司"], False),
    (_I, "profit", "minority_profit", [r"少数股东损益", r"^2\.少数股东损益"], False),
    # ---- income: comprehensive income (cat 4)
    (_I, "comprehensive_income", "other_comprehensive_income",
     [r"^六、其他综合收益的税后净额", r"^其他综合收益.*税后净额"], False),
    (_I, "comprehensive_income", "total_comprehensive_income",
     [r"^七、综合收益总额", r"^八、综合收益总额", r"^综合收益总额"], False),
    (_I, "comprehensive_income", "parent_comprehensive_income",
     [r"归属于母公司.*的综合收益总额", r"归属.*母公司.*综合收益", r"^\(一\)|（一）.*归属.*母公司"], False),
    (_I, "comprehensive_income", "minority_comprehensive_income",
     [r"归属于少数股东的综合收益总额", r"归属.*少数股东.*综合收益", r"^\(二\)|（二）.*归属.*少数股东"], False),
    # ---- income: EPS (cat 5)
    (_I, "eps", "basic_eps", [r"基本每股收益", r"^1\.基本每股收益", r"^\(一\)|（一）.*基本每股收益"], False),
    (_I, "eps", "diluted_eps", [r"稀释每股收益", r"^2\.稀释每股收益", r"^\(二\)|（二）.*稀释每股收益"], False),
]

_C = "cash_flow"
_ITEM_SPEC += [
    # ---- cash flow: operating (cat 0)
    (_C, "operating_activities", "sales_goods_cash", [r"^销售商品、提供劳务收到的\s*现金$"], False),
    (_C, "operating_activities", "tax_refund", [r"^收到的税费返还$"], False),
    (_C, "operating_activities", "other_operating_inflow", [r"^收到其他与经营活动有关的\s*现金$"], False),
    (_C, "operating_activities", "operating_inflow_subtotal", [r"^经营活动现金流入小计$"], False),
    (_C, "operating_activities", "purchase_goods_cash", [r"^购买商品、接受劳务支付的\s*现金$"], False),
    (_C, "operating_activities", "employee_cash",
     [r"^支付给职工及?以?及?为职工支付的\s*现金$", r"^支付给职工.*的\s*现金$"], False),
    (_C, "operating_activities", "tax_payment", [r"^支付的各项税费$"], False),
    (_C, "operating_activities", "other_operating_outflow", [r"^支付其他与经营活动有关的\s*现金$"], False),
    (_C, "operating_activities", "operating_outflow_subtotal", [r"^经营活动现金流出小计$"], False),
    (_C, "operating_activities", "operating_net_cash_flow",
     [r"^经营活动产生的现金流\s*量净\s*额$", r"^经营活动产生的现金流量净额$"], False),
    # ---- cash flow: investing (cat 1)
    (_C, "investing_activities", "investment_recovery", [r"^收回投资收到的\s*现金$"], False),
    (_C, "investing_activities", "investment_income", [r"^取得投资收益收到的\s*现金$"], False),
    (_C, "investing_activities", "disposal_assets_cash",
     [r"^处置固定资产、无形资产和其他长期资产收.*回的\s*现金净额$",
      r"^处置固定资产、无形资产和其他\s*长期资产收.*回的\s*现金净额$"], False),
    (_C, "investing_activities", "disposal_subsidiary_cash",
     [r"^处置子公司及其他营业单位收到的\s*现金净额$",
      r"^处置子公司及其他营业单位收到\s*的\s*现金净额$"], False),
    (_C, "investing_activities", "other_investing_inflow", [r"^收到其他与投资活动有关的\s*现金$"], False),
    (_C, "investing_activities", "investing_inflow_subtotal", [r"^投资活动现金流入小计$"], False),
    (_C, "investing_activities", "purchase_assets_cash",
     [r"^购建固定资产、无形资产和其他长期资产支.*付的\s*现金$",
      r"^购建固定资产、无形资产和其他\s*长期资产支.*付的\s*现金$"], False),
    (_C, "investing_activities", "investment_payment", [r"^投资支付的\s*现金$"], False),
    (_C, "investing_activities", "acquire_subsidiary_cash",
     [r"^取得子公司及其他营业单位支付的\s*现金净额$",
      r"^取得子公司及其他营业单位支付\s*的\s*现金净额$"], False),
    (_C, "investing_activities", "other_investing_outflow", [r"^支付其他与投资活动有关的\s*现金$"], False),
    (_C, "investing_activities", "investing_outflow_subtotal", [r"^投资活动现金流出小计$"], False),
    (_C, "investing_activities", "investing_net_cash_flow",
     [r"^投资活动产生的现金流\s*量净\s*额$", r"^投资活动产生的现金流量净额$"], False),
    # ---- cash flow: financing (cat 2)
    (_C, "financing_activities", "investment_received", [r"^吸收投资收到的\s*现金$"], False),
    (_C, "financing_activities", "minority_investment",
     [r"^其中：子公司吸收少数股东投资收到的\s*现金$",
      r"^其中：子公司吸收少数股东投资\s*收到的\s*现金$"], False),
    (_C, "financing_activities", "borrowing_received", [r"^取得借款收到的\s*现金$"], False),
    (_C, "financing_activities", "other_financing_inflow", [r"^收到其他与筹资活动有关的\s*现金$"], False),
    (_C, "financing_activities", "financing_inflow_subtotal", [r"^筹资活动现金流入小计$"], False),
    (_C, "financing_activities", "debt_repayment", [r"^偿还债务支付的\s*现金$"], False),
    (_C, "financing_activities", "dividend_interest_payment",
     [r"^分配股利、利润或偿付利息支付的\s*现金$"], False),
    (_C, "financing_activities", "minority_dividend",
     [r"^其中：子公司支付给少数股东的股利、利润$"], False),
    (_C, "financing_activities", "other_financing_outflow", [r"^支付其他与筹资活动有关的\s*现金$"], False),
    (_C, "financing_activities", "financing_outflow_subtotal", [r"^筹资活动现金流出小计$"], False),
    (_C, "financing_activities", "financing_net_cash_flow",
     [r"^筹资活动产生的现金流\s*量净\s*额$", r"^筹资活动产生的现金流量净额$"], False),
    # ---- cash flow: other items (cat 3)
    (_C, "other_items", "exchange_rate_effect", [r"^四、汇率变动对现金及现金等\s*价物的\s*影响$"], False),
    (_C, "other_items", "net_increase_cash", [r"^五、现金及现金等价物净增加\s*额$"], False),
    (_C, "other_items", "beginning_cash_balance", [r"^加：期初现金及现金等价物\s*余额$"], False),
    (_C, "other_items", "ending_cash_balance", [r"^六、期末现金及现金等价物余\s*额$"], False),
]

# Completeness essentials (V4/V9/V13; reference balance_sheet.py:643-646,
# income_statement.py:427-430, cash_flow.py:438-441).
ESSENTIAL_ITEMS: dict[str, list[str]] = {
    "balance_sheet": ["货币资金", "应收账款", "存货", "固定资产",
                      "短期借款", "应付账款", "实收资本", "未分配利润"],
    "income_statement": ["operating_revenue", "operating_cost", "net_profit",
                         "total_profit", "operating_profit"],
    "cash_flow": ["operating_net_cash_flow", "investing_net_cash_flow",
                  "financing_net_cash_flow", "net_increase_cash", "ending_cash_balance"],
}

# Deduction-item prefixes negated in subtotal checks (balance_sheet.py:738).
DEDUCTION_KEYWORDS = ["减：", "减:", "减-"]

# Validation tolerances (balance_sheet.py:457, income_statement.py:301,
# cash_flow.py:268).
TOLERANCE = {"balance_sheet": 0.001, "income_statement": 0.01, "cash_flow": 0.01}

# Notes title grammar — the deterministic spec the reference's LLM prompts
# encode (notes_extractor.py:253-263; batch_notes_extractor.py:199-261).
NOTE_L1_TITLE = r"^(\d{1,3})、\s*(.+)$"
NOTE_L2_TITLE = r"^[（(](\d{1,3})[)）][.、]?\s*(.+)$"


def _item_rows() -> list[tuple]:
    """Flatten _ITEM_SPEC with a pattern id and explicit ordering columns.

    ``cat_ord`` follows the reference's category try-order per statement;
    ``std_ord``/``pat_ord`` follow dict/list insertion order. Totals get
    cat_ord after all categories (they are tried last).
    """
    rows = []
    cat_ords: dict[tuple[str, str], int] = {}
    std_ords: dict[tuple[str, str], int] = {}
    per_stmt_cat_counter: dict[str, int] = {}
    for stmt, section, std_name, pats, is_total in _ITEM_SPEC:
        # category key: totals form one pseudo-category per statement
        cat_key = (stmt, "__totals__" if is_total else section)
        if cat_key not in cat_ords:
            per_stmt_cat_counter.setdefault(stmt, 0)
            cat_ords[cat_key] = per_stmt_cat_counter[stmt]
            per_stmt_cat_counter[stmt] += 1
            std_ords[cat_key] = 0
        std_ord = std_ords[cat_key]
        std_ords[cat_key] += 1
        for pat_ord, pat in enumerate(pats):
            rows.append((len(rows), stmt, section, std_name, pat,
                         cat_ords[cat_key], std_ord, pat_ord, is_total))
    return rows


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Constant rows as a ``LocalRelation``: the rows travel to the JVM
    once as an Arrow table, so reading the frame starts no job and no
    Python worker (a list of rows becomes a PythonRDD that unpickles
    them in Python workers on every read)."""
    schema = StructType.fromDDL(ddl)
    return spark.createDataFrame(pa.table(list(zip(*rows)), names=schema.names), schema)


@lru_cache(maxsize=4)
def item_pattern_df(spark: SparkSession) -> DataFrame:
    """The unified J1+J3 pattern bank as a broadcastable DataFrame.

    Session-keyed, like ``validate._essential_dim``: building the frame
    is a driver round-trip per plan build otherwise, and the bank never
    changes within a process."""
    return local_frame(
        spark,
        _item_rows(),
        "pid int, statement_type string, section_path string, standard_name string, "
        "pattern string, cat_ord int, std_ord int, pat_ord int, is_total boolean",
    )


def item_pattern_list(statement_type: str | None = None) -> list[tuple[int, str]]:
    """(pid, pattern) literals for codegen'd matching (see
    functions.text.matched_pattern_ids); optionally restricted to one
    statement's bank so each row only evaluates its own ~70 regexes."""
    return [
        (r[0], r[4]) for r in _item_rows()
        if statement_type is None or r[1] == statement_type
    ]


def item_pid_ranges() -> dict[str, tuple[int, int]]:
    """Per-statement contiguous pid range. pids are assigned in
    (statement, cat_ord, std_ord, pat_ord) order, so WITHIN a statement
    the minimum matching pid IS the reference's first-match winner —
    J1 winner selection becomes a plain ``array_min``."""
    out: dict[str, tuple[int, int]] = {}
    for r in _item_rows():
        pid, stmt = r[0], r[1]
        lo, hi = out.get(stmt, (pid, pid))
        out[stmt] = (min(lo, pid), max(hi, pid))
    return out


def anchor_counts(statement_type: str) -> tuple[int, int]:
    """(total anchors, required anchors) for SI2 confidence."""
    spec = _ANCHOR_SPEC[statement_type]
    return len(spec), sum(1 for _, req, _p in spec if req)
