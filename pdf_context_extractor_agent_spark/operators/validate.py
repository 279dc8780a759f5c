"""V1-V14: per-document arithmetic validation as groupBy(url) aggregates.

Reference: balance_sheet.py:429-806 (three-level balance checks),
income_statement.py:273-471, cash_flow.py:239-478. No UDFs — every
formula is a conditional aggregate + arithmetic on a pivoted wide row,
then exploded back to the long ``validation`` schema (FIXTURES.md §2).

Faithful quirks preserved:
* balance level-1 tolerance uses max(|calc|,|rep|)·0.1% but level-2/3
  use max(calc,rep) WITHOUT abs (balance_sheet.py:539,571,602,625);
* the equity subtotal check is warning-only (:520) and falls back to
  parent_equity_total when the equity_total slot is absent (:513-514);
* deduction items (减：…) are negated in subtotals (:737-767);
* completeness never finds 实收资本/未分配利润 because the reference
  scans the top-level equity dict whose keys are section names
  (:658-662) — so the balance score is capped at 6/8.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import to_num
from ..patterns import DEDUCTION_KEYWORDS, ESSENTIAL_ITEMS, TOLERANCE, local_frame


def _is_deduction(name: Column) -> Column:
    out = F.lit(False)
    for kw in DEDUCTION_KEYWORDS:
        out = out | name.contains(kw)
    return out


def _chk(
    level: int,
    name: str,
    severity: str,
    applicable: Column,
    calc: Column,
    rep: Column,
    tol_rate: float,
    abs_tolerance: bool,
    passed_override: Column | None = None,
) -> Column:
    diff = F.abs(calc - rep)
    base = (
        F.greatest(F.abs(calc), F.abs(rep)) if abs_tolerance else F.greatest(calc, rep)
    )
    tol = base * F.lit(tol_rate)
    passed = passed_override if passed_override is not None else (diff <= tol)
    return F.struct(
        F.lit(level).alias("check_level"),
        F.lit(name).alias("check_name"),
        F.lit(severity).alias("severity"),
        applicable.alias("applicable"),
        F.when(applicable, calc).alias("calculated"),
        F.when(applicable, rep).alias("reported"),
        F.when(applicable, diff).alias("difference"),
        F.when(applicable, tol).alias("tolerance"),
        F.when(applicable, passed).alias("passed"),
    )


def _v1(name: str, severity: str, calc: Column, cnt: Column, rep: Column, present: Column) -> Column:
    """Level-1 subtotal check incl. the reference's skip/fail ladder
    (balance_sheet.py:724-779): no subtotal slot → fail; empty reported
    → fail; zero summable items → pass; else compare."""
    rate = TOLERANCE["balance_sheet"]
    calc0 = F.coalesce(calc, F.lit(0.0))
    diff = F.abs(calc0 - rep)
    tol = F.greatest(F.abs(calc0), F.abs(rep)) * F.lit(rate)
    passed = (
        F.when(~present, F.lit(False))
        .when(rep.isNull(), F.lit(False))
        .when(cnt == 0, F.lit(True))
        .otherwise(diff <= tol)
    )
    skipped = ~present | rep.isNull() | (cnt == 0)
    return F.struct(
        F.lit(1).alias("check_level"),
        F.lit(name).alias("check_name"),
        F.lit(severity).alias("severity"),
        F.lit(True).alias("applicable"),
        F.when(~skipped, calc0).alias("calculated"),
        F.when(~skipped, rep).alias("reported"),
        F.when(~skipped, diff).alias("difference"),
        F.when(~skipped, tol).alias("tolerance"),
        passed.alias("passed"),
    )


def _slot_val(std: str) -> Column:
    return F.max(F.when(F.col("standard_name") == std, to_num(F.col("current_period"))))


def _slot_present(std: str) -> Column:
    return F.max(F.when(F.col("standard_name") == std, F.lit(True))).isNotNull()


def _section_sum(section: str) -> list[Column]:
    cur = to_num(F.col("current_period"))
    in_sec = (F.col("section_path") == section) & ~F.col("is_total")
    signed = F.when(_is_deduction(F.col("standard_name")), -cur).otherwise(cur)
    key = section.replace(".", "_")
    return [
        F.sum(F.when(in_sec & cur.isNotNull(), signed)).alias(f"{key}__calc"),
        F.count(F.when(in_sec & cur.isNotNull(), F.lit(1))).alias(f"{key}__cnt"),
    ]


def _balance_check_cols() -> list[Column]:
    c = F.col
    rate = TOLERANCE["balance_sheet"]
    # equity reported: equity_total slot, else parent_equity_total (:513)
    eq_rep = F.when(c("p_equity_total"), c("t_equity_total")).otherwise(c("t_parent_equity_total"))
    eq_present = c("p_equity_total") | c("p_parent_equity_total")
    checks = [
        _v1("流动资产合计", "error", c("assets_current_assets__calc"),
            c("assets_current_assets__cnt"), c("t_current_assets_total"), c("p_current_assets_total")),
        _v1("非流动资产合计", "error", c("assets_non_current_assets__calc"),
            c("assets_non_current_assets__cnt"), c("t_non_current_assets_total"), c("p_non_current_assets_total")),
        _v1("流动负债合计", "error", c("liabilities_current_liabilities__calc"),
            c("liabilities_current_liabilities__cnt"), c("t_current_liabilities_total"), c("p_current_liabilities_total")),
        _v1("非流动负债合计", "error", c("liabilities_non_current_liabilities__calc"),
            c("liabilities_non_current_liabilities__cnt"), c("t_non_current_liabilities_total"), c("p_non_current_liabilities_total")),
        _v1("所有者权益合计", "warning", c("equity_items__calc"),
            c("equity_items__cnt"), eq_rep, eq_present),
        # V2 level-2 (balance_sheet.py:525-618) — note: tolerance without abs
        _chk(2, "资产总计", "error",
             c("t_current_assets_total").isNotNull()
             & c("t_non_current_assets_total").isNotNull() & c("t_assets_total").isNotNull(),
             c("t_current_assets_total") + c("t_non_current_assets_total"),
             c("t_assets_total"), rate, abs_tolerance=False),
        _chk(2, "负债合计", "error",
             c("t_current_liabilities_total").isNotNull()
             & c("t_non_current_liabilities_total").isNotNull() & c("t_liabilities_total").isNotNull(),
             c("t_current_liabilities_total") + c("t_non_current_liabilities_total"),
             c("t_liabilities_total"), rate, abs_tolerance=False),
        _chk(2, "负债和所有者权益总计", "error",
             c("t_liabilities_total").isNotNull()
             & F.coalesce(c("t_equity_total"), c("t_parent_equity_total")).isNotNull()
             & c("t_liabilities_and_equity_total").isNotNull(),
             c("t_liabilities_total") + F.coalesce(c("t_equity_total"), c("t_parent_equity_total")),
             c("t_liabilities_and_equity_total"), rate, abs_tolerance=False),
        # V3 level-3 grand balance (:620-640)
        _chk(3, "总平衡", "error",
             c("t_assets_total").isNotNull() & c("t_liabilities_and_equity_total").isNotNull(),
             c("t_assets_total"), c("t_liabilities_and_equity_total"), rate, abs_tolerance=False),
    ]
    return checks


def _income_check_cols() -> list[Column]:
    c = F.col
    rate = TOLERANCE["income_statement"]
    cost_calc = (
        c("operating_cost")
        + F.coalesce(c("taxes_and_surcharges"), F.lit(0.0))
        + F.coalesce(c("selling_expenses"), F.lit(0.0))
        + F.coalesce(c("administrative_expenses"), F.lit(0.0))
        + F.coalesce(c("rd_expenses"), F.lit(0.0))
        + F.coalesce(c("financial_expenses"), F.lit(0.0))
    )
    checks = [
        # V6 (income_statement.py:303-357) — warning only
        _chk(1, "营业总成本", "warning",
             c("operating_cost").isNotNull() & c("operating_total_cost").isNotNull(),
             cost_calc, c("operating_total_cost"), rate, abs_tolerance=True),
        # V7 net profit = total profit − income tax (:362-392)
        _chk(2, "净利润", "error",
             c("total_profit").isNotNull() & c("income_tax").isNotNull() & c("net_profit").isNotNull(),
             c("total_profit") - c("income_tax"), c("net_profit"), rate, abs_tolerance=True),
        # V8 attribution (:397-424)
        _chk(3, "净利润归属", "error",
             c("net_profit").isNotNull() & c("parent_net_profit").isNotNull() & c("minority_profit").isNotNull(),
             c("parent_net_profit") + c("minority_profit"), c("net_profit"), rate, abs_tolerance=True),
    ]
    return checks


def _cash_flow_check_cols() -> list[Column]:
    c = F.col
    rate = TOLERANCE["cash_flow"]

    def net_chk(name: str, prefix: str) -> Column:
        i, o, n = (c(f"{prefix}_inflow_subtotal"), c(f"{prefix}_outflow_subtotal"),
                   c(f"{prefix}_net_cash_flow"))
        return _chk(2, name, "error",
                    i.isNotNull() & o.isNotNull() & n.isNotNull(),
                    i - o, n, rate, abs_tolerance=True)

    checks = [
        net_chk("经营活动净额", "operating"),
        net_chk("投资活动净额", "investing"),
        net_chk("筹资活动净额", "financing"),
        # V11 (cash_flow.py:375-405): fx effect added only when present
        _chk(3, "现金净增加额", "error",
             c("operating_net_cash_flow").isNotNull() & c("investing_net_cash_flow").isNotNull()
             & c("financing_net_cash_flow").isNotNull() & c("net_increase_cash").isNotNull(),
             c("operating_net_cash_flow") + c("investing_net_cash_flow")
             + c("financing_net_cash_flow") + F.coalesce(c("exchange_rate_effect"), F.lit(0.0)),
             c("net_increase_cash"), rate, abs_tolerance=True),
        # V12 (:407-434)
        _chk(3, "期末余额", "error",
             c("beginning_cash_balance").isNotNull() & c("net_increase_cash").isNotNull()
             & c("ending_cash_balance").isNotNull(),
             c("beginning_cash_balance") + c("net_increase_cash"),
             c("ending_cash_balance"), rate, abs_tolerance=True),
    ]
    return checks


_BALANCE_SECTIONS = (
    "assets.current_assets",
    "assets.non_current_assets",
    "liabilities.current_liabilities",
    "liabilities.non_current_liabilities",
    "equity.items",
)
_BALANCE_TOTALS = (
    "current_assets_total", "non_current_assets_total", "assets_total",
    "current_liabilities_total", "non_current_liabilities_total",
    "liabilities_total", "parent_equity_total", "equity_total",
    "liabilities_and_equity_total",
)
_INCOME_SLOTS = (
    "operating_cost", "taxes_and_surcharges", "selling_expenses",
    "administrative_expenses", "rd_expenses", "financial_expenses",
    "operating_total_cost", "total_profit", "income_tax", "net_profit",
    "parent_net_profit", "minority_profit",
)
_CASH_SLOTS = (
    "operating_inflow_subtotal", "operating_outflow_subtotal", "operating_net_cash_flow",
    "investing_inflow_subtotal", "investing_outflow_subtotal", "investing_net_cash_flow",
    "financing_inflow_subtotal", "financing_outflow_subtotal", "financing_net_cash_flow",
    "exchange_rate_effect", "net_increase_cash", "beginning_cash_balance", "ending_cash_balance",
)


@lru_cache(maxsize=1)
def _agg_cols() -> tuple[Column, ...]:
    """The ~53 conditional aggregates, built ONCE per process: Column
    objects are immutable unresolved by-name expressions, so reuse
    across plans is safe and removes ~2 s of serial py4j construction
    from every subsequent plan build."""
    aggs: list[Column] = []
    for sec in _BALANCE_SECTIONS:
        aggs += _section_sum(sec)
    for std in _BALANCE_TOTALS:
        aggs.append(_slot_val(std).alias(f"t_{std}"))
        aggs.append(_slot_present(std).alias(f"p_{std}"))
    for n in _INCOME_SLOTS + _CASH_SLOTS:
        aggs.append(_slot_val(n).alias(n))
    return tuple(aggs)


@lru_cache(maxsize=1)
def _checks_by_stmt() -> Column:
    return (
        F.when(F.col("statement_type") == "balance_sheet", F.array(*_balance_check_cols()))
        .when(F.col("statement_type") == "income_statement", F.array(*_income_check_cols()))
        .otherwise(F.array(*_cash_flow_check_cols()))
    )


def validation_checks(slots: DataFrame) -> DataFrame:
    """All arithmetic checks, long format (V1-V3, V6-V8, V10-V12).

    ONE aggregation pass: every slot value any statement's formulas need
    becomes a conditional aggregate in a single groupBy(url,
    statement_type); the statement-specific check array is then selected
    by statement type and exploded. One shuffle for all three
    statements (the naive per-statement plan costs three).
    """
    wide = slots.groupBy("url", "statement_type").agg(*_agg_cols())

    checks_by_stmt = _checks_by_stmt()
    return (
        wide.select("url", "statement_type", F.explode(checks_by_stmt).alias("c"))
        .select("url", "statement_type", "c.*")
        .filter(F.col("applicable"))
        .drop("applicable")
    )


@lru_cache(maxsize=4)
def _essential_dim(spark) -> DataFrame:
    # session-keyed: building the frame is a driver round-trip per plan
    # build otherwise (the dim itself never changes).
    # ``kind`` encodes each statement's matching rule (reference
    # validator parity): balance matches essentials by SUBSTRING inside
    # the asset/liability sections; income/cash-flow require the exact
    # standard key with a parseable current-period value.
    rows = []
    for stmt, kind in (
        ("balance_sheet", "contains"),
        ("income_statement", "exact"),
        ("cash_flow", "exact"),
    ):
        ess = ESSENTIAL_ITEMS[stmt]
        rows += [(stmt, e, len(ess), kind) for e in ess]
    return local_frame(
        spark, rows, "statement_type string, essential string, n_required int, kind string"
    )


def completeness(slots: DataFrame, spark) -> DataFrame:
    """V4/V9/V13 essential-item scores per (url, statement_type).

    ONE branch for all three statements: a broadcast join against the
    tiny essentials dim on the statement key, the per-statement match
    rule as a residual predicate, one groupBy on (url, statement_type).
    The previous per-statement union spelled three scans + three
    shuffles of the same persisted relation (and three plan-analysis
    passes per build); this is one of each.
    """
    dim = _essential_dim(spark)
    is_contains = F.col("kind") == "contains"
    matched = (
        F.col("section_path").isin(
            "assets.current_assets", "assets.non_current_assets",
            "liabilities.current_liabilities", "liabilities.non_current_liabilities",
        )
        & F.col("standard_name").contains(F.col("essential"))
    )
    exact = (F.col("standard_name") == F.col("essential")) & to_num(
        F.col("current_period")
    ).isNotNull()
    return (
        slots.join(F.broadcast(dim), "statement_type")
        .filter(F.when(is_contains, matched).otherwise(exact))
        .groupBy("url", "statement_type")
        .agg(
            (F.countDistinct("essential") / F.first("n_required")).alias(
                "completeness_score"
            )
        )
    )


def validation_summary(
    checks: DataFrame, completeness_df: DataFrame, parsing_info: DataFrame
) -> DataFrame:
    """Per (url, statement_type): is_valid, error/warning counts,
    completeness, match stats — the reference's validation dict header."""
    agg = checks.groupBy("url", "statement_type").agg(
        F.sum(F.when((F.col("severity") == "error") & ~F.col("passed"), 1).otherwise(0)).alias("errors"),
        F.sum(F.when((F.col("severity") == "warning") & ~F.col("passed"), 1).otherwise(0)).alias("warnings"),
        F.count("*").alias("checks_run"),
    )
    err = F.coalesce("errors", F.lit(0))
    # single select after the joins: every withColumn(s) re-analyzes the
    # whole (large) checks lineage, so the coalesce defaults and
    # is_valid are folded into one projection
    return (
        parsing_info.join(agg, ["url", "statement_type"], "left")
        .join(completeness_df, ["url", "statement_type"], "left")
        .select(
            *parsing_info.columns,
            err.alias("errors"),
            F.coalesce("warnings", F.lit(0)).alias("warnings"),
            "checks_run",
            F.coalesce("completeness_score", F.lit(0.0)).alias("completeness_score"),
            (err == 0).alias("is_valid"),
        )
    )
