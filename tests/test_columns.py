"""Operator-level tests for C1-C7.

Ports the reference's test matrix (tests/test_column_analyzer.py and
tests/test_integration.py — FIXTURES.md §4) case for case on the pure
Python kernels; the last test pins the Spark ``extract_items`` kernel
to those same functions across the Arrow boundary.
"""

import random

from pyspark.sql import types as T

from pdf_context_extractor_agent_spark.operators.columns import (
    analyze_columns,
    clean_numeric,
    extract_items,
    extract_row,
    extract_values,
    is_money_format,
    is_note_format,
    item_name_from_row,
)


def test_four_col_header_identification():
    cmap = analyze_columns(["项目", "本期末", "上期末", "附注"])
    assert cmap == {
        "item_name": 0, "current_period": 1, "previous_period": 2, "note": 3
    }


def test_date_header_with_note_in_col1():
    # FIXTURES §4 case 1 (reference test_integration.py:18-24)
    cmap = analyze_columns(["项目", "附注", "2024年12月31日", "2023年12月31日"])
    assert cmap["item_name"] == 0
    assert cmap["note"] == 1
    assert cmap["current_period"] == 2
    assert cmap["previous_period"] == 3


def test_header_format_matrix():
    for cur, prev in [("期末余额", "期初余额"), ("本期末", "上期末"),
                      ("年末余额", "年初余额"), ("2024年期末", "2023年期末")]:
        cmap = analyze_columns(["项目", cur, prev, "附注"])
        assert cmap["current_period"] == 1, (cur, prev, cmap)
        assert cmap["previous_period"] == 2
    for item_hdr in ["科目", "会计科目"]:
        cmap = analyze_columns([item_hdr, "本期末", "上期末"])
        assert cmap["item_name"] == 0


def test_swap_current_previous_when_reversed():
    # C3 (column_analyzer.py:256-265): the reference unconditionally
    # forces current LEFT of previous — even when the header genuinely
    # puts 期初 first, the left column wins the current slot.
    cmap = analyze_columns(["项目", "期初余额", "期末余额"])
    assert cmap["current_period"] == 1
    assert cmap["previous_period"] == 2


def test_money_format_truth_table():
    for ok in ["1000000.00", "1,000,000.00", "-500000.00", "123456", " 42.5 "]:
        assert is_money_format(ok.strip() if ok != " 42.5 " else ok), ok
    for bad in ["七、1", "项目", "", "1,23.4", "12,34"]:
        assert not is_money_format(bad), bad


def test_note_format_truth_table():
    for ok in ["七、1", "六、25", "十、3", "1", "123", "七(1)", "七、(1)"]:
        assert is_note_format(ok), ok
    for bad in ["1000000", "项目", ""]:
        assert not is_note_format(bad), bad


def test_thousands_separator_cleanup():
    # FIXTURES §4 (reference test_column_analyzer.py:52-64)
    assert clean_numeric("1,000,000.00") == "1000000.00"
    assert clean_numeric("-") is None
    assert clean_numeric("--") is None
    assert clean_numeric("—") is None
    assert clean_numeric("") is None
    assert clean_numeric("人民币 1,234.56 元") == "1234.56"


def test_value_extraction_with_offsets():
    # C5: numeric value shifted one column LEFT of its mapped index
    # (merged-cell repair; probing is left-only for numerics)
    cmap = {"item_name": 0, "current_period": 2, "previous_period": 3}
    row = ["货币资金", "1,000.00", "", "900.00"]
    vals = extract_values(row, cmap)
    assert vals["current_period"] == "1000.00"
    assert vals["previous_period"] == "900.00"


def test_numeric_probe_never_goes_right():
    cmap = {"item_name": 0, "current_period": 1}
    row = ["x", "", "999.00"]  # value only to the RIGHT
    vals = extract_values(row, cmap)
    assert vals["current_period"] is None


def test_item_name_newline_and_col1_fallback():
    # C7: 深信服-style col-1 names and embedded newlines
    assert item_name_from_row(["", "货币\n资金", "1.00"], 0) == "货币资金"
    assert item_name_from_row(["应收\r账款", "1.00"], 0) == "应收账款"


def test_cross_page_arity_change_fallback():
    # FIXTURES §4 case 2: header says 4 cols, row has 3 → abs diff ≤1 so
    # the header map still applies (len < expected triggers dynamic only
    # when columns are MISSING relative to the mapped indexes)
    name, cur, prev, note = extract_row(
        ["应收账款", "500000.00", "450000.00"], 0, 1, 2, 3
    )
    assert (name, cur, prev) == ("应收账款", "500000.00", "450000.00")
    assert note is None
    # 2-col row against a 4-col header → dynamic re-analysis
    name, cur, prev, note = extract_row(["货币资金", "123456.00"], 0, 2, 3, 1)
    assert name == "货币资金"
    assert cur == "123456.00"


def test_note_type_check():
    cmap = {"item_name": 0, "note": 3}
    vals = extract_values(["货币资金", "1.00", "2.00", "六、1"], cmap)
    assert vals["note"] == "六、1"
    vals = extract_values(["货币资金", "1.00", "2.00", "不是附注啊这个"], cmap)
    assert vals["note"] is None


def test_extract_items_matches_python_rows_fuzz(spark):
    """Fuzzed ranged rows (arity drift, null header columns, note/money
    mixes, ``None``, whitespace and placeholder cells): the Arrow kernel
    must equal ``extract_row`` mapped over the same rows in plain
    Python, with a null ``item_col`` read as column 0 and empty-name
    rows dropped. The pure functions are pinned to the reference case
    for case above, so this pins the Arrow boundary's null handling
    (nullable int columns arrive as float NaN, null cells as ``None``)."""
    rng = random.Random(20260817)
    vocab = [
        "项目", "科目", "本期末", "上期末", "期末余额", "年初余额", "附注", "备注",
        "货币资金", "应收账款", "流动资产合计", "资产总计", "减：库存股",
        "1000000.00", "1,234,567.89", "-500.00", "0.00", "123456", "-", "--",
        "", "  ", "n/a", "七、1", "三(2)", "6", "123", "1.23", "约1.5万", None,
    ]
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("statement_type", T.StringType()),
        T.StructField("row_idx", T.IntegerType()),
        T.StructField("cells", T.ArrayType(T.StringType())),
        T.StructField("item_col", T.IntegerType()),
        T.StructField("cur_col", T.IntegerType()),
        T.StructField("prev_col", T.IntegerType()),
        T.StructField("note_col", T.IntegerType()),
    ])

    def hdr():
        return rng.choice([None, None, 0, 1, 2, 3, 4, 5])

    data = [
        (
            f"u{i % 40}", "balance_sheet", i,
            [rng.choice(vocab) for _ in range(rng.randint(1, 10))],
            hdr(), hdr(), hdr(), hdr(),
        )
        for i in range(600)
    ]

    expected = set()
    for url, stmt, ridx, cells, ic, cc, pc, nc in data:
        name, cur, prev, note = extract_row(cells, 0 if ic is None else ic, cc, pc, nc)
        if name:
            expected.add((url, stmt, ridx, name, cur, prev, note))

    got = {tuple(r) for r in extract_items(spark.createDataFrame(data, schema)).collect()}
    assert expected and got == expected
