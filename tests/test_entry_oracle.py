"""Local replica of the driver's correctness gate: run every
``queries()`` entry that has an ``oracle_sql()`` twin on the same
parquet tables and compare row count, sorted column names, and the
order-insensitive value multiset (Spark vs DuckDB)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, float):
        # NO int-collapse: the driver stringifies exactly, so a DuckDB
        # HUGEINT→float64 vs Spark bigint divergence must FAIL here
        # ("1.000000" vs "1"), not be normalized away — that exact
        # hole hid the r2 q_sessionize dtype artifact twice.
        return f"{v:.6f}"
    return str(v)


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    assert len(sdf) > 0, f"{name}: empty on both engines, so the match certifies nothing"
    # The driver's hash compare stringifies values exactly, so an int64-vs-float64
    # dtype split (e.g. DuckDB HUGEINT window sums materializing as float64) is a
    # hash mismatch even when every value agrees.  Mirror that strictness here:
    # require matching dtype *kind* per column whenever neither side carries nulls
    # (nulls legitimately promote pandas ints to float64 on either side).
    for col in sdf.columns:
        s, o = sdf[col], odf[col]
        if s.isna().any() or o.isna().any():
            continue
        sk = "i" if s.dtype.kind in "iu" else s.dtype.kind
        ok = "i" if o.dtype.kind in "iu" else o.dtype.kind
        if ok == "f" and sk == "i" and (o == o.astype("int64")).all():
            pytest.fail(
                f"{name}.{col}: oracle float64 vs spark int64 with integral values "
                "— cast the oracle column (driver hash would mismatch)"
            )
        if sk == "f" and ok == "i" and (s == s.astype("int64")).all():
            pytest.fail(
                f"{name}.{col}: spark float64 vs oracle int64 with integral values "
                "— align the Spark column type (driver hash would mismatch)"
            )
    s_rows, o_rows = _normalize(sdf), _normalize(odf)
    diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
    assert not diffs, f"{name}: first value diffs {diffs[:3]}"


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing


@pytest.mark.parametrize(
    "name",
    ["q_ann_topk", "q_cosine_neardup", "q_multimodal_features", "q_extract_text_identity"],
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    rows = df.limit(5000).collect()
    assert df.columns  # stable schema
    if name == "q_extract_text_identity":
        assert rows and all(r.byte_identical for r in rows)
    elif name in ("q_ann_topk", "q_multimodal_features"):
        assert rows
