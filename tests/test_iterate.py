"""The iteration driver (functions/iterate.py): cut policy and stop rule."""

from __future__ import annotations

import pyspark.sql.functions as F

from pdf_context_extractor_agent_spark.functions.iterate import iterate


def _bump(df, i):
    # round i's filter on the unique literal 9000 + i survives optimisation
    # (adds would be constant-folded), so the plan shows which round
    # bodies it still holds; no row ever matches it
    return df.filter(F.col("x") != 9000 + i).select((F.col("x") + 1).alias("x"))


def _rounds(df) -> list[int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [i for i in range(20) if f"= {9000 + i})" in plan]


def test_rounds_are_cut_but_the_last_is_not(spark):
    seen = []

    def step(df, i):
        seen.append(i)
        return _bump(df, i)

    out = iterate(spark.createDataFrame([(1,), (2,)], "x long"), step, 3)
    assert seen == [0, 1, 2]
    # rounds 0 and 1 sit behind a cut; round 2's body is still a plan
    assert _rounds(out) == [2]
    assert sorted(r.x for r in out.collect()) == [4, 5]


def test_none_stops_and_returns_the_last_state(spark):
    seen = []

    def step(df, i):
        seen.append(i)
        return None if i == 2 else _bump(df, i)

    out = iterate(spark.createDataFrame([(1,)], "x long"), step, 5)
    assert seen == [0, 1, 2]
    assert [r.x for r in out.collect()] == [3]
    # the state handed to the stopping round was cut: no round body left
    assert _rounds(out) == []


def test_tuple_state_is_cut_element_by_element(spark):
    def step(state, i):
        a, b = state
        return _bump(a, i), _bump(b, i + 10)

    a0 = spark.createDataFrame([(1,)], "x long")
    b0 = spark.createDataFrame([(2,)], "x long")
    a, b = iterate((a0, b0), step, 2)
    assert (_rounds(a), _rounds(b)) == ([1], [11])
    assert (a.first().x, b.first().x) == (3, 4)
