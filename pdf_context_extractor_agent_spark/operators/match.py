"""J1-J4: item matching, first-occurrence dedup, ordered assembly.

Reference: the per-row pattern-dictionary walk in
src/parsers/balance_sheet.py:217-318 (+ totals :320-427) and the clones
in income_statement.py:235-271 / cash_flow.py:202-238. There the winner
is determined by dict iteration order; here the ordering is encoded in
the pattern ids themselves (patterns.item_pid_ranges) so the winner is
an ``array_min`` over literal-regex matches — the load-bearing ordering
(SURVEY.md §7 risk 2: 其中：优先股 lives in both non-current
liabilities and equity) is data, not code.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.iterate import cut
from ..functions.text import matched_pattern_ids
from ..patterns import item_pattern_df, item_pattern_list, item_pid_ranges


@lru_cache(maxsize=1)
def _pid_array_expr() -> Column:
    """The per-statement literal-regex bank as ONE reusable unresolved
    expression. Building it costs ~1 s of serial py4j traffic (hundreds
    of rlike literals); Column expressions are immutable by-name
    references, so the same object is reused across every plan in the
    process — the driver pays the construction once."""
    stmts = sorted(item_pid_ranges())
    arr = F.array().cast("array<int>")
    for stmt in stmts:
        arr = F.when(
            F.col("statement_type") == stmt,
            matched_pattern_ids(F.col("item_name"), item_pattern_list(stmt)),
        ).otherwise(arr)
    return arr


def match_items(items: DataFrame, spark: SparkSession) -> dict[str, DataFrame]:
    """items (url, statement_type, row_idx, item_name, values…) →

    * ``parsed``  — the ordered_items relation: every first-wins category
      match plus every totals match, with ``row_order`` preserving the
      document order (balance_sheet.py:311-315).
    * ``slots``   — one row per (url, stmt, section, standard_name) used
      by validation: first occurrence for category items (J2,
      balance_sheet.py:299-301), last for totals (dict-slot overwrite,
      :339 etc.).
    * ``matched`` — all rows that matched anything.
    * ``unmatched`` — anti-join remainder with row indices
      (balance_sheet.py:268-272).
    * ``counts`` — per (url, statement_type) ``matched_items`` /
      ``unmatched_items``, the parsing_info counts (balance_sheet.py:
      152-156), from one aggregation over the pid-joined relation.

    The J1 bank is evaluated per DISTINCT (statement_type, item_name),
    not per row: account names come from a standardized chart of
    accounts, so their vocabulary is bounded and grows sublinearly with
    the corpus (73 distinct names per 3.17M item rows at bench scale; a
    few 10^4 at any scale). The
    distinct is map-side partial-aggregated (the exchange carries only
    each task's local name set), the bank runs over the tiny dictionary,
    and the pid joins back on name equality — AQE sees the dictionary's
    runtime size and picks a broadcast hash join, so the big side never
    shuffles. Measured 15.9s → ~2s on the 60k-doc 8-core leg against
    the per-row when-chain it replaced.
    """
    # only the slot identity survives into the outputs — pattern text
    # and the ordering ints already did their job when pids were
    # assigned, so don't carry them through the (large) winners relation
    pat = F.broadcast(
        item_pattern_df(spark).select("pid", "section_path", "standard_name", "is_total")
    )

    # J1 winner: every bank regex is evaluated as a literal (compiled
    # once per task by codegen); pids are assigned in (statement,
    # cat_ord, std_ord, pat_ord) order, so the minimum matching pid
    # inside the row's statement bank IS the reference's first-match
    # winner. Each name evaluates only ITS statement's sub-bank (a
    # when-chain of per-statement arrays — 3× fewer regex evaluations
    # than one global bank). One narrow projection + one broadcast
    # equi-join on pid — no explode, no window, no anti-join.
    name_pid = (
        items.select("statement_type", "item_name")
        .distinct()
        .withColumn("pid", F.array_min(_pid_array_expr()))
    )
    # every output reads the pid-joined relation (winners, unmatched,
    # counts); cut it so the dictionary join and the items it reads are
    # evaluated once per run. The pattern-dim join on the winner side
    # is a broadcast lookup, cheap to repeat per consumer.
    with_pid = cut(items.join(name_pid, ["statement_type", "item_name"], "left"))
    winners = with_pid.filter(F.col("pid").isNotNull()).join(pat, "pid")
    unmatched_rows = with_pid.filter(F.col("pid").isNull()).select(
        "url", "statement_type", "row_idx", "item_name",
        "current_period", "previous_period", "note",
    )
    counts = with_pid.groupBy("url", "statement_type").agg(
        F.count("pid").alias("matched_items"),
        F.count_if(F.col("pid").isNull()).alias("unmatched_items"),
    )

    # J2 first-occurrence / J3 totals-overwrite as min_by/max_by HASH
    # aggregates instead of row_number windows: is_total is constant
    # per (section_path, standard_name) slot (pattern-dim property,
    # asserted in tests), so "first category occurrence, last totals
    # occurrence" is a per-slot argmin/argmax on row_idx. Aggregates
    # partial-combine map-side (the exchange carries one row per slot
    # per task, not every matched row) and need NO whole-partition
    # sort — the window formulation cost two full sorts of the matched
    # relation here. row_idx is unique within a url, so ties are
    # impossible and the pick is deterministic.
    slot_keys = ["url", "statement_type", "section_path", "standard_name"]
    payload = F.struct("item_name", "current_period", "previous_period", "note", "row_idx")

    def _unpack(picked):
        return [
            picked.getField("item_name").alias("original_name"),
            picked.getField("current_period").alias("current_period"),
            picked.getField("previous_period").alias("previous_period"),
            picked.getField("note").alias("note"),
        ]

    # parsed = every totals row (no dedup) + the first row of each
    # category slot, document order preserved in row_order
    cat_first = (
        winners.filter(~F.col("is_total"))
        .groupBy(*slot_keys)
        .agg(F.min_by(payload, F.col("row_idx")).alias("_p"))
        .select(
            *slot_keys,
            *_unpack(F.col("_p")),
            F.col("_p").getField("row_idx").alias("row_order"),
            F.lit(False).alias("is_total"),
        )
    )
    totals_rows = winners.filter(F.col("is_total")).select(
        *slot_keys,
        F.col("item_name").alias("original_name"),
        "current_period",
        "previous_period",
        "note",
        F.col("row_idx").alias("row_order"),
        "is_total",
    )
    parsed = totals_rows.unionByName(cat_first)

    slots = (
        winners.groupBy(*slot_keys, "is_total")
        .agg(
            F.min_by(payload, F.col("row_idx")).alias("_first"),
            F.max_by(payload, F.col("row_idx")).alias("_last"),
        )
        .withColumn("_p", F.when(F.col("is_total"), F.col("_last")).otherwise(F.col("_first")))
        .select(*slot_keys, *_unpack(F.col("_p")), "is_total")
    )

    matched = winners.select("url", "statement_type", "row_idx")

    return {
        "parsed": parsed,
        "slots": slots,
        "matched": matched,
        "unmatched": unmatched_rows,
        "counts": counts,
    }
