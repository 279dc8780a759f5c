"""End-to-end extraction plans.

Two lifecycles, mirroring the reference's entry points (SURVEY.md §3):

* :func:`parse_statements` — the ``tools/export_all_statements.py``
  path (reference :58-92): all page tables concatenated per document,
  structure identification bounds each statement, all three statement
  types resolved in ONE parameterized plan grouped by
  (url, statement_type).
* :func:`parse_balance_via_boundary` — the ``main.py`` balance path
  (reference main.py:44-108): P2-P4 page/table boundary filtering
  before the merge, balance sheet only.

Both return the same bundle of DataFrames; nothing is collected —
callers write or further compose. Plan shape: one shuffle to establish
per-url row order, broadcast joins for every dimension table (pattern
banks and the per-doc structure rows — see SCALE.md for when the
latter flips to a co-partitioned join), window functions for all
ordering logic. Row extraction runs in one Arrow-batched kernel that
branches per row between the header-map path and the dynamic
re-analysis fallback, after a one-row-per-document header-analysis hop.

Five relations are cut (``functions/iterate.py:cut``, the engine's one
lineage-cut policy), each because more than one consumer of one run
reads it and recomputing it would re-run work upstream of it:

* ``rows`` — the merged clean rows; read by SI, the header-row join
  and the statement-range join (the page kernel + merge lineage);
* ``structure`` — the SI rows; read by the header-row join, the range
  join and ``parsing_info``'s ``total_rows``;
* ``items`` — the items kernel's output; read twice by
  :func:`match_items` (distinct-name dictionary and pid-join probe), so
  the ``extract_items`` and ``header_maps`` Python kernels run once;
* the pid-joined relation inside :func:`match_items` — read by the
  winners, ``unmatched`` and the match counts behind ``parsing_info``;
* ``slots`` — read by checks, completeness and the summary.

With these, each Python kernel evaluates each of its input rows once
however many of the returned relations a caller writes. Each cut is a
``Scan ExistingRDD`` leaf, so no returned plan nests another's (a
persist nests its input's whole physical plan in every reader's): the
physical plan of ``parsed`` holds 3 exchanges and that of ``summary`` 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.iterate import cut
from ..operators.boundary import balance_boundaries, prune_rows_to_boundary
from ..operators.columns import extract_items, header_maps
from ..operators.match import match_items
from ..operators.merge import merged_clean_rows, rows_long, tables_long
from ..operators.structure import identify_structures
from ..operators.validate import completeness, validation_checks, validation_summary

ALL_STATEMENTS = ("balance_sheet", "income_statement", "cash_flow")


def statement_rows(page_df: DataFrame) -> DataFrame:
    """pages → globally ordered clean rows (M1-M3 over all tables)."""
    return merged_clean_rows(rows_long(tables_long(page_df)))


def _parse_from_rows(
    rows: DataFrame, spark: SparkSession, statement_types: tuple[str, ...]
) -> dict[str, DataFrame]:
    # Cut: rows, structure, items, slots, and the pid-joined relation
    # inside match_items (the module docstring names who reads each).
    # Uncut, every further reader would re-run the page kernel + merge
    # lineage or a Python kernel. At 10^12-row scale these become
    # checkpointed Iceberg stage tables; a local checkpoint is the
    # single-job analog.
    rows = cut(rows)
    structure = cut(identify_structures(rows, spark, statement_types))

    # header column map per (url, statement): C1-C3 over the header row
    # cells (a tiny Arrow hop — one row per document-statement).
    # ``structure`` and ``hmaps`` have ONE-ROW-PER-DOCUMENT cardinality:
    # they must NOT carry a broadcast hint (at 10^12 input rows a forced
    # broadcast ships billions of rows to every executor and OOMs the
    # driver). Left unhinted, AQE picks broadcast-vs-shuffle from runtime
    # stats — broadcast at test scale, co-partitioned shuffle join at
    # corpus scale. Only the genuinely tiny pattern/anchor/label dims
    # keep explicit hints (operators/match.py, operators/structure.py).
    hdr_rows = (
        structure.filter(F.col("header_row").isNotNull())
        .select("url", "statement_type", F.col("header_row").alias("row_idx"))
        .join(rows.select("url", "row_idx", "cells"), ["url", "row_idx"])
        .select("url", "statement_type", "cells")
    )
    hmaps = header_maps(hdr_rows)

    # bounded statement range per (url, statement) + header map
    ranged = (
        rows.select("url", "row_idx", "cells")
        .join(
            structure.select("url", "statement_type", "parse_start", "parse_end"),
            "url",
        )
        .filter(F.col("row_idx").between(F.col("parse_start"), F.col("parse_end")))
        .join(hmaps, ["url", "statement_type"], "left")
        .select("url", "statement_type", "row_idx", "cells",
                "item_col", "cur_col", "prev_col", "note_col")
    )
    # items feeds match_items' distinct-name dictionary AND the probe
    # side of its pid join: uncut, one run of the plan would evaluate
    # the items kernel (and header_maps under it) once per read
    items = cut(extract_items(ranged))
    m = match_items(items, spark)
    # slots feed checks + completeness + summary
    m["slots"] = cut(m["slots"])

    # J4: match counts from match_items' one aggregation over its cut
    # pid-joined relation; total_rows is the merged table's
    # row count, which SI already carries per (url, statement) as max_row
    parsing_info = m["counts"].join(
        structure.select(
            "url", "statement_type", (F.col("max_row") + 1).alias("total_rows")
        ),
        ["url", "statement_type"],
        "left",
    )

    checks = validation_checks(m["slots"])
    comp = completeness(m["slots"], spark)
    summary = validation_summary(checks, comp, parsing_info)

    return {
        "rows": rows,
        "structure": structure,
        "items": items,
        "parsed": m["parsed"],
        "slots": m["slots"],
        "unmatched": m["unmatched"],
        "parsing_info": parsing_info,
        "checks": checks,
        "completeness": comp,
        "summary": summary,
    }


def parse_statements(
    page_df: DataFrame,
    spark: SparkSession,
    statement_types: tuple[str, ...] = ALL_STATEMENTS,
) -> dict[str, DataFrame]:
    """Unified SI-driven plan for all statement types."""
    return _parse_from_rows(statement_rows(page_df), spark, statement_types)


def parse_balance_via_boundary(page_df: DataFrame, spark: SparkSession) -> dict[str, DataFrame]:
    """main.py lifecycle: P2 boundary → P3 prune → P4 split → M → parse."""
    bounds = balance_boundaries(page_df)
    raw = rows_long(tables_long(page_df))
    pruned = prune_rows_to_boundary(raw, bounds)
    rows = merged_clean_rows(pruned)
    return _parse_from_rows(rows, spark, ("balance_sheet",))

