"""C1-C7: column-role inference and per-row value extraction.

Reference: src/parsers/column_analyzer.py (keyword match :108-139,
feature inference :141-194, validate/swap :243-272, offset probing
:365-440, numeric cleanup :442-465) and src/parsers/base_statement_parser.py
(header-map-vs-dynamic dispatch :113-171, item-name resolution :173-194).

This is the engine's dynamic-schema-to-data step. The inference itself
is genuinely per-row branching (merged-cell offset repair, arity-change
fallback), so it lives in ONE Arrow-batched pandas UDF — the designated
layout-analysis kernel (SURVEY.md §2.4). The reference's column-pattern
cache (:47-79) is an optimization for per-row Python that vectorization
obsoletes; its *semantics* are preserved because the header-derived map
is applied to every in-arity row and per-row inference kicks in exactly
when the reference's cache would have been invalidated
(base_statement_parser.py:134-149: ``abs(len(row)-expected)>1``).
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame

from ..patterns import COLUMN_KEYWORDS, MONEY_FORMAT, NOTE_FORMAT_PATTERNS, NOTE_PURE_DIGIT, ROLE_ORDER

_MONEY_RE = re.compile(MONEY_FORMAT)
_NOTE_RES = [re.compile(p) for p in NOTE_FORMAT_PATTERNS]
_NOTE_DIGIT_RE = re.compile(NOTE_PURE_DIGIT)
_KEYWORD_RES = {role: [re.compile(p) for p in pats] for role, pats in COLUMN_KEYWORDS.items()}


def is_note_format(text: str) -> bool:
    """column_analyzer.py:196-222 (incl. pure digits of length ≤3)."""
    return any(r.search(text) for r in _NOTE_RES) or bool(_NOTE_DIGIT_RE.match(text))


def is_money_format(text: str) -> bool:
    """column_analyzer.py:224-241."""
    return bool(_MONEY_RE.match(text))


def analyze_columns(row: list) -> dict[str, Optional[int]]:
    """C1+C2+C3 on a single row → role→column-index map."""
    matches: dict[str, int] = {}
    # C1 keyword pass: columns left→right, roles in bank order,
    # first column wins per role (column_analyzer.py:118-137)
    for idx, cell in enumerate(row):
        if not cell:
            continue
        text = str(cell).strip()
        for role in ROLE_ORDER:
            if role in matches:
                continue
            if any(r.search(text) for r in _KEYWORD_RES[role]):
                matches[role] = idx
    # C2 feature pass on unmatched columns (column_analyzer.py:153-193).
    # NOTE: feature-inferred note/money checks mirror the reference's
    # slightly asymmetric guards (note checks only `inferred`, money
    # checks both keyword and inferred maps).
    inferred: dict[str, int] = {}
    taken = set(matches.values())
    for idx, cell in enumerate(row):
        if idx in taken or not cell:
            continue
        text = str(cell).strip()
        if is_note_format(text):
            if "note" not in inferred:
                inferred["note"] = idx
            continue
        if is_money_format(text):
            if "current_period" not in matches and "current_period" not in inferred:
                inferred["current_period"] = idx
            elif "previous_period" not in matches and "previous_period" not in inferred:
                inferred["previous_period"] = idx
            continue
    if "item_name" not in matches and "item_name" not in inferred:
        if len(row) > 0 and row[0]:
            inferred["item_name"] = 0
    cmap: dict[str, Optional[int]] = {**matches, **inferred}
    # C3: current must sit left of previous (column_analyzer.py:256-265)
    if "current_period" in cmap and "previous_period" in cmap and cmap["current_period"] > cmap["previous_period"]:
        cmap["current_period"], cmap["previous_period"] = cmap["previous_period"], cmap["current_period"]
    return cmap


def clean_numeric(value: str) -> Optional[str]:
    """C6 (column_analyzer.py:442-465): keep [0-9.,-], drop commas,
    dash placeholders → null. Output stays a STRING (the reference's
    values are strings; float coercion is validation-only)."""
    if not value:
        return None
    cleaned = re.sub(r"[^\d.,\-]", "", str(value)).replace(",", "")
    if not cleaned or cleaned in ("-", "--", "—"):
        return None
    return cleaned


def _probe(row: list, base_idx: int, value_type: Optional[str]) -> Optional[str]:
    """C5 offset probing (column_analyzer.py:365-440): exact column
    first; if empty/type-mismatched, probe neighbours — numerics only
    leftward [-1,-2] (the merged-cell bug class, DEVELOPMENT.md:209-213),
    names/notes both ways [-1,+1,-2,+2]."""
    if 0 <= base_idx < len(row):
        cell = row[base_idx]
        if cell is not None and (not isinstance(cell, str) or cell.strip()):
            text = str(cell).strip()
            if value_type is None:
                return cell
            if value_type == "numeric" and is_money_format(text):
                return cell
            if value_type == "note" and is_note_format(text):
                return cell
    offsets = [-1, -2] if value_type == "numeric" else [-1, 1, -2, 2]
    for off in offsets:
        idx = base_idx + off
        if idx < 0 or idx >= len(row):
            continue
        cell = row[idx]
        if cell is None or (isinstance(cell, str) and not cell.strip()):
            continue
        text = str(cell).strip()
        if value_type is None:
            return cell
        if value_type == "numeric" and is_money_format(text):
            return cell
        if value_type == "note" and is_note_format(text):
            return cell
    return None


def extract_values(row: list, cmap: dict[str, Optional[int]]) -> dict[str, Optional[str]]:
    """column_analyzer.extract_values_from_row (:318-363)."""
    out: dict[str, Optional[str]] = {"current_period": None, "previous_period": None, "note": None}
    if cmap.get("current_period") is not None:
        v = _probe(row, cmap["current_period"], "numeric")
        if v:
            out["current_period"] = clean_numeric(v)
    if cmap.get("previous_period") is not None:
        v = _probe(row, cmap["previous_period"], "numeric")
        if v:
            out["previous_period"] = clean_numeric(v)
    if cmap.get("note") is not None:
        v = _probe(row, cmap["note"], "note")
        if v:
            text = str(v).strip()
            if is_note_format(text):
                out["note"] = text
    return out


def item_name_from_row(row: list, item_col: Optional[int]) -> str:
    """C7 (base_statement_parser.py:173-194): first non-empty of columns
    [mapped, 0, 1], CR/LF stripped (the newline-in-name bug class)."""
    for ci in [item_col if item_col is not None else 0, 0, 1]:
        if ci < len(row) and row[ci]:
            name = str(row[ci]).strip().replace("\n", "").replace("\r", "").strip()
            if name:
                return name
    return ""


def extract_row(
    row: list,
    item_col: Optional[int],
    cur_col: Optional[int],
    prev_col: Optional[int],
    note_col: Optional[int],
) -> tuple[str, Optional[str], Optional[str], Optional[str]]:
    """base_statement_parser.extract_values_from_row (:113-171):
    header-map path when the row's arity fits (±1), dynamic per-row
    re-analysis otherwise."""
    name = item_name_from_row(row, item_col)
    expected = max(cur_col or 0, prev_col or 0) + 1
    if cur_col is None or len(row) < expected or abs(len(row) - expected) > 1:
        cmap = analyze_columns(row)
        vals = extract_values(row, cmap)
    else:
        cmap = {
            "item_name": item_col,
            "current_period": cur_col,
            "previous_period": prev_col,
            "note": note_col,
        }
        vals = extract_values(row, {k: v for k, v in cmap.items() if v is not None})
    return name, vals["current_period"], vals["previous_period"], vals["note"]


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_HEADER_SCHEMA = "item_col int, cur_col int, prev_col int, note_col int"
_ITEM_SCHEMA = (
    "url string, statement_type string, row_idx int, item_name string, "
    "current_period string, previous_period string, note string"
)


def header_maps(header_rows: DataFrame) -> DataFrame:
    """(url, statement_type, cells) → + (item_col, cur_col, prev_col, note_col).

    One row per (url, statement); Arrow-batched, header rows only —
    negligible data volume.
    """
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            maps = [analyze_columns(list(r)) for r in b["cells"]]
            out = b[["url", "statement_type"]].copy()
            out["item_col"] = pd.array([m.get("item_name") for m in maps], dtype="Int32")
            out["cur_col"] = pd.array([m.get("current_period") for m in maps], dtype="Int32")
            out["prev_col"] = pd.array([m.get("previous_period") for m in maps], dtype="Int32")
            out["note_col"] = pd.array([m.get("note") for m in maps], dtype="Int32")
            yield out

    return header_rows.mapInPandas(
        kernel, schema=f"url string, statement_type string, {_HEADER_SCHEMA}"
    )


def _extract_batch_loop(b: pd.DataFrame) -> pd.DataFrame:
    """Reference per-row batch implementation (see extract_row)."""
    recs = []
    for url, stmt, ridx, cells, ic, cc, pc, nc in zip(
        b["url"], b["statement_type"], b["row_idx"], b["cells"],
        b["item_col"], b["cur_col"], b["prev_col"], b["note_col"],
    ):
        def _i(v):
            return None if pd.isna(v) else int(v)

        name, cur, prev, note = extract_row(
            list(cells), _i(ic) if not pd.isna(ic) else 0, _i(cc), _i(pc), _i(nc)
        )
        if name:
            recs.append((url, stmt, int(ridx), name, cur, prev, note))
    return pd.DataFrame(
        recs,
        columns=["url", "statement_type", "row_idx", "item_name",
                 "current_period", "previous_period", "note"],
    )


def extract_items(ranged_rows: DataFrame) -> DataFrame:
    """C5-C7 extraction: ONE Arrow kernel handles both the standard
    header-map path and the dynamic re-analysis fallback (the
    reference's dispatch, base_statement_parser.py:134-149, branched
    per row inside the kernel).

    Input: (url, statement_type, row_idx, cells, item_col, cur_col,
    prev_col, note_col). Output drops rows with empty item names — the
    reference ``continue``s on them (balance_sheet.py:207-208).

    An all-codegen plan of the same dispatch (layered column
    expressions, bitmask probing) was built and measured slower on this
    regex-dense per-cell workload (~5 s vs ~1.9 s per 529 k rows at 8
    cores: Java regex over UTF8String→String conversions loses to
    CPython's C regex engine over pandas batches), so this kernel is
    the only path. It has no arity bound.

    The per-row loop is deliberate: a masked-matrix vectorization of
    the standard path (per-column pandas regex passes + padded object
    matrix) was built and measured SLOWER on the real workload (8.2s
    vs 6.2s per 3.17M rows at 8 cores) — rows are ~4 cells wide, so
    the loop's short-circuiting (one regex on exactly the probed cell)
    beats 16 full-column mask passes. Revisit only if typical row
    width grows well past that.
    """
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _extract_batch_loop(b)

    return ranged_rows.mapInPandas(kernel, schema=_ITEM_SCHEMA)
