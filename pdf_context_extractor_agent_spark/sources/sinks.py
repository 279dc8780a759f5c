"""Sinks S6-S8: JSON / CSV / nested-document views of the parsed
relation, plus the row walks of the Excel sheets.

Reference: main.py:110-441 (`save_result` JSON :125-127, `_save_to_csv`
:392-441, `_save_to_excel` :144-390). The engine's canonical output is
the long-format ``parsed`` relation; the nested per-document JSON the
reference emits is a pivoted VIEW of it (J5, balance_sheet.py:130-159),
built here with ``collect_list``/``to_json`` — distributed, no driver
loop. Excel is a presentation concern (SURVEY §2.1 S7): the engine
builds the ordered sheet rows (``balance_excel_rows``) and leaves writing
the ``.xlsx`` to the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parsed_csv(parsed: DataFrame, path: str) -> None:
    """S8: the reference's CSV rows (section, standard, original, cur,
    prev, note) — our long format already IS this shape (main.py:392-441)."""
    (
        parsed.select(
            "url", "statement_type", "section_path", "standard_name",
            "original_name", "current_period", "previous_period", "note", "row_order",
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def nested_document_json(parsed: DataFrame) -> DataFrame:
    """S6/J5: one JSON document per (url, statement) — the reference's
    nested result dict as a pivoted view of the ordered long format."""
    item = F.struct(
        "section_path", "standard_name", "original_name",
        "current_period", "previous_period", "note", "row_order",
    )
    return (
        parsed.groupBy("url", "statement_type")
        .agg(
            F.to_json(
                F.struct(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(F.col("row_order"), item.alias("i")))),
                        lambda s: s["i"],
                    ).alias("ordered_items")
                )
            ).alias("document_json")
        )
    )


def write_parsed_json(parsed: DataFrame, path: str) -> None:
    nested_document_json(parsed).write.mode("overwrite").json(path)


# ---------------------------------------------------------------------------
# S7: the reference's ordered-walk Excel sheet (main.py:144-390)
# ---------------------------------------------------------------------------

def _xl_row(section="", category="", item_name="", original_name="",
            current_period="", previous_period="", note=""):
    return {
        "部分": section, "类别": category, "项目名称": item_name,
        "原始名称": original_name, "本期末金额": current_period,
        "上期末金额": previous_period, "附注": note,
    }


def balance_excel_rows(items: list[dict]) -> list[dict]:
    """The reference's ordered-items walk (main.py:166-370): title +
    blank row, then section/category header rows inserted at each
    section-path transition, item rows in original document order.
    Pure function over row_order-sorted item dicts with keys
    (section_path, original_name, current_period, previous_period,
    note) so the workbook structure is testable without openpyxl.
    """
    rows = [_xl_row(section="合并资产负债表"), _xl_row()]
    section = category = None

    def enter(sec: str, cat: str | None, blank_before: bool) -> None:
        nonlocal section, category
        if section != sec:
            if blank_before:
                rows.append(_xl_row())
            rows.append(_xl_row(section=sec))
            section = sec
        if cat is not None and category != cat:
            rows.append(_xl_row(category=cat))
        category = cat

    for it in items:
        p = it.get("section_path") or ""
        if p.startswith("assets.current_assets"):
            enter("资产", "流动资产", blank_before=False)
        elif p.startswith("assets.non_current_assets"):
            enter("资产", "非流动资产", blank_before=False)
        elif p == "assets.assets_total":
            category = None  # totals carry no category (main.py:249)
        elif p.startswith("liabilities.current_liabilities"):
            enter("负债和所有者权益", "流动负债", blank_before=True)
        elif p.startswith("liabilities.non_current_liabilities"):
            enter("负债和所有者权益", "非流动负债", blank_before=True)
        elif p.startswith("equity"):
            enter("负债和所有者权益", "所有者权益", blank_before=True)
        elif p in ("liabilities.liabilities_total", "liabilities_and_equity_total"):
            category = None
        rows.append(_xl_row(
            item_name=it.get("original_name") or "",
            original_name=it.get("original_name") or "",
            current_period=it.get("current_period") or "",
            previous_period=it.get("previous_period") or "",
            note=it.get("note") or "",
        ))
    return rows


# ---------------------------------------------------------------------------
# S7b: the reference's NOTES workbook (tools/export_notes_to_excel.py)
# — TOC sheet + one content sheet per level-1 note. The walk is pure
# Python over collected note dicts so the workbook structure is golden-
# testable without openpyxl; the actual .xlsx write is a guarded
# presentation step.
# ---------------------------------------------------------------------------

import re as _re


def sanitize_sheet_name(name: str, max_length: int = 31) -> str:
    """Excel sheet-name rules + the reference's cleanup
    (export_notes_to_excel.py:56-75): strip forbidden chars, drop a
    leading "N、 " numbering prefix, truncate with an ellipsis."""
    name = _re.sub(r"[\\/*?:\[\]]", "", name)
    name = _re.sub(r"^\d+、\s*", "", name)
    if len(name) > max_length - 3:
        name = name[: max_length - 3] + "..."
    return name


def _note_sheet_name(note: dict) -> str:
    return f"{note['number']}_{sanitize_sheet_name(note['title'])}"


def notes_toc_rows(notes: list[dict]) -> list[dict]:
    """TOC sheet rows (export_notes_to_excel.py:80-155): one row per
    level-1 note — number, full title, page, sub-note count, table count
    (own + sub-notes'), target sheet name. Sub-notes here are matched by
    NUMBER PREFIX ("6.1" under "6"), exactly as the reference's TOC does
    (":121-123") — the content sheets use the positional rule instead.
    """
    level1 = [n for n in notes if n["level"] == 1]
    rows = []
    for idx, note in enumerate(level1, 1):
        subs = [
            n for n in notes
            if n["level"] == 2 and n["number"].startswith(note["number"] + ".")
        ]
        table_count = (note.get("table_count") or 0) + sum(
            s.get("table_count") or 0 for s in subs
        )
        rows.append({
            "序号": note["number"],
            "标题": note["full_title"],
            "页码": note["page"],
            "子项数量": len(subs),
            "表格数量": table_count,
            "工作表名称": _note_sheet_name(note),
        })
    return rows


def positional_sub_notes(note: dict, all_notes: list[dict]) -> list[dict]:
    """The reference's position-based parent↔child rule
    (export_notes_to_excel.py:199-240), used for content sheets because
    extracted numbering may be unreliable: a level-2 note belongs to
    level-1 `note` iff it sits after it and before the NEXT level-1
    title — same-page ordering by document position (page, y), cross-
    page membership at page granularity (an L2 on the next L1's page is
    excluded even if positioned above it, mirroring the reference).
    ``all_notes`` must be sorted by document position."""
    level1 = [n for n in all_notes if n["level"] == 1]
    idx = next(
        (i for i, n in enumerate(level1)
         if n["number"] == note["number"] and n["page"] == note["page"]),
        None,
    )
    next_l1_page = (
        level1[idx + 1]["page"] if idx is not None and idx + 1 < len(level1) else None
    )
    pos = {id(n): i for i, n in enumerate(all_notes)}
    note_pos = pos.get(id(note))
    out = []
    for n in all_notes:
        if n["level"] != 2 or n["page"] < note["page"]:
            continue
        if next_l1_page is not None and n["page"] >= next_l1_page:
            continue
        if n["page"] == note["page"]:
            if note_pos is not None and pos[id(n)] > note_pos:
                out.append(n)
        else:
            out.append(n)
    return out


def note_content_rows(note: dict, level: int) -> list[list]:
    """One note's rows inside a content sheet
    (export_notes_to_excel.py:294-336): a header row (层级, full title,
    page, text), then per table a "表格 N" caption row followed by the
    table grid shifted one column right (tables start at column B)."""
    level_text = "一级" if level == 1 else "二级"
    rows: list[list] = [
        [level_text, note["full_title"], note["page"], note.get("text") or "[无文本内容]"]
    ]
    for table_idx, table in enumerate(note.get("tables") or [], 1):
        rows.append([f"表格 {table_idx}", "", "", ""])
        for r in table:
            rows.append([""] + list(r))
        rows.append([])  # the reference leaves blank rows between tables
        rows.append([])
    return rows


def note_sheet(note: dict, all_notes: list[dict]) -> dict:
    """One level-1 note's content sheet: title-info block text
    (export_notes_to_excel.py:251-292), the 4-column content header, the
    note's own rows, then its positional sub-notes' rows."""
    level_text = "一级标题" if note["level"] == 1 else "二级标题"
    info_text = (
        f"注释标题：{note['full_title']}\n"
        f"页码：{note['page']}\n"
        f"层级：{level_text}\n"
        f"包含表格：{note.get('table_count') or 0}个"
    )
    rows = [["层级", "标题", "页码", "内容"]]
    rows += note_content_rows(note, level=1)
    for sub in positional_sub_notes(note, all_notes):
        rows += note_content_rows(sub, level=2)
    return {"name": _note_sheet_name(note), "info_text": info_text, "rows": rows}


def notes_workbook_structure(notes: list[dict]) -> dict:
    """Full workbook structure: TOC + one sheet per level-1 note, notes
    pre-sorted by document position. Pure data — the golden-test target
    and the single source the guarded Excel writer renders."""
    notes = sorted(notes, key=lambda n: (n["page"], n.get("y") or 0))
    return {
        "toc": notes_toc_rows(notes),
        "sheets": [
            note_sheet(n, notes) for n in notes if n["level"] == 1
        ],
    }


def notes_to_excel(notes_df: DataFrame, path: str, url: str) -> bool:
    """Reference tools/export_notes_to_excel.py for one document:
    目录 sheet + per-L1-note sheets (title info block, content header,
    note + positional sub-note rows, captioned tables). Requires
    openpyxl; returns False when unavailable (this container)."""
    try:
        from openpyxl import Workbook
    except Exception:
        return False

    notes = [  # pragma: no cover (openpyxl absent in CI container)
        r.asDict(recursive=True)
        for r in notes_df.filter(F.col("url") == url).orderBy("page", "y").collect()
    ]
    wb = Workbook()  # pragma: no cover
    structure = notes_workbook_structure(notes)  # pragma: no cover
    ws = wb.active  # pragma: no cover
    ws.title = "目录"  # pragma: no cover
    headers = ["序号", "标题", "页码", "子项数量", "表格数量", "工作表名称"]  # pragma: no cover
    ws.append(headers)  # pragma: no cover
    for row in structure["toc"]:  # pragma: no cover
        ws.append([row[h] for h in headers])
    ws.freeze_panes = "A2"  # pragma: no cover
    for sheet in structure["sheets"]:  # pragma: no cover
        cs = wb.create_sheet(title=sheet["name"])
        cs.append([sheet["info_text"]])
        for row in sheet["rows"]:
            cs.append(row)
        for col, width in zip("ABCD", (8, 35, 8, 80)):
            cs.column_dimensions[col].width = width
    wb.save(path)  # pragma: no cover
    return True  # pragma: no cover
