"""Assembled end-to-end plans (the reference's entry points, SURVEY §3)."""

from .crawl import crawl_plan  # noqa: F401
from .curate import curate, quality_gate  # noqa: F401
from .extract import (  # noqa: F401
    parse_balance_via_boundary,
    parse_statements,
    statement_rows,
)
