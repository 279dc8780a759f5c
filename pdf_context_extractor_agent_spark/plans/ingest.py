"""Crawl-ingest plan: raw archives → typed pages → extracted text →
derived sinks, as ONE lazily-composed DataFrame graph.

The front half of the north-rule pipeline, gluing the ingest-side
operators end to end exactly as a production run would::

    WARC files ──read_warc──► (url, warc_ts, html, warc_file)
        │  sniff_content_type          magic bytes, rides the scan
        ├─ text/html | application/pdf ─► layout kernel (skew-salted)
        │         │                        └► page text / lines / tables
        │         ├─► wet_records          derived-text sink (WET)
        │         └─► markdown_blocks ─► render_markdown
        └─ everything else ─► discard lane (kept as an audit relation)

Charset decoding (``encoding.decode_pages``) runs on the HTML lane for
the TEXT view; the kernel consumes raw bytes (it does its own
charset-safe parsing) so the decode cost is paid once, on the lane
that needs it.

Everything returns unevaluated DataFrames keyed by url — callers pick
the outputs they want and Spark runs only those branches (Catalyst
prunes the rest); the raw scan is shared across branches by cache()
only if the caller materializes more than one.

Reference parity: this is the reference's main.py open-route-extract
driver loop (suffix-based pdf/html routing, per-file loop) re-expressed
as a declarative plan over a crawl table, with byte-sniffing instead of
suffix trust.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.encoding import decode_pages
from ..functions.webtext import markdown_blocks_from_pages, render_markdown
from ..kernels import extract_pages, extracted_text
from ..sources.pages import skew_partitioned, sniff_content_type
from ..sources.warc import read_warc, warc_to_pages, wet_records

EXTRACTABLE_TYPES = ("text/html", "application/pdf")


def ingest(
    spark: SparkSession,
    warc_glob: str | None = None,
    pages: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Build the ingest graph from a WARC glob or an existing pages
    table. Returns the relations a crawl run materializes:

    - ``typed``:     (url, warc_ts, html, content_type)
    - ``discarded``: non-extractable records with their sniffed type
    - ``parsed``:    layout-kernel page relation (lines/tables/text)
    - ``text``:      (url, text) — the kernel's page text joined per url
                     (``kernels.extracted_text``), every extractable lane
    - ``decoded``:   (url, charset, text) — charset-decoded HTML lane
    - ``wet``:       (url, wet_record) derived-text records
    - ``markdown``:  (doc_id=url, markdown) rendered documents
    """
    if pages is None:
        if warc_glob is None:
            raise ValueError("ingest() needs warc_glob or pages")
        pages = warc_to_pages(read_warc(spark, warc_glob))
    typed = pages.withColumn("content_type", sniff_content_type(F.col("html")))
    extractable = typed.filter(F.col("content_type").isin(*EXTRACTABLE_TYPES))
    discarded = typed.filter(
        ~F.col("content_type").isin(*EXTRACTABLE_TYPES)
    ).select("url", "content_type")

    parsed = extract_pages(skew_partitioned(extractable))
    page_text = extracted_text(parsed).withColumnRenamed("extracted_text", "text")
    html_lane = extractable.filter(F.col("content_type") == "text/html")
    decoded = decode_pages(html_lane, keep=("url",))

    wet_input = extractable.select("url", "warc_ts").join(page_text, "url")
    wet = wet_records(wet_input)
    markdown = render_markdown(markdown_blocks_from_pages(parsed))
    return {
        "typed": typed,
        "discarded": discarded,
        "parsed": parsed,
        "text": page_text,
        "decoded": decoded,
        "wet": wet,
        "markdown": markdown,
    }
