"""Pages-table source: Iceberg-or-parquet scan + skew-salted repartition.

The production table is Iceberg (north_rule); a location without Iceberg
table metadata is read as parquet — the DataFrame shape and every
downstream plan are identical. Column pruning at this scan is the single
most important scale property: a stage that needs only ``text`` must
never read the ``html`` binary (SURVEY.md §4), which both formats
guarantee for columnar reads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_pages(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the (url, warc_ts, html, text, lang) table: a catalog table
    by name, an Iceberg table by the ``metadata/`` directory at its
    location, else parquet files.

    The directory is looked up through the Hadoop ``FileSystem`` of the
    location's scheme, so object-store URIs route the same way. Asking
    for an unknown format is not free: Spark then starts a Python worker
    to look the name up among Python data sources."""
    if "/" not in path_or_table:
        return spark.read.table(path_or_table)
    jvm = spark.sparkContext._jvm
    meta = jvm.org.apache.hadoop.fs.Path(path_or_table.rstrip("/") + "/metadata")
    fs = meta.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.isDirectory(meta):
        return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


DEFAULT_JUMBO_BYTES = 8 * 1024 * 1024


def split_by_size(
    df: DataFrame, threshold_bytes: int = DEFAULT_JUMBO_BYTES
) -> tuple[DataFrame, DataFrame]:
    """Skew lane for oversized documents (SCALE.md).

    A 500 MB report in a partition of 7 KB pages makes that task the
    straggler of the whole stage. Split the corpus at a size threshold:
    the normal lane keeps dense salted partitions, the jumbo lane gets
    one document per partition (repartition on url puts each key alone
    when partitions ≥ docs) so a monster doc can only delay itself.
    Both lanes run the identical plan; union the outputs.
    """
    size = F.length("html")
    normal = df.filter(size <= threshold_bytes)
    jumbo = df.filter(size > threshold_bytes).repartition(F.col("url"))
    return normal, jumbo


def skew_partitioned(
    df: DataFrame,
    num_partitions: int | None = None,
    jumbo_threshold: int = DEFAULT_JUMBO_BYTES,
) -> DataFrame:
    """The production partitioning for the layout kernel: dense salted
    partitions for normal documents + one-document partitions for
    jumbos, unioned. Union concatenates the two lanes' partition lists,
    so the kernel (a narrow per-partition map) sees both layouts without
    an extra shuffle; the first wide op downstream re-shuffles anyway.

    Both lanes filter the same input, so the source is scanned twice in
    the job that materializes the kernel — cheap next to the kernel
    itself, and irrelevant when the input is a persisted/columnar scan.
    """
    normal, jumbo = split_by_size(df, jumbo_threshold)
    return salted_repartition(normal, num_partitions).unionByName(jumbo)


_PAGE_MARK = b'<div class="page"'


def split_html_chunks(blob: bytes, pages_per_chunk: int = 8) -> list[bytes]:
    """Cut an HTML document at page-div boundaries into parseable
    fragments of ``pages_per_chunk`` pages each.

    Chunk 0 keeps the document head (and any pre-page content); each
    later chunk starts exactly at a page-div marker, so every fragment
    parses standalone (the DOM walk tolerates the missing outer
    wrapper). Non-HTML or single-chunk documents return ``[blob]``.
    """
    marks = []
    pos = blob.find(_PAGE_MARK)
    while pos != -1:
        marks.append(pos)
        pos = blob.find(_PAGE_MARK, pos + 1)
    if len(marks) <= pages_per_chunk:
        return [blob]
    cuts = [0] + marks[pages_per_chunk::pages_per_chunk] + [len(blob)]
    return [blob[cuts[i]: cuts[i + 1]] for i in range(len(cuts) - 1)]


def decomposed_pages(
    pages_tbl: DataFrame,
    jumbo_threshold: int = DEFAULT_JUMBO_BYTES,
    pages_per_chunk: int = 8,
) -> DataFrame:
    """True page-level decomposition of monster documents (SCALE.md).

    The one-doc-per-partition jumbo lane bounds a monster document's
    blast radius but still serializes ITS OWN kernel work in one task.
    This operator splits oversized HTML documents at page-div
    boundaries BEFORE the kernel, spreads the fragments across
    partitions, parses each fragment independently, and renumbers pages
    with a per-url cumulative window — page-level decomposition is
    semantics-preserving because the reference itself loops per page
    (table_extractor.py:46-63). Output schema == ``extract_pages``; a
    test asserts byte-equal page content with and without decomposition.
    On a split document, ``kernel_us`` and ``doc_bytes`` describe the
    kernel call of the fragment a page came from (its parse time and
    its size), not the whole document.

    PDF blobs pass through unsplit (their streams need the xref to
    relocate); at corpus scale they ride the one-doc jumbo lane.
    """
    import pandas as pd
    from pyspark.sql import Window

    from ..kernels import extract_pages

    src = pages_tbl.select("url", "html")

    def splitter(batches):
        for b in batches:
            rows = []
            for url, blob in zip(b["url"], b["html"]):
                blob = bytes(blob)
                if len(blob) > jumbo_threshold and not blob.startswith((b"%PDF", b"FPDF1")):
                    for i, ch in enumerate(split_html_chunks(blob, pages_per_chunk)):
                        rows.append((url, i, ch))
                else:
                    rows.append((url, 0, blob))
            yield pd.DataFrame(rows, columns=["url", "chunk", "html"])

    chunks = src.mapInPandas(splitter, "url string, chunk int, html binary")
    # spread one document's fragments across partitions — the whole point
    chunks = chunks.repartition(F.xxhash64("url", "chunk"))
    parsed = extract_pages(chunks.withColumn("url", F.concat_ws("\x00", "url", "chunk")))
    parsed = parsed.withColumn("chunk", F.split_part("url", F.lit("\x00"), F.lit(2)).cast("int")) \
                   .withColumn("url", F.split_part("url", F.lit("\x00"), F.lit(1)))
    # renumber: pages of chunk i follow all pages of chunks < i
    w = (
        Window.partitionBy("url")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    counts = parsed.groupBy("url", "chunk").agg(F.max("page").alias("np"))
    offs = counts.withColumn("off", F.coalesce(F.sum("np").over(w), F.lit(0)))
    return (
        parsed.join(offs.select("url", "chunk", "off"), ["url", "chunk"])
        .withColumn("page", (F.col("page") + F.col("off")).cast("int"))
        .drop("chunk", "off")
    )


_SNIFF_WINDOW = 1024


def sniff_content_type(blob: Column | str) -> Column:
    """Magic-byte MIME sniffing over the raw crawl payload — the
    dispatch step a Common-Crawl pipeline runs before routing a record
    to the HTML kernel, the PDF kernel, or the discard lane (the
    reference dispatches on file suffix at open time, main.py's
    pdf-vs-html routing; a crawl can't trust suffixes, so production
    sniffs bytes).

    Pure projection over the FIRST KILOBYTE of the binary column: the
    magic tests compare hex prefixes (byte-exact, charset-free) and the
    text-marker tests decode the head as ISO-8859-1 — a total 1:1 byte
    mapping that can never throw on malformed input, unlike UTF-8
    decode — then lower/ltrim. No UDF, no shuffle; whole-stage codegen
    keeps this riding the scan, and columnar readers fetch only the
    ``html`` column. Detected types::

        %PDF-            application/pdf      1F 8B    application/gzip
        PK\\x03\\x04        application/zip      WARC/    application/warc
        <!doctype|<html|<head|<body (case-insens., after ws/BOM)
                         text/html
        <?xml            application/xml      { or [   application/json
        empty/null       application/octet-stream     else text/plain
    """
    blob = F.col(blob) if isinstance(blob, str) else blob
    hexhead = F.hex(F.substring(blob, 1, 8))
    has_bom = hexhead.startswith("EFBBBF")
    head = F.decode(
        F.when(has_bom, F.substring(blob, 4, _SNIFF_WINDOW)).otherwise(
            F.substring(blob, 1, _SNIFF_WINDOW)
        ),
        "ISO-8859-1",
    )
    # regexp strip, not ltrim: ltrim removes only ' ' while real pages
    # lead with \n/\t/\r before the doctype
    t = F.lower(F.regexp_replace(head, r"^\s+", ""))
    is_html = (
        t.startswith("<!doctype")
        | t.startswith("<html")
        | t.startswith("<head")
        | t.startswith("<body")
    )
    return (
        F.when(blob.isNull() | (F.octet_length(blob) == 0),
               F.lit("application/octet-stream"))
        .when(hexhead.startswith("255044462D"), F.lit("application/pdf"))
        # FPDF1: the positioned-glyph container the corpus renders as
        # its PDF stand-in — the kernel dispatches on it, so the
        # sniffer must route it to the PDF lane
        .when(hexhead.startswith("4650444631"), F.lit("application/pdf"))
        .when(hexhead.startswith("1F8B"), F.lit("application/gzip"))
        .when(hexhead.startswith("504B0304"), F.lit("application/zip"))
        .when(hexhead.startswith("574152432F"), F.lit("application/warc"))
        .when(is_html, F.lit("text/html"))
        .when(t.startswith("<?xml"), F.lit("application/xml"))
        .when(t.startswith("{") | t.startswith("["), F.lit("application/json"))
        .otherwise(F.lit("text/plain"))
    )


def salted_repartition(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Skew guard for the layout kernel (SURVEY.md §4 item 1).

    Documents are uneven (a 500-page annual report vs a 1-page note);
    hashing on raw url would put hot keys wherever the table's file
    layout left them. ``xxhash64(url)`` gives a uniform shuffle key; at
    10^12 rows you'd add a per-doc page-split before the kernel and
    reassemble with a window — page-level decomposition is semantics
    preserving (the reference loops per page: table_extractor.py:46-63).
    """
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64("url"))
    return df.repartition(F.xxhash64("url"))
