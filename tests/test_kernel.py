"""Layout-kernel tests: byte-identity, page/table structure, boilerplate."""

import pyspark.sql.functions as F
import pytest

from pdf_context_extractor_agent_spark.corpus import make_doc
from pdf_context_extractor_agent_spark.kernels import extracted_text, parse_html_doc


def test_byte_identity_per_url(spark, corpus, page_df):
    """The north-rule invariant: extracted main-content text is
    byte-identical to the oracle ``text`` column for EVERY url."""
    joined = extracted_text(page_df).join(corpus.select("url", "text"), "url")
    total = joined.count()
    matches = joined.filter(F.col("extracted_text") == F.col("text")).count()
    assert total > 0
    assert matches == total


def test_kernel_reports_per_document_size_and_time(spark, corpus):
    """Every page row carries its document's input size and one kernel
    wall-time reading, also for a garbage blob, which still yields
    exactly one page (the never-raise contract with the new columns)."""
    from pdf_context_extractor_agent_spark.kernels import extract_pages

    junk = spark.createDataFrame(
        [("u_junk", bytearray(b"\x00\x01junk"))], "url string, html binary"
    )
    src = corpus.select("url", "html").unionByName(junk)
    pages = extract_pages(src).join(
        src.select("url", F.length("html").alias("html_len")), "url"
    ).cache()
    assert pages.select("url").distinct().count() == src.count()
    assert pages.filter(F.col("doc_bytes") != F.col("html_len")).count() == 0
    assert pages.filter(F.col("doc_bytes").isNull()).count() == 0
    assert pages.filter(F.col("kernel_us").isNull() | (F.col("kernel_us") < 0)).count() == 0
    # microseconds, not floored ms: every real document reads > 0
    assert pages.filter((F.col("url") != "u_junk") & (F.col("kernel_us") <= 0)).count() == 0
    per_url = pages.groupBy("url").agg(F.countDistinct("kernel_us").alias("n_us"))
    assert per_url.filter(F.col("n_us") != 1).count() == 0
    assert pages.filter(F.col("url") == "u_junk").count() == 1
    pages.unpersist()


def test_boilerplate_stripped():
    _, _, blob, text, _ = make_doc(6)  # plain webtext doc
    assert b"SiteBanner" in blob and b"advertisement" in blob
    got = "\n".join(p["page_text"] for p in parse_html_doc(blob))
    for noise in ("SiteBanner", "advertisement", "tracker", "console.log", "legal"):
        assert noise not in got
    assert got == text


def test_page_and_table_structure():
    _, _, blob, _, _ = make_doc(0)
    pages = parse_html_doc(blob)
    assert len(pages) == 8
    # balance part 1 lives on page 2 with exactly one table of 11 rows
    p2 = pages[1]
    assert len(p2["tables"]) == 1
    assert len(p2["tables"][0][3]) == 11
    assert p2["tables"][0][3][0] == ["项目", "本期末", "上期末", "附注"]
    # y layout: monotonically increasing, fixed line height
    ys = [y for y, _ in p2["lines"]]
    assert ys == sorted(ys)
    assert ys[1] - ys[0] == 12.0


def test_entity_unescape():
    html = b"<html><body><main><p>a &amp; b &lt;c&gt;</p></main></body></html>"
    pages = parse_html_doc(html)
    assert pages[0]["page_text"] == "a & b <c>"


def test_pdfish_reconstruction():
    """FPDF1 path: the kernel must RECONSTRUCT lines from jittered glyph
    runs, tables from ruling-line grids, and reading order from Y — and
    still match the oracle text byte-for-byte."""
    from pdf_context_extractor_agent_spark.corpus import render_pdfish
    from pdf_context_extractor_agent_spark.kernels import parse_doc, parse_pdfish

    _, _, blob, text, _ = make_doc(3)  # kind 3 → FPDF1
    assert blob[:5] == b"FPDF1"
    pages = parse_doc(blob)
    assert "\n".join(p["page_text"] for p in pages) == text
    # table structure reconstructed geometrically
    p2 = pages[1]
    assert len(p2["tables"]) == 1
    rows = p2["tables"][0][3]
    assert len(rows) == 11 and len(rows[0]) == 4
    # empty cells exist (section rows) — geometry, not text, defines them
    assert ["流动资产：", "", "", ""] in rows


def test_pdfish_y_jitter_clustering():
    """±1 Y jitter on word runs must not split lines (Y_TOL=2)."""
    from pdf_context_extractor_agent_spark.corpus import render_pdfish
    from pdf_context_extractor_agent_spark.kernels import parse_pdfish

    pages = [[("p", "alpha beta gamma delta"), ("p", "second line here")]]
    out = parse_pdfish(render_pdfish(pages))
    assert [t for _y, t in out[0]["lines"]] == ["alpha beta gamma delta", "second line here"]


def test_pdfish_multiple_tables_one_page():
    from pdf_context_extractor_agent_spark.corpus import render_pdfish
    from pdf_context_extractor_agent_spark.kernels import parse_pdfish

    pages = [[
        ("p", "title"),
        ("table", [["a", "b"], ["1", "2"]]),
        ("p", "between"),
        ("table", [["c", "d", "e"], ["3", "4", "5"]]),
    ]]
    out = parse_pdfish(render_pdfish(pages))
    tabs = out[0]["tables"]
    assert len(tabs) == 2
    assert tabs[0][3] == [["a", "b"], ["1", "2"]]
    assert tabs[1][3] == [["c", "d", "e"], ["3", "4", "5"]]
    assert out[0]["page_text"] == "title\na\tb\n1\t2\nbetween\nc\td\te\n3\t4\t5"


def test_pdfish_random_roundtrip_fuzz():
    """200 random content models render→parse byte-identically: random
    paragraph lengths, table shapes, CJK/ASCII mix, empty cells."""
    import random

    from pdf_context_extractor_agent_spark.corpus import render_pdfish, render_text
    from pdf_context_extractor_agent_spark.kernels import parse_pdfish

    vocab = ["alpha", "beta", "数据", "表格", "x1", "合计", "spark", "净利润", "a", "99.50"]
    rng = random.Random(31337)
    for case in range(200):
        pages = []
        for _p in range(rng.randint(1, 3)):
            blocks = []
            for _b in range(rng.randint(1, 6)):
                if rng.random() < 0.5:
                    blocks.append(("p", " ".join(rng.choices(vocab, k=rng.randint(1, 8)))))
                else:
                    nrows, ncols = rng.randint(1, 6), rng.randint(1, 5)
                    blocks.append(
                        ("table",
                         [[rng.choice(vocab) if rng.random() > 0.25 else ""
                           for _ in range(ncols)] for _ in range(nrows)])
                    )
            pages.append(blocks)
        blob = render_pdfish(pages)
        got = "\n".join(p["page_text"] for p in parse_pdfish(blob))
        assert got == render_text(pages), (case, got, render_text(pages))


def test_malformed_documents_degrade_not_throw():
    """Corrupt crawl records must yield pages, never raise — a kernel
    exception would fail the task and (after retries) the job. The
    %PDF- inputs: seeded prefix cuts of one corpus doc per minipdf slice
    (CID 4, widths 14, ObjStm 24, encrypted 44, broken xref 54), a
    /Length running past EOF, a stream without 'endstream', an object
    without 'endobj', and a trailer /Encrypt naming a missing object."""
    import random

    from pdf_context_extractor_agent_spark.kernels import parse_doc
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    blobs = [b"", b"\x00\xff\xfe garbage", b"<html><td>unclosed",
             b"FPDF1\nP x y\nT not numbers here\n", b"\x80\x81\x82"]
    rng = random.Random(7)
    for i in (4, 14, 24, 44, 54):
        doc = make_doc(i)[2]
        blobs += [doc[:rng.randrange(len(doc))] for _ in range(8)]

    stream = "BT /F1 10 Tf 1 0 0 1 100 700 Tm (still here) Tj ET"
    plain = render_minipdf([stream])
    structural = [
        plain.replace(b"/Length %d " % len(stream), b"/Length 99999 ", 1),
        plain.replace(b"\nendstream", b"", 1),
        plain.replace(b"endobj\n4 0 obj", b"4 0 obj", 1),
    ]
    assert all(b != plain for b in structural)
    for b in structural:  # the structure survives: the text is still found
        assert parse_minipdf(b)[0]["page_text"] == "still here"
    enc = render_minipdf([stream], encrypt=True)
    missing = enc.replace(b"/Encrypt 6 0 R", b"/Encrypt 99 0 R", 1)
    assert missing != enc
    blobs += structural + [missing]

    for blob in blobs:
        pages = parse_doc(blob)
        assert isinstance(pages, list) and len(pages) >= 1
        for p in pages:
            assert set(p) == {"page", "width", "height", "rotation", "page_text", "lines", "tables"}


def test_jumbo_document_skew_lane(spark):
    """split_by_size routes oversized docs to one-doc partitions; both
    lanes produce byte-identical extraction."""
    import pyspark.sql.functions as F

    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.sources import split_by_size

    pg = pages_df_for_skew(spark)
    normal, jumbo = split_by_size(pg, threshold_bytes=50_000)
    assert normal.count() == 6 and jumbo.count() == 1
    # jumbo lane: the monster doc sits alone in its partition
    parts = jumbo.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
    assert all(r["count"] == 1 for r in parts)
    out = extract_pages(normal).unionByName(extract_pages(jumbo))
    texts = {r.url: True for r in out.select("url").distinct().collect()}
    assert len(texts) == 7


def pages_df_for_skew(spark):
    from pdf_context_extractor_agent_spark.corpus import make_doc

    rows = [make_doc(i) for i in range(6)]
    url, ts, blob, text, lang = make_doc(100)
    fat = blob * 40  # ~a few hundred KB of repeated content
    rows.append((url, ts, fat, text, lang))
    from pdf_context_extractor_agent_spark.corpus import PAGES_SCHEMA

    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_minipdf_real_structure_and_tokenizer():
    """Kind-4 docs are structurally genuine PDFs (header, objects, xref,
    trailer, Length-tagged streams) and the content-stream tokenizer
    reconstructs the identical layout."""
    from pdf_context_extractor_agent_spark.kernels import parse_doc

    _, _, blob, text, _ = make_doc(4)
    assert blob.startswith(b"%PDF-1.4")
    assert b"xref" in blob and b"trailer" in blob and b"%%EOF" in blob
    assert blob.count(b"stream") >= 8  # one content stream per page
    pages = parse_doc(blob)
    assert "\n".join(p["page_text"] for p in pages) == text


def test_minipdf_handwritten_operators():
    """Tokenizer semantics on a hand-written stream: Tm absolute, Td
    relative displacement, m-l-S rules forming a 1x2 grid."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    stream = "\n".join([
        "BT /F1 10 Tf 1 0 0 1 20 772 Tm (hello) Tj 40 0 Td (world) Tj ET",
        # grid: rows at y=740,728 (layout 52,64), cols at x=20,80,140
        "20 752 m 140 752 l S", "20 740 m 140 740 l S", "20 728 m 140 728 l S",
        "20 752 m 20 728 l S", "80 752 m 80 728 l S", "140 752 m 140 728 l S",
        "BT /F1 10 Tf 1 0 0 1 22 749 Tm (a) Tj ET",
        "BT /F1 10 Tf 1 0 0 1 82 749 Tm (b) Tj ET",
        "BT /F1 10 Tf 1 0 0 1 22 737 Tm (c) Tj ET",
    ])
    pages = parse_minipdf(render_minipdf([stream]))
    assert pages[0]["page_text"].splitlines()[0] == "hello world"
    tabs = pages[0]["tables"]
    assert len(tabs) == 1
    assert tabs[0][3] == [["a", "b"], ["c", ""]]


def test_minipdf_string_escapes():
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    stream = r"BT 1 0 0 1 20 772 Tm (pa\(ren\)s \\ slash) Tj ET"
    pages = parse_minipdf(render_minipdf([stream]))
    assert pages[0]["page_text"] == r"pa(ren)s \ slash"


def test_zero_page_parse_yields_placeholder():
    """A corrupt PDF that parses to zero pages must still emit one empty
    page so the url stays visible to outputs and resume bookkeeping."""
    from pdf_context_extractor_agent_spark.kernels import parse_doc

    pages = parse_doc(b"%PDF-1.4\ngarbage with no streams")
    assert len(pages) == 1 and pages[0]["page_text"] == ""
    assert parse_doc(b"")[0]["page_text"] == ""


def test_skew_lane_plan_output_identical(spark):
    """skew_partitioned (the lane the pipeline CLI and lineage route
    pages through) must not change WHAT is computed — only where it runs. Parsed output with
    the lane forced on (low threshold) equals the unrouted plan's."""
    from pdf_context_extractor_agent_spark.plans import parse_statements
    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.sources import skew_partitioned

    pg = pages_df_for_skew(spark)
    lane = skew_partitioned(pg, num_partitions=4, jumbo_threshold=50_000)
    base = parse_statements(extract_pages(pg), spark)["parsed"]
    routed = parse_statements(extract_pages(lane), spark)["parsed"]
    assert base.exceptAll(routed).count() == 0
    assert routed.exceptAll(base).count() == 0


def test_page_rotation_metadata():
    """S5 parity: /Rotate in PDF page objects surfaces as the rotation
    field (reference get_page_info, src/pdf_reader.py:102-136); HTML and
    unrotated pages report 0."""
    from pdf_context_extractor_agent_spark.kernels import parse_doc
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import render_minipdf

    streams = ["BT 1 0 0 1 72 720 Tm (first) Tj ET", "BT 1 0 0 1 72 720 Tm (second) Tj ET"]
    rotated = parse_doc(render_minipdf(streams, rotations=[90, 0]))
    assert [p["rotation"] for p in rotated] == [90, 0]
    plain = parse_doc(render_minipdf(streams))
    assert [p["rotation"] for p in plain] == [0, 0]
    html = parse_doc(b"<html><p>hi</p></html>")
    assert [p["rotation"] for p in html] == [0]


def test_fast_feed_matches_html_parser_events():
    """The regex event tokenizer must produce the same extraction as the
    html.parser-driven walk on corpus docs AND on awkward shapes it
    could plausibly diverge on (script with tag-like strings, comments,
    self-closing tags, entities in cells, class variants)."""
    from pdf_context_extractor_agent_spark.kernels.html_layout import (
        _fast_feed,
        _LayoutParser,
    )

    awkward = [
        "<html><script>var s = '<div>not a tag</div>';</script><p>kept</p></html>",
        "<html><!-- <p>ghost</p> --><p>real</p></html>",
        "<html><p>a<br/>b</p><hr/><p>c &amp; d</p></html>",
        "<html><div class='page'><table><tr><td>x &lt;y&gt;</td></tr></table></div></html>",
        '<html><nav class="TopNav">skip</nav><div CLASS="page"><p>t</p></div></html>',
        "<html><style>p:before { content: '<'; }</style><p>after</p></html>",
        "<html><p>unterminated",
        # markup declarations must be dropped, not emitted as text:
        # arbitrary crawl HTML starts with a doctype, and the stdlib
        # fallback routes these to handle_decl/handle_pi/unknown_decl
        "<!DOCTYPE html><html><p>doc</p></html>",
        "<!doctype HTML puBlic 'x'><html><p>lower</p></html>",
        "<?xml version='1.0'?><html><p>pi</p></html>",
        "<html><![CDATA[<p>not text</p>]]><p>kept</p></html>",
        "<!DOCTYPE html [<!ENTITY e 'v'>]><html><p>subset</p></html>",
    ]
    for i in range(60):
        from pdf_context_extractor_agent_spark.corpus import make_doc

        blob = make_doc(i)[2]
        if not blob.startswith((b"FPDF1", b"%PDF")):
            awkward.append(blob.decode("utf-8"))
    for doc in awkward:
        fast, slow = _LayoutParser(), _LayoutParser()
        _fast_feed(fast, doc)
        slow.feed(doc)
        slow.close()
        assert fast.result() == slow.result(), doc[:120]


def test_minipdf_tj_kerning_and_leading():
    """TJ arrays: kern gaps ≤ -180 become inter-word spaces, smaller
    ones join glyph runs; TL/T*/' drive line advances like real
    word-processor output."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    stream = "\n".join([
        "BT /F1 10 Tf 14 TL 1 0 0 1 20 772 Tm",
        "[(Hel) -40 (lo) -250 (kerned)] TJ",
        "T* (second line) Tj",
        "(third via quote) '",
        "ET",
    ])
    pages = parse_minipdf(render_minipdf([stream]))
    lines = pages[0]["page_text"].splitlines()
    assert lines[0] == "Hello kerned"
    assert lines[1] == "second line"
    assert lines[2] == "third via quote"
    # T*/' advanced y by the 14pt leading each time
    ys = [ln[0] for ln in pages[0]["lines"]]
    assert ys[1] - ys[0] == 14 and ys[2] - ys[1] == 14


def test_minipdf_flate_streams():
    """FlateDecode round trip: compressed and uncompressed renderings of
    the same streams parse to identical pages (kind-4 corpus doc)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    streams = [
        "BT 1 0 0 1 20 772 Tm (alpha beta) Tj 0 -12 Td (gamma) Tj ET",
        "BT 1 0 0 1 20 772 Tm (page two) Tj ET",
    ]
    plain = parse_minipdf(render_minipdf(streams))
    packed_blob = render_minipdf(streams, compress=True)
    assert b"/FlateDecode" in packed_blob
    packed = parse_minipdf(packed_blob)
    assert plain == packed
    assert plain[0]["page_text"] == "alpha beta\ngamma"


def test_minipdf_length_override_resumes_past_true_endstream():
    """When a /Length override extends past the lazy regex's 'endstream'
    match, the scan must resume PAST the true stream end — not inside
    the residual binary bytes, where a spurious '<<...>>stream' would
    emit a garbage page."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import parse_minipdf

    payload = b"BT /F1 10 Tf 1 0 0 1 20 772 Tm (real) Tj ET\n"
    # binary residue that (1) contains a literal 'endstream' early, so
    # the lazy match under-reads, and (2) past it, bytes shaped like a
    # fresh stream object that a naively-resumed finditer would emit
    residue = (
        b"\x00endstream\x01<< /Fake 1 >>\nstream\n"
        b"BT /F1 10 Tf 1 0 0 1 20 772 Tm (GHOST) Tj ET\nendstream"
    )
    data = payload + residue
    blob = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\ntrailer\n"
    )
    pages = parse_minipdf(blob)
    assert len(pages) == 1, [p["page_text"] for p in pages]


def test_minipdf_cid_identity_h_tounicode():
    """CID text path (the encoding real CJK PDFs use): hex show-strings
    whose 2-byte CIDs are an arbitrary permutation resolve through the
    embedded /ToUnicode CMap — CJK, a non-BMP char (surrogate-pair
    UTF-16BE destination), plain vs Flate-compressed CMap stream, and
    per-stream font switching (/F1 literal + /F2 CID)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        cid_hex,
        parse_minipdf,
        render_minipdf,
    )

    s = "你好 世界 \U0001D11E!"
    cid_of = {c: i + 1 for i, c in enumerate(sorted(set(s)))}
    cmap = {v: k for k, v in cid_of.items()}
    stream = "BT /F2 10 Tf 1 0 0 1 20 772 Tm " + cid_hex(s, cid_of) + " Tj ET"
    for compress_cmap in (False, True):
        blob = render_minipdf([stream], cid_cmap=cmap, compress_cmap=compress_cmap)
        pages = parse_minipdf(blob)
        # the ToUnicode CMap stream must not be mistaken for a page
        assert len(pages) == 1, [p["page_text"] for p in pages]
        assert pages[0]["page_text"] == s

    mixed = (
        "BT /F1 10 Tf 1 0 0 1 20 772 Tm (ascii line) Tj ET\n"
        "BT /F2 10 Tf 1 0 0 1 20 752 Tm " + cid_hex("你好", cid_of) + " Tj ET"
    )
    blob = render_minipdf([mixed], cid_cmap=cmap)
    assert parse_minipdf(blob)[0]["page_text"] == "ascii line\n你好"


def test_tounicode_bfrange_forms():
    """Both bfrange destination forms (scalar start with last-code-unit
    increment; explicit array) and bfchar parse to the same table shape."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _parse_tounicode,
        tounicode_cmap,
    )

    default_cs = ((2, 0x0000, 0xFFFF),)
    got = _parse_tounicode(
        "1 beginbfrange\n<0001> <0003> [<0041> <0058> <005A>]\nendbfrange"
    )
    assert got == ({1: "A", 2: "X", 3: "Z"}, default_cs, None)
    got = _parse_tounicode("1 beginbfrange\n<0010> <0012> <0061>\nendbfrange")
    assert got == ({0x10: "a", 0x11: "b", 0x12: "c"}, default_cs, None)
    got = _parse_tounicode("1 beginbfchar\n<0007> <D834DD1E>\nendbfchar")
    assert got == ({7: "\U0001D11E"}, default_cs, None)
    # writer→parser roundtrip: contiguous runs emit bfrange, the rest
    # bfchar; the writer's codespace declaration parses back verbatim
    cmap = {i: chr(0x40 + i) for i in range(1, 6)} | {9: "你", 10: "\U0001D11E"}
    body = tounicode_cmap(cmap)
    assert "beginbfrange" in body and "beginbfchar" in body
    assert _parse_tounicode(body) == (cmap, default_cs, None)
    cs = [(1, 0x00, 0x7F), (2, 0x8140, 0xFFFF)]
    body = tounicode_cmap({0x01: "A", 0x8140: "你"}, cs)
    assert _parse_tounicode(body) == (
        {0x01: "A", 0x8140: "你"},
        tuple(sorted(cs)),
        None,
    )


def test_minipdf_cid_corpus_byte_identity():
    """Corpus CID docs (kind 4, i ≡ 4 mod 30) stay byte-identical —
    their CIDs are a sorted-charset permutation, so identity is only
    possible if the kernel consults the embedded CMap. The i ≡ 34 mod
    60 docs additionally use a mixed 1-/2-byte codespace with
    xor-scrambled 1-byte ASCII codes — identity on those certifies the
    variable-byte codespacerange walk."""
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    seen_cid = seen_plain = seen_mixed = 0
    for i in (4, 34, 64, 94, 14, 24):
        _, _, blob, text, _ = make_doc(i)
        if b"begincodespacerange" in blob and b"<00> <7F>" in blob:
            seen_mixed += 1
        elif b"Identity-H" in blob:
            seen_cid += 1
        else:
            seen_plain += 1
        got = "\n".join(p["page_text"] for p in parse_doc(blob))
        assert got == text, i
    assert seen_cid >= 2 and seen_plain >= 1 and seen_mixed >= 2


def test_minipdf_mixed_codespace_decoding():
    """Variable-byte codespacerange: 1-byte <00><7F> + 2-byte
    <8140><FFFF> regions in one show-string, permuted on BOTH widths so
    code==codepoint identity cannot fake either path; bytes outside any
    range consume the shortest declared width (spec error recovery)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    # 'A'->code 0x01, 'b'->0x02 (1-byte); '资'->0x8140, '产'->0x8141 (2-byte)
    cmap = {0x01: "A", 0x02: "b", 0x8140: "资", 0x8141: "产"}
    codespace = [(1, 0x00, 0x7F), (2, 0x8140, 0xFFFF)]
    stream = "BT /F2 10 Tf 1 0 0 1 20 772 Tm <018140814102> Tj ET"
    blob = render_minipdf([stream], cid_cmap=cmap, cid_codespace=codespace)
    assert b"begincodespacerange" in blob and b"<00> <7F>" in blob
    pages = parse_minipdf(blob)
    assert pages[0]["page_text"] == "A资产b"

    # unmatched lead byte (0x7F∉cmap but in 1-byte range → chr fallback;
    # 0x80 outside every range → shortest-width recovery consumes 1 byte)
    stream2 = "BT /F2 10 Tf 1 0 0 1 20 772 Tm <7F8001> Tj ET"
    blob2 = render_minipdf([stream2], cid_cmap=cmap, cid_codespace=codespace)
    assert parse_minipdf(blob2)[0]["page_text"] == "\x7f\x80A"


def test_page_decomposition_identical_output(spark):
    """decomposed_pages must produce byte-identical page rows to the
    unsplit kernel — page-level decomposition is semantics-preserving —
    while actually splitting the jumbo document into multiple chunks."""
    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.sources.pages import (
        decomposed_pages,
        split_html_chunks,
    )

    body = ['<html><body><nav class="TopNav">skip</nav><p>preamble text</p>']
    for p in range(20):
        body.append(f'<div class="page"><h2>Section {p}</h2>'
                    f'<table><tr><td>item {p}</td><td>{p * 7}</td></tr></table>'
                    f'<p>paragraph for page {p}.</p></div>')
    body.append("</body></html>")
    jumbo = "".join(body).encode()
    small = b"<html><div class='page'><p>tiny</p></div></html>"
    assert len(split_html_chunks(jumbo, 8)) == 3

    pages = spark.createDataFrame(
        [("u_jumbo", jumbo), ("u_small", small)], "url string, html binary"
    )
    # kernel_us and doc_bytes describe each fragment's own kernel call
    # (a wall-clock reading and the fragment's size), so only the page
    # content columns are compared
    cols = ["url", "page", "width", "height", "rotation", "page_text", "lines", "tables"]
    plain = {(r.url, r.page): r for r in extract_pages(pages).select(cols).collect()}
    decomp = {
        (r.url, r.page): r
        for r in decomposed_pages(pages, jumbo_threshold=100, pages_per_chunk=8)
        .select(cols).collect()
    }
    assert set(plain) == set(decomp)
    for k in plain:
        assert plain[k] == decomp[k], k


def test_minipdf_embedded_encoding_cmap():
    """Two-layer CID decode (the path every real non-Identity CJK PDF
    takes): /Encoding is an embedded CMap STREAM mapping codes→CIDs
    (cidrange offset run + cidchar singles), /ToUnicode maps CIDs→text.
    Show-string hex carries CODES — identity decoding of them yields
    garbage, so a correct round-trip proves both layers were walked."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _parse_encoding_cmap,
        cid_hex,
        encoding_cmap,
        parse_minipdf,
        render_minipdf,
    )

    s = "你好 world"
    charset = sorted(set(s))
    cid_of = {c: i + 1 for i, c in enumerate(charset)}
    # contiguous +0x0400 run (→ cidrange) plus one irregular single (→ cidchar)
    code_of = {c: cid_of[c] + 0x0400 for c in charset}
    code_of[charset[0]] = 0xE000
    enc = {code: cid_of[c] for c, code in code_of.items()}
    body = encoding_cmap(enc)
    assert "begincidrange" in body and "begincidchar" in body
    code2cid, spaces = _parse_encoding_cmap(body)
    singles, ranges = code2cid
    assert singles[0xE000] == cid_of[charset[0]]
    assert any(lo <= 0x0402 <= hi for lo, hi, _ in ranges)

    stream = "BT /F2 10 Tf 1 0 0 1 20 772 Tm " + cid_hex(s, code_of) + " Tj ET"
    for compress_cmap in (False, True):
        blob = render_minipdf(
            [stream],
            cid_cmap={v: k for k, v in cid_of.items()},
            compress_cmap=compress_cmap,
            cid_encoding=enc,
        )
        pages = parse_minipdf(blob)
        # neither CMap stream may be mistaken for a page
        assert len(pages) == 1, [p["page_text"] for p in pages]
        assert pages[0]["page_text"] == s


def test_minipdf_encoding_cmap_corpus_byte_identity():
    """Corpus scrambled-encoding docs (i ≡ 4 mod 120) stay
    byte-identical: their show hex carries codes ≠ CIDs, so identity
    certifies the kernel's code→CID→unicode walk end-to-end."""
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    for i in (4, 124, 244):
        _, _, blob, text, _ = make_doc(i)
        assert b"begincidrange" in blob or b"/FlateDecode" in blob
        got = "\n".join(p["page_text"] for p in parse_doc(blob))
        assert got == text, i


def test_encoding_cmap_without_tounicode_falls_back_to_chr():
    """A font with ONLY an embedded Encoding CMap (no ToUnicode) still
    resolves codes→CIDs, then chr(CID) — never chr(code)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    blob = render_minipdf(
        ["BT /F2 10 Tf 1 0 0 1 20 772 Tm <0441> Tj ET"],
        cid_cmap={},
        cid_encoding={0x0441: ord("A")},
    )
    assert parse_minipdf(blob)[0]["page_text"] == "A"


def test_minipdf_objstm_xref_stream_layout():
    """PDF 1.5 object streams (§7.5.7) + cross-reference stream
    (§7.5.8) — the layout every modern real-world writer emits: dict
    objects (catalog, page tree, pages, fonts) pack into one Flate'd
    /ObjStm, content/CMap streams stay top-level, classic xref table +
    trailer are replaced by a binary xref stream with type-2 entries.
    The reader resolves packed objects through the ObjStm index."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        cid_hex,
        parse_minipdf,
        render_minipdf,
    )

    blob = render_minipdf(
        ["BT /F1 10 Tf 1 0 0 1 20 772 Tm (hello objstm) Tj ET",
         "BT /F1 10 Tf 1 0 0 1 20 772 Tm (page two) Tj ET"],
        rotations=[0, 270],
        objstm=True,
    )
    assert blob.startswith(b"%PDF-1.5")
    assert b"/ObjStm" in blob and b"/Type /XRef" in blob
    assert b"trailer" not in blob  # xref stream replaces the trailer
    # page dicts must NOT be visible at the top level (they're packed)
    assert b"/Type /Page /Parent" not in blob
    pages = parse_minipdf(blob)
    assert [p["page_text"] for p in pages] == ["hello objstm", "page two"]
    assert [p["rotation"] for p in pages] == [0, 270]

    # combined with the full CID stack: Type0 font + ToUnicode +
    # embedded Encoding CMap, all resolved through the ObjStm index
    s = "你好 world"
    cid_of = {c: i + 1 for i, c in enumerate(sorted(set(s)))}
    code_of = {c: v + 0x0400 for c, v in cid_of.items()}
    blob = render_minipdf(
        ["BT /F2 10 Tf 1 0 0 1 20 772 Tm " + cid_hex(s, code_of) + " Tj ET"],
        cid_cmap={v: k for k, v in cid_of.items()},
        cid_encoding={v + 0x0400: v for v in cid_of.values()},
        compress_cmap=True,
        objstm=True,
    )
    pages = parse_minipdf(blob)
    assert len(pages) == 1 and pages[0]["page_text"] == s


def test_minipdf_objstm_corpus_byte_identity():
    """Corpus ObjStm docs (i ≡ 24 mod 50, incl. the CID intersection at
    i ≡ 124 mod 150) stay byte-identical through parse_doc dispatch."""
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    for i in (24, 74, 124, 274):
        _, _, blob, text, _ = make_doc(i)
        assert b"/ObjStm" in blob, i
        got = "\n".join(p["page_text"] for p in parse_doc(blob))
        assert got == text, i


def test_colspan_rowspan_grid_normalization():
    """Standard HTML table algorithm: colspan-c occupies c columns,
    rowspan-r covers r rows, spanned positions repeat the cell value
    (pandas.read_html semantics) — downstream always sees the full grid."""
    html = (
        "<html><body><div class='page'><table>"
        '<tr><td colspan="2">ab</td><td rowspan="2">r</td></tr>'
        "<tr><td>x</td><td>y</td></tr>"
        '<tr><td rowspan="2" colspan="2">blk</td><td>z</td></tr>'
        "<tr><td>tail</td></tr>"
        "</table></div></body></html>"
    )
    pages = parse_html_doc(html.encode())
    assert pages[0]["tables"][0][3] == [
        ["ab", "ab", "r"],
        ["x", "y", "r"],
        ["blk", "blk", "z"],
        ["blk", "blk", "tail"],
    ]


def test_colspan_rowspan_malformed_values():
    """colspan='junk'/'0'/negative default to 1; absurd spans clamp so a
    hostile crawl record cannot allocate gigabytes inside one task."""
    html = (
        "<html><body><table>"
        '<tr><td colspan="junk">a</td><td colspan="0">b</td>'
        '<td rowspan="-3">c</td><td colspan="2000000000">d</td></tr>'
        "</table></body></html>"
    )
    pages = parse_html_doc(html.encode())
    row = pages[0]["tables"][0][3][0]
    assert row[:3] == ["a", "b", "c"]
    assert set(row[3:]) == {"d"} and len(row) == 3 + 512  # clamp cap


def test_span_corpus_byte_identity_and_fuzz():
    """Corpus span docs (i ≡ 1 mod 7, HTML kinds) carry real colspan/
    rowspan markup and stay byte-identical; random ragged grids round-trip
    through the greedy rectangle tiler."""
    import random

    from pdf_context_extractor_agent_spark.corpus import _span_tiles

    seen_span_doc = False
    for i in (1, 8, 15, 22, 29, 36, 50):
        _, _, blob, text, _ = make_doc(i)
        if blob.startswith((b"FPDF1", b"%PDF")):
            continue
        if b'colspan="' in blob or b'rowspan="' in blob:
            seen_span_doc = True
        got = "\n".join(p["page_text"] for p in parse_html_doc(blob))
        assert got == text, i
    assert seen_span_doc

    rng = random.Random(13)
    for _ in range(120):
        rows = [
            [rng.choice(["a", "b", "", "cc"]) for _ in range(rng.randint(1, 6))]
            for _ in range(rng.randint(1, 6))
        ]
        body = []
        for cells in _span_tiles(rows):
            tds = "".join(
                "<td%s%s>%s</td>"
                % (
                    f' colspan="{w}"' if w > 1 else "",
                    f' rowspan="{h}"' if h > 1 else "",
                    v,
                )
                for v, w, h in cells
            )
            body.append(f"<tr>{tds}</tr>")
        html = (
            "<html><body><div class='page'><table>"
            + "".join(body)
            + "</table></div></body></html>"
        )
        pages = parse_html_doc(html.encode())
        got_rows = [list(r) for r in (pages[0]["tables"][0][3] if pages[0]["tables"] else [])]
        assert got_rows == rows


def test_span_fast_path_matches_stdlib():
    """The regex fast path must extract colspan/rowspan attrs exactly as
    html.parser hands them to the same handlers (case/quote variants)."""
    from pdf_context_extractor_agent_spark.kernels.html_layout import (
        _fast_feed,
        _LayoutParser,
    )

    docs = [
        '<table><tr><td COLSPAN=2>a</td><td ROWSPAN="2">b</td></tr><tr><td>c</td></tr></table>',
        "<table><tr><td colspan='3' rowspan='2'>a</td></tr><tr></tr></table>",
        '<table><tr><td class="wide" colspan="2">a</td><td>b</td></tr></table>',
    ]
    for doc in docs:
        fast, slow = _LayoutParser(), _LayoutParser()
        _fast_feed(fast, doc)
        slow.feed(doc)
        slow.close()
        assert fast.result() == slow.result(), doc


def test_simple_font_widths_corpus_byte_identity():
    """Corpus simple-font docs (i ≡ 14 mod 30) show ASCII table cells
    as SPLIT consecutive Tj runs positioned only by the embedded
    /FirstChar+/Widths advance; byte identity certifies the non-CID
    glyph-metric path (pdfplumber's simple-font handling, reference
    src/pdf_reader.py:17-29)."""
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    for i in (14, 44, 74, 134):
        _, _, blob, text, _ = make_doc(i)
        if i % 50 != 24:  # objstm docs Flate-pack the font dict
            assert b"/Widths" in blob and b"/FirstChar 29" in blob, i
            if i % 60 != 44:  # encrypted slice: streams are ciphertext
                assert b") Tj (" in blob, i  # genuinely split shows
        got = "\n".join(p["page_text"] for p in parse_doc(blob))
        assert got == text, i


def test_simple_font_widths_are_load_bearing():
    """Negative control: shifting /FirstChar by one re-indexes every
    glyph onto the junk width slots, so the second half of each split
    cell lands at the wrong X and identity must FAIL — proving the
    kernel actually reads the width table rather than assuming a
    constant advance."""
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    _, _, blob, text, _ = make_doc(14)
    broken = blob.replace(b"/FirstChar 29", b"/FirstChar 30")
    got = "\n".join(p["page_text"] for p in parse_doc(broken))
    assert got != text


def test_broken_xref_corpus_byte_identity():
    """Corpus broken-xref docs (i ≡ 24 mod 30, classic layout) carry a
    zeroed cross-reference table and startxref 0 — the malformed-xref
    damage pdfplumber absorbs by rescanning (reference
    src/pdf_reader.py:27). Object resolution here scans ``N 0 obj``
    directly, so extraction must be unaffected."""
    from pdf_context_extractor_agent_spark.corpus import _break_xref, make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    for i in (54, 84, 114):  # classic-layout slice members (not objstm)
        _, _, blob, text, _ = make_doc(i)
        assert b"0000000000 00000 n" in blob and b"startxref\n0" in blob, i
        got = "\n".join(p["page_text"] for p in parse_doc(blob))
        assert got == text, i
    # the corruptor must leave xref-stream (objstm) layouts alone
    _, _, objstm_blob, _, _ = make_doc(24)  # i%50==24 → objstm
    assert _break_xref(objstm_blob) == objstm_blob


def test_tokenizer_width_advance_semantics():
    """Unit semantics of the /Widths advance: Tf size scales it, TJ
    kern adjustments subtract adj/1000·size, unmapped codes take the
    missing width (0)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _tokenize_stream,
    )

    wt = (65, (500, 1000), 0)  # A→500, B→1000
    runs = _tokenize_stream(
        "BT /F3 20 Tf 1 0 0 1 100 700 Tm (AB) Tj (A) Tj ET",
        fonts={"/F3": (None, wt)},
    )["runs"]
    # AB advances (500+1000)/1000·20 = 30 → second run at 130
    assert [(r[0], r[2]) for r in runs] == [(100, "AB"), (130, "A")]

    runs = _tokenize_stream(
        "BT /F3 10 Tf 1 0 0 1 0 700 Tm [(A) -500 (B)] TJ (A) Tj ET",
        fonts={"/F3": (None, wt)},
    )["runs"]
    # TJ: 500 + kern 500 + 1000 = 2000 → /1000·10 = 20; kern ≥ KERN_SPACE
    # renders as a space inside the joined run
    assert [(r[0], r[2]) for r in runs] == [(0, "A B"), (20, "A")]

    # glyph outside [first, first+len) → missing width 0 (no advance)
    runs = _tokenize_stream(
        "BT /F3 10 Tf 1 0 0 1 0 700 Tm (z) Tj (A) Tj ET",
        fonts={"/F3": (None, wt)},
    )["runs"]
    assert [(r[0], r[2]) for r in runs] == [(0, "z"), (0, "A")]

    # a font with no width table never advances (legacy behavior)
    runs = _tokenize_stream(
        "BT /F1 10 Tf 1 0 0 1 0 700 Tm (AB) Tj (C) Tj ET",
        fonts={"/F3": (None, wt)},
    )["runs"]
    assert [(r[0], r[2]) for r in runs] == [(0, "AB"), (0, "C")]


def test_coalesce_runs():
    """X-contiguous same-line runs merge into one word run; gapped or
    off-line runs stay separate."""
    from pdf_context_extractor_agent_spark.kernels.pdfish_layout import (
        _coalesce_runs,
    )

    # CHAR_W = 6: "ab" spans 12 → run at 112 is contiguous, merges
    assert _coalesce_runs([(100, 50, "ab"), (112, 50, "cd")]) == [
        (100, 50, "abcd")
    ]
    # a word-space gap (6 px) must NOT merge
    assert _coalesce_runs([(100, 50, "ab"), (118, 50, "cd")]) == [
        (100, 50, "ab"),
        (118, 50, "cd"),
    ]
    # different lines never merge
    assert _coalesce_runs([(100, 50, "ab"), (112, 60, "cd")]) == [
        (100, 50, "ab"),
        (112, 60, "cd"),
    ]


def test_rc4_known_vectors():
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import _rc4

    assert _rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert _rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    # involution: decrypt(encrypt(x)) == x
    assert _rc4(b"k", _rc4(b"k", b"roundtrip")) == b"roundtrip"


def test_encrypted_pdf_roundtrip_and_honest_raises():
    """Standard-security-handler tier: RC4-encrypted files with an empty
    user password decrypt transparently (the restrict-printing shape
    pdfplumber opens silently, reference src/pdf_reader.py:17-29);
    genuinely password-protected files raise; parse_doc degrades them
    to an empty page instead of poisoning the task."""
    import re

    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    stream = "BT /F1 10 Tf 1 0 0 1 100 700 Tm (hello encrypted world) Tj ET"
    for compress in (False, True):
        blob = render_minipdf([stream], compress=compress, encrypt=True)
        assert b"/Encrypt" in blob and b"hello" not in blob
        assert parse_minipdf(blob)[0]["page_text"] == "hello encrypted world"

    blob = render_minipdf([stream], encrypt=True)
    m = re.search(rb"/U <([0-9a-f]+)>", blob)
    protected = blob.replace(m.group(1), b"00" + m.group(1)[2:])
    with pytest.raises(ValueError, match="password-protected"):
        parse_minipdf(protected)
    # the task-level guard: poison doc → one empty page, never a raise
    assert parse_doc(protected)[0]["page_text"] == ""


def test_encrypted_corpus_byte_identity():
    """Corpus slice i ≡ 44 (mod 60), classic layout: encrypted docs
    (composing with the simple-font slice) stay byte-identical."""
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc

    n_enc = 0
    for i in (44, 104, 164):
        _, _, blob, text, _ = make_doc(i)
        if i % 50 != 24:
            assert b"/Encrypt" in blob, i
            n_enc += 1
        got = "\n".join(p["page_text"] for p in parse_doc(blob))
        assert got == text, i
    assert n_enc >= 2


def test_indirect_widths_reference():
    """Real writers frequently indirect the width array (/Widths 12 0 R);
    resolution goes through the same xref-free object scan."""
    import re

    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    stream = "BT /F3 10 Tf 1 0 0 1 100 700 Tm (ab) Tj (cd) Tj ET"
    blob = render_minipdf([stream], simple_widths=(97, [600, 600, 600, 600]))
    assert parse_minipdf(blob)[0]["page_text"] == "abcd"
    m = re.search(rb"/Widths \[([^\]]*)\]", blob)
    num = int(re.search(rb"/Size (\d+)", blob).group(1))
    blob2 = blob.replace(m.group(0), b"/Widths %d 0 R" % num)
    ins = b"%d 0 obj\n[%s]\nendobj\n" % (num, m.group(1))
    p = blob2.find(b"xref\n")
    blob2 = blob2[:p] + ins + blob2[p:]  # xref offsets now stale, too
    assert parse_minipdf(blob2)[0]["page_text"] == "abcd"


def test_td_offsets_from_line_start_not_show_position():
    """§9.4.2: Td/T*/' translate the text LINE matrix — a Td after a
    metrics-advanced show must position from the line start, not from
    the advanced show position (real writers emit exactly this shape)."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _tokenize_stream,
    )

    wt = (65, (600, 600), 0)
    runs = _tokenize_stream(
        "BT /F3 10 Tf 1 0 0 1 100 700 Tm (AB) Tj 0 -12 Td (AB) Tj ET",
        fonts={"/F3": (None, wt)},
    )["runs"]
    assert [(r[0], r[1]) for r in runs] == [(100, 92), (100, 104)]
    # T* and ' also reset to the line start
    runs = _tokenize_stream(
        "BT /F3 10 Tf 14 TL 1 0 0 1 50 700 Tm (AB) Tj T* (C) Tj 1 0 0 1 50 600 Tm (AB) Tj (D) ' ET",
        fonts={"/F3": (None, wt)},
    )["runs"]
    assert [(r[0], r[2]) for r in runs] == [(50, "AB"), (50, "C"), (50, "AB"), (50, "D")]


def test_non_numeric_operands_are_ignored():
    """An operator whose numeric operands are not numbers is skipped and
    leaves the interpreter state as it was; the well-formed operators
    around it still give their runs and rulings."""
    from pdf_context_extractor_agent_spark.kernels.html_layout import parse_doc
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _tokenize_stream,
        render_minipdf,
    )

    out = _tokenize_stream("1 (b) m 0 0 m 0 10 l S")
    assert (out["runs"], out["h"], out["v"]) == ([], [], [(0, 792, 0, 782)])
    out = _tokenize_stream("0 0 m (q) 1 l 0 0 m 5 0 l S")
    assert (out["runs"], out["h"], out["v"]) == ([], [(0, 792, 5, 792)], [])
    # the bad Td / Tm keep the text position the last good Tm set
    out = _tokenize_stream("BT 1 0 0 1 50 700 Tm /F1 2 Td (a) Tj ET")
    assert out["runs"] == [(50, 92, "a")]
    out = _tokenize_stream("BT 1 0 0 1 50 700 Tm 1 2 3 4 5 (x) Tm (y) Tj ET")
    assert out["runs"] == [(50, 92, "y")]
    # a bad TL keeps the leading; a bad Tf keeps font and size
    out = _tokenize_stream("BT 14 TL (a) TL 1 0 0 1 0 700 Tm T* (b) Tj ET")
    assert out["runs"] == [(0, 106, "b")]
    wt = (65, (500, 1000), 0)
    out = _tokenize_stream(
        "BT /F3 20 Tf /F1 /F2 Tf 1 0 0 1 0 700 Tm (AB) Tj (A) Tj ET",
        fonts={"/F3": (None, wt)},
    )
    assert [(r[0], r[2]) for r in out["runs"]] == [(0, "AB"), (30, "A")]
    # 309+ digits read as inf: the Tm is skipped like a non-number one,
    # and the document keeps both its pages
    big = "9" * 400
    out = _tokenize_stream(f"BT 1 0 0 1 50 700 Tm 1 0 0 1 {big} 700 Tm (a) Tj ET")
    assert out["runs"] == [(50, 92, "a")]
    pages = parse_doc(render_minipdf([
        "BT 1 0 0 1 50 700 Tm (good page) Tj ET",
        f"BT 1 0 0 1 {big} 700 Tm (a) Tj ET",
    ]))
    assert [p["page_text"] for p in pages] == ["good page", "a"]
    # finite operands that sum past the float range: the runs placed
    # there are dropped, the runs before them kept
    huge = "9" * 308
    out = _tokenize_stream(
        f"BT 1 0 0 1 50 700 Tm (a) Tj {huge} 0 Td {huge} 0 Td (b) Tj [(c)] TJ ET"
    )
    assert out["runs"] == [(50, 92, "a")]
    out = _tokenize_stream(
        f"BT /F3 {huge} Tf 1 0 0 1 0 700 Tm (AB) Tj (A) Tj ET", fonts={"/F3": (None, wt)}
    )
    assert out["runs"] == [(0, 92, "AB")]


def test_unmapped_codes_outside_unicode_decode_to_replacement():
    """An unmapped code decodes as its own code point, except where no
    text can hold it: a surrogate, or a code past U+10FFFF from a
    4-byte codespace, is U+FFFD. A ToUnicode bfrange whose last code
    unit would count past U+10FFFF maps only the codes below it."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _parse_tounicode,
        _tokenize_stream,
    )

    four = {"/F2": (({}, ((4, 0, 0xFFFFFFFF),), None), None)}
    out = _tokenize_stream("BT /F2 10 Tf <FFFFFFFF> Tj <00004E2D> Tj ET", fonts=four)
    assert [r[2] for r in out["runs"]] == ["\ufffd", "中"]
    two = {"/F2": (({}, ((2, 0, 0xFFFF),), None), None)}
    out = _tokenize_stream("BT /F2 10 Tf <D800> Tj <DFFF> Tj <E000> Tj ET", fonts=two)
    assert [r[2] for r in out["runs"]] == ["\ufffd", "\ufffd", "\ue000"]
    cmap = _parse_tounicode("beginbfrange\n<0000> <0005> <DBFFDFFE>\nendbfrange")[0]
    assert cmap == {0: "\U0010fffe", 1: "\U0010ffff"}


def test_bfrange_into_surrogates_keeps_the_page_in_spark(spark):
    """A ToUnicode bfrange whose last code unit counts into the
    surrogate block maps those codes to U+FFFD. A lone surrogate in page
    text cannot be encoded as UTF-8 at the kernel's Arrow boundary: the
    extract_pages task would fail instead of the document degrading."""
    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import render_minipdf

    blob = render_minipdf(
        ["BT /F2 10 Tf 1 0 0 1 20 772 Tm <004100420043> Tj ET"],
        cid_cmap={0x41: "퟾", 0x42: "퟿"},
    )
    # widen the writer's <0041> <0042> range by one code, into U+D800
    old = b"<0041> <0042> <D7FE>"
    assert blob.count(old) == 1
    blob = blob.replace(old, b"<0041> <0043> <D7FE>")
    pages = spark.createDataFrame([("u_surrogate", blob)], "url string, html binary")
    rows = extract_pages(pages).select("page_text").collect()
    assert [r.page_text for r in rows] == ["퟾퟿�"]


def test_parse_minipdf_fuzz_never_raises():
    """Seeded prefix cuts and 3-byte mutations of ten minipdf corpus
    docs (every slice: CID, widths, ObjStm, mixed codespace, encrypted,
    broken xref) never raise from the parser. The one exception allowed
    is a refusal raised inside ``_encryption_key``: an unsupported or
    password-protected handler, which ``parse_doc`` turns into a
    placeholder page."""
    import random
    import traceback

    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
    )

    rng = random.Random(20261019)
    cases = []
    for i in (4, 14, 24, 34, 44, 54, 64, 74, 104, 124):
        doc = make_doc(i)[2]
        cases += [doc[:rng.randrange(len(doc))] for _ in range(30)]
        for _ in range(30):
            p = rng.randrange(len(doc) - 3)
            cases.append(doc[:p] + rng.randbytes(3) + doc[p + 3:])
    assert len(cases) == 600
    raised = []
    for blob in cases:
        try:
            parse_minipdf(blob)
        except Exception as e:  # noqa: BLE001 - the contract under test
            where = traceback.extract_tb(e.__traceback__)[-1].name
            if where != "_encryption_key":
                raised.append((type(e).__name__, where, str(e)))
    assert raised == []


def test_indirect_length_reference_decrypts_fully():
    """Acrobat-style indirect stream lengths ('/Length N 0 R') must not
    truncate decryption: the digits of the REFERENCE must never parse
    as the length (the '/Length 80 0 R' backtracking trap), and the
    referenced object resolves to the true byte count."""
    import re

    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        _LENGTH_RE,
        _object_stream,
        _scan,
        parse_minipdf,
        render_minipdf,
    )

    # regex-level: indirect forms never match the direct-length pattern
    assert _LENGTH_RE.search(b"/Length 80 0 R") is None
    assert _LENGTH_RE.search(b"/Length 8 0 R") is None
    assert int(_LENGTH_RE.search(b"/Length 80 /Filter").group(1)) == 80

    stream = "BT /F1 10 Tf 1 0 0 1 100 700 Tm (indirect length survives) Tj ET"
    blob = render_minipdf([stream], encrypt=True)
    # rewrite the first content stream's direct /Length into an indirect
    # reference + appended length object
    m = re.search(rb"/Length (\d+) >>\nstream", blob)
    num = int(re.search(rb"/Size (\d+)", blob).group(1))
    blob2 = blob.replace(
        b"/Length " + m.group(1) + b" >>\nstream",
        b"/Length %d 0 R >>\nstream" % num, 1)
    p = blob2.find(b"xref\n")
    blob2 = blob2[:p] + b"%d 0 obj\n%s\nendobj\n" % (num, m.group(1)) + blob2[p:]
    # the length object comes after its stream: the scan looks ahead
    # for it, and the payload is exactly the referenced byte count
    payload = _object_stream(_scan(blob2), 4)[1]
    assert len(payload) == int(m.group(1))
    assert parse_minipdf(blob2)[0]["page_text"] == "indirect length survives"


def test_object_table_is_built_once_per_file(monkeypatch):
    """parse_minipdf scans a file once; an encrypted one twice (the
    ciphertext, then the plaintext the decrypt step produces)."""
    from pdf_context_extractor_agent_spark.kernels import minipdf_layout as M

    stream = "BT /F1 10 Tf 1 0 0 1 100 700 Tm (scanned once) Tj ET"
    plain = M.render_minipdf([stream, stream], compress=True)
    enc = M.render_minipdf([stream], encrypt=True)
    calls = []
    scan = M._scan
    monkeypatch.setattr(M, "_scan", lambda blob: calls.append(len(blob)) or scan(blob))
    assert M.parse_minipdf(plain)[0]["page_text"] == "scanned once"
    assert len(calls) == 1
    calls.clear()
    assert M.parse_minipdf(enc)[0]["page_text"] == "scanned once"
    assert len(calls) == 2


def test_decrypt_rc4s_each_payload_once_with_its_own_key(monkeypatch):
    """With 'endobj' missing from the object just before the content
    stream's object, each stream payload is still decrypted exactly
    once, with its owning object's key (the password check's RC4 of
    the pad is not a payload decryption)."""
    from pdf_context_extractor_agent_spark.kernels import minipdf_layout as M

    stream = "BT /F1 10 Tf 1 0 0 1 100 700 Tm (one key per payload) Tj ET"
    blob = M.render_minipdf([stream], encrypt=True)
    broken = blob.replace(b"endobj\n4 0 obj", b"4 0 obj", 1)
    assert broken != blob
    payloads = []
    rc4 = M._rc4

    def counting_rc4(key, data):
        if data is not M._PW_PAD:
            payloads.append(key)
        return rc4(key, data)

    monkeypatch.setattr(M, "_rc4", counting_rc4)
    for b in (blob, broken):
        payloads.clear()
        assert M.parse_minipdf(b)[0]["page_text"] == "one key per payload"
        assert len(payloads) == 1  # one content stream, one RC4


def test_encrypt_marker_in_content_does_not_trigger_decryption():
    """An UNENCRYPTED document whose content stream contains the text
    '/Encrypt 9 0 R' must parse normally: the decryption tier only
    honors /Encrypt inside the trailer dict."""
    from pdf_context_extractor_agent_spark.kernels.minipdf_layout import (
        parse_minipdf,
        render_minipdf,
    )

    stream = (
        "BT /F1 10 Tf 1 0 0 1 100 700 Tm "
        "(see /Encrypt 9 0 R for details) Tj ET"
    )
    blob = render_minipdf([stream])
    assert b"/Encrypt 9 0 R" in blob and b"trailer" in blob
    assert parse_minipdf(blob)[0]["page_text"] == "see /Encrypt 9 0 R for details"
