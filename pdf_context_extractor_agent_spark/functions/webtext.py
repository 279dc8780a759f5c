"""Web-text curation: C4-style line filtering and density-based
main-content (boilerplate) classification.

Both algorithms are published heuristics, reimplemented here as pure
DataFrame algebra:

* the line filter follows the C4 cleaning rules (Raffel et al. 2020,
  "Exploring the Limits of Transfer Learning with a Unified
  Text-to-Text Transformer", §2.2): keep lines that end in terminal
  punctuation, have enough words, and contain no banned token; keep a
  document only if enough lines survive and no page-level ban fires;
* the block classifier follows the link-density / word-count heuristics
  of Boilerpipe (Kohlschütter et al., WSDM 2010) and jusText
  (Pomikálek 2011): a block is content if it is long enough and not
  link-dominated; short blocks inherit the verdict of their neighbours
  (one lag/lead smoothing pass).

Reference parity: the reference engine strips boilerplate with fixed
tag/class rules inside its HTML reader (the ``_SKIP_TAGS`` /
``_SKIP_CLASS_HINTS`` analog of src/pdf_reader.py's fixed page model);
this module is the generic-web upgrade of that step for crawl corpora
where nav/footer markup is NOT known a priori — the classifier decides
from measured densities instead of a tag allowlist.

Scale notes: everything here is built-in expression algebra (split /
transform / windows) — no Python UDFs. The only shuffles are the
per-document window (already partitioned by the pipeline's url hash)
and the final per-document aggregation. At 10^12 rows both run on the
same key, so AQE reuses the exchange.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .iterate import iterate

# C4's terminal-punctuation set, plus the CJK full-width equivalents the
# corpus actually contains (the reference's documents are zh financial
# reports).
TERMINAL_PUNCT_RE = r'[.!?"”。！？]$'

DEFAULT_BANNED_LINE_WORDS = ("javascript",)
DEFAULT_BANNED_DOC_MARKS = ("lorem ipsum", "{")


def split_lines(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, line_no, line) — one row per newline-separated line.

    Null text coalesces to one empty line so the document still appears
    in the per-doc verdict (n_kept=0, keep_doc=false) instead of
    silently vanishing through posexplode(null)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "line_no", "line"
        ),
    )


# Sentence boundary: terminal punctuation (ASCII + CJK full-width)
# followed by whitespace. The boundary is marked with an ASCII record
# separator (U+001E — never in prose) and split on it, because a
# zero-width split needs lookbehind, which RE2-family engines (the
# DuckDB oracle) don't support; replace-then-split is engine-portable.
SENTENCE_BOUNDARY_RE = r"([.!?。！？])\s+"
_SENT_SEP = "\x1e"


def split_sentences(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sent_idx, sentence) — rule-based sentence segmentation.

    The segmentation every chunk-level op downstream (packing, chunk
    dedup, decontamination windows) wants as its unit when "line" is
    too coarse: split after terminal punctuation + whitespace, keep the
    punctuation with its sentence, drop whitespace-only fragments.
    Pure expression algebra (regexp_replace → split → posexplode):
    narrow except for the explode fan-out, no Python, no shuffle.
    """
    marked = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), SENTENCE_BOUNDARY_RE, "$1" + _SENT_SEP
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(marked, _SENT_SEP)).alias("sent_idx", "raw"),
        )
        .withColumn("sentence", F.trim(F.col("raw")))
        .filter(F.length("sentence") > 0)
        .select("doc_id", "sent_idx", "sentence")
    )


def strip_frequent_lines(
    docs: DataFrame,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency boilerplate removal: a line appearing in
    ``min_docs``+ DISTINCT documents is dropped from every document
    (CCNet's cross-shard paragraph dedup, Wenzek et al. 2020 §3.1 —
    repeated lines are navigation chrome, cookie banners, license
    blurbs; unlike ``dedup.chunk_dedup`` no "owner" keeps a copy,
    because a line this common is boilerplate, not content).

    → ``(doc_id, n_lines, n_removed, kept_text)`` with surviving lines
    rejoined in original order.

    Scale shape: frequencies aggregate on the md5 of the trimmed line,
    so the wide shuffle carries 16-byte digests, never line bodies; the
    frequent-line dim that survives ``min_docs`` is tiny (boilerplate
    is by definition few DISTINCT strings) and broadcast back — the
    corpus-sized relation is never reshuffled for the join. The rebuild
    is the one per-doc aggregate the pipeline's url partitioning
    already serves.
    """
    lines = split_lines(docs, id_col, text_col).withColumn(
        "line_key", F.md5(F.trim(F.col("line")))
    )
    frequent = (
        # blank lines are structure, not boilerplate: md5(trim('')) is
        # identical across every document, so without this filter any
        # corpus with >= min_docs blank-line docs (all of them) would
        # strip every paragraph break corpus-wide
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("line_key")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_key")
    )
    flagged = lines.join(
        F.broadcast(frequent.withColumn("is_boiler", F.lit(True))),
        "line_key",
        "left",
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("is_boiler"), 1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("is_boiler").isNull(),
                            F.struct("line_no", "line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )


def chunk_sentences(
    docs: DataFrame,
    budget_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-preserving chunking: ``(doc_id, chunk_idx, n_sents,
    n_tokens, chunk_text)`` — the RAG-index / context-window unit
    between raw sentences and ``sampling.pack_sequences`` (which packs
    token ids to a HARD cap and may split mid-sentence; this keeps
    sentences whole and overshoots by at most one sentence).

    Assignment is a deterministic prefix-sum rule — a sentence joins
    chunk ``floor(tokens_before_it / budget)`` — then chunk ids are
    re-numbered densely per document (a jumbo sentence can make the
    floor skip values). Both windows and the final aggregate run on the
    one ``doc_id`` partitioning: a single shuffle end-to-end, no
    per-row Python. Chunk text reassembles via sort-by-``sent_idx``
    inside the aggregate (``array_sort`` over structs), never relying
    on ``collect_list`` arrival order.
    """
    sents = split_sentences(docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("sent_idx")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    assigned = (
        sents.withColumn("n_tok", F.size(F.split(F.col("sentence"), r"\s+")))
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("n_tok").over(before), F.lit(0)),
        )
        .withColumn(
            "raw_chunk", F.floor(F.col("cum_before") / F.lit(budget_tokens))
        )
        .withColumn(
            "chunk_idx",
            (F.dense_rank().over(w.orderBy("raw_chunk")) - 1).cast("bigint"),
        )
    )
    return assigned.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").alias("n_sents"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_idx", "sentence"))),
                lambda s: s["sentence"],
            ),
            " ",
        ).alias("chunk_text"),
    )


def c4_line_flags(
    line: Column,
    min_words: int = 5,
    banned_line_words: tuple[str, ...] = DEFAULT_BANNED_LINE_WORDS,
) -> Column:
    """Boolean keep-flag for one line under the C4 rules."""
    trimmed = F.trim(line)
    n_words = F.size(F.filter(F.split(trimmed, " "), lambda w: w != ""))
    keep = trimmed.rlike(TERMINAL_PUNCT_RE) & (n_words >= min_words)
    low = F.lower(trimmed)
    for b in banned_line_words:
        # lower the BAN WORD too (the doc-mark loop below already does):
        # a caller passing 'JavaScript' must not silently never match
        keep = keep & ~low.contains(b.lower())
    return keep


def c4_filter_lines(
    lines: DataFrame,
    min_words: int = 5,
    min_kept_lines: int = 3,
    banned_line_words: tuple[str, ...] = DEFAULT_BANNED_LINE_WORDS,
    banned_doc_marks: tuple[str, ...] = DEFAULT_BANNED_DOC_MARKS,
) -> DataFrame:
    """(doc_id, line_no, line) → per-doc C4 verdict.

    Output: (doc_id, n_lines, n_kept, keep_doc, kept_text). One
    groupBy(doc_id) — the kept-line reassembly is an ordered
    collect_list transform, partial-aggregated map-side.
    """
    kept = c4_line_flags(F.col("line"), min_words, banned_line_words)
    low = F.lower(F.col("line"))
    doc_ban = F.lit(False)
    for m in banned_doc_marks:
        doc_ban = doc_ban | low.contains(m.lower())
    flagged = lines.select(
        "doc_id", "line_no", "line", kept.alias("kept"), doc_ban.alias("banned")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        (
            (F.count(F.when(F.col("kept"), 1)) >= min_kept_lines)
            & ~F.coalesce(F.bool_or("banned"), F.lit(False))
        ).alias("keep_doc"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )


def c4_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """Document-level C4 filter over newline-separated text."""
    return c4_filter_lines(split_lines(docs, id_col, text_col), **kw)


# ---------------------------------------------------------------------------
# density-based block classification (Boilerpipe / jusText heuristics)
# ---------------------------------------------------------------------------

HEADING_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")


def block_base_label(
    n_chars: Column,
    n_words: Column,
    n_link_chars: Column,
    tag: Column,
    max_link_density: float = 0.33,
    min_words_good: int = 10,
) -> Column:
    """First-pass label: 'good' | 'bad' | 'short' | 'heading'.

    * empty or link-dominated → bad (nav bars, footers, related-links);
    * long enough and link-light → good (body paragraphs);
    * headings are neither: they inherit from the following block;
    * everything else is 'short' and inherits from its neighbours.
    """
    link_density = n_link_chars / F.greatest(n_chars, F.lit(1))
    return (
        F.when(n_chars == 0, F.lit("bad"))
        .when(link_density > max_link_density, F.lit("bad"))
        .when(tag.isin(*HEADING_TAGS), F.lit("heading"))
        .when(n_words >= min_words_good, F.lit("good"))
        .otherwise(F.lit("short"))
    )


def classify_blocks(
    blocks: DataFrame,
    doc_col: str = "url",
    order_col: str = "block_no",
    max_link_density: float = 0.33,
    min_words_good: int = 10,
) -> DataFrame:
    """Add (base_label, label, is_content) to a block table.

    Input needs (doc_col, order_col, tag, n_chars, n_words,
    n_link_chars). The smoothing pass is one window over the document —
    'short' blocks become content iff an adjacent block is good (the
    Boilerpipe neighbour feature), headings iff the NEXT block is good
    (a title is content only when its section is).
    """
    base = block_base_label(
        F.col("n_chars"),
        F.col("n_words"),
        F.col("n_link_chars"),
        F.col("tag"),
        max_link_density,
        min_words_good,
    )
    w = Window.partitionBy(doc_col).orderBy(order_col)
    with_base = blocks.withColumn("base_label", base)
    prev_l = F.lag("base_label").over(w)
    next_l = F.lead("base_label").over(w)
    label = (
        F.when(
            F.col("base_label") == "short",
            F.when((prev_l == "good") | (next_l == "good"), F.lit("good")).otherwise(
                F.lit("bad")
            ),
        )
        .when(
            F.col("base_label") == "heading",
            F.when(next_l == "good", F.lit("good")).otherwise(F.lit("bad")),
        )
        .otherwise(F.col("base_label"))
    )
    return with_base.withColumn("label", label).withColumn(
        "is_content", F.col("label") == "good"
    )


def main_content(
    pages_tbl: DataFrame,
    max_link_density: float = 0.33,
    min_words_good: int = 10,
) -> DataFrame:
    """(url, …, html, …) → (url, main_text, n_blocks, n_content_blocks).

    The generic-web main-content pipeline: DOM block kernel (Arrow) →
    density classifier → ordered reassembly. One kernel pass, one
    window, one aggregation — all on the url key.

    EVERY input url gets a row: documents whose HTML yields zero parsed
    blocks (malformed input) surface as (n_blocks=0, main_text='')
    rather than vanishing — the same null-visibility contract as the C4
    filter's poison rows. The final left join is co-partitioned with the
    aggregation's url shuffle, and only the bare url column rides on the
    probe side.
    """
    from ..kernels.html_blocks import html_blocks

    classified = classify_blocks(
        html_blocks(pages_tbl),
        max_link_density=max_link_density,
        min_words_good=min_words_good,
    )
    agg = classified.groupBy("url").agg(
        F.count("*").alias("n_blocks"),
        F.count(F.when(F.col("is_content"), 1)).alias("n_content_blocks"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_content"), F.struct("block_no", "text"))
                    )
                ),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("main_text"),
    )
    return pages_tbl.select("url").join(agg, "url", "left").select(
        "url",
        F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
        F.coalesce("n_content_blocks", F.lit(0)).alias("n_content_blocks"),
        F.coalesce("main_text", F.lit("")).alias("main_text"),
    )


# ---------------------------------------------------------------------------
# Unicode normalization — the first cleanup step of every crawl
# pipeline (decomposed accents, compatibility forms, mojibake seams).
# ---------------------------------------------------------------------------

def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization as a vectorized Arrow-batched pandas
    UDF (Spark has no built-in normalizer; pandas' ``str.normalize``
    runs the ICU-equivalent C path over the whole Arrow batch — the
    sanctioned vectorized escape hatch, never per-row Python).

    Narrow map, zero shuffle; at 10^12 rows this rides inside the
    existing per-partition scan like any other projection.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    return _nfc(col)


# ---------------------------------------------------------------------------
# Bad-word gating and robots-directive extraction — the two remaining
# page-level C4/crawl-policy gates (C4 drops any page containing a word
# from the "List of Dirty, Naughty, Obscene or Otherwise Bad Words";
# every polite crawl pipeline honors <meta name="robots"> noindex).
# ---------------------------------------------------------------------------


def badwords_filter(
    docs: DataFrame,
    badwords: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_col: str = "word",
    max_bad: int = 0,
) -> DataFrame:
    """C4-style bad-word gate: count how many of a document's tokens
    appear in a blockword dimension, flag the doc when the count
    exceeds ``max_bad`` (C4's policy is any-hit → ``max_bad=0``).

    Plan shape: tokens explode narrow → inner join against the
    BROADCAST word dim (a few thousand rows at production size) → one
    ``groupBy(doc)`` count → left-join the counts back so every input
    doc keeps a verdict row. The corpus never shuffles on anything but
    its own doc key; the dim never exceeds broadcast size. Output adds
    ``n_bad_words``, ``n_words``, ``bad_word_frac``, ``is_flagged``.

    Tokenization is the engine-wide ``lm.word_array`` convention
    (case-folded whitespace split) so the DuckDB oracle reproduces it
    byte for byte.
    """
    from .lm import word_array

    toks = docs.select(
        F.col(id_col), F.explode(word_array(F.col(text_col))).alias("_tok")
    ).filter(F.col("_tok") != "")
    dim = F.broadcast(
        badwords.select(
            F.lower(F.trim(F.col(word_col))).alias("_tok")
        ).distinct()
    )
    hits = toks.join(dim, "_tok").groupBy(id_col).agg(
        F.count("*").alias("n_bad_words")
    )
    n_words = F.size(
        F.filter(word_array(F.col(text_col)), lambda x: x != "")
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumns(
            {
                "n_bad_words": F.coalesce("n_bad_words", F.lit(0)),
                "n_words": n_words,
            }
        )
        .withColumns(
            {
                "bad_word_frac": F.when(
                    F.col("n_words") > 0,
                    F.col("n_bad_words") / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                "is_flagged": F.col("n_bad_words") > max_bad,
            }
        )
    )


# attribute order varies in the wild: match name-first and content-first
_ROBOTS_NAME_FIRST = r'(?i)<meta[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"([^"]*)"'
_ROBOTS_CONTENT_FIRST = r'(?i)<meta[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*"robots"'


def _directive(content: Column, name: str) -> Column:
    # token match within the comma/space-separated directive list;
    # "none" is the spec'd shorthand for "noindex, nofollow"
    tok = rf"(?i)(^|[,\s]){name}([,\s]|$)"
    none = r"(?i)(^|[,\s])none([,\s]|$)"
    return content.rlike(tok) | content.rlike(none)


_META_PROP = (
    r'(?is)<meta\s+[^>]*property\s*=\s*"{name}"[^>]*content\s*=\s*"([^"]*)"'
)
_META_PROP_FIRST = (
    r'(?is)<meta\s+[^>]*content\s*=\s*"([^"]*)"[^>]*property\s*=\s*"{name}"'
)


def _meta_property(h, name: str):
    a = F.regexp_extract(h, _META_PROP.format(name=name), 1)
    b = F.regexp_extract(h, _META_PROP_FIRST.format(name=name), 1)
    return F.when(a != "", a).otherwise(b)


def page_metadata(
    pages: DataFrame, html_col: str = "html", keep_cols: tuple[str, ...] = ("url",)
) -> DataFrame:
    """Document-metadata header pass (the Trafilatura/newspaper recipe,
    deterministic regexp subset): ``<title>``, OpenGraph title,
    ``article:published_time`` (the recency signal cross-snapshot
    dedup and data-mixing both key on), ``rel=canonical`` (the
    publisher's OWN dedup key — when present it beats URL
    canonicalization), declared charset, and ``<html lang>``.

    All attribute-order-insensitive regexps over the raw bytes — zero
    shuffle, rides the fetch scan; empty string → null per field.
    Output: ``keep_cols`` + ``title, og_title, canonical_link,
    published_time, charset, html_lang``.
    """
    h = F.col(html_col).cast("string")
    title = F.trim(
        F.regexp_replace(
            F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1),
            r"\s+",
            " ",
        )
    )
    canonical = F.coalesce(
        F.when(
            (c := F.regexp_extract(
                h, r'(?is)<link\s+[^>]*rel\s*=\s*"canonical"[^>]*href\s*=\s*"([^"]*)"', 1
            )) != "", c
        ),
        F.regexp_extract(
            h, r'(?is)<link\s+[^>]*href\s*=\s*"([^"]*)"[^>]*rel\s*=\s*"canonical"', 1
        ),
    )
    charset = F.lower(
        F.coalesce(
            F.when(
                (m := F.regexp_extract(h, r'(?is)<meta\s+charset\s*=\s*"?([a-z0-9_-]+)', 1))
                != "", m
            ),
            F.regexp_extract(h, r"(?is)content-type[^>]*charset=([a-z0-9_-]+)", 1),
        )
    )
    lang = F.regexp_extract(h, r'(?is)<html\s+[^>]*lang\s*=\s*"([^"]*)"', 1)
    nul = lambda col: F.when(col != "", col)  # noqa: E731
    return pages.select(
        *keep_cols,
        nul(title).alias("title"),
        nul(_meta_property(h, "og:title")).alias("og_title"),
        nul(canonical).alias("canonical_link"),
        nul(_meta_property(h, "article:published_time")).alias("published_time"),
        nul(charset).alias("charset"),
        nul(lang).alias("html_lang"),
    )


def meta_robots(
    pages: DataFrame, html_col: str = "html", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Extract ``<meta name="robots">`` directives: the crawl-politeness
    gate every corpus pipeline applies before a page's text may enter a
    training set (noindex pages are published-but-not-for-indexing).

    Pure regexp column algebra (attribute order-insensitive, directive
    matched as a list token, ``none`` expands to noindex+nofollow) —
    zero shuffle, rides the scan projection at any scale. Output:
    ``keep_cols`` + ``robots_content``, ``robots_noindex``,
    ``robots_nofollow``, ``robots_indexable``.
    """
    # null html (fetch failures) must yield the DEFAULT-INDEXABLE
    # verdict, not null booleans — a downstream .filter('robots_indexable')
    # would silently drop every failed fetch (the sibling extractors all
    # coalesce for the same reason)
    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    c1 = F.regexp_extract(h, _ROBOTS_NAME_FIRST, 1)
    c2 = F.regexp_extract(h, _ROBOTS_CONTENT_FIRST, 1)
    content = F.when(c1 != "", c1).otherwise(c2)
    out = pages.withColumn("robots_content", content).withColumns(
        {
            "robots_noindex": _directive(F.col("robots_content"), "noindex"),
            "robots_nofollow": _directive(F.col("robots_content"), "nofollow"),
        }
    )
    out = out.withColumn("robots_indexable", ~F.col("robots_noindex"))
    if keep_cols:
        out = out.select(
            *keep_cols,
            "robots_content",
            "robots_noindex",
            "robots_nofollow",
            "robots_indexable",
        )
    return out


# --------------------------------------------------------------------------
# Markdown rendering (the LLM-training output format for extracted pages)
# --------------------------------------------------------------------------

def _table_md(cells: Column) -> Column:
    """GitHub-pipe markdown for one table (array<array<string>>): header
    row, ``| --- |`` separator sized from the header, body rows.
    try_element_at (ANSI mode: plain element_at throws on empty)."""
    rows_md = F.transform(
        cells, lambda r: F.concat(F.lit("| "), F.array_join(r, " | "), F.lit(" |"))
    )
    header = F.try_element_at(rows_md, F.lit(1))
    sep = F.concat(
        F.lit("|"),
        F.expr("repeat(' --- |', size(try_element_at(cells, 1)))"),
    )
    body = F.when(
        F.size(cells) > 1,
        F.concat(
            F.lit("\n"),
            F.array_join(F.slice(rows_md, 2, F.size(cells) - 1), "\n"),
        ),
    ).otherwise(F.lit(""))
    return F.when(
        cells.isNull() | (F.size(cells) == 0), F.lit("")
    ).otherwise(F.concat(header, F.lit("\n"), sep, body))


def render_markdown(
    blocks: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Structured blocks → one markdown document per id.

    Input schema: ``(id_col, seq int, kind string, text string,
    cells array<array<string>>)`` with kind ∈ {h1..h6, p, li, table}
    — the relational form of an extracted page (the bridge from the
    layout kernel is :func:`markdown_blocks_from_pages`). Rendering:
    ``#``×n headings, plain paragraphs, ``- `` list items, GitHub pipe
    tables; blocks joined by blank lines in ``seq`` order.

    Plan: one projection renders every block, then ONE shuffle per
    document id; order is pinned by ``array_sort`` on (seq, md) structs
    — collect_list is partition-order-dependent, the sort makes
    assembly deterministic. Whole documents as strings: the same
    "document-sized value" contract every other per-doc operator here
    uses."""
    level = F.when(
        F.col("kind").rlike("^h[1-6]$"),
        F.substring("kind", 2, 1).cast("int"),
    )
    md = (
        F.when(level.isNotNull(),
               F.concat(F.expr("repeat('#', cast(substring(kind, 2, 1) as int))"),
                        F.lit(" "), F.coalesce("text", F.lit(""))))
        .when(F.col("kind") == "li",
              F.concat(F.lit("- "), F.coalesce("text", F.lit(""))))
        .when(F.col("kind") == "table", _table_md(F.col("cells")))
        .otherwise(F.coalesce("text", F.lit("")))  # p and unknown kinds
    )
    rendered = blocks.select(id_col, "seq", md.alias("md"))
    return (
        rendered.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq", "md"))),
                    lambda x: x["md"],
                ),
                "\n\n",
            ).alias("markdown")
        )
    )


def markdown_blocks_from_pages(pages: DataFrame) -> DataFrame:
    """Layout-kernel output → markdown blocks: each text line becomes a
    paragraph block, each table a table block, ordered by (page, y)
    with tables anchored at y_top; lines INSIDE a table's y-interval on
    the same page are dropped (they are the table's own cells). seq is
    a dense per-document row_number — deterministic because (page, y,
    is_table) is a total order within a page."""
    from pyspark.sql import Window

    line = F.explode_outer("lines").alias("line")
    lines = pages.select(
        "url", "page", F.col("tables").alias("_tbls"), line
    ).select(
        "url", "page",
        F.col("line.y").alias("y"),
        F.col("line.text").alias("text"),
        F.lit(0).alias("is_table"),
        F.lit(None).cast("array<array<string>>").alias("cells"),
        F.exists(
            "_tbls",
            lambda t: (F.col("line.y") >= t["y_top"])
            & (F.col("line.y") <= t["y_bottom"]),
        ).alias("_in_table"),
    ).filter(~F.coalesce("_in_table", F.lit(False))).drop("_in_table")
    tbl = F.explode_outer("tables").alias("tbl")
    tables = pages.select("url", "page", tbl).select(
        "url", "page",
        F.col("tbl.y_top").alias("y"),
        F.lit(None).cast("string").alias("text"),
        F.lit(1).alias("is_table"),
        F.col("tbl.rows").alias("cells"),
    ).filter(F.col("cells").isNotNull())
    both = lines.filter(F.col("text").isNotNull()).unionByName(tables)
    # (page, y, is_table) is NOT a total order: two lines at one y
    # (multi-column layouts) or two tables sharing a y_top would make
    # seq — hence the rendered markdown and its fingerprint — flip
    # between partitionings. Tie-break on the content itself.
    w = Window.partitionBy("url").orderBy(
        "page", "y", "is_table", "text", F.to_json("cells")
    )
    return both.select(
        F.col("url").alias("doc_id"),
        F.row_number().over(w).alias("seq"),
        F.when(F.col("is_table") == 1, F.lit("table")).otherwise(F.lit("p"))
        .alias("kind"),
        "text", "cells",
    )


def toc_from_blocks(blocks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Document outline from heading blocks: ``(id, seq, level, title,
    parent_seq, sec_label)`` where ``parent_seq`` is the NEAREST
    preceding heading with a smaller level and ``sec_label`` is the
    hierarchical section number ("2", "2.1", "2.1.3", …) — the
    reference's note-title hierarchy (L1/L2 notes, operators/notes.py)
    generalized to arbitrary h1–h6 trees.

    Shape: headings are a tiny dimension of the corpus (a few per
    document), so everything here is dimension-sized. parent lookup is
    NOT a self-join: with levels bounded at 6, six running-max window
    columns over ONE (id, seq) sort give "last seq at level ℓ", and
    ``greatest`` over the ℓ < level subset picks the nearest smaller
    level (greatest skips nulls). Labels then resolve with at most 5
    parent joins (level ℓ joins ℓ-1's labels) — a bounded unrolled
    recursion, each join heading-dimension-sized."""
    from pyspark.sql import Window

    h = blocks.filter(F.col("kind").rlike("^h[1-6]$")).select(
        id_col,
        "seq",
        F.substring("kind", 2, 1).cast("int").alias("level"),
        F.coalesce("text", F.lit("")).alias("title"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = [
        F.max(F.when(F.col("level") == lv, F.col("seq"))).over(w).alias(f"_r{lv}")
        for lv in range(1, 7)
    ]
    h = h.select(id_col, "seq", "level", "title", *run)
    parent = F.greatest(
        *[F.when(F.col("level") > lv, F.col(f"_r{lv}")) for lv in range(1, 6)]
    )
    h = h.select(
        id_col, "seq", "level", "title", parent.alias("parent_seq")
    ).withColumn(
        "n",
        F.row_number().over(
            Window.partitionBy(id_col, "level", "parent_seq").orderBy("seq")
        ),
    )
    roots = h.filter(F.col("parent_seq").isNull()).select(
        id_col, "seq", "level", "title", "parent_seq",
        F.col("n").cast("string").alias("sec_label"),
    )
    unresolved = h.filter(F.col("parent_seq").isNotNull())
    out = roots
    frontier = roots  # rows whose children can be labeled next round
    for _ in range(5):  # tree depth ≤ 6 → 5 rounds resolve everything
        child = unresolved.join(
            frontier.select(
                F.col(id_col).alias("_pid"), F.col("seq").alias("_pseq"),
                F.col("sec_label").alias("_plabel"),
            ),
            (F.col(id_col) == F.col("_pid"))
            & (F.col("parent_seq") == F.col("_pseq")),
        ).select(
            id_col, "seq", "level", "title", "parent_seq",
            F.concat("_plabel", F.lit("."), F.col("n").cast("string"))
            .alias("sec_label"),
        )
        out = out.unionByName(child)
        frontier = child
    return out


# --------------------------------------------------------------------------
# JSON-LD structured data (schema.org script blocks)
# --------------------------------------------------------------------------

_JSONLD_RE = r'(?s)<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>'


def jsonld_records(
    pages: DataFrame, id_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """schema.org JSON-LD blocks → typed records: ``(id, ld_idx,
    ld_type, title, published, author)``.

    The structured-data channel next to :func:`page_metadata`'s meta
    tags: news/product/article pages embed their canonical metadata as
    ``<script type="application/ld+json">`` — extraction pipelines
    prefer it over DOM heuristics when present (it is the publisher's
    OWN structured statement of title/date/author).

    Pure expression algebra: one RE2-portable lazy-dot regexp pulls the
    script bodies (``regexp_extract_all`` — bounded by the block, no
    backtracking hazards), ``get_json_object`` paths pull the fields
    (nested author.name included; ``$['@type']`` — bracket syntax for
    the @-key). Blocks that are malformed JSON or lack @type yield
    null type and are dropped — a crawl's broken embeds must never
    kill the pass. No UDF, no shuffle beyond the terminal explode."""
    h = F.coalesce(F.col(html_col), F.lit(""))
    blocks = pages.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(h, F.lit(_JSONLD_RE), F.lit(1)))
        .alias("ld_idx", "block"),
    )
    return blocks.select(
        id_col,
        "ld_idx",
        F.get_json_object("block", "$['@type']").alias("ld_type"),
        F.coalesce(
            F.get_json_object("block", "$.headline"),
            F.get_json_object("block", "$.name"),
        ).alias("title"),
        F.get_json_object("block", "$.datePublished").alias("published"),
        F.get_json_object("block", "$.author.name").alias("author"),
    ).filter(F.col("ld_type").isNotNull())


# --------------------------------------------------------------------------
# pagination chains (rel=next stitching)
# --------------------------------------------------------------------------

def pagination_chains(links: DataFrame, rounds: int = 5) -> DataFrame:
    """Resolve ``rel=next`` chains into ordered article sequences:
    input ``(url, next_url)`` edges (≤1 ``next`` per url — the HTML
    semantic), output ``(url, root, pos)`` with ``root`` the chain
    head (no inbound edge) and ``pos`` the 0-based page index.

    Algorithm: POINTER DOUBLING on the predecessor pointer (the
    classic parallel list-ranking trick): each node starts pointing at
    its predecessor with distance 1; every round replaces ``ptr`` by
    ``ptr(ptr)`` and adds the distances, so after ``rounds`` rounds
    every chain up to 2^rounds pages is fully resolved with O(log L)
    self-joins instead of an L-step sequential walk — the difference
    between 5 shuffles and 32 at crawl scale.

    Malformed loops (a→b→a — real crawls have them) never reach a
    root: after the rounds their pointer still has a predecessor, and
    they are dropped (a cycle has no first page; callers wanting them
    can diff against the input). Node set = urls ∪ next targets, so a
    chain tail with no outbound edge still ranks."""
    e = links.select(F.col("url").alias("u"), F.col("next_url").alias("v"))
    nodes = e.select(F.col("u").alias("node")).unionByName(
        e.select(F.col("v").alias("node"))
    ).distinct()
    # inbound collisions (two pages claiming the same next — crawls
    # have them) would fork the pointer list; keep the min-url claimant
    # so the predecessor pointer stays a function
    prev = e.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("ptr"))
    state = nodes.join(prev, "node", "left").select(
        "node", "ptr", F.when(F.col("ptr").isNull(), 0).otherwise(1).alias("d")
    )

    def step(state: DataFrame, _: int) -> DataFrame:
        t = state.select(
            F.col("node").alias("_tn"), F.col("ptr").alias("_tp"),
            F.col("d").alias("_td"),
        )
        return (
            state.join(t, state["ptr"] == t["_tn"], "left")
            .select(
                "node",
                F.when(F.col("_tp").isNotNull(), F.col("_tp"))
                .otherwise(F.col("ptr")).alias("ptr"),
                F.when(F.col("_tp").isNotNull(), F.col("d") + F.col("_td"))
                .otherwise(F.col("d")).alias("d"),
            )
        )

    # the state self-joins every round: uncut, round r's plan holds
    # 2^r copies of the first round
    state = iterate(state, step, rounds)
    t = state.select(F.col("node").alias("_tn"), F.col("ptr").alias("_tp"))
    return (
        state.join(t, state["ptr"] == t["_tn"], "left")
        .filter(F.col("ptr").isNull() | F.col("_tp").isNull())
        .select(
            "node",
            F.coalesce("ptr", "node").alias("root"),
            F.col("d").alias("pos"),
        )
        .select(F.col("node").alias("url"), "root", "pos")
    )


def stitch_paginated(
    pages: DataFrame, links: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Concatenate multi-page articles in chain order:
    ``(root, n_pages, full_text)``. One groupBy on the chain root;
    page order pinned by array_sort over (pos, text) structs."""
    chains = pagination_chains(links)
    joined = pages.select("url", F.coalesce(F.col(text_col), F.lit(""))
                          .alias("_t")).join(chains, "url")
    return joined.groupBy("root").agg(
        F.count("*").alias("n_pages"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_t"))),
                lambda s: s["_t"],
            ),
            "\n",
        ).alias("full_text"),
    )


def line_offsets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-span index of every line: ``(doc_id, line_no, start,
    end, line)`` with ``text[start:end] == line`` (0-based, end
    exclusive) — the span bookkeeping an annotation / provenance layer
    needs to point INTO the extracted text instead of copying it (the
    north-rule contract is text *and spans* per document).

    ``start`` is a prefix sum of previous line lengths plus their
    newline separators — one window over the doc_id partitioning the
    pipeline already has; the invariant is enforced by construction
    and regression-tested with a substring check."""
    lines = split_lines(docs, id_col, text_col)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        lines.withColumn("_len", F.length("line"))
        .withColumn(
            "start",
            (F.coalesce(F.sum(F.col("_len") + 1).over(w), F.lit(0)))
            .cast("long"),
        )
        .select(
            "doc_id", "line_no", "start",
            (F.col("start") + F.col("_len")).cast("long").alias("end"),
            "line",
        )
    )


def domain_frequent_lines(
    pages: DataFrame,
    min_docs: int = 3,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Domain-scoped boilerplate removal: a line is chrome iff it
    appears in ``min_docs``+ distinct documents OF THE SAME REGISTERED
    DOMAIN — the scope CCNet actually dedups at (per-shard ≈ per-site):
    "Terms apply" on 2 pages each of 40 different sites is content-ish
    and survives, while a site's own nav bar on every one of its pages
    is removed. The corpus-global rule (:func:`strip_frequent_lines`)
    cannot make that distinction.

    → ``(url, domain, n_lines, n_removed, kept_text)``.

    Scale shape: the frequency aggregate shuffles (domain, line-md5)
    digests; the flag join re-uses the same composite key, so AQE
    reuses the exchange. Unlike the global variant the frequent dim is
    domains × chrome-lines — too big to broadcast at crawl scale, so
    this is deliberately a key-aligned shuffle join, and the zipfian
    domain key is standard AQE-skew territory."""
    from .urls import registered_domain

    lines = pages.select(
        F.col(url_col).alias("url"),
        registered_domain(F.col(url_col)).alias("domain"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
        .alias("line_no", "line"),
    ).withColumn("line_key", F.md5(F.trim("line")))
    frequent = (
        # blank lines excluded from candidacy (see strip_frequent_lines)
        lines.filter(F.trim(F.col("line")) != "")
        .groupBy("domain", "line_key")
        .agg(F.countDistinct("url").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("domain", "line_key", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(frequent, ["domain", "line_key"], "left")
    return flagged.groupBy("url", "domain").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("is_boiler"), 1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_boiler").isNull(),
                               F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )


def script_ratio(html: Column) -> Column:
    """Fraction of the document occupied by ``<script>`` blocks — the
    cheap JS-heavy-page detector: a crawl route sends high-ratio pages
    to a rendering fetcher instead of the static kernel. Pure
    expression (lazy-dot RE2 regexp + length arithmetic), truncated to
    4dp for cross-engine exactness."""
    h = F.coalesce(html, F.lit(""))
    scripts = F.regexp_extract_all(h, F.lit(r"(?s)(<script[^>]*>.*?</script>)"),
                                   F.lit(1))
    script_chars = F.aggregate(scripts, F.lit(0), lambda a, x: a + F.length(x))
    return (
        F.floor(script_chars / F.greatest(F.length(h), F.lit(1)) * 10000.0)
        / 10000.0
    ).cast("double")


def meta_refresh_target(html: Column) -> Column:
    """Redirect target of a ``<meta http-equiv="refresh">`` tag (the
    client-side redirect crawls must chase): extracts the url= payload
    of the content attribute, case-insensitive, null when absent."""
    h = F.coalesce(html, F.lit(""))
    content = F.regexp_extract(
        h,
        r"""(?is)<meta[^>]*http-equiv\s*=\s*["']?refresh["']?[^>]*content\s*=\s*["']([^"']*)["']""",
        1,
    )
    url = F.trim(F.regexp_extract(content, r"""(?i)url\s*=\s*(.+)$""", 1))
    return F.when(url == "", None).otherwise(url)


# --------------------------------------------------------------------------
# HTML entity decoding
# --------------------------------------------------------------------------

#: the named subset a crawl actually meets (the full HTML5 table is
#: data, not code — extend this list). &amp; deliberately LAST: after
#: every other named entity is consumed, the leftover "&amp;lt;"
#: correctly becomes the literal "&lt;" (single-decode semantics);
#: replacing it earlier would double-decode.
NAMED_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ("&nbsp;", " "), ("&copy;", "©"), ("&reg;", "®"),
    ("&trade;", "™"), ("&hellip;", "…"), ("&mdash;", "—"),
    ("&ndash;", "–"), ("&lsquo;", "‘"), ("&rsquo;", "’"),
    ("&ldquo;", "“"), ("&rdquo;", "”"), ("&euro;", "€"), ("&deg;", "°"),
    ("&amp;", "&"),
]

# Codepoint → character in PURE SQL: Spark's chr() wraps mod 256, so
# the character is built by UTF-8-ENCODING the codepoint with integer
# arithmetic (1-4 byte cases), unhex'ing the hex string, and decoding
# the bytes — valid by construction for every non-surrogate codepoint
# ≤ U+10FFFF; surrogates/0/out-of-range yield NULL and the caller
# keeps the reference literal (HTML calls these invalid too).
_CP_TO_CHAR = """decode(unhex(CASE
  WHEN {n} <= 0 OR {n} > 1114111 OR ({n} >= 55296 AND {n} <= 57343)
    THEN CAST(NULL AS STRING)
  WHEN {n} < 128 THEN lpad(hex({n}), 2, '0')
  WHEN {n} < 2048
    THEN lpad(hex(192 + ({n} DIV 64)), 2, '0')
      || lpad(hex(128 + ({n} % 64)), 2, '0')
  WHEN {n} < 65536
    THEN lpad(hex(224 + ({n} DIV 4096)), 2, '0')
      || lpad(hex(128 + (({n} DIV 64) % 64)), 2, '0')
      || lpad(hex(128 + ({n} % 64)), 2, '0')
  ELSE lpad(hex(240 + ({n} DIV 262144)), 2, '0')
      || lpad(hex(128 + (({n} DIV 4096) % 64)), 2, '0')
      || lpad(hex(128 + (({n} DIV 64) % 64)), 2, '0')
      || lpad(hex(128 + ({n} % 64)), 2, '0')
  END), 'UTF-8')"""

_DEC_N = "CAST(regexp_extract(x, '^([0-9]{1,7});', 1) AS BIGINT)"
_HEX_N = "conv(regexp_extract(x, '^[xX]([0-9a-fA-F]{1,6});', 1), 16, 10)"

_NUMERIC_UNESCAPE = (
    """aggregate(
  slice(split(__COL__, '&#'), 2, greatest(size(split(__COL__, '&#')) - 1, 0)),
  try_element_at(split(__COL__, '&#'), 1),
  (acc, x) -> concat(acc,
    CASE
      WHEN x RLIKE '^[0-9]{1,7};'
           AND __DECCHR__ IS NOT NULL
        THEN concat(CASE WHEN __DECCHR__ = '&' THEN '\u0001A'
                         WHEN __DECCHR__ = '\u0001' THEN '\u0001B'
                         ELSE __DECCHR__ END,
                    substring(x, length(regexp_extract(x, '^[0-9]{1,7};', 0)) + 1))
      WHEN x RLIKE '^[xX][0-9a-fA-F]{1,6};'
           AND __HEXCHR__ IS NOT NULL
        THEN concat(CASE WHEN __HEXCHR__ = '&' THEN '\u0001A'
                         WHEN __HEXCHR__ = '\u0001' THEN '\u0001B'
                         ELSE __HEXCHR__ END,
                    substring(x, length(regexp_extract(x, '^[xX][0-9a-fA-F]{1,6};', 0)) + 1))
      ELSE concat('&#', x)
    END))"""
    .replace("__DECCHR__", _CP_TO_CHAR.replace("{n}", _DEC_N))
    .replace("__HEXCHR__", _CP_TO_CHAR.replace("{n}", _HEX_N))
)


def unescape_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """HTML entity decode for extracted text → ``(id, unescaped)``.

    Numeric character references (``&#8217;`` / ``&#x2019;``) decode
    via a split-on-``&#`` fold whose replacement character is UTF-8-
    assembled in pure integer SQL (see ``_CP_TO_CHAR`` — Spark's chr()
    wraps at 256, so the byte-level encoder is what makes full-unicode
    refs possible without a UDF); malformed, surrogate and out-of-range
    refs stay literal. Named entities then apply as a replace chain
    with ``&amp;`` last, so ``&amp;lt;`` and ``&#38;lt;`` both yield
    the literal ``&lt;`` — single-decode semantics. Zero shuffle."""
    src = docs.select(
        F.col(id_col),
        # pre-escape literal U+0001 (the sentinel lead byte) so neither
        # crawl text containing it nor a decoded "&#1;" can collide with
        # the ampersand marker: decoded '&' becomes the TWO-char
        # sequence \x01A, decoded/literal U+0001 becomes \x01B, and the
        # lead byte never appears bare until both unwind below
        F.replace(
            F.coalesce(F.col(text_col), F.lit("")),
            F.lit("\x01"), F.lit("\x01B"),
        ).alias("_he"),
    )
    out = F.expr(_NUMERIC_UNESCAPE.replace("__COL__", "_he"))
    for ent, ch in NAMED_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    # restore numeric-decoded ampersands (sentinel'd so the named chain
    # cannot double-decode "&#38;lt;" into "<"), then literal U+0001
    out = F.replace(out, F.lit("\x01A"), F.lit("&"))
    out = F.replace(out, F.lit("\x01B"), F.lit("\x01"))
    return src.select(id_col, out.alias("unescaped"))
