"""Text analysis for training-data pipelines over the ``documents``
table: language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure `pyspark.sql.functions` — every expression has
an exact ANSI-SQL twin used as the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text, normalized_words

# marker-word banks for the n-gram language heuristic (tiny, broadcast
# as literals inside the expression; counts are whole-word regex hits)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "das", "und", "ist"],
}

EN_STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "that", "it", "on"]

# BPE-ish token regex: word pieces, numbers, or single non-space symbols
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _marker_hits(text: Column, words: list[str]) -> Column:
    """Whole-word occurrence count of any marker word — case-folded,
    so Title Case and ALL-CAPS text still matches the lowercase marker
    lists (an ALL-CAPS English doc otherwise scored 0 for every latin
    language and fell through to the zh tie-break)."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def cjk_char_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"[一-鿿]"))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker density (hits per token)."""
    tokens = F.greatest(F.size(F.split(F.trim(text), r"\s+")), F.lit(1))
    out = {lang: _marker_hits(text, ws) / tokens for lang, ws in LANG_MARKERS.items()}
    out["zh"] = cjk_char_count(text) / F.greatest(F.length(text), F.lit(1))
    return out


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax marker density (deterministic
    tie-break by language name)."""
    scores = lang_scores(F.col(text_col))
    pairs = F.array(
        *[F.struct(s.alias("score"), F.lit(lang).alias("lang")) for lang, s in sorted(scores.items())]
    )
    best = F.array_max(pairs)
    return docs.withColumn("lang_pred", best["lang"]).withColumn("lang_score", best["score"])


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio / word-length features and
    a composite quality score (heuristics in the spirit of C4/Gopher
    text-quality rules, computed fully JVM-side)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.size(words)
    n_stop = _marker_hits(t, EN_STOPWORDS)
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    # word characters only: dividing FULL length (separators included)
    # by the word count skews the metric by ~+1 and disagrees with
    # gopher_gate's word_chars/n_words definition in this same module
    n_word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_word_len = n_word_chars / F.greatest(n_words, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_words, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    score = (
        F.when(n_words >= 50, F.lit(0.4)).otherwise(n_words / F.lit(125.0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.least(stop_ratio * 2, F.lit(0.3))
    )
    return (
        docs.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("quality_score", score)
    )


def readability_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch-reading-ease-style readability signals (words/sentence,
    syllables/word via vowel-group counting with a 1-syllable floor per
    word — the standard heuristic), fully JVM-side per row, zero shuffle.

    Floats are floor-truncated at 4dp (``floor(x*1e4)/1e4``) rather than
    rounded: Spark's ``F.round`` HALF_UPs the shortest-decimal BigDecimal
    while DuckDB rounds the raw double, and the two diverge on .xxxx5
    boundaries — truncation is bit-identical across engines (the same
    trick sketch.py documents).
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.greatest(F.size(words), F.lit(1))
    n_sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?。！？]+")), F.lit(1))
    syl = F.aggregate(
        F.transform(
            words,
            lambda w: F.greatest(
                F.regexp_count(F.lower(w), F.lit(r"[aeiouy]+")), F.lit(1)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    wps = n_words.cast("double") / n_sents
    spw = syl.cast("double") / n_words
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw

    def trunc4(c: Column) -> Column:
        return F.floor(c * F.lit(1e4)) / F.lit(1e4)

    return (
        docs.withColumn("n_sentences", n_sents.cast("long"))
        .withColumn("n_syllables", syl.cast("long"))
        .withColumn("words_per_sentence", trunc4(wps))
        .withColumn("syllables_per_word", trunc4(spw))
        .withColumn("flesch", trunc4(flesch))
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    t = F.col(text_col)
    return docs.withColumn(
        "ws_tokens", F.size(F.split(F.trim(t), r"\s+"))
    ).withColumn("re_tokens", F.regexp_count(t, F.lit(TOKEN_REGEX)))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase
    text (the exact-dedup key), plus a 64-bit prefix for compact joins."""
    norm = normalized_text(F.col(text_col))
    fp = F.md5(norm)
    return docs.withColumn("fp_md5", fp).withColumn(
        "fp64", F.conv(F.substring(fp, 1, 16), 16, 10).cast("decimal(20,0)")
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules) — pure per-row array
# expressions, NO shuffle: the correct 100 TB shape for per-document
# quality filtering is a narrow map, not an explode+groupBy.
# ---------------------------------------------------------------------------

def repetition_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document repetition signals:

    * ``distinct_word_ratio`` — |unique words| / |words|
    * ``top_bigram_frac``     — occurrences of the most frequent word
                                bigram / total bigrams

    O(n log n) PER ROW (``array_sort`` + one linear fold): the most
    frequent bigram's count equals the longest run of equal adjacent
    elements in the SORTED bigram array, so a jumbo 10⁵-word document is
    ~10⁶ comparisons in one task, not the 10¹⁰ of the naive
    distinct×scan formulation — no straggler factory, and still zero
    exchanges (the correct 100 TB shape for per-document quality
    filtering is a narrow map, not explode+groupBy).

    The word and bigram arrays are MATERIALIZED as intermediate columns
    (separate projections) before anything iterates over them: an
    expression-tree ``split()`` referenced inside a ``transform`` lambda
    is re-evaluated per element (Catalyst does not CSE across lambda
    invocations), which silently turns any downstream "linear" pass into
    O(n²) — re-splitting a 10⁵-word text 10⁵ times pegged a single task
    for 40+ minutes. CollapseProject keeps the split materialized
    because it is non-cheap and multiply-referenced.
    """
    ws = docs.select(
        F.col(id_col).alias("doc_id"), normalized_words(F.col(text_col)).alias("_w")
    )
    w = F.col("_w")
    bgs = ws.withColumn(
        "_bg",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.try_element_at(w, i), F.try_element_at(w, i + 1)
            ),
        ),
    )
    bg = F.col("_bg")
    top = F.aggregate(
        F.array_sort(bg),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return bgs.select(
        "doc_id",
        (F.size(F.array_distinct(w)) / F.size(w)).alias("distinct_word_ratio"),
        # a 0/1-word document HAS no bigrams: concat_ws silently drops
        # the null second element, so the degenerate lone-word "bigram"
        # used to score 1.0 and read as maximally repetitive to any
        # top_bigram_frac gate
        F.when(F.size(w) < 2, F.lit(0.0))
        .otherwise(top / F.size(bg))
        .alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII detection / masking — regex families shared verbatim between the
# Spark expressions and the DuckDB oracle (no lookarounds, both engines
# agree). Real pipelines extend PII_PATTERNS; the plan shape is fixed.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, tuple[str, str]] = {
    # name -> (regex, replacement token)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}", "[PHONE]"),
}


def pii_counts(text: Column) -> dict[str, Column]:
    return {name: F.regexp_count(text, F.lit(pat)) for name, (pat, _) in PII_PATTERNS.items()}


def mask_pii(text: Column) -> Column:
    out = text
    for pat, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, token)
    return out


# ---------------------------------------------------------------------------
# Unicode script composition (CCNet-style): the fraction of characters
# in each major script. Script ratios are what cleanly separates
# zh/ja/ko/ru/ar text where Latin marker-word densities say nothing,
# and they catch mixed-script spam (Latin text stuffed with CJK SEO
# tokens). Pure regexp_count projections — zero shuffle, codegen'd.
# Explicit code-point ranges (not \p{script=...}) so the Java and RE2
# engines count identically.
# ---------------------------------------------------------------------------

_SCRIPT_RANGES = {
    # BMP ranges; the main blocks per script, enough for ratio features
    "latin": r"A-Za-zÀ-ɏ",
    "han": r"一-鿿㐀-䶿",
    "kana": r"぀-ヿ",
    "hangul": r"가-힯ᄀ-ᇿ",
    "cyrillic": r"Ѐ-ӿ",
    "arabic": r"؀-ۿ",
    "greek": r"Ͱ-Ͽ",
    "digit": r"0-9",
}


def script_ratios(text: Column) -> dict[str, Column]:
    """script → fraction of (non-space) characters in that script."""
    base = F.greatest(
        F.length(F.regexp_replace(text, r"\s+", "")), F.lit(1)
    ).cast("double")
    return {
        name: F.regexp_count(text, F.lit(f"[{rng}]")) / base
        for name, rng in _SCRIPT_RANGES.items()
    }


def script_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document script-composition columns + the dominant script.

    → input + ``<script>_frac`` per script + ``main_script`` (argmax,
    deterministic name tie-break) + ``script_other_frac`` (characters
    outside every known range — high values flag encoding mojibake).
    """
    ratios = script_ratios(F.col(text_col))
    cols = {f"{k}_frac": F.round(v, 6) for k, v in ratios.items()}
    pairs = F.array(
        *[
            F.struct(v.alias("frac"), F.lit(k).alias("script"))
            for k, v in sorted(ratios.items())
        ]
    )
    out = docs.withColumns(cols)
    return out.withColumns(
        {
            "main_script": F.array_max(pairs)["script"],
            "script_other_frac": F.round(
                F.greatest(
                    F.lit(0.0),
                    1.0 - sum(ratios.values(), F.lit(0.0)),
                ),
                6,
            ),
        }
    )

# ---------------------------------------------------------------------------
# Full Gopher repetition suite + quality gate (Rae et al. 2021, §A1.1).
# Everything below is pure per-row array expressions — ZERO exchanges.
# At 10^12 documents the only viable shape for per-document quality
# rules is a narrow map the scan pipeline absorbs; an explode+groupBy
# formulation would shuffle every n-gram of the crawl.
# ---------------------------------------------------------------------------

# word n-grams scored by "fraction of characters in the most frequent
# n-gram" (n = 2..4) and "fraction of characters in repeated n-gram
# occurrences beyond the first" (n = 5..10) — the paper's two families.
TOP_NGRAM_NS = (2, 3, 4)
DUP_NGRAM_NS = (5, 6, 7, 8, 9, 10)

# Gopher Table A1 thresholds (rule name -> metric must satisfy)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _word_ngrams(w: Column, n: int) -> Column:
    """n-word grams of a MATERIALIZED word-array column (empty array when
    the doc has < n words). ``try_element_at``: ANSI mode is on."""
    gram = lambda i: F.concat_ws(
        " ", *[F.try_element_at(w, i + k) for k in range(n)]
    )
    return F.when(
        F.size(w) >= n,
        F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def _run_length_fold(grams: Column) -> Column:
    """One pass over the SORTED gram array: struct(best, dup, tot) where
    ``best`` = max over grams of count*len(gram) (top-n-gram chars),
    ``dup``  = sum over repeated occurrences beyond the first of
    len(gram) (duplicate-n-gram chars), ``tot`` = chars over ALL grams
    (the normalizer: overlapping n-grams cover ~n× the text's chars, so
    normalizing by text length yields fractions > 1 — gram-chars keeps
    both metrics in [0, 1] and converges to the same signal for heavy
    repetition). O(g log g) per row — the sort replaces the naive
    distinct×scan O(g²) that stalls jumbo docs."""
    return F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("dup"),
            F.lit(0).cast("long").alias("tot"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                (
                    F.when(x == acc["prev"], acc["run"] + 1)
                    .otherwise(F.lit(1))
                    .cast("long")
                    * F.length(x)
                ),
            ).alias("best"),
            (
                acc["dup"]
                + F.when(x == acc["prev"], F.length(x).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dup"),
            (acc["tot"] + F.length(x)).alias("tot"),
        ),
        lambda acc: F.struct(
            acc["best"].alias("best"),
            acc["dup"].alias("dup"),
            acc["tot"].alias("tot"),
        ),
    )


def _dup_fracs(items: Column) -> tuple[Column, Column]:
    """(duplicate fraction, duplicate-character fraction) of a string
    array: repeats beyond the first occurrence, chars = len(item)."""
    total = F.size(items)
    distinct = F.array_distinct(items)
    chars = F.aggregate(
        items, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    chars_d = F.aggregate(
        distinct, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    frac = F.when(
        total > 0, (total - F.size(distinct)) / total
    ).otherwise(F.lit(0.0))
    cfrac = F.when(chars > 0, (chars - chars_d) / chars).otherwise(F.lit(0.0))
    return frac, cfrac


def _split_lines(t: Column) -> Column:
    return F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )


def _split_paras(t: Column) -> Column:
    return F.filter(
        F.transform(F.split(t, r"\n{2,}"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def gopher_repetition(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The full Gopher repetition-signal suite per document
    (Rae et al. 2021 §A1.1; supersedes the 2-metric
    ``repetition_features``):

    * ``dup_line_frac`` / ``dup_para_frac`` — fraction of lines /
      paragraphs that are repeats of an earlier one
    * ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
      line/paragraph characters inside those repeats
    * ``top_{n}gram_char_frac`` (n=2..4) — chars covered by the most
      frequent word n-gram / chars over ALL n-grams of that n
    * ``dup_{n}gram_char_frac`` (n=5..10) — chars in repeated n-gram
      occurrences beyond the first / chars over ALL n-grams of that n
      (gram-chars normalizer: overlapping grams cover ~n× the text's
      characters, so a text-length denominator yields fractions > 1;
      this variant is bounded [0, 1] and order-equivalent)

    Lines split on ``\\n``, paragraphs on blank lines (``\\n{2,}``),
    both trimmed with empties dropped. All metrics are per-row array
    expressions over MATERIALIZED word/gram columns (an expression
    re-evaluated inside a lambda is not CSE'd across elements — the
    O(n²) trap documented on ``repetition_features``); zero exchanges.
    """
    t = F.col(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        normalized_words(t).alias("_w"),
        _split_lines(t).alias("_lines"),
        _split_paras(t).alias("_paras"),
    )
    gram_cols = {
        f"_g{n}": _word_ngrams(F.col("_w"), n)
        for n in (*TOP_NGRAM_NS, *DUP_NGRAM_NS)
    }
    staged = base.withColumns(gram_cols)
    fold_cols = {
        f"_f{n}": _run_length_fold(F.col(f"_g{n}"))
        for n in (*TOP_NGRAM_NS, *DUP_NGRAM_NS)
    }
    staged = staged.withColumns(fold_cols)
    line_f, line_cf = _dup_fracs(F.col("_lines"))
    para_f, para_cf = _dup_fracs(F.col("_paras"))
    out: dict[str, Column] = {
        "dup_line_frac": line_f,
        "dup_line_char_frac": line_cf,
        "dup_para_frac": para_f,
        "dup_para_char_frac": para_cf,
    }
    for n in TOP_NGRAM_NS:
        f = F.col(f"_f{n}")
        out[f"top_{n}gram_char_frac"] = F.when(
            f["tot"] > 0, f["best"] / f["tot"]
        ).otherwise(F.lit(0.0))
    for n in DUP_NGRAM_NS:
        f = F.col(f"_f{n}")
        out[f"dup_{n}gram_char_frac"] = F.when(
            f["tot"] > 0, f["dup"] / f["tot"]
        ).otherwise(F.lit(0.0))
    return staged.select("doc_id", *[v.alias(k) for k, v in out.items()])


def gopher_gate(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher Table-A1 document gate: every rule as a named boolean,
    ``keep`` = all pass, ``fail_reasons`` = comma-joined failed rule
    names in fixed order (string, not array — cross-engine hash-stable).

    Rules: 50 ≤ words ≤ 100k; 3 ≤ mean word length ≤ 10; symbol/word
    ratio (#, … or ...) ≤ 0.1; ≤ 90% of lines bullet-led; ≤ 30% of
    lines ellipsis-ended; ≥ 80% of words contain a letter; ≥ 2 distinct
    Gopher stopwords; dup-line fraction ≤ 0.30 and dup-line char
    fraction ≤ 0.20; top-n-gram and dup-n-gram ceilings per
    ``TOP_NGRAM_MAX`` / ``DUP_NGRAM_MAX``. One narrow projection,
    zero exchanges — composes with ``plans/curate.py:quality_gate``.
    """
    t = F.col(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        normalized_words(t).alias("_w"),
        _split_lines(t).alias("_lines"),
        t.alias("_t"),
    )
    gram_cols = {
        f"_g{n}": _word_ngrams(F.col("_w"), n)
        for n in (*TOP_NGRAM_NS, *DUP_NGRAM_NS)
    }
    staged = base.withColumns(gram_cols).withColumns(
        {
            f"_f{n}": _run_length_fold(F.col(f"_g{n}"))
            for n in (*TOP_NGRAM_NS, *DUP_NGRAM_NS)
        }
    )
    w, lines, t2 = F.col("_w"), F.col("_lines"), F.col("_t")
    n_words = F.size(w)
    word_chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mean_wl = F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    n_sym = F.regexp_count(t2, F.lit(r"#")) + F.regexp_count(
        t2, F.lit(r"\.\.\.|…")
    )
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"^[-*•]"))) / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)$"))) / n_lines
    )
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(w, lambda x: x.rlike(r"[a-zA-Z]"))) / n_words,
    ).otherwise(F.lit(0.0))
    n_stop = sum(
        (
            F.when(F.array_contains(w, s), F.lit(1)).otherwise(F.lit(0))
            for s in GOPHER_STOPWORDS
        ),
        F.lit(0),
    )
    line_f, line_cf = _dup_fracs(lines)
    rules: dict[str, Column] = {
        "word_count": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "symbol_ratio": F.when(
            n_words > 0, n_sym / n_words <= 0.1
        ).otherwise(F.lit(False)),
        "bullet_lines": bullet_frac <= 0.9,
        "ellipsis_lines": ellipsis_frac <= 0.3,
        "alpha_words": alpha_frac >= 0.8,
        "stop_words": n_stop >= 2,
        "dup_lines": line_f <= 0.30,
        "dup_line_chars": line_cf <= 0.20,
    }
    for n in TOP_NGRAM_NS:
        f = F.col(f"_f{n}")
        rules[f"top_{n}gram"] = F.when(
            f["tot"] > 0, f["best"] / f["tot"] <= TOP_NGRAM_MAX[n]
        ).otherwise(F.lit(True))
    for n in DUP_NGRAM_NS:
        f = F.col(f"_f{n}")
        rules[f"dup_{n}gram"] = F.when(
            f["tot"] > 0, f["dup"] / f["tot"] <= DUP_NGRAM_MAX[n]
        ).otherwise(F.lit(True))
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(~c, F.lit(name)).otherwise(F.lit(None))
                    for name, c in rules.items()
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    flag_cols = {f"pass_{k}": v for k, v in rules.items()}
    return staged.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[v.alias(k) for k, v in flag_cols.items()],
        keep.alias("keep"),
        reasons.alias("fail_reasons"),
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source dataset-card statistics — the summary table a corpus
    release ships (docs, tokens, length distribution, language spread,
    exact-duplicate mass).

    Output per ``source``: ``n_docs``, ``total_tokens`` (whitespace),
    ``avg_chars``, ``median_tokens`` (exact linear-interpolated
    percentile — identical definition to DuckDB ``quantile_cont``),
    ``n_langs``, ``dup_docs`` (rows minus distinct normalized-md5
    fingerprints: the exact-duplicate surplus within the source).

    ONE aggregation on the source key; every statistic is a partial-
    aggregable expression except the exact median, which at 100 TB
    would switch to ``percentile_approx`` — kept exact here because the
    cross-engine oracle gate needs a deterministic value.
    """
    t = F.col(text_col)
    ws_tokens = F.size(F.split(F.trim(t), r"\s+"))
    fp = F.md5(normalized_text(t))
    staged = docs.select(
        "source",
        "lang",
        F.length(t).alias("_chars"),
        ws_tokens.alias("_tok"),
        fp.alias("_fp"),
    )
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("total_tokens"),
        F.round(F.avg("_chars"), 2).alias("avg_chars"),
        F.round(F.percentile("_tok", 0.5), 1).alias("median_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count("*") - F.countDistinct("_fp")).alias("dup_docs"),
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document zlib compression ratio — the entropy proxy that
    catches low-information text (templates, keyword stuffing, repeated
    boilerplate) that n-gram repetition metrics miss when the repeats
    are long-range or lightly mutated. Low ratio = highly compressible
    = repetitive; natural prose lands roughly 0.3-0.6.

    Arrow-batched kernel (``mapInPandas``): zlib has no JVM-side
    expression, so this is the documented slow-path exception — one
    narrow map over (doc_id, text), no shuffle, batch-level Python with
    the per-row work being the C zlib call itself. Deterministic
    (fixed level 6), so results are stable across runs/partitionings;
    cross-engine SQL oracle is impossible by construction (rows-only
    gate, like the layout kernels).

    Output: ``doc_id, n_bytes, n_compressed, compression_ratio``.
    """
    from typing import Iterator

    import pandas as pd

    # the id passes through untyped (string url keys are as common as
    # long doc_ids in this engine) — the output schema mirrors whatever
    # the input declares instead of hardcoding long
    id_type = docs.schema[id_col].dataType.simpleString()
    src = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for b in batches:
            raw = [t.encode("utf-8") for t in b["_t"]]
            n_bytes = [len(r) for r in raw]
            n_comp = [len(zlib.compress(r, 6)) for r in raw]
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "n_compressed": pd.Series(n_comp, dtype="int64"),
                    "compression_ratio": [
                        c / nb if nb else 1.0 for c, nb in zip(n_comp, n_bytes)
                    ],
                }
            )

    return src.mapInPandas(
        kernel,
        schema=f"doc_id {id_type}, n_bytes long, n_compressed long, "
               "compression_ratio double",
    )


def char_diversity(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Character-level Gini–Simpson diversity: ``1 − Σ cᵢ(cᵢ−1) / (n(n−1))``
    where ``cᵢ`` are per-character counts — 0 for a one-character spam
    string, →1 for maximally varied text. The repetitiveness signal an
    entropy score gives, WITHOUT the cross-engine hazard: everything is
    integer arithmetic until one final correctly-rounded IEEE division,
    so Spark and any oracle agree bit-for-bit (log2-based entropy can
    diverge by an ulp between libm implementations and flip a floor).

    Zero-shuffle per-row expressions: the char and distinct-char arrays
    are materialized as columns BEFORE the counting lambdas reference
    them (an expression referenced inside a transform lambda is
    re-evaluated per element — the quadratic-blowup lesson from
    repetition_features). O(n·distinct) per row with distinct ≤ charset.
    """
    chars = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), ""), lambda x: x != "")
    out = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .withColumn("_chars", chars)
        .withColumn("_distinct", F.array_distinct(F.col("_chars")))
    )
    counts = F.transform(
        F.col("_distinct"),
        lambda c: F.size(F.filter(F.col("_chars"), lambda x: x == c)).cast("long"),
    )
    s = F.aggregate(counts, F.lit(0).cast("long"), lambda acc, c: acc + c * (c - 1))
    n = F.size(F.col("_chars")).cast("long")
    div = F.when(
        n >= 2,
        F.floor((F.lit(1.0) - s.cast("double") / (n * (n - 1)).cast("double")) * 1e6) / 1e6,
    )
    return out.select(
        "doc_id",
        n.alias("n_chars_counted"),
        F.size(F.col("_distinct")).alias("n_distinct_chars"),
        div.alias("char_diversity"),
    )


def attribute_records(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Dolma-style attribute sidecar: ``(id, attributes)`` where
    ``attributes`` is one deterministic JSON object string carrying
    the integer quality signals downstream taggers consume WITHOUT
    re-reading bodies (the attributes-file convention of Dolma /
    FineWeb-style pipelines: documents and annotations live in
    separate, id-joined files)::

        {"n_chars":N,"ws_tokens":N,"re_tokens":N,
         "pii_email":N,"pii_phone":N,"moji_ppm":N}

    The JSON is assembled by CONCAT with a fixed key order — not
    ``to_json`` — so the string (and its hash) is bit-identical on any
    engine; every value is an exact integer (moji score in ppm via the
    encoding module's floor). Pure projection, zero shuffle."""
    from .encoding import fix_mojibake

    t = F.coalesce(F.col(text_col), F.lit(""))
    pii = pii_counts(t)
    moji = F.floor(
        (F.length(t) - F.length(fix_mojibake(t)))
        / F.greatest(F.length(t), F.lit(1)) * 1e6
    ).cast("long")
    attributes = F.concat(
        F.lit('{"n_chars":'), F.length(t).cast("string"),
        F.lit(',"ws_tokens":'),
        F.size(F.split(F.trim(t), r"\s+")).cast("string"),
        F.lit(',"re_tokens":'),
        F.regexp_count(t, F.lit(TOKEN_REGEX)).cast("string"),
        F.lit(',"pii_email":'), pii["email"].cast("string"),
        F.lit(',"pii_phone":'), pii["phone"].cast("string"),
        F.lit(',"moji_ppm":'), moji.cast("string"),
        F.lit("}"),
    )
    return docs.select(F.col(id_col), attributes.alias("attributes"))
