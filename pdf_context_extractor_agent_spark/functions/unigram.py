"""Unigram-LM subword segmentation (the SentencePiece family, Kudo
2018), quantized to EXACT integer arithmetic.

SentencePiece's unigram model scores a segmentation by Σ log p(piece)
and picks the Viterbi best. Floating logs are engine-dependent, so this
module uses the QUANTIZED-LOG objective::

    score(piece) = ilog2(cnt(piece)) - ilog2(Σ cnt)   (≤ 0)

with ilog2 = bit-length (a string-length of the binary representation,
the sketch.py trick) — the integer quantization of ``log p(piece) =
log cnt - log N``. The normalizer term is what makes the objective a
real unigram LM: every extra piece pays the ``-ilog2(N)`` penalty, so
frequent LONG pieces win (without it, Σ ilog2(cnt) would reward
splitting into many common single characters — caught by the unit
test the first time around). Ties resolve by a
TOTAL integer order: (score DESC, n_pieces ASC, boundary-mask DESC) —
the mask packs the segmentation's boundary positions into one BIGINT,
so any two distinct segmentations of a word compare differently.

Vocabulary: every substring of length ≤ ``max_len`` with corpus count
≥ ``min_count``; single characters are ALWAYS kept so the DP is total
(any word segments, the SentencePiece character-coverage guarantee).

Plan shapes:

* :func:`piece_counts` — words aggregate once (corpus → word-frequency
  dim), pieces explode off the DISTINCT word dim (≤ len·max_len rows
  per distinct word), one groupBy on the piece. The corpus-sized
  relation is touched exactly once.
* :func:`viterbi_segment` — DP over character positions as
  ``max_word_len`` rounds of dimension-sized joins: round j computes
  ``dp[j]`` for every word from ``dp[j-k]`` × a piece lookup
  (``k ≤ max_len``), one max-struct groupBy per round. The DP relation
  is the DISTINCT-WORD dimension — segmentation never touches the
  corpus; callers join the result back by word. The rounds run under
  :func:`iterate`, which cuts the frontier's lineage between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import iterate

DEFAULT_MAX_LEN = 4
DEFAULT_MAX_WORD = 10


def _words(docs: DataFrame, text_col: str) -> DataFrame:
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    return docs.select(F.explode(toks).alias("word"))


def piece_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_len: int = DEFAULT_MAX_LEN,
    min_count: int = 2,
    max_word: int = DEFAULT_MAX_WORD,
) -> DataFrame:
    """(piece, cnt, score) — corpus substring counts with the
    quantized-log score. Words longer than ``max_word`` are dropped
    (both here and in segmentation — the cap that bounds the DP)."""
    wf = (
        _words(docs, text_col)
        .filter(F.length("word") <= max_word)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    pieces = wf.select(
        "word", "wf",
        F.explode(F.expr("sequence(1, length(word))")).alias("start"),
    ).select(
        "word", "wf", "start",
        F.explode(
            F.expr(f"sequence(1, least({max_len}, length(word) - start + 1))")
        ).alias("k"),
    ).select(
        F.expr("substring(word, start, k)").alias("piece"),
        F.col("wf"),
    )
    counted = pieces.groupBy("piece").agg(F.sum("wf").alias("cnt"))
    vocab = counted.filter(
        (F.length("piece") == 1) | (F.col("cnt") >= min_count)
    )
    total = vocab.agg(F.sum("cnt").alias("_t"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece", "cnt",
        (
            F.length(F.conv(F.col("cnt"), 10, 2))
            - F.length(F.conv(F.col("_t"), 10, 2))
        ).cast("int").alias("score"),
    )


def viterbi_segment(
    words: DataFrame,
    pieces: DataFrame,
    max_len: int = DEFAULT_MAX_LEN,
    max_word: int = DEFAULT_MAX_WORD,
) -> DataFrame:
    """Best segmentation per distinct word →
    ``(word, segmentation, score, n_pieces)`` with pieces joined by
    spaces. ``words`` needs a ``word`` column; ``pieces`` is
    :func:`piece_counts` output (must contain every single character
    of the words — guaranteed when built from the same corpus)."""
    w = (
        words.select("word").filter(
            (F.length("word") >= 1) & (F.length("word") <= max_word)
        ).distinct()
    )
    p = pieces.select("piece", "score")
    # dp rows: (word, pos, score, np, mask, path); pos = chars consumed
    dp = w.select(
        "word",
        F.lit(0).alias("pos"),
        F.lit(0).alias("score"),
        F.lit(0).alias("np"),
        F.lit(0).cast("long").alias("mask"),
        F.lit("").alias("path"),
    )

    def step(frontier: DataFrame, i: int) -> DataFrame:
        j = i + 1
        # extend any frontier state at pos in [j-max_len, j-1] to pos j
        cand = (
            frontier.filter(
                (F.col("pos") >= j - max_len) & (F.col("pos") < j)
                & (F.length("word") >= j)
            )
            .withColumn("_piece", F.expr(f"substring(word, pos + 1, {j} - pos)"))
            .join(p.withColumnRenamed("piece", "_piece")
                   .withColumnRenamed("score", "_s"), "_piece")
            .select(
                "word",
                F.lit(j).alias("pos"),
                (F.col("score") + F.col("_s")).alias("score"),
                (F.col("np") + 1).alias("np"),
                F.expr(f"mask + shiftleft(CAST(1 AS BIGINT), {j})").alias("mask"),
                F.when(F.col("path") == "", F.col("_piece"))
                .otherwise(F.concat("path", F.lit(" "), F.col("_piece")))
                .alias("path"),
            )
        )
        best_j = (
            cand.groupBy("word")
            .agg(F.max(F.struct(
                F.col("score"), (-F.col("np")).alias("nn"), F.col("mask"),
                F.col("np"), F.col("pos"), F.col("path"),
            )).alias("b"))
            .select(
                "word",
                F.col("b.pos").alias("pos"),
                F.col("b.score").alias("score"),
                F.col("b.np").alias("np"),
                F.col("b.mask").alias("mask"),
                F.col("b.path").alias("path"),
            )
        )
        return frontier.unionByName(best_j)

    frontier = iterate(dp, step, max_word)
    done = frontier.filter(F.col("pos") == F.length("word"))
    return done.select(
        "word",
        F.col("path").alias("segmentation"),
        "score",
        F.col("np").alias("n_pieces"),
    )
