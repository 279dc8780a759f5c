"""Distributed BPE tokenizer training (Sennrich et al. 2016, ACL).

The training corpus a 100 TB pipeline tokenizes is also where the
tokenizer comes from, so merge learning is a first-class engine op.
Scale decomposition (the classic one):

* the only corpus-wide shuffle is ONE ``groupBy(word)`` count — the
  vocabulary relation is dimension-sized (distinct words, not corpus
  rows) and every later round runs on it;
* each merge round is one tiny aggregation over adjacent symbol pairs
  of the vocab (weighted by word count) + a one-row driver action for
  the argmax pair (the model parameter being learned, like the
  query-vector fetches in similarity.py);
* applying a merge is a LITERAL string replace on the delimited symbol
  encoding — no per-row Python anywhere.

Symbol encoding: a word's symbol sequence is stored as
``|s1|s2|...|sn|`` (pipe-delimited, pipes never occur in corpus
words). Merging pair (a, b) is ``replace(enc, '|a|b|', '|ab|')`` —
left-to-right non-overlapping, which is exactly the canonical BPE
greedy merge order, and both Spark's and DuckDB's ``replace`` agree on
it, so the whole iterative algorithm is oracle-checkable round by
round. (Simplified vs Sennrich: no end-of-word marker.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_words
from .iterate import iterate


def encode_word(word: Column) -> Column:
    """``'abc'`` → ``'|a|b|c|'`` (initial one-char symbols)."""
    return F.concat(F.lit("|"), F.regexp_replace(word, "(.)", "$1|"))


def bpe_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, cnt, enc)`` vocabulary with occurrence counts — the one
    corpus-wide shuffle of BPE training."""
    w = docs.select(F.explode(normalized_words(F.col(text_col))).alias("word"))
    return (
        w.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("enc", encode_word(F.col("word")))
    )


def _symbols(enc: Column) -> Column:
    return F.filter(F.split(enc, r"\|"), lambda x: x != "")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the vocab, weighted by word
    occurrence count (every occurrence of a pair inside a word counts)."""
    syms = _symbols(F.col("enc"))
    staged = vocab.select("cnt", syms.alias("_s"))
    s = F.col("_s")
    pairs = F.when(
        F.size(s) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.struct(
                F.try_element_at(s, i).alias("left"),
                F.try_element_at(s, i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    return (
        staged.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy("p.left", "p.right")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def learn_bpe(
    docs: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> tuple[list[dict], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus.

    → (merges, final_vocab): ``merges`` is the learned model — a list
    of ``{step, left, right, merged, pair_count}`` dicts in merge
    order (tie-break: count desc, then (left, right) lexicographic, so
    any engine and any retry learns the identical tokenizer);
    ``final_vocab`` is the ``(word, cnt, enc)`` relation after all
    merges. Each round reads one aggregated row on the driver — the
    parameter being learned — never corpus data.
    """
    merges: list[dict] = []

    def step(vocab: DataFrame, i: int) -> DataFrame | None:
        # this collect is the round's first action: it materialises the
        # cut iterate() put on ``vocab``, so the replace chain runs once
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_count"), "left", "right")
            .limit(1)
            .collect()
        )
        if not best:
            return None
        b = best[0]
        merges.append(dict(b.asDict(), step=i + 1, merged=b["left"] + b["right"]))
        return vocab.withColumn(
            "enc",
            F.replace(
                F.col("enc"),
                F.lit(f"|{b['left']}|{b['right']}|"),
                F.lit(f"|{b['left']}{b['right']}|"),
            ),
        )

    vocab = iterate(bpe_vocab(docs, text_col), step, n_merges)
    return merges, vocab


def bpe_merges_df(
    spark, docs: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> DataFrame:
    """The learned merge table as a DataFrame (driver-query surface)."""
    merges, _ = learn_bpe(docs, n_merges, text_col)
    rows = [
        (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in merges
    ]
    return spark.createDataFrame(
        rows,
        "step int, left_sym string, right_sym string, merged string, pair_count bigint",
    )


def bpe_token_counts(
    docs: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> DataFrame:
    """Corpus token distribution under the learned tokenizer:
    ``(token, n_tokens)`` — final symbols exploded from the merged
    vocab, weighted by word counts."""
    _, vocab = learn_bpe(docs, n_merges, text_col)
    return (
        vocab.select(F.explode(_symbols(F.col("enc"))).alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n_tokens"))
    )
