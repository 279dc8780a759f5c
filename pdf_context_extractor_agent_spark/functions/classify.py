"""Model-apply operators: score documents with a trained linear
bag-of-words text classifier (fastText / CCNet quality-filter shape)
at corpus scale.

The 100 TB shape: the MODEL is small (a ``(term, weight)`` table —
even a 1M-term vocabulary is ~20 MB) while the corpus is huge, so
scoring is a broadcast hash join on the exploded term stream followed
by a map-side partially-aggregated mean — one shuffle on ``doc_id``
whose bytes-per-row are independent of document length. No per-row
Python anywhere.

The reference scores documents by prompting an LLM
(``src/llm_client.py``); this rebuild is LLM-free by mandate, so the
scoring hook is a deterministic linear model — the standard
quality-classifier stage of web-corpus curation pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_words


def hashed_term_weight(term: Column) -> Column:
    """Deterministic stand-in weight in [-0.5, 0.5): the first 16 bits
    of ``md5(term)``, scaled. Every value is an exact multiple of 2^-16,
    so per-document weight sums are EXACT in double precision —
    cross-engine reproducible regardless of aggregation order. A
    trained model's weights arrive as a table and replace this."""
    return (
        F.conv(F.substring(F.md5(term), 1, 4), 16, 10).cast("long")
        / F.lit(65536.0)
        - F.lit(0.5)
    )


def vocabulary_model(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(term, weight)`` model table over the corpus vocabulary with
    hashed weights — the deterministic test/bench model. One explode of
    per-doc DISTINCT terms + a global distinct; vocabulary tables are
    dimension-sized, never corpus-sized."""
    return (
        docs.select(
            F.explode(F.array_distinct(normalized_words(F.col(text_col)))).alias("term")
        )
        .distinct()
        .withColumn("weight", hashed_term_weight(F.col("term")))
    )


def apply_linear_model(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
) -> DataFrame:
    """Score every document with a ``(term, weight)`` linear
    bag-of-words model: ``margin = bias + mean(weight)`` over the
    document's full term stream (out-of-vocabulary terms contribute 0),
    ``label = margin > 0``.

    → ``(doc_id, n_terms, margin, label)``

    Plan shape: explode → broadcast-join the model → one partial-agg
    groupBy(doc_id). The explode carries only (doc_id, term); document
    bodies never shuffle.
    """
    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(F.col(text_col))).alias("term"),
    )
    scored = terms.join(F.broadcast(model), "term", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (
                F.lit(bias)
                + F.coalesce(F.sum("weight"), F.lit(0.0)) / F.count(F.lit(1))
            ).alias("margin"),
        )
        .withColumn("label", F.col("margin") > 0)
    )
