"""End-to-end corpus curation plan: the training-data assembly line.

Composes the engine's webtext operators into the standard curation
sequence (the C4 / CCNet / Gopher pipeline shape) over a documents
table — one call from raw text to a deduplicated, quality-gated,
split-assigned corpus:

    normalize → language/quality/repetition/PII signals → gate →
    exact dedup → MinHash-LSH near-dup → cluster resolution →
    canonical keep → train/val/test splits

Plan-shape invariants (each inherited from the operator modules):

* Signal computation is one narrow projection pass — every per-doc
  signal (lang scores, quality features, repetition, PII counts) is
  column algebra over the same scan; no shuffle until the first dedup
  groupBy.
* The quality gate FILTERS before any shuffle, so the expensive dedup
  stages see only surviving documents (at 100 TB the gate typically
  drops 60-80% of raw crawl — shuffling it first would be the single
  biggest wasted cost in the whole pipeline).
* Near-dup clustering shuffles ids and 16-byte digests, never bodies;
  the final keep is an id-join back to the gated corpus.

Every stage also lands in the output as audit columns (why a doc was
dropped), because at corpus scale "filter silently" is how curation
bugs ship: the `verdicts` relation keeps one row per INPUT document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import dedup_clusters, exact_dedup, minhash_dedup
from ..functions.quality import lang_id, quality_features, repetition_features
from ..functions.sampling import assign_splits


DEFAULT_GATES = {
    # Gopher-flavoured bounds, tuned loose for the synthetic corpus;
    # production pipelines sweep these per source
    "min_words": 5,
    "max_words": 200_000,
    "min_distinct_word_ratio": 0.2,
    "max_top_bigram_frac": 0.5,
}


def quality_gate(docs: DataFrame, gates: dict | None = None,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document signals + keep/drop verdict, one narrow pass plus
    the repetition projections. → input columns + signal columns +
    ``gate_reasons`` (array, empty = keep)."""
    g = {**DEFAULT_GATES, **(gates or {})}
    sig = quality_features(lang_id(docs, text_col), text_col)
    rep = repetition_features(docs, id_col, text_col)
    sig = sig.join(rep, sig[id_col] == rep["doc_id"], "left").drop(rep["doc_id"])

    def flag(cond, label):
        # concat-of-conditional-arrays, NOT array_compact: array_compact
        # is CodegenFallback and would knock this text-heavy projection
        # off whole-stage codegen (SCALE.md, codegen discipline #1)
        return F.when(cond, F.array(F.lit(label))).otherwise(
            F.array().cast("array<string>")
        )

    reasons = F.concat(
        flag(F.col("n_words") < g["min_words"], "too_short"),
        flag(F.col("n_words") > g["max_words"], "too_long"),
        flag(
            F.col("distinct_word_ratio") < g["min_distinct_word_ratio"],
            "low_diversity",
        ),
        flag(F.col("top_bigram_frac") > g["max_top_bigram_frac"], "repetitive"),
    )
    return sig.withColumn("gate_reasons", reasons)


def curate(
    docs: DataFrame,
    gates: dict | None = None,
    splits: dict | None = None,
    near_dup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    prior_bloom: DataFrame | None = None,
    bloom_m: int = 1 << 16,
    bloom_k: int = 5,
) -> dict[str, DataFrame]:
    """Full curation run. Returns:

    * ``corpus``   — surviving canonical documents with split labels
    * ``verdicts`` — one row per INPUT doc: gate reasons, exact-dup /
                     near-dup verdicts, final ``kept`` flag (the audit
                     trail; at 10^12 docs this is the relation that
                     answers "why did my page disappear")

    ``blocklist`` (optional, a relation of ``entry`` host patterns)
    prepends a URL/domain filter: blocked documents pick up a
    ``blocked_domain`` gate reason — first in the line because it costs
    one broadcast join on the already-computed host, so it prunes
    before any text is even tokenized.

    ``prior_bloom`` (optional, the words relation from
    :func:`~..functions.bloom.bloom_build` over PRIOR snapshots'
    content digests) adds cross-snapshot incremental dedup: documents
    whose ``md5(normalized_text)`` probes true pick up a
    ``seen_in_prior_snapshot`` gate reason via the shuffle-free
    k-broadcast-join probe — the history stays a few-MB artifact
    instead of a multi-terabyte join side. Bloom false positives can
    drop a genuinely-new document (never the reverse); size m/k for
    the acceptable loss rate. Only documents that pass the quality
    gate are digested and probed (the md5 over full bodies is the
    expensive part — gated docs are dropped regardless, so hashing
    them would be pure waste); a doc failing both quality and history
    therefore reports only its quality reasons.

    ``gate_reasons`` ordering: ``blocked_domain`` first (cheapest
    gate, applied before any text is tokenized in a production run),
    then ``seen_in_prior_snapshot``, then the quality flags in
    DEFAULT_GATES order.
    """
    gated = quality_gate(docs, gates, id_col, text_col)
    if prior_bloom is not None:
        from ..functions.bloom import bloom_probe_joined
        from ..functions.dedup import normalized_text

        keyed = gated.filter(F.size("gate_reasons") == 0).select(
            id_col, F.md5(normalized_text(F.col(text_col))).alias("_digest")
        )
        seen = bloom_probe_joined(
            keyed, "_digest", prior_bloom, bloom_m, bloom_k, out_col="_seen"
        ).select(id_col, "_seen")
        gated = gated.join(seen, id_col, "left").withColumn(
            "gate_reasons",
            F.when(
                F.coalesce("_seen", F.lit(False)),
                F.concat(
                    F.array(F.lit("seen_in_prior_snapshot")), F.col("gate_reasons")
                ),
            ).otherwise(F.col("gate_reasons")),
        ).drop("_seen")
    # blocklist LAST in the plan so its reason lands FIRST in the line
    # (each stage prepends); docstring order: blocked_domain, then
    # seen_in_prior_snapshot, then quality flags
    if blocklist is not None:
        from ..functions.urls import blocklist_filter

        verdict = blocklist_filter(
            docs.select(id_col, url_col), blocklist, url_col=url_col
        ).select(id_col, "is_blocked")
        gated = gated.join(verdict, id_col, "left").withColumn(
            "gate_reasons",
            F.when(
                F.coalesce("is_blocked", F.lit(False)),
                F.concat(F.array(F.lit("blocked_domain")), F.col("gate_reasons")),
            ).otherwise(F.col("gate_reasons")),
        ).drop("is_blocked")
    clean = gated.filter(F.size("gate_reasons") == 0)

    ex = exact_dedup(clean.select(id_col, text_col), id_col, text_col)
    ex_keep = ex.filter(~F.col("is_duplicate")).select(id_col)
    survivors = clean.join(ex_keep, id_col, "semi")

    pairs = minhash_dedup(
        survivors.select(id_col, text_col), id_col, text_col,
        num_hashes=16, bands=8, threshold=near_dup_threshold,
    )
    clusters = dedup_clusters(survivors.select(id_col), pairs, id_col)

    corpus = (
        survivors.join(clusters.filter("is_canonical").select("doc_id"), "doc_id", "semi")
        .transform(lambda d: assign_splits(d, splits or {"train": 0.98, "val": 0.01, "test": 0.01}, id_col))
    )

    verdicts = (
        gated.select(id_col, "gate_reasons")
        .join(ex.select(id_col, "is_duplicate"), id_col, "left")
        .join(clusters.select("doc_id", "component", "is_canonical"), id_col, "left")
        .withColumns(
            {
                "exact_dup": F.coalesce("is_duplicate", F.lit(False)),
                "near_dup_shadowed": F.coalesce(~F.col("is_canonical"), F.lit(False)),
            }
        )
        .withColumn(
            "kept",
            (F.size("gate_reasons") == 0)
            & ~F.col("exact_dup")
            & ~F.col("near_dup_shadowed"),
        )
        .select(id_col, "gate_reasons", "exact_dup", "near_dup_shadowed", "component", "kept")
    )
    return {"corpus": corpus, "verdicts": verdicts}
