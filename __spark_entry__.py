"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data ops (dedup / similarity / text
analysis). Each SQL-expressible entry has a DuckDB twin in
``oracle_sql()`` with IDENTICAL column aliases; kernel-path entries
(full extraction, Arrow/pandas kernels) are rows-only.

tests/test_entry_oracle.py runs the same Spark-vs-DuckDB comparison the
driver performs, so mismatches are caught locally first.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_ENTRY_DOCS = 40


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _corpus_pages(spark: SparkSession):
    from pdf_context_extractor_agent_spark.corpus import pages_df
    from pdf_context_extractor_agent_spark.kernels import extract_pages

    return extract_pages(pages_df(spark, N_ENTRY_DOCS))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full statement extraction over the synthetic pages
    corpus + a sanity scan of the sf0.001 documents table."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    assert docs.count() > 0
    from pdf_context_extractor_agent_spark.plans import parse_statements

    res = parse_statements(_corpus_pages(spark), spark)
    return res["parsed"].orderBy("url", "statement_type", "row_order")


# ---------------------------------------------------------------------------
# oracle-checked queries
# ---------------------------------------------------------------------------

def _q_scan_pushdown(spark, sf):
    """Filter pushed into the lineitem scan (ship dates start 1995-01-02,
    so the 1996 cut keeps the first year of every return flag)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        )
    )


def _q1_pricing(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q_join_revenue(spark, sf):
    c, o, li, n = (_t(spark, sf, x) for x in ("customer", "orders", "lineitem", "nation"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_topn_per_customer(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _q_cube_counts(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


def _q_rollup(spark, sf):
    o = _t(spark, sf, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


def _q_semi_join(spark, sf):
    """EXISTS: customers having at least one 'F' order."""
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "F"), c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_mktsegment")


def _q_anti_join(spark, sf):
    """NOT EXISTS: parts not shipped before 1996 (every part ships at
    some point, so an unfiltered anti-join is empty)."""
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return p.join(li, p["p_partkey"] == li["l_partkey"], "left_anti").select(
        "p_partkey", "p_brand"
    )


def _q_pivot(spark, sf):
    """Pivot linestatus into columns per returnflag."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )


def _q_sessionize(spark, sf):
    """Gap-based sessionization (30-min inactivity) — the classic
    cumulative-sum-of-boundaries window pattern.

    Gaps are computed at MICROSECOND precision: ``unix_timestamp``
    floors fractional seconds while DuckDB's ``epoch()`` rounds, so a
    seconds-granularity gap splits sessions differently near the
    boundary. ``unix_micros`` / ``epoch_us`` agree exactly."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # ts is TIMESTAMP_NTZ
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value")
    )


def _q_orderby_limit(spark, sf):
    o = _t(spark, sf, "orders")
    return o.orderBy(F.desc("o_totalprice"), "o_orderkey").limit(20).select(
        "o_orderkey", "o_totalprice"
    )


def _q_percentiles(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.75), 4).alias("p75"),
        F.count_distinct("l_partkey").alias("n_parts"),
    )


def _q_j2_first_wins(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey", "o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderpriority", F.col("o_orderkey").alias("first_order"))
    )


_PATTERN_BANK = [("p_spark", "spark", 0), ("p_stream", "stream", 1), ("p_join", "join", 2)]


def _q_j1_pattern_match(spark, sf):
    docs = _t(spark, sf, "documents")
    pat = spark.createDataFrame(_PATTERN_BANK, "label string, pat string, ord int")
    j = docs.join(F.broadcast(pat), F.expr("text rlike pat"))
    return j.groupBy("doc_id").agg(F.min_by("label", "ord").alias("label"))


_ANCHORS = ["table", "join", "window", "stream"]


def _q_si1_anchors(spark, sf):
    docs = _t(spark, sf, "documents")
    anchors = spark.createDataFrame([(a,) for a in _ANCHORS], "anchor string")
    return (
        docs.join(F.broadcast(anchors), F.expr("text rlike anchor"))
        .groupBy("source", "anchor")
        .agg(F.min("doc_id").alias("first_doc"))
    )


def _q_p2_boundary(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.min(F.when(F.col("text").rlike("spark"), F.col("doc_id"))).alias("start_doc"),
        F.coalesce(
            F.max(F.when(F.col("text").rlike("stream"), F.col("doc_id"))),
            F.min(F.when(F.col("text").rlike("vector"), F.col("doc_id"))),
        ).alias("end_doc"),
    )


def _q_p3_range_prune(spark, sf):
    ev = _t(spark, sf, "events")
    rng = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("start_ts"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("end_ts"),
    )
    return (
        ev.join(rng, "user_id")
        .filter(
            F.col("start_ts").isNotNull()
            & (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") <= F.col("end_ts"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_kept"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _q_v1_tolerance(spark, sf):
    li, o = _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    calc = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("calc")
    )
    j = o.join(calc, o["o_orderkey"] == calc["l_orderkey"])
    passed = F.abs(F.col("calc") - F.col("o_totalprice")) <= F.greatest(
        F.abs(F.col("calc")), F.abs(F.col("o_totalprice"))
    ) * F.lit(0.01)
    return j.groupBy("o_orderstatus", passed.alias("passed")).agg(F.count("*").alias("n"))


def _q_v14_numeric_clean(spark, sf):
    ev = _t(spark, sf, "events")
    cleaned = F.regexp_replace("props", r"[^0-9.\-]", "").try_cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.sum(cleaned), 2).alias("sum_k"),
        F.count(F.when(cleaned.isNull(), 1)).alias("n_null"),
    )


def _q_n6_interval_assign(spark, sf):
    ev = _t(spark, sf, "events")
    sign = ev.filter(F.col("event_type") == "signup").select("user_id", F.col("ts").alias("s_ts"), F.col("event_id").alias("signup_id"))
    w = Window.partitionBy("user_id").orderBy("s_ts", "signup_id")
    sign = sign.withColumn("next_ts", F.lead("s_ts").over(w))
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = sign.join(clicks, "user_id").filter(
        (F.col("ts") >= F.col("s_ts")) & (F.col("next_ts").isNull() | (F.col("ts") < F.col("next_ts")))
    )
    return j.groupBy("signup_id").agg(F.count("*").alias("n_clicks"))


def _q_n8_continuity(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision — see _q_sessionize
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        ev.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("gap") > 3600 * 1_000_000, 1)).alias("n_gaps"),
            F.count("*").alias("n_events"),
        )
    )


def _q_window_running(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return ev.select("event_id", F.round(F.sum("value").over(w), 2).alias("running"))


def _q_m3_clean(spark, sf):
    from pdf_context_extractor_agent_spark.functions.dedup import normalized_text

    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", normalized_text(F.col("text")).alias("norm"))


def _q_dedup_exact(spark, sf):
    from pdf_context_extractor_agent_spark.functions.dedup import exact_dedup

    d = exact_dedup(_t(spark, sf, "documents"))
    return d.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups")
    )


def _q_fingerprint(spark, sf):
    from pdf_context_extractor_agent_spark.functions.quality import fingerprint

    return fingerprint(_t(spark, sf, "documents")).select("doc_id", "fp_md5")


def _q_token_counts(spark, sf):
    from pdf_context_extractor_agent_spark.functions.quality import token_counts

    return token_counts(_t(spark, sf, "documents")).select("doc_id", "ws_tokens", "re_tokens")


def _q_lang_scores(spark, sf):
    from pdf_context_extractor_agent_spark.functions.quality import lang_scores

    docs = _t(spark, sf, "documents")
    s = lang_scores(F.col("text"))
    en, es, de, zh = s["en"], s["es"], s["de"], s["zh"]
    pred = (
        F.when((en >= es) & (en >= de) & (en >= zh), "en")
        .when((es >= de) & (es >= zh), "es")
        .when(de >= zh, "de")
        .otherwise("zh")
    )
    return docs.select(
        "doc_id",
        F.round(en, 5).alias("s_en"),
        F.round(es, 5).alias("s_es"),
        F.round(de, 5).alias("s_de"),
        F.round(zh, 5).alias("s_zh"),
        pred.alias("pred"),
    )


def _q_quality(spark, sf):
    from pdf_context_extractor_agent_spark.functions.quality import quality_features

    return quality_features(_t(spark, sf, "documents")).select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("stop_ratio", 4).alias("stop_ratio"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("quality_score", 4).alias("quality_score"),
    )


def _q_readability(spark, sf):
    from pdf_context_extractor_agent_spark.functions.quality import readability_features

    return readability_features(_t(spark, sf, "documents")).select(
        "doc_id",
        "n_sentences",
        "n_syllables",
        "words_per_sentence",
        "syllables_per_word",
        "flesch",
    )


def _q_ngram_jaccard(spark, sf):
    from pdf_context_extractor_agent_spark.functions.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    # sources rotate mod 20, so +20 keeps the pair inside one source —
    # 480 non-trivial pairs at sf0.01 (a +1 rule matches nothing and
    # would gate on an empty relation)
    pairs = a.join(b, (F.col("doc_b") == F.col("doc_a") + 20) & (F.col("src_a") == F.col("src_b"))).select("doc_a", "doc_b")
    j = ngram_jaccard_pairs(docs, pairs)
    return j.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q_containment(spark, sf):
    """Asymmetric shingle containment over deterministic same-source
    pairs: the quote/boilerplate signal Jaccard misses (short doc
    embedded in long one). Candidate generation via LSH is certified by
    q_minhash_lsh_dedup; this gates the containment arithmetic itself."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        containment_pairs,
        shingles,
    )

    docs = _t(spark, sf, "documents")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    pairs = a.join(
        b,
        (F.col("doc_b") == F.col("doc_a") + 20) & (F.col("src_a") == F.col("src_b")),
    ).select("doc_a", "doc_b")
    c = containment_pairs(pairs, shingles(docs), threshold=0.05)
    return c.select(
        "doc_a",
        "doc_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
        F.round("containment", 6).alias("containment"),
        "is_contained",
    )


def _q_tfidf_keywords(spark, sf):
    """Top-5 characteristic terms per doc by smoothed TF-IDF (rounded
    score ranking, term tie-break)."""
    from pdf_context_extractor_agent_spark.functions.search import tfidf_keywords

    return tfidf_keywords(_t(spark, sf, "documents"), k=5)


def _q_corpus_stats(spark, sf):
    """Per-source dataset-card rollup: docs, tokens, length stats,
    language spread, exact-dup surplus — one agg on the source key."""
    from pdf_context_extractor_agent_spark.functions.quality import corpus_stats

    return corpus_stats(_t(spark, sf, "documents"))


def _q_minhash_md5(spark, sf):
    """MinHash signatures alone (4 hashes): the md5 base hash per
    shingle and the universal re-hashes, value for value."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        minhash_signatures,
        shingles,
    )

    return minhash_signatures(shingles(_t(spark, sf, "documents")), 4)


def _q_compression_ratio(spark, sf):
    """zlib entropy-proxy quality signal — Arrow kernel (mapInPandas),
    rows-only by construction (no SQL zlib); exact-parity unit test vs
    local zlib in test_textops.py."""
    from pdf_context_extractor_agent_spark.functions.quality import compression_ratio

    return compression_ratio(_t(spark, sf, "documents"))


def _q_repetition(spark, sf):
    """Gopher-style repetition quality metrics — pure per-row array
    expressions, zero shuffles."""
    from pdf_context_extractor_agent_spark.functions.quality import repetition_features

    r = repetition_features(_t(spark, sf, "documents"))
    return r.select(
        "doc_id",
        F.round("distinct_word_ratio", 6).alias("distinct_word_ratio"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


def _q_pii_scrub(spark, sf):
    """PII detect + mask over a deterministically PII-augmented text (the
    corpus itself contains none, so the query synthesizes one email and
    one phone per doc on BOTH sides to exercise the regex families)."""
    from pdf_context_extractor_agent_spark.functions.quality import mask_pii, pii_counts

    docs = _t(spark, sf, "documents")
    derived = F.concat_ws(
        "", F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +555-123-4567 now"),
    )
    counts = pii_counts(derived)
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        F.md5(mask_pii(derived)).alias("masked_md5"),
    )


def _q_chunk_dedup(spark, sf):
    """C4-style cross-document unit dedup: one global groupBy on the
    chunk, owner-join back, per-doc rebuild."""
    from pdf_context_extractor_agent_spark.functions.dedup import chunk_dedup

    d = chunk_dedup(_t(spark, sf, "documents"))
    return d.select("doc_id", "n_chunks", "n_removed", F.md5("kept_text").alias("kept_md5"))


def _q_minhash_lsh(spark, sf):
    """Full MinHash-LSH pipeline (signatures → bands → pairs → verify):
    the production functions, reproduced bit for bit by DuckDB."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    sh = shingles(_t(spark, sf, "documents"))
    cands = lsh_candidate_pairs(minhash_signatures(sh, 16), bands=8)
    out = jaccard_verify(cands, sh, threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"), "is_near_dup")


def _q_simhash(spark, sf):
    """Full SimHash near-dup pipeline (60-bit fingerprint → four 15-bit
    bands → pairs → Hamming by bit_count(xor))."""
    from pdf_context_extractor_agent_spark.functions.dedup import simhash, simhash_near_dups

    return simhash_near_dups(simhash(_t(spark, sf, "documents")), 60)


def _q_embed_topk(spark, sf):
    from pdf_context_extractor_agent_spark.functions.similarity import cosine

    emb = _t(spark, sf, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    q = F.array(*[F.lit(float(x)) for x in qrow[0]])
    scored = emb.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), q), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(10)


def _q_ivf_topk(spark, sf):
    """IVF ANN: strided data-derived centroids, nprobe=4 cells scanned,
    exact cosine within — the partition-pruned index layout for
    10^12-vector search."""
    from pdf_context_extractor_agent_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return ivf_topk(emb, [float(x) for x in qrow[0]], k=10, stride=97, nprobe=4)


def _q_kmeans(spark, sf):
    """Lloyd's k-means (2 fixed iterations, seedless strided init):
    assignment is a zero-shuffle broadcast-array map pass, the update
    shuffles only model-sized (cell, pos) partial means — the
    clustering primitive under SemDeDup / cluster-balanced selection."""
    from pdf_context_extractor_agent_spark.functions.cluster import kmeans

    return kmeans(_t(spark, sf, "embeddings"), stride=97, iters=2)


def _q_hll_doc_terms(spark, sf):
    """HyperLogLog distinct (doc, token) incidence estimate — one
    groupBy over 256 registers regardless of corpus size; integer
    register sum, exact distinct riding along as the accuracy check."""
    from pdf_context_extractor_agent_spark.functions.sketch import (
        hll_doc_term_estimate,
    )

    return hll_doc_term_estimate(_t(spark, sf, "documents"))


def _q_cm_heavy_hitters(spark, sf):
    """Count-min heavy hitters at width 16 (collision-heavy on
    purpose): est ≥ exact for every token, sketch is depth×width rows
    out of one groupBy no matter the corpus size."""
    from pdf_context_extractor_agent_spark.functions.sketch import cm_heavy_hitters

    return cm_heavy_hitters(_t(spark, sf, "documents"), width=16, depth=4, k=20)


# ---------------------------------------------------------------------------
# ANN, kernel-path and multimodal queries
# ---------------------------------------------------------------------------

def _q_sq_topk(spark, sf):
    """int8 scalar-quantized top-k (the 10^12-vector scan path: 4×
    denser than float32, integer dot product — exact on any engine, so
    the oracle reproduces the whole codec: global min/max, the SQ8
    round, and the quantized scores)."""
    from pdf_context_extractor_agent_spark.functions.similarity import sq_topk

    emb = _t(spark, sf, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return sq_topk(emb, [float(x) for x in qrow[0]], k=10)


def _q_ann_topk(spark, sf):
    from pdf_context_extractor_agent_spark.functions.similarity import ann_topk, lsh_index

    emb = _t(spark, sf, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann_topk(lsh_index(emb), q, k=10, probe_hamming=2)


def _q_cosine_neardup(spark, sf):
    from pdf_context_extractor_agent_spark.functions.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(_t(spark, sf, "embeddings"), threshold=0.5)
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def _q_bitext_margin(spark, sf):
    """Margin-based bitext mining over the embeddings table: even
    vec_ids play the source language, odd the target. Forward-best
    pairs with ratio margin ≥ 1.0 plus the mutual-best flag."""
    from pdf_context_extractor_agent_spark.functions.similarity import (
        margin_bitext_pairs,
    )

    emb = _t(spark, sf, "embeddings")
    return margin_bitext_pairs(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4,
        n_planes=4,
        threshold=1.0,
    )


def _q_semdedup(spark, sf):
    """SemDeDup composition: hyperplane-LSH cosine near-dup pairs →
    connected components → one canonical vector per semantic cluster.
    Threshold 0.2: on the synthetic embeddings this yields a real
    cluster-size spectrum (singletons through 8-member clusters), so
    the transitive closure is actually exercised."""
    from pdf_context_extractor_agent_spark.functions.similarity import semdedup

    out = semdedup(_t(spark, sf, "embeddings"), threshold=0.2)
    return out.select(
        F.col("doc_id").alias("vec_id"), "component", "cluster_size", "is_canonical"
    )


def _q_extract_parsed(spark, sf):
    from pdf_context_extractor_agent_spark.plans import parse_statements

    return parse_statements(_corpus_pages(spark), spark)["parsed"]


# --- value-level oracle for the statement pipeline itself ------------------
# The kind-8 corpus docs embed FIXTURE A (corpus._fixture_a_rows — the
# reference's hand-verified integration fixture, FIXTURES.md §3/§4 and
# balance_sheet.py:832-866): their end-to-end parse is a known constant,
# so the full pipeline (corpus → layout kernel → merge → SI → columns →
# match) gets a hash-checked DuckDB oracle, not just a row count.
# 15 golden rows per doc (9 categories + 6 totals); the FULL lifecycle
# additionally re-emits the parent-company table prefix's 流动资产合计
# totals row (totals are never deduped — reference dict-overwrite
# semantics), the boundary lifecycle prunes the parent table (P2-P4).
_FIXTURE_DOC_IDS = (8, 18, 28)

# (section_path, standard_name, original_name, cur, prev, note,
#  row_order, is_total) — verified against tests/test_pipeline.py's
# golden expectations for fixture A
_FIXTURE_PARSED = [
    ("assets.current_assets", "货币资金", "货币资金", "1000000.00", "900000.00", "六、1", 2, False),
    ("assets.current_assets", "应收账款", "应收账款", "500000.00", "450000.00", "六、2", 3, False),
    ("assets.current_assets", "存货", "存货", "300000.00", "280000.00", "六、3", 4, False),
    ("assets.current_assets_total", "current_assets_total", "流动资产合计", "1800000.00", "1630000.00", None, 5, True),
    ("assets.non_current_assets", "固定资产", "固定资产", "2000000.00", "1900000.00", "六、4", 7, False),
    ("assets.non_current_assets", "无形资产", "无形资产", "100000.00", "95000.00", "六、5", 8, False),
    ("assets.non_current_assets_total", "non_current_assets_total", "非流动资产合计", "2100000.00", "1995000.00", None, 9, True),
    ("assets.assets_total", "assets_total", "资产总计", "3900000.00", "3625000.00", None, 10, True),
    ("liabilities.current_liabilities", "短期借款", "短期借款", "200000.00", "180000.00", "六、6", 12, False),
    ("liabilities.current_liabilities", "应付账款", "应付账款", "300000.00", "250000.00", "六、7", 13, False),
    ("liabilities.current_liabilities_total", "current_liabilities_total", "流动负债合计", "500000.00", "430000.00", None, 14, True),
    ("equity.items", "实收资本", "实收资本", "2000000.00", "2000000.00", "六、8", 16, False),
    ("equity.items", "未分配利润", "未分配利润", "1400000.00", "1195000.00", "六、9", 17, False),
    ("equity.equity_total", "equity_total", "所有者权益合计", "3400000.00", "3195000.00", None, 18, True),
    ("liabilities_and_equity_total", "liabilities_and_equity_total", "负债和所有者权益总计", "3900000.00", "3625000.00", None, 19, True),
]
# the FULL lifecycle's extra parent-prefix totals row
_FIXTURE_PARENT_EXTRA = [
    ("assets.current_assets_total", "current_assets_total", "流动资产合计", "1800000.00", "1630000.00", None, 24, True),
]


def _fixture_url(i: int) -> str:
    return f"https://reports.example.com/{i % 97:02d}/doc{i:08d}.html"


def _fixture_parsed_sql(include_parent_extra: bool) -> str:
    rows = _FIXTURE_PARSED + (_FIXTURE_PARENT_EXTRA if include_parent_extra else [])

    def q(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        return "'" + v + "'"

    values = ",\n".join(
        f"('{_fixture_url(i)}', " + ", ".join(q(v) for v in row) + ")"
        for i in _FIXTURE_DOC_IDS
        for row in rows
    )
    return (
        "SELECT * FROM (VALUES\n" + values + "\n) AS t(url, section_path, "
        "standard_name, original_name, current_period, previous_period, "
        "note, row_order, is_total)"
    )


def _fixture_pages(spark):
    from pdf_context_extractor_agent_spark.corpus import pages_df
    from pdf_context_extractor_agent_spark.kernels import extract_pages

    urls = [_fixture_url(i) for i in _FIXTURE_DOC_IDS]
    return extract_pages(
        pages_df(spark, max(_FIXTURE_DOC_IDS) + 1).filter(F.col("url").isin(urls))
    )


def _fixture_oracle_select(parsed):
    """Project a parsed relation onto the fixture oracle's columns (the
    single definition both lifecycle queries share)."""
    return parsed.select(
        "url", "section_path", "standard_name", "original_name",
        "current_period", "previous_period", "note",
        F.col("row_order").cast("int").alias("row_order"), "is_total",
    )


def _q_extract_fixture_parsed(spark, sf):
    """End-to-end statement pipeline over the fixture-A docs, value-
    checked against the golden parse (VERDICT r4 item 5)."""
    from pdf_context_extractor_agent_spark.plans import parse_statements

    return _fixture_oracle_select(
        parse_statements(_fixture_pages(spark), spark)["parsed"]
    )


def _q_balance_boundary_fixture(spark, sf):
    """main.py lifecycle (P2→P3→P4 boundary before merge) over the
    fixture-A docs, value-checked (VERDICT r4 item 9)."""
    from pdf_context_extractor_agent_spark.plans import parse_balance_via_boundary

    return _fixture_oracle_select(
        parse_balance_via_boundary(_fixture_pages(spark), spark)["parsed"]
    )


def _q_extract_checks(spark, sf):
    from pdf_context_extractor_agent_spark.plans import parse_statements

    return parse_statements(_corpus_pages(spark), spark)["checks"]


def _q_extract_notes(spark, sf):
    from pdf_context_extractor_agent_spark.operators.notes import extract_notes

    return extract_notes(_corpus_pages(spark)).drop("tables")


def _q_extract_text_identity(spark, sf):
    from pdf_context_extractor_agent_spark.corpus import pages_df
    from pdf_context_extractor_agent_spark.kernels import extract_pages, extracted_text

    pg = pages_df(spark, N_ENTRY_DOCS)
    ext = extracted_text(extract_pages(pg))
    return ext.join(pg.select("url", "text"), "url").select(
        "url", (F.col("extracted_text") == F.col("text")).alias("byte_identical")
    )


def _q_balance_boundary(spark, sf):
    from pdf_context_extractor_agent_spark.plans import parse_balance_via_boundary

    return parse_balance_via_boundary(_corpus_pages(spark), spark)["parsed"]


def _q_multimodal(spark, sf):
    from pdf_context_extractor_agent_spark.functions.multimodal import (
        image_features,
        make_fake_image,
    )

    media = spark.createDataFrame(
        [(i, "image", make_fake_image(i, 16 + i % 8, 16)) for i in range(64)],
        "media_id long, kind string, payload binary",
    )
    feats = image_features(media)
    # the driver canonicalizes results by sorting every column, which
    # dies on an array<double> column — project the histogram to a
    # deterministic sortable scalar (rounded-JSON)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.to_json(F.transform("histogram", lambda x: F.round(x, 6))).alias("histogram_json"),
    )


def _q_audio_features(spark, sf):
    """Audio modality plumbing (mapInPandas kernel): per-window INTEGER
    features (sum|s|, max|s|, energy, zero crossings) over deterministic
    FAKE PCM — the synthesis formula is integer-exact, so the oracle
    restates the expected features from scratch in SQL without touching
    the binary payloads."""
    from pdf_context_extractor_agent_spark.functions.multimodal import (
        audio_features,
        make_fake_audio,
    )

    media = spark.createDataFrame(
        [(i, "audio", make_fake_audio(i, n_windows=4 + i % 4, window=256))
         for i in range(48)],
        "media_id long, kind string, payload binary",
    )
    return audio_features(media, window=256)


def _ahash_media(spark):
    """80 FAKE images: 64 distinct (width 16..23 cycling) + 16 exact
    duplicate payloads under fresh ids (media_id 64+j duplicates j), so
    the near-dup join provably has hits. base id = media_id % 64."""
    from pdf_context_extractor_agent_spark.functions.multimodal import make_fake_image

    return spark.createDataFrame(
        [(i, "image", make_fake_image(i % 64, 16 + (i % 64) % 8, 16)) for i in range(80)],
        "media_id long, kind string, payload binary",
    )


def _q_image_ahash(spark, sf):
    """Perceptual average-hash over the FAKE image corpus. Unlike the
    float-histogram features (rows-only), the aHash codec is
    integer-exact, so the oracle recomputes the ENTIRE pipeline —
    nearest-neighbor 8×8 downsample, strict integer mean threshold,
    two's-complement bit pack — from the pixel synthesis formula in
    plain SQL."""
    from pdf_context_extractor_agent_spark.functions.multimodal import image_ahash

    return image_ahash(_ahash_media(spark))


def _q_image_neardup(spark, sf):
    """aHash near-duplicate pairs via the banded Hamming join. At
    max_hamming=3 with four 16-bit bands the banded join is exhaustive
    (pigeonhole), so the oracle's all-pairs scan is an exact twin."""
    from pdf_context_extractor_agent_spark.functions.multimodal import (
        image_ahash,
        image_near_dups,
    )

    return image_near_dups(image_ahash(_ahash_media(spark)), max_hamming=3).select(
        "media_a", "media_b", F.col("hamming").cast("int").alias("hamming")
    )


def _q_sentences(spark, sf):
    """Rule-based sentence segmentation. The synthetic documents carry
    no punctuation, so both engines first inject a period after every
    7th word with the SAME deterministic regex; the op under test is
    the boundary-mark-then-split segmentation."""
    from pdf_context_extractor_agent_spark.functions.webtext import split_sentences

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), r"((\w+ ){6}\w+) ", "$1. "
        ).alias("text"),
    )
    return split_sentences(docs)


def _q_fuzzy_neardup(spark, sf):
    """Exact Levenshtein near-dup with length-bucket blocking. Twins
    (first character swapped for '~', distance exactly 1) are planted
    under offset ids so the candidate join provably has hits; the
    blocking is exhaustive at the threshold (|len diff| <= max_dist),
    so the oracle can be a plain all-pairs scan."""
    from pdf_context_extractor_agent_spark.functions.dedup import edit_distance_pairs

    base = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select("doc_id", "text")
    twins = base.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("~"), F.expr("substring(text, 2)")).alias("text"),
    )
    return edit_distance_pairs(base.unionByName(twins), max_dist=2, bucket=16)


def _q_char_diversity(spark, sf):
    """Character-level Gini-Simpson diversity — integer-exact up to one
    final IEEE division, so the oracle matches bit-for-bit (unlike a
    log2 entropy, which can diverge by an ulp across libm builds)."""
    from pdf_context_extractor_agent_spark.functions.quality import char_diversity

    return char_diversity(_t(spark, sf, "documents"))


_BLOOM_M = 1 << 14
_BLOOM_K = 5


def _bloom_docs(spark, sf):
    from pdf_context_extractor_agent_spark.functions.bloom import bloom_build

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.concat(F.lit("doc:"), F.col("doc_id")).alias("key")
    )
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    return docs, bloom_build(seen, "key", _BLOOM_M, _BLOOM_K)


def _q_bloom_words(spark, sf):
    """Distributed Bloom-filter BUILD (cross-snapshot dedup artifact):
    k=5 md5 positions per key, one groupBy(word_idx) bit_or — output is
    ≤ m/64 rows however large the input. Filter covers the doc_id%3==0
    'prior snapshot' slice of documents."""
    return _bloom_docs(spark, sf)[1]


def _q_bloom_probe(spark, sf):
    """Bloom-filter PROBE (relational twin of the production map-side
    broadcast probe, differential-tested in tests/test_bloom_audio.py):
    every inserted key must probe true (no false negatives); others are
    true only on md5-position collisions, which the oracle reproduces
    exactly."""
    from pdf_context_extractor_agent_spark.functions.bloom import bloom_probe

    docs, bloom = _bloom_docs(spark, sf)
    probed = bloom_probe(docs.select("key"), "key", bloom, _BLOOM_M, _BLOOM_K)
    return docs.join(probed, "key").select("doc_id", "maybe_member")


def _synth_lines(spark, sf):
    """Deterministic line table from documents: 6-word chunks with a
    hash-chosen terminal mark — gives the C4 rules real punctuation and
    word-count variety to act on (the raw corpus text has neither)."""
    from pdf_context_extractor_agent_spark.functions.dedup import normalized_words

    docs = _t(spark, sf, "documents")
    w = normalized_words(F.col("text"))
    n_lines = F.ceil(F.size(w) / F.lit(6)).cast("int")
    bodies = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(w, i * 6 + 1, 6), " "),
    )
    def punct(b):
        c = F.substring(F.md5(b), 32, 1)
        return (
            F.when(c <= "6", F.lit(".")).when(c <= "9", F.lit("?"))
            .when(c <= "b", F.lit("!")).otherwise(F.lit(""))
        )
    lines = F.transform(bodies, lambda b: F.concat(b, punct(b)))
    return docs.select("doc_id", F.posexplode(lines).alias("line_no", "line"))


def _q_c4_filter(spark, sf):
    from pdf_context_extractor_agent_spark.functions.webtext import c4_filter_lines

    out = c4_filter_lines(_synth_lines(spark, sf), banned_line_words=("slow",))
    return out.select(
        "doc_id", "n_lines", "n_kept", "keep_doc", F.md5("kept_text").alias("kept_md5")
    )


def _q_block_classify(spark, sf):
    """Density classifier over a deterministic block table derived from
    documents (hash-chosen link density and heading tags)."""
    from pdf_context_extractor_agent_spark.functions.dedup import doc_chunks
    from pdf_context_extractor_agent_spark.functions.webtext import classify_blocks

    ch = doc_chunks(_t(spark, sf, "documents"), chunk_words=6)
    h = F.md5("chunk")
    # densities chosen exactly representable in binary floating point so
    # floor(n_chars * ld) is bit-identical between Spark (DOUBLE) and
    # DuckDB (DECIMAL literal) arithmetic
    ld = (
        F.when(F.substring(h, 31, 1) <= "3", F.lit(0.0))
        .when(F.substring(h, 31, 1) <= "7", F.lit(0.25))
        .when(F.substring(h, 31, 1) <= "b", F.lit(0.5))
        .otherwise(F.lit(0.875))
    )
    n_chars = F.length("chunk")
    feats = ch.select(
        "doc_id",
        F.col("pos").alias("block_no"),
        F.when(F.substring(h, 30, 1) <= "1", F.lit("h2")).otherwise(F.lit("p")).alias("tag"),
        F.col("chunk").alias("text"),
        n_chars.alias("n_chars"),
        F.size(F.split("chunk", " ")).alias("n_words"),
        F.floor(n_chars * ld).cast("int").alias("n_link_chars"),
    )
    out = classify_blocks(feats, doc_col="doc_id", order_col="block_no", min_words_good=5)
    return out.select(
        "doc_id", "block_no", "tag", "n_chars", "n_words", "n_link_chars",
        "base_label", "label", "is_content",
    )


def _q_main_content(spark, sf):
    """Generic-web main-content extraction over the pages corpus (DOM
    block kernel + density classifier) — kernel-based, rows-only."""
    from pdf_context_extractor_agent_spark.corpus import pages_df
    from pdf_context_extractor_agent_spark.functions.webtext import main_content

    out = main_content(pages_df(spark, N_ENTRY_DOCS))
    return out.select(
        "url", "n_blocks", "n_content_blocks", F.md5("main_text").alias("main_md5")
    )


def _q_lm_score(spark, sf):
    """CCNet-style bigram-LM quality scoring: train the MLE model on
    the corpus (one shuffle on the n-gram key), score every doc, bucket
    by perplexity. Integer count sums are exact cross-engine evidence;
    the float score is rounded like every other aggregate here."""
    from pdf_context_extractor_agent_spark.functions.lm import lm_doc_scores

    s = lm_doc_scores(_t(spark, sf, "documents"), buckets=4)
    return s.select(
        "doc_id",
        "n_bigrams",
        "sum_pair_cnt",
        "sum_first_cnt",
        F.round("avg_logp", 5).alias("avg_logp"),
        F.round("ppl", 4).alias("ppl"),
        "lm_bucket",
    )


def _q_doc_freq(spark, sf):
    """Corpus vocabulary stats: per-word document frequency + smoothed
    IDF, top 100 by DF (word tie-break)."""
    from pdf_context_extractor_agent_spark.functions.lm import doc_frequency

    d = doc_frequency(_t(spark, sf, "documents"))
    return (
        d.select("word", "df", F.round("idf", 5).alias("idf"))
        .orderBy(F.col("df").desc(), "word")
        .limit(100)
    )


def _q_bm25(spark, sf):
    """Lexical top-k retrieval: Lucene-BM25 over the shared case-folded
    whitespace vocabulary; term filter applied before the only wide
    shuffle; ranking on the ROUNDED score (doc_id tie-break) so order
    is deterministic cross-engine."""
    from pdf_context_extractor_agent_spark.functions.search import bm25_search

    return bm25_search(
        _t(spark, sf, "documents"), ["hash", "stream", "vector"], k=15
    )


def _q_phrase_search(spark, sf):
    """Exact-phrase retrieval: positional postings filtered to the
    phrase's terms while narrow, adjacent words aligned by pos-shift
    equi-joins on (doc_id, anchor) — one shuffle keyed by doc_id."""
    from pdf_context_extractor_agent_spark.functions.search import phrase_search

    return phrase_search(_t(spark, sf, "documents"), ["batch", "stream"])


def _q_zorder_layout(spark, sf):
    """Morton write-layout keys over (user-bucket, minute-bucket):
    magic-mask bit dilation, pure JVM integer ops, zero shuffle for the
    key itself; file_id is the 256-way Z-curve segment the row would
    land in after the one range-partition exchange a sorted write pays
    anyway (each file then spans a small rectangle in BOTH dimensions,
    so min/max stats prune on either predicate)."""
    from pdf_context_extractor_agent_spark.functions.zorder import zorder_key

    ev = _t(spark, sf, "events")
    keyed = ev.select(
        "event_id",
        (F.col("user_id") % 1024).alias("ub"),
        (F.expr("unix_micros(cast(ts as timestamp)) div 60000000") % 1024).alias("mb"),
    ).select(
        "event_id",
        "ub",
        "mb",
        zorder_key("ub", "mb").alias("zkey"),
    )
    return keyed.withColumn("file_id", F.shiftright(F.col("zkey"), 12))


def _q_zorder_pruning(spark, sf):
    """The measurable payoff of the Z-order layout: per-file min/max
    footer stats → files scanned for a 2-D range predicate, Z-curve
    segments vs a time-sorted (1-D) layout of the same file count. The
    time layout prunes nothing on the user axis; the Z layout prunes
    on both."""
    from pdf_context_extractor_agent_spark.functions.zorder import (
        pruning_stats,
        zorder_key,
    )

    ev = _t(spark, sf, "events").select(
        (F.col("user_id") % 1024).alias("ub"),
        (F.expr("unix_micros(cast(ts as timestamp)) div 60000000") % 1024).alias("mb"),
    )
    ranges = [(96, 159), (256, 511)]  # ub box ∧ mb box
    zfiles = ev.withColumn(
        "file_id", F.shiftright(zorder_key("ub", "mb"), 12)
    )
    tfiles = ev.withColumn("file_id", F.shiftright(F.col("mb"), 2))
    z = pruning_stats(zfiles, "file_id", ["ub", "mb"], ranges).withColumn(
        "layout", F.lit("zorder")
    )
    t = pruning_stats(tfiles, "file_id", ["ub", "mb"], ranges).withColumn(
        "layout", F.lit("time_sorted")
    )
    return z.unionByName(t).select("layout", "n_files", "files_scanned", "scan_frac")


def _q_chunk_sentences(spark, sf):
    """Sentence-preserving chunking (prefix-sum assignment + dense
    per-doc renumber + order-stable reassembly) over the same
    punctuation-injected documents as q_sentences."""
    from pdf_context_extractor_agent_spark.functions.webtext import chunk_sentences

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), r"((\w+ ){6}\w+) ", "$1. "
        ).alias("text"),
    )
    return chunk_sentences(docs, budget_tokens=32)


def _q_strip_frequent_lines(spark, sf):
    """CCNet-style corpus-frequency boilerplate removal over documents
    re-lined deterministically (newline after every 5th word): lines in
    ≥3 distinct docs are dropped from all docs; digest-keyed frequency
    shuffle + broadcast anti-flag join."""
    from pdf_context_extractor_agent_spark.functions.webtext import (
        strip_frequent_lines,
    )

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), r"((\w+ ){4}\w+) ", "$1\n"
        ).alias("text"),
    )
    return strip_frequent_lines(docs, min_docs=3)


def _q_strand_pairs(spark, sf):
    """URL-structure bitext candidates (STRAND): mirror-site URLs built
    deterministically from doc_id — docs 2k/2k+1 share a language-
    stripped base (en-es or en-fr mirrors), every 9th doc's item id is
    shifted so it has no partner; narrow regex projection + one
    self-equi-join on the stripped base."""
    from pdf_context_extractor_agent_spark.functions.urls import strand_pairs

    d = F.col("doc_id")
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("es"), F.lit("en"), F.lit("fr")),
        ((d % 4) + 1).cast("int"),
    )
    item = F.when(d % 9 == 0, d + 1000).otherwise(F.expr("doc_id div 2"))
    url = F.concat(
        F.lit("https://m"),
        (F.expr("doc_id div 2") % 5).cast("string"),
        F.lit(".example.org/"),
        lang,
        F.lit("/item/"),
        item.cast("string"),
        F.lit("/view"),
    )
    pages = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 400)
        .select(url.alias("url"))
    )
    return strand_pairs(pages)


def _synth_url() -> F.Column:
    """Deterministic messy URL per document (the documents table has no
    url column): mixed-case host, www + cdn labels, tracking params
    interleaved with real ones, fragment — identical string built on
    the DuckDB side."""
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("https://WWW.cdn."), F.col("source"), F.lit(".COM/A/"), d,
        F.lit("/page?utm_source=feed&id="), d, F.lit("&ref=rss&x=Y#sec"),
    )


def _q_url_canon(spark, sf):
    from pdf_context_extractor_agent_spark.functions.urls import (
        canonicalize_url,
        registered_domain,
        url_host,
    )

    docs = _t(spark, sf, "documents").withColumn("url", _synth_url())
    return docs.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canon_url"),
        url_host(F.col("url")).alias("host"),
        registered_domain(F.col("url")).alias("domain"),
    )


def _q_domain_stats(spark, sf):
    from pdf_context_extractor_agent_spark.functions.urls import domain_stats

    docs = _t(spark, sf, "documents").withColumn("url", _synth_url())
    return domain_stats(docs)


# the www-prefixed entry exercises UT1-style list normalization
_BLOCKLIST = ["src3.com", "cdn.src7.com", "tracker.src7.com", "SRC12.com ",
              "www.cdn.src5.com"]


def _q_blocklist(spark, sf):
    """UT1-style domain blocklist verdicts: registered-domain entries
    block whole subtrees, host entries block exactly; the trailing
    entry exercises case/whitespace normalization."""
    from pdf_context_extractor_agent_spark.functions.urls import blocklist_filter

    docs = _t(spark, sf, "documents").withColumn("url", _synth_url())
    bl = spark.createDataFrame([(e,) for e in _BLOCKLIST], "entry string")
    return blocklist_filter(docs, bl).select(
        "doc_id", "host", "is_blocked", "blocked_by"
    )


def _q_domain_cap(spark, sf):
    """FineWeb-style per-domain document cap (source diversity): rank
    each registered domain's docs by length desc (canonical URL as the
    deterministic tie-break) and flag everything past rank 5. One
    shuffle, on the zipfian domain key."""
    from pdf_context_extractor_agent_spark.functions.urls import domain_cap

    docs = _t(spark, sf, "documents").withColumn("url", _synth_url())
    return domain_cap(docs, 5, order_col="n_chars").select(
        "doc_id", "domain", "domain_rank", "domain_capped"
    )


_BADWORDS = ["slow", "hash", "vector", "nonexistentword"]


def _q_badwords(spark, sf):
    """C4-style bad-word gate: token hits against a broadcast blockword
    dim, any-hit flag, exact counts + fraction as audit columns."""
    from pdf_context_extractor_agent_spark.functions.webtext import badwords_filter

    docs = _t(spark, sf, "documents")
    bw = spark.createDataFrame([(w,) for w in _BADWORDS], "word string")
    return badwords_filter(docs, bw).select(
        "doc_id",
        "n_bad_words",
        "n_words",
        F.round("bad_word_frac", 6).alias("bad_word_frac"),
        "is_flagged",
    )


def _q_meta_robots(spark, sf):
    """robots-directive extraction over deterministic synthesized HTML:
    five variants exercise attribute order, case, the directive-list
    token match, and the ``none`` shorthand."""
    from pdf_context_extractor_agent_spark.functions.webtext import meta_robots

    meta = F.element_at(
        F.array(
            F.lit(""),
            F.lit('<meta name="robots" content="noindex">'),
            F.lit('<meta content="nofollow" name="robots">'),
            F.lit('<meta name="robots" content="NOINDEX, NOFOLLOW">'),
            F.lit('<meta name="robots" content="none">'),
        ),
        (F.col("doc_id") % 5).cast("int") + 1,
    )
    pages = _t(spark, sf, "documents").withColumn(
        "html",
        F.concat(F.lit("<html><head>"), meta, F.lit("</head><body><p>x</p></body></html>")),
    )
    return meta_robots(pages, "html", keep_cols=("doc_id",))


def _q_latest_revision(spark, sf):
    """Cross-snapshot URL revisit dedup: ~97 synthetic pages each
    captured many times (colliding canonical urls, deterministic
    warc_ts with ties) — newest capture wins, doc_id breaks ts ties."""
    from pdf_context_extractor_agent_spark.functions.urls import latest_revision

    pages = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://WWW.example.COM/p/"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("?utm_source=feed&x=Y#top"),
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, cast(doc_id % 11 AS int), 0, 0, 0)"
        ).alias("warc_ts"),
    )
    return latest_revision(pages, tie_col="doc_id").select(
        "doc_id", "canon_url", "warc_ts", "revision_rank", "is_latest"
    )


# robots.txt crawl-policy fixtures: 7 hosts, bodies written with '|'
# line separators (translated to \n on both engines) so the Spark and
# DuckDB inputs are character-identical. Coverage: group runs with
# multiple User-agent lines (h2), specific-agent-beats-* (h1), comments
# + directive case + empty Disallow (h3), inapplicable-agent (h4),
# allow/disallow tie at equal path length (h5), empty body (h6).
_ROBOTS_BODIES = [
    "User-agent: *|Disallow: /private/|Allow: /private/public/|Crawl-delay: 2",
    "User-agent: ccbot|Disallow: /no-cc/|Crawl-delay: 10||User-agent: *|Disallow: /",
    "User-agent: foo|User-agent: ccbot|Disallow: /shared/|Allow: /shared/ok",
    "# robots|USER-AGENT: *|DISALLOW:|Crawl-Delay: 0.5|Disallow: /cgi-bin/",
    "User-agent: otherbot|Disallow: /",
    "User-agent: *|Disallow: /a/|Allow: /a/|Disallow: /a/b",
    "",
]
_FRONTIER_PATHS = [
    "/",
    "/private/x",
    "/private/public/y",
    "/no-cc/z",
    "/a/b/c",
    "/shared/ok/page",
    "/a/zz",
]


def _robots_df(spark, sf):
    """One robots.txt body per synthetic host h0..h6."""
    hosts = (
        _t(spark, sf, "documents")
        .select((F.col("doc_id") % 7).alias("hid"))
        .distinct()
    )
    body = F.element_at(
        F.array(*[F.lit(b) for b in _ROBOTS_BODIES]), F.col("hid").cast("int") + 1
    )
    return hosts.select(
        F.concat(F.lit("h"), F.col("hid").cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
        F.translate(body, "|", "\n").alias("robots_txt"),
    )


def _frontier_urls(spark, sf):
    """Candidate URLs spread over the 7 robots hosts × 7 path shapes;
    the ?id= suffix keeps every URL (hence its canonical form) unique."""
    path = F.element_at(
        F.array(*[F.lit(p) for p in _FRONTIER_PATHS]),
        F.expr("cast((doc_id div 7) % 7 as int)") + 1,
    )
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://www.h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".EXAMPLE.com"),
            path,
            F.lit("?id="),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )


def _q_robots_rules(spark, sf):
    """robots.txt parse → per-host rules dimension for agent 'ccbot':
    group-run detection, most-specific-agent-wins, empty-Disallow and
    comment/case handling all land in the rule set."""
    from pdf_context_extractor_agent_spark.functions.robots import robots_rules

    return robots_rules(_robots_df(spark, sf), agent="ccbot")


def _q_robots_check(spark, sf):
    """URL allowance verdicts: longest-matched-path wins, allow beats
    disallow on a length tie, unmatched (and rule-less hosts) allowed."""
    from pdf_context_extractor_agent_spark.functions.robots import (
        robots_check,
        robots_rules,
    )

    rules = robots_rules(_robots_df(spark, sf), agent="ccbot")
    return robots_check(_frontier_urls(spark, sf), rules)


def _q_crawl_frontier(spark, sf):
    """Politeness-scheduled fetch frontier: per-host priority ordering
    with Crawl-delay-spaced offsets (default 1s where no directive)."""
    from pdf_context_extractor_agent_spark.functions.robots import (
        frontier_schedule,
        robots_crawl_delay,
    )

    delays = robots_crawl_delay(_robots_df(spark, sf), agent="ccbot")
    urls = _frontier_urls(spark, sf).withColumn(
        "priority", (F.col("doc_id") % 13).cast("int")
    )
    return frontier_schedule(urls, delays, priority_col="priority")


# sitemap fixtures: 4 bodies ('|' → \n as with robots) covering a
# urlset with full/bare entries, a sitemapindex, a multiline-element
# body, and an empty body
_SITEMAP_BODIES = [
    "<urlset><url><loc>https://h0.example.com/a</loc><lastmod>2024-01-01</lastmod>"
    "<priority>0.8</priority></url><url><loc>https://h0.example.com/b</loc></url>"
    "</urlset>",
    "<sitemapindex><sitemap><loc>https://h1.example.com/s1.xml</loc>"
    "<lastmod>2024-02-02</lastmod></sitemap>"
    "<sitemap><loc>https://h1.example.com/s2.xml</loc></sitemap></sitemapindex>",
    "<urlset>|  <url>|    <loc> https://h2.example.com/pg </loc>|"
    "    <priority>0.5</priority>|  </url>|</urlset>",
    "",
]


def _q_sitemap_urls(spark, sf):
    """Sitemap XML parse → URL-discovery relation: urlset entries,
    sitemapindex children, multiline elements, optional lastmod and
    priority fields."""
    from pdf_context_extractor_agent_spark.functions.robots import sitemap_entries

    hosts = (
        _t(spark, sf, "documents")
        .select((F.col("doc_id") % 4).alias("hid"))
        .distinct()
    )
    body = F.element_at(
        F.array(*[F.lit(b) for b in _SITEMAP_BODIES]), F.col("hid").cast("int") + 1
    )
    sitemaps = hosts.select(
        F.concat(F.lit("h"), F.col("hid").cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
        F.translate(body, "|", "\n").alias("sitemap_xml"),
    )
    return sitemap_entries(sitemaps)


_FEED_BODIES = [
    "<rss><channel><item><title>A0</title>"
    "<link> https://h0.example.com/a </link>"
    "<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate></item>"
    "<item><link>https://h0.example.com/b</link></item></channel></rss>",
    '<feed><entry><title>E1</title>'
    '<link rel="alternate" href="https://h1.example.com/x"/>'
    "<updated>2024-02-03T04:05:06Z</updated></entry>"
    '<entry><link href="https://h1.example.com/y"/></entry></feed>',
    "<rss><channel><item><title>No link</title></item></channel></rss>"
    '<feed><entry><link href="https://h2.example.com/z"/>'
    "<updated>2024-05-06</updated></entry></feed>",
    "",
]


def _q_feed_entries(spark, sf):
    """RSS/Atom feed parse → URL-discovery relation: item link text
    elements vs entry link href attributes, pubDate/updated fallback,
    linkless items dropped with position preserved."""
    from pdf_context_extractor_agent_spark.functions.robots import feed_entries

    hosts = (
        _t(spark, sf, "documents")
        .select((F.col("doc_id") % 4).alias("hid"))
        .distinct()
    )
    body = F.element_at(
        F.array(*[F.lit(b) for b in _FEED_BODIES]), F.col("hid").cast("int") + 1
    )
    feeds = hosts.select(
        F.concat(F.lit("h"), F.col("hid").cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
        body.alias("feed_xml"),
    )
    return feed_entries(feeds)


def _q_surt_keys(spark, sf):
    """SURT keys over the frontier URLs: host case-fold + www-drop +
    label reversal, path/query kept, sort-clusters sites."""
    from pdf_context_extractor_agent_spark.sources.cdx import surt_key

    return _frontier_urls(spark, sf).select(
        "doc_id", "url", surt_key(F.col("url")).alias("surt")
    )


def _cdx_lines_df(spark, sf):
    """Deterministic CDXJ lines synthesized from doc_id: every 3 docs
    share one urlkey (revisits for latest-capture selection), statuses
    and mimes vary on doc_id residues, ts/offset/length derived."""
    d = _t(spark, sf, "documents").select("doc_id")
    g = F.expr("doc_id div 3")  # revisit group
    status = F.when(F.col("doc_id") % 5 == 0, F.lit("404")).otherwise(F.lit("200"))
    mime = F.when(F.col("doc_id") % 7 == 0, F.lit("application/pdf")).otherwise(
        F.lit("text/html")
    )
    ts = F.format_string("2024%02d%02d120000", (F.col("doc_id") % 12) + 1,
                         (F.col("doc_id") % 28) + 1)
    return d.select(
        F.concat(
            F.lit("com,example,h"), (g % 11).cast("string"), F.lit(")/p/"),
            g.cast("string"),
            F.lit(" "), ts,
            F.lit(' {"url": "https://h'), (g % 11).cast("string"),
            F.lit(".example.com/p/"), g.cast("string"),
            F.lit('", "status": "'), status,
            F.lit('", "mime": "'), mime,
            F.lit('", "digest": "sha1:D'), g.cast("string"),
            F.lit('", "length": "'), ((F.col("doc_id") % 997) + 100).cast("string"),
            F.lit('", "offset": "'), (F.col("doc_id") * 1000).cast("string"),
            F.lit('", "filename": "crawl-'), (F.col("doc_id") % 4).cast("string"),
            F.lit('.warc.gz"}'),
        ).alias("cdx_line")
    )


def _q_cdx_parse(spark, sf):
    """CDXJ line parse: urlkey/ts split + typed JSON field extraction."""
    from pdf_context_extractor_agent_spark.sources.cdx import parse_cdxj

    return parse_cdxj(_cdx_lines_df(spark, sf))


def _q_cdx_latest(spark, sf):
    """Capture selection over the parsed index: newest 200/text-html
    capture per urlkey, deterministic under timestamp ties."""
    from pdf_context_extractor_agent_spark.sources.cdx import (
        cdx_select_latest,
        parse_cdxj,
    )

    return cdx_select_latest(parse_cdxj(_cdx_lines_df(spark, sf)))


def _q_pq_topk(spark, sf):
    """Product-quantization ADC top-k (Jegou et al. 2011): strided
    deterministic codebooks, m-byte codes, integer-quantized lookup-
    table scores — the codes-only 10^12-vector scan path."""
    from pdf_context_extractor_agent_spark.functions.similarity import pq_topk

    emb = _t(spark, sf, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return pq_topk(emb, [float(x) for x in qrow[0]], k=10, m=8, ksub=16, stride=31)


def _q_anchor_profile(spark, sf):
    """Per-target anchor-term profiles over a link graph where 7 hub
    targets share inbound anchors: shared terms (doc/link) aggregate
    per hub, each doc id term counts once; rank = (count desc, term
    asc), top-5 kept."""
    from pdf_context_extractor_agent_spark.functions.graph import anchor_profile

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit('<a href="/t'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">doc '),
        F.col("doc_id").cast("string"),
        F.lit(' <b>link</b></a><a href="/img"><img/></a>'),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"), html.alias("html")
    )
    return anchor_profile(pages, k=5)


def _q_hits(spark, sf):
    """Fixed-point HITS (Kleinberg 1999), 2 iterations over the same
    deterministic skewed link graph as q_pagerank. Scaled-integer
    arithmetic with L1 normalization as a broadcast one-row aggregate
    — auth/hub scores bit-identical across engines and shuffle
    orders."""
    from pdf_context_extractor_agent_spark.functions.graph import hits

    docs = _t(spark, sf, "documents")
    n = docs.count()
    e1 = docs.selectExpr("doc_id AS src", f"(doc_id * doc_id + 3) % {n} AS dst")
    e2 = docs.selectExpr("doc_id AS src", "doc_id % 97 AS dst")
    return hits(e1.unionByName(e2), n, n_iter=2)


def _q_hyperball(spark, sf):
    """HyperBall (Boldi-Vigna 2013) neighborhood function + harmonic
    centrality over the REVERSED skew graph (incoming-distance balls,
    the classic harmonic direction). Per-node HLL registers in long
    format; union-of-sketches = groupBy max — exactly mirrorable, so
    even the estimates are bit-identical cross-engine."""
    from pdf_context_extractor_agent_spark.functions.graph import hyperball

    docs = _t(spark, sf, "documents")
    n = docs.count()
    e1 = docs.selectExpr(f"(doc_id * doc_id + 3) % {n} AS src", "doc_id AS dst")
    e2 = docs.selectExpr("doc_id % 97 AS src", "doc_id AS dst")
    return hyperball(e1.unionByName(e2), n, t_max=2)


def _q_label_prop(spark, sf):
    """Synchronous LPA communities, 2 rounds over the symmetrized skew
    graph. Deterministic min-label tie-break (classic LPA's random
    tie-break is unverifiable); the 97 hub nodes seed the clusters."""
    from pdf_context_extractor_agent_spark.functions.graph import label_propagation

    docs = _t(spark, sf, "documents")
    n = docs.count()
    e1 = docs.selectExpr("doc_id AS src", f"(doc_id * doc_id + 3) % {n} AS dst")
    e2 = docs.selectExpr("doc_id AS src", "doc_id % 97 AS dst")
    return label_propagation(e1.unionByName(e2), n, n_iter=2)


def _meta_pages(spark, sf):
    """Synthetic metadata-bearing HTML heads, 4 variants by doc_id%4:
    full property-first order / content-first + href-first order /
    http-equiv charset with og+canonical+date absent / bare (title,
    charset, lang all absent)."""
    docs = _t(spark, sf, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    r = F.col("doc_id") % 4
    full = F.concat(
        F.lit('<html lang="en"><head><title> Doc  '), i,
        F.lit('\n</title><meta charset="UTF-8"><meta property="og:title" content="OG '),
        i, F.lit('"/><link rel="canonical" href="https://example.com/c/'), i,
        F.lit('"/><meta property="article:published_time" content="2024-01-02"/></head><body/></html>'),
    )
    flipped = F.concat(
        F.lit('<html lang="fr-CA"><head><title>Doc '), i,
        F.lit('</title><meta charset=utf-8><meta content="OG '), i,
        F.lit(' flip" property="og:title"/><link href="https://example.com/c/'), i,
        F.lit('" rel="canonical"/><meta content="2023-12-31T23:59:59Z" property="article:published_time"/></head></html>'),
    )
    httpequiv = F.concat(
        F.lit('<html lang="zh"><head><title>Doc '), i,
        F.lit('</title><meta http-equiv="Content-Type" content="text/html; charset=GBK"></head></html>'),
    )
    bare = F.lit("<html><head></head><body>no head fields</body></html>")
    html = (
        F.when(r == 0, full)
        .when(r == 1, flipped)
        .when(r == 2, httpequiv)
        .otherwise(bare)
    )
    return docs.select("doc_id", html.alias("html"))


def _q_page_metadata(spark, sf):
    """Trafilatura-style header pass: title/og:title/canonical/
    published_time/charset/html-lang, attribute-order-insensitive."""
    from pdf_context_extractor_agent_spark.functions.webtext import page_metadata

    return page_metadata(_meta_pages(spark, sf), keep_cols=("doc_id",))


def _q_snapshot_diff(spark, sf):
    """Cross-snapshot crawl delta: old snapshot (doc_id%7!=0, www+utm
    url variants) vs new snapshot (doc_id%5!=0, plain urls, every
    third body revised) — canonicalization must join the variants so
    revisits classify as changed/unchanged, not new+gone."""
    from pdf_context_extractor_agent_spark.functions.urls import snapshot_diff

    docs = _t(spark, sf, "documents")
    base = F.concat(
        F.lit("h"), (F.col("doc_id") % 11).cast("string"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
    )
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.concat(F.lit("https://WWW."), base, F.lit("?utm_source=feed")).alias("url"),
        F.md5(F.col("text")).alias("digest"),
    )
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("https://"), base).alias("url"),
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("v2"))
            ).otherwise(F.col("text"))
        ).alias("digest"),
    )
    return snapshot_diff(old, new)


def _q_temperature_mix(spark, sf):
    """mT5-style α=0.5 temperature mixing rates per language: sqrt is
    the one IEEE-exact power, weights floor-quantized to 2^-20 BIGINTs
    before the normalizing sum — exact on any engine."""
    from pdf_context_extractor_agent_spark.functions.sampling import (
        temperature_mix_rates,
    )

    return temperature_mix_rates(_t(spark, sf, "documents"), "lang")


def _q_hll_union(spark, sf):
    """Cross-snapshot HLL merge: token sketches of two overlapping
    document slices (doc_id%2==0 vs %3==0) plus their union estimated
    from the MERGED registers (element-wise max) — the dimension-sized
    union that replaces any re-scan at 10^12 rows."""
    from pdf_context_extractor_agent_spark.functions.lm import word_array
    from pdf_context_extractor_agent_spark.functions.sketch import hll_union_estimate

    docs = _t(spark, sf, "documents")

    def toks(cond):
        return (
            docs.filter(cond)
            .select(F.explode(word_array(F.col("text"))).alias("token"))
            .filter(F.col("token") != "")
        )

    return hll_union_estimate(
        toks(F.col("doc_id") % 2 == 0), toks(F.col("doc_id") % 3 == 0)
    )


def _q_url_templates(spark, sf):
    """Crawler-trap detection: 4 URL families (calendar {d} segments,
    md5-session {h} segments, item-N {w} slugs, literal+query-skeleton)
    collapse to 4 templates; distinct-canonical-url counts flag the
    unbounded ones at threshold 100."""
    from pdf_context_extractor_agent_spark.functions.urls import url_template_stats

    docs = _t(spark, sf, "documents")
    i = F.col("doc_id")
    url = (
        F.when(i % 4 == 0, F.concat(
            F.lit("https://t0.example.com/cal/2024/"),
            (i % 12 + 1).cast("string"), F.lit("/"), (i % 28 + 1).cast("string")))
        .when(i % 4 == 1, F.concat(
            F.lit("https://t1.example.com/s/"), F.md5(i.cast("string"))))
        .when(i % 4 == 2, F.concat(
            F.lit("https://t2.example.com/article/item-"), i.cast("string")))
        .otherwise(F.concat(
            F.lit("https://t3.example.com/about?page="), (i % 7).cast("string")))
    )
    return url_template_stats(docs.select(url.alias("url")), trap_threshold=100)


def _q_fix_mojibake(spark, sf):
    """ftfy-core mojibake repair: corrupt each document body with two
    deterministic UTF-8-as-cp1252 injections ('e'→'Ã©', ','→'â€™'),
    then run the full table-driven repair chain. Output keys the
    repaired body by md5 plus the shrinkage-based corruption score —
    the compact relation a curation pass persists."""
    from pdf_context_extractor_agent_spark.functions.encoding import mojibake_stats

    docs = _t(spark, sf, "documents")
    corrupted = docs.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit("e"), F.lit("Ã©")),
            F.lit(","),
            F.lit("â€™"),
        ).alias("text"),
    )
    return mojibake_stats(corrupted)


_MIX_RATES = {"en": 0.5, "zh": 0.8, "de": 0.25, "es": 0.6}  # fr: dropped


def _q_stratified_sample(spark, sf):
    """Data-mixing sample: deterministic per-language quotas (md5-keyed
    uniform, reproducible on any engine, zero shuffle)."""
    from pdf_context_extractor_agent_spark.functions.sampling import stratified_sample

    return stratified_sample(_t(spark, sf, "documents"), _MIX_RATES).select(
        "doc_id", "lang", "u"
    )


_MIX_QUOTAS = {"en": 120, "zh": 40, "fr": 25}  # de/es: dropped


def _q_stratified_topk(spark, sf):
    """Exact per-stratum quota sampling (absolute counts, not rates):
    deterministic-draw rank within each stratum, keep the first k."""
    from pdf_context_extractor_agent_spark.functions.sampling import stratified_topk

    return stratified_topk(_t(spark, sf, "documents"), _MIX_QUOTAS).select(
        "doc_id", "lang", "u", "rank"
    )


def _q_decontaminate(spark, sf):
    """Benchmark decontamination: fraction of each document's distinct
    word 3-grams appearing in the held-out set (doc_id % 97 == 0)."""
    from pdf_context_extractor_agent_spark.functions.sampling import ngram_decontaminate

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return ngram_decontaminate(docs, bench, n=3)


def _q_curation_verdicts(spark, sf):
    """The full curation assembly line in ONE relation: quality gate →
    exact dedup → MinHash-LSH near-dup → cluster resolution, with the
    per-document audit verdict (why each doc survived or dropped).
    Every stage is individually oracle-checked elsewhere; this query
    value-checks their COMPOSITION."""
    from pdf_context_extractor_agent_spark.plans.curate import curate

    out = curate(_t(spark, sf, "documents"), gates={"min_words": 40})
    return out["verdicts"].select(
        "doc_id",
        F.array_join("gate_reasons", ",").alias("gate_reasons"),
        "exact_dup",
        "near_dup_shadowed",
        "component",
        "kept",
    )


def _q_script_features(spark, sf):
    from pdf_context_extractor_agent_spark.functions.quality import script_features

    return script_features(_t(spark, sf, "documents")).select(
        "doc_id", "latin_frac", "han_frac", "kana_frac", "hangul_frac",
        "cyrillic_frac", "arabic_frac", "greek_frac", "digit_frac",
        "main_script", "script_other_frac",
    )


def _gopher_text(spark, sf) -> DataFrame:
    """Deterministic multi-line text for the Gopher line/paragraph
    metrics (the flat corpus has no newlines): words chunked into
    8-word lines, 3-line paragraphs, plus doc_id-keyed tails that
    exercise the stop-word / bullet / ellipsis / symbol rules. Mirrored
    verbatim in the DuckDB oracles."""
    from pdf_context_extractor_agent_spark.functions.dedup import normalized_words

    docs = _t(spark, sf, "documents")
    staged = docs.select("doc_id", normalized_words(F.col("text")).alias("_w"))
    w = F.col("_w")
    n_chunks = F.greatest(F.ceil(F.size(w) / F.lit(8.0)).cast("int"), F.lit(1))
    staged = staged.withColumn(
        "_lines",
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(" ", F.slice(w, (i - 1) * 8 + 1, 8)),
        ),
    )
    l = F.col("_lines")
    n_paras = F.greatest(F.ceil(F.size(l) / F.lit(3.0)).cast("int"), F.lit(1))
    paras = F.transform(
        F.sequence(F.lit(1), n_paras),
        lambda j: F.concat_ws("\n", F.slice(l, (j - 1) * 3 + 1, 3)),
    )
    text = F.concat(
        F.concat_ws("\n\n", paras),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("\nof and to be that have with tail")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("\n- bullet item\n- another bullet..."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\n### symbols ... more # # # # # # # # #"),
        ).otherwise(F.lit("")),
    )
    return staged.select("doc_id", text.alias("text"))


def _q_gopher_repetition(spark, sf):
    """Full Gopher repetition suite (line/para dup fractions + top/dup
    n-gram char fractions, n=2..10) over deterministically line-chunked
    corpus text — pure per-row array folds, zero exchanges."""
    from pdf_context_extractor_agent_spark.functions.quality import gopher_repetition

    r = gopher_repetition(_gopher_text(spark, sf))
    return r.select(
        "doc_id", *[F.round(c, 6).alias(c) for c in r.columns if c != "doc_id"]
    )


def _q_gopher_gate(spark, sf):
    """Gopher Table-A1 document gate: every rule as a named pass flag,
    keep = all pass, fail_reasons = ordered comma-joined failures."""
    from pdf_context_extractor_agent_spark.functions.quality import gopher_gate

    return gopher_gate(_gopher_text(spark, sf))


def _q_dup_spans(spark, sf):
    """Substring-level exact dedup: duplicated k-token window spans
    (canonical occurrence exempt), merged to maximal intervals; windows
    are md5-keyed, so DuckDB recomputes the window keys."""
    from pdf_context_extractor_agent_spark.functions.dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf, "documents"), k=8)


def _q_remove_dup_spans(spark, sf):
    from pdf_context_extractor_agent_spark.functions.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _t(spark, sf, "documents")
    return remove_duplicate_spans(docs, duplicate_spans(docs, k=8))


def _cmp_inputs(spark, sf):
    """Two deterministic column-map relations + a headers relation
    derived from `documents` — synthetic analyzer outputs whose
    divergences are arithmetic in doc_id, so the comparator algebra
    (null-safe diff, cell attach, summary, resolution) is fully
    oracle-checkable. The REAL analyzer integration (header_maps twice)
    is certified by tests/test_compare.py."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("int").alias("item_col"),
        ((F.col("doc_id") + 1) % 4).cast("int").alias("cur_col"),
        ((F.col("doc_id") + 2) % 4).cast("int").alias("prev_col"),
        F.when(
            F.col("doc_id") % 3 == 0, ((F.col("doc_id") + 3) % 4).cast("int")
        ).alias("note_col"),
    )
    alt = base.withColumns(
        {
            "cur_col": F.when(
                F.col("doc_id") % 5 == 0, ((F.col("cur_col") + 1) % 4).cast("int")
            ).otherwise(F.col("cur_col")),
            "prev_col": F.when(
                F.col("doc_id") % 11 == 0, F.lit(None).cast("int")
            ).otherwise(F.col("prev_col")),
            "note_col": F.when(
                F.col("doc_id") % 7 == 0, F.lit(None).cast("int")
            ).otherwise(F.col("note_col")),
        }
    )
    headers = docs.select(
        "doc_id", F.slice(F.split(F.trim("text"), r"\s+"), 1, 4).alias("cells")
    )
    return base, alt, headers


def _q_result_compare(spark, sf):
    from pdf_context_extractor_agent_spark.operators.compare import compare_column_maps

    base, alt, headers = _cmp_inputs(spark, sf)
    return compare_column_maps(base, alt, headers, keys=("doc_id",))["differences"]


def _q_resolve_choices(spark, sf):
    from pdf_context_extractor_agent_spark.operators.compare import (
        compare_column_maps,
        resolve_choices,
    )

    base, alt, _ = _cmp_inputs(spark, sf)
    cmp = compare_column_maps(base, alt, keys=("doc_id",))
    choices = (
        base.filter((F.col("doc_id") % 13 == 0) | (F.col("doc_id") % 17 == 0))
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 13 == 0, F.lit("right"))
            .otherwise(F.lit("skip"))
            .alias("choice"),
        )
    )
    res = resolve_choices(
        base, alt, cmp["summary"], policy="left", choices=choices, keys=("doc_id",)
    )
    return res["choices_log"].join(
        cmp["summary"].select("doc_id", "is_match", "summary"), "doc_id"
    ).select("doc_id", "n_diff", "choice", "choice_source", "is_match", "summary")


SPLIT_FRACS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _q_assign_splits(spark, sf):
    """Deterministic train/val/test assignment: the md5-keyed draw
    lands in cumulative-fraction intervals — stable across reruns and
    engines, so eval membership never drifts between corpus rebuilds."""
    from pdf_context_extractor_agent_spark.functions.sampling import assign_splits

    return assign_splits(_t(spark, sf, "documents"), SPLIT_FRACS).select(
        "doc_id", "u", "split"
    )


def _q_pack_sequences(spark, sf):
    """Concat-and-chunk packing stats at context length 2048: which
    training windows each doc lands in (two-phase prefix sum — local
    cumsum + partition-offset broadcast, never a global-order window)."""
    from pdf_context_extractor_agent_spark.functions.sampling import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), budget_tokens=2048)


def _q_seq_manifest(spark, sf):
    """Training-shard slice manifest: per (window × doc) intersection,
    the exact token slice that fills it, plus the shard each window
    lands in (8 windows/shard here so the shard key is exercised)."""
    from pdf_context_extractor_agent_spark.functions.sampling import sequence_manifest

    return sequence_manifest(
        _t(spark, sf, "documents"), budget_tokens=2048, seqs_per_shard=8
    )


def _q_shard_manifest(spark, sf):
    """Per-shard loader manifest: windows, distinct docs, and tokens
    per output shard (one groupBy on the shard partition key)."""
    from pdf_context_extractor_agent_spark.functions.sampling import (
        sequence_manifest,
        shard_manifest,
    )

    return shard_manifest(
        sequence_manifest(
            _t(spark, sf, "documents"), budget_tokens=2048, seqs_per_shard=8
        )
    )


def _q5_local_supplier_volume(spark, sf):
    """TPC-H Q5 shape: revenue per nation where customer and supplier
    share the nation, customers restricted to one region — the classic
    6-way join. region/nation are broadcast dims; the
    customer⋈orders⋈lineitem⋈supplier spine shuffles on its keys and
    AQE picks the physical strategy per side."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
    joined = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
    )
    return (
        joined.select("n_name", rev)
        .groupBy("n_name")
        .agg(F.round(F.sum("_rev"), 2).alias("revenue"))
    )


def _q_anchor_texts(spark, sf):
    """Anchor-text corpus extraction over deterministically synthesized
    HTML (two anchors per doc: one with inner markup, one image-only
    that must be dropped). The oracle states the expected triples
    directly — independent of either engine's regex quirks."""
    from pdf_context_extractor_agent_spark.functions.graph import (
        extract_anchor_texts,
    )

    docs = _t(spark, sf, "documents")
    html = F.concat(
        F.lit("<p>pre</p><a class=\"x\" href=\"/d/"),
        F.col("doc_id").cast("string"),
        F.lit("\">doc "),
        F.col("doc_id").cast("string"),
        F.lit(" <b>link</b></a><a href=\"/img\"><img/></a>"),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"), html.alias("html")
    )
    return extract_anchor_texts(pages)


def _q_pagerank(spark, sf):
    """Fixed-point PageRank, 3 power iterations over a deterministic
    synthetic link graph with real degree skew: doc i → (i²+3) mod N
    (irregular in-degrees) and i → i mod 97 (hub nodes 0..96).
    Scaled-integer arithmetic: the distributed contribution sum is
    exact, so ranks are bit-identical across engines and across
    shuffle orders — float PageRank can promise neither."""
    from pdf_context_extractor_agent_spark.functions.graph import page_rank

    docs = _t(spark, sf, "documents")
    n = docs.count()
    e1 = docs.selectExpr("doc_id AS src", f"(doc_id * doc_id + 3) % {n} AS dst")
    e2 = docs.selectExpr("doc_id AS src", "doc_id % 97 AS dst")
    return page_rank(e1.unionByName(e2), n, n_iter=3)


def _q_bpe_merges(spark, sf):
    """Distributed BPE training, 5 merges: one corpus groupBy(word),
    then per-round pair aggregation on the dimension-sized vocab.
    The learned merge table IS the model — deterministic tie-break
    (count desc, pair lexicographic) so every engine learns the same
    tokenizer."""
    from pdf_context_extractor_agent_spark.functions.bpe import bpe_merges_df

    return bpe_merges_df(spark, _t(spark, sf, "documents"), n_merges=5)


def _q_bpe_tokens(spark, sf):
    """Corpus token distribution under the 5-merge BPE tokenizer."""
    from pdf_context_extractor_agent_spark.functions.bpe import bpe_token_counts

    return bpe_token_counts(_t(spark, sf, "documents"), n_merges=5)


def _q_det_shuffle(spark, sf):
    """Reproducible epoch shuffle: md5-keyed global rank via the
    two-phase scan (range partition → local row_number → broadcast
    partition-count offsets) — never a global-order window."""
    from pdf_context_extractor_agent_spark.functions.sampling import (
        deterministic_shuffle,
    )

    return deterministic_shuffle(_t(spark, sf, "documents"))


def _q_dup_clusters(spark, sf):
    """Fuzzy-dedup endgame: MinHash-LSH near-dup pairs → connected
    components (alternating large-star/small-star, Kiveris et al.
    SoCC'14) → one canonical doc per duplicate cluster. The step the
    reference never needs at single-node scale but a 10^12-doc corpus
    cannot skip: pairwise near-dup verdicts alone over-delete
    (A~B, B~C but A!~C) unless resolved into clusters first."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        dedup_clusters,
        minhash_dedup,
    )

    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup(docs, num_hashes=16, bands=8, threshold=0.5)
    return dedup_clusters(docs, pairs)


def _q_classifier_score(spark, sf):
    """Linear bag-of-words classifier apply (fastText/CCNet quality-
    filter shape): broadcast the (term, weight) model onto the exploded
    term stream, one partial-agg mean per doc. Weights are md5-derived
    exact multiples of 2^-16 so sums are cross-engine exact."""
    from pdf_context_extractor_agent_spark.functions.classify import (
        apply_linear_model,
        vocabulary_model,
    )

    docs = _t(spark, sf, "documents")
    out = apply_linear_model(docs, vocabulary_model(docs))
    return out.select(
        "doc_id", "n_terms", F.round("margin", 6).alias("margin"), "label"
    )


def _q_nfc_normalize(spark, sf):
    """Unicode NFC normalization (Arrow-batched pandas UDF): a
    decomposed 'cafe\\u0301' suffix is appended so the oracle check
    exercises real composition, not an ASCII identity."""
    from pdf_context_extractor_agent_spark.functions.webtext import nfc_normalize

    docs = _t(spark, sf, "documents")
    dirty = F.concat(F.col("text"), F.lit(" cafe\u0301"))
    return docs.select(
        "doc_id",
        F.md5(nfc_normalize(dirty)).alias("norm_md5"),
        F.length(nfc_normalize(dirty)).alias("n_chars"),
    )


def _dsir_scored(spark, sf):
    from pdf_context_extractor_agent_spark.functions.dsir import (
        dsir_log_ratios,
        dsir_score,
    )

    docs = _t(spark, sf, "documents")
    ratios = dsir_log_ratios(docs.filter(F.col("lang") == "en"), docs)
    return dsir_score(docs, ratios)


def _q_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): hashed-bigram-free,
    bucketed-unigram variant — target = English docs, source = full
    corpus. Bucket log-ratios are quantized to exact 2^-16 multiples so
    the per-doc mean is cross-engine exact before the display round."""
    return _dsir_scored(spark, sf).select(
        "doc_id", "n_terms", F.round("dsir_weight", 6).alias("dsir_weight")
    )


def _q_dsir_select(spark, sf):
    """DSIR top-k resampling: TakeOrdered on the UNROUNDED weight
    (exact cross-engine, doc_id tiebreak), rounded only for display."""
    from pdf_context_extractor_agent_spark.functions.dsir import dsir_select

    return dsir_select(_dsir_scored(spark, sf), 50).select(
        "doc_id", "n_terms", F.round("dsir_weight", 6).alias("dsir_weight")
    )


def _q_sniff_mime(spark, sf):
    """Magic-byte content-type sniffing over synthesized crawl
    payloads: 10 payload kinds keyed by doc_id % 10 (PDF, gzip, zip,
    whitespace+uppercase-DOCTYPE html, BOM+html, xml, json, WARC,
    prose, empty), built as hex → unhex binary so the gzip/zip magic
    bytes are REAL non-UTF8 bytes; the oracle restates the synthesis
    label. Exercises the BOM strip, the ltrim/lower marker scan, and
    the latin-1 head decode (which can't throw on the raw gzip bytes)."""
    from pdf_context_extractor_agent_spark.sources.pages import sniff_content_type

    k = (F.col("doc_id") % 10).cast("int")
    text_hex = F.hex(F.encode(F.substring(F.coalesce("text", F.lit("")), 1, 40),
                              "UTF-8"))
    payload_hex = (
        F.when(k == 0, F.concat(F.lit("255044462D312E370A"), text_hex))
        .when(k == 1, F.concat(F.lit("1F8B0800"), text_hex))
        .when(k == 2, F.concat(F.lit("504B0304"), text_hex))
        # "  \n\t<!DOCTYPE HTML><html>" — ws + uppercase marker
        .when(k == 3, F.hex(F.encode(
            F.concat(F.lit("  \n\t<!DOCTYPE HTML><html><body>"),
                     F.substring(F.coalesce("text", F.lit("")), 1, 40)),
            "UTF-8")))
        .when(k == 4, F.concat(F.lit("EFBBBF"), F.hex(F.encode(
            F.lit('<html lang="en"><head></head>'), "UTF-8"))))
        .when(k == 5, F.hex(F.encode(
            F.lit('<?xml version="1.0"?><urlset xmlns="x"/>'), "UTF-8")))
        .when(k == 6, F.hex(F.encode(
            F.concat(F.lit('  {"doc": '), F.col("doc_id").cast("string"),
                     F.lit("}")), "UTF-8")))
        .when(k == 7, F.hex(F.encode(F.lit("WARC/1.0\r\nWARC-Type: response"),
                                     "UTF-8")))
        .when(k == 8, F.hex(F.encode(
            F.concat(F.lit("Just plain prose. "),
                     F.substring(F.coalesce("text", F.lit("")), 1, 40)),
            "UTF-8")))
        .otherwise(F.lit(""))
    )
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.unhex(payload_hex).alias("payload")
    )
    return docs.select(
        "doc_id", sniff_content_type(F.col("payload")).alias("content_type")
    )


def _q_wet_records(spark, sf):
    """WET conversion-record sink: (url, warc_ts, text) → ISO-28500
    record strings with byte-exact Content-Length (an 'é' is injected
    into every body so a char count would be wrong); the oracle
    rebuilds the record with strlen (DuckDB's byte length)."""
    from pdf_context_extractor_agent_spark.sources.warc import wet_records

    d = F.col("doc_id")
    pages = _t(spark, sf, "documents").filter(d < 400).select(
        F.concat(F.lit("https://crawl.example.org/doc/"), d.cast("string"))
        .alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.expr("make_interval(0,0,0,0,cast(doc_id % 97 as int),"
                  "cast(doc_id % 59 as int),0)")).alias("warc_ts"),
        F.replace(F.substring(F.coalesce("text", F.lit("")), 1, 120),
                  F.lit("a"), F.lit("é")).alias("text"),
    )
    out = wet_records(pages)
    return out.select("url", F.md5("wet_record").alias("record_md5"),
                      F.length("wet_record").alias("record_chars"))


def _q_decode_charset(spark, sf):
    """Charset-aware byte→text decode: per doc_id%6 a fixture encoder
    (pandas UDF) serializes the SAME body the oracle rebuilds in SQL,
    under six charset regimes — meta utf-8, utf-8 BOM, meta
    windows-1252 (curly quote at 0x92), meta ISO-8859-1, utf-16le BOM,
    and unlabeled ascii (the utf-8-strict default lane). decode_pages
    must detect the charset and recover the body byte-exactly."""
    from pdf_context_extractor_agent_spark.functions.encoding import decode_pages

    k = (F.col("doc_id") % 6).cast("int")
    ascii_body = F.regexp_replace(
        F.concat(F.lit("Prose "),
                 F.substring(F.coalesce("text", F.lit("")), 1, 80),
                 F.lit(" fin")),
        "[^ -~]", "")
    docs = _t(spark, sf, "documents").select(
        "doc_id", k.alias("k"), ascii_body.alias("ab")
    )

    @F.pandas_udf("binary")
    def enc(kk: pd.Series, bb: pd.Series) -> pd.Series:
        out = []
        for k_, b_ in zip(kk, bb):
            e, q = b_.replace("a", "é"), b_.replace("a", "’")
            if k_ == 0:
                out.append(('<html><head><meta charset="utf-8"></head><body>'
                            + e + "</body></html>").encode("utf-8"))
            elif k_ == 1:
                out.append(b"\xef\xbb\xbf"
                           + f"<html><body>{e}</body></html>".encode("utf-8"))
            elif k_ == 2:
                out.append(('<html><head><meta charset="windows-1252">'
                            "</head><body>" + q + "</body></html>")
                           .encode("cp1252"))
            elif k_ == 3:
                out.append(("<html><head><meta charset='ISO-8859-1'>"
                            "</head><body>" + e + "</body></html>")
                           .encode("latin-1"))
            elif k_ == 4:
                out.append(b"\xff\xfe"
                           + f"<html><body>{e}</body></html>".encode("utf-16-le"))
            else:
                out.append(f"<html><body>{b_}</body></html>".encode("ascii"))
        return pd.Series(out)

    pages = docs.select("doc_id", enc("k", "ab").alias("html"))
    out = decode_pages(pages, keep=("doc_id",))
    return out.select(
        "doc_id", "charset", F.md5("text").alias("text_md5"),
        F.length("text").alias("text_chars"),
    )


def _q_domain_prior(spark, sf):
    """Bayesian-shrunk per-domain quality prior over the synthetic
    messy URLs: integer ppm scores, exact long sums, div division —
    bit-identical cross-engine with zero float hazards."""
    from pdf_context_extractor_agent_spark.functions.urls import domain_prior

    docs = _t(spark, sf, "documents").select(
        _synth_url().alias("url"),
        ((F.col("doc_id") * 7919) % 1000000).alias("score_ppm"),
    )
    return domain_prior(docs, smoothing=10)


def _q_markdown(spark, sf):
    """Markdown document assembly from structured blocks (heading /
    paragraph / list / pipe-table), one groupBy per doc with
    array_sort-pinned block order; the oracle rebuilds the full
    markdown string inline."""
    from pdf_context_extractor_agent_spark.functions.webtext import render_markdown

    d = F.col("doc_id")
    nul_cells = F.lit(None).cast("array<array<string>>")
    nul_text = F.lit(None).cast("string")

    def blk(seq, kind, text, cells):
        return F.struct(
            F.lit(seq).alias("seq"), F.lit(kind).alias("kind"),
            text.alias("text"), cells.alias("cells"),
        )

    blocks = _t(spark, sf, "documents").filter(d < 300).select(
        "doc_id",
        F.inline(F.array(
            blk(0, "h1", F.concat(F.lit("Doc "), d.cast("string")), nul_cells),
            blk(1, "p",
                F.substring(F.coalesce("text", F.lit("")), 1, 100), nul_cells),
            blk(2, "h2", F.lit("Details"), nul_cells),
            blk(3, "li",
                F.concat(F.lit("item "), (d % 5).cast("string")), nul_cells),
            blk(4, "li",
                F.concat(F.lit("item "), ((d + 1) % 5).cast("string")),
                nul_cells),
            blk(5, "table", nul_text,
                F.array(
                    F.array(F.lit("k"), F.lit("v")),
                    F.array(F.lit("a"), d.cast("string")),
                    F.array(F.lit("b"), (d * 2).cast("string")),
                )),
        )),
    )
    out = render_markdown(blocks)
    return out.select(
        "doc_id", F.md5("markdown").alias("md_md5"),
        F.length("markdown").alias("md_chars"),
    )


def _q_toc(spark, sf):
    """Document-outline extraction: 8 synthetic headings per doc with
    pseudo-random levels 1–3; nearest-smaller-level parent via bounded
    running-max windows + 5-round label resolution; the oracle restates
    the windows and resolves labels with a recursive CTE."""
    from pdf_context_extractor_agent_spark.functions.webtext import toc_from_blocks

    d = F.col("doc_id")
    i = F.col("i")
    lv = (1 + (d + i * i) % 3).cast("int")
    blocks = (
        _t(spark, sf, "documents")
        .filter(d < 300)
        .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"))
        .select(
            "doc_id",
            i.cast("int").alias("seq"),
            F.concat(F.lit("h"), lv.cast("string")).alias("kind"),
            F.concat(F.lit("H"), i.cast("string")).alias("text"),
        )
    )
    return toc_from_blocks(blocks)


def _q_textrank(spark, sf):
    """TextRank extractive summarization over the q_sentences corpus:
    Dice-ppm sentence graph, 3 integer power iterations, top-3 per doc;
    the oracle unrolls all three iterations as CTEs."""
    from pdf_context_extractor_agent_spark.functions.summarize import (
        textrank_sentences,
    )

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), r"((\w+ ){6}\w+) ", "$1. "
        ).alias("text"),
    )
    return textrank_sentences(docs)


def _q_audio_neardup(spark, sf):
    """Audio near-dup chain: FAKE PCM → window energies → sign-of-delta
    fingerprint → 4×8-bit banded Hamming join. 48 base tracks + 12
    payload twins (media 100+j duplicates j → Hamming 0). The oracle
    recomputes the ENTIRE chain from the PCM synthesis formula and
    verifies with an all-pairs bit_count(xor) scan — exhaustiveness of
    the banded join at Hamming ≤ 3 is exactly what's being certified."""
    from pdf_context_extractor_agent_spark.functions.multimodal import (
        audio_features,
        audio_fingerprint,
        audio_near_dups,
        make_fake_audio,
    )

    rows = [(i, make_fake_audio(i, n_windows=4 + i % 4, window=256))
            for i in range(48)]
    rows += [(100 + j, make_fake_audio(j, n_windows=4 + j % 4, window=256))
             for j in range(12)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = audio_fingerprint(audio_features(media, window=256))
    return audio_near_dups(fps, max_hamming=3)


def _q_cdc_dedup(spark, sf):
    """Content-defined chunk dedup: md5-gram boundary rule, first-
    occurrence ownership. 50 twins carry an inserted prefix — CDC
    boundaries re-align after the first cut, so twin chunks dedup
    against the originals (the property fixed-window chunking lacks);
    the oracle recomputes boundaries, chunks, and ownership in SQL."""
    from pdf_context_extractor_agent_spark.functions.dedup import cdc_dedup

    base = _t(spark, sf, "documents").filter(F.col("doc_id") < 250).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    twins = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("INSERTED PREFIX. "), F.col("text")).alias("text"),
    )
    return cdc_dedup(base.unionByName(twins))


def _q_jsonld(spark, sf):
    """schema.org JSON-LD extraction: per doc_id%3, an Article block
    (headline/date/author), an Article + Product pair, or a MALFORMED
    block (must be dropped, never crash); the oracle runs the same
    regexp + JSON-path chain in DuckDB."""
    from pdf_context_extractor_agent_spark.functions.webtext import jsonld_records

    d = F.col("doc_id")
    ds = d.cast("string")
    art = F.concat(
        F.lit('<script type="application/ld+json">{"@type":"Article",'
              '"headline":"T'), ds,
        F.lit('","datePublished":"2024-0'),
        (1 + d % 9).cast("string"),
        F.lit('-01","author":{"name":"A'),
        (d % 7).cast("string"),
        F.lit('"}}</script>'),
    )
    prod = F.concat(
        F.lit('<script type="application/ld+json">{"@type":"Product",'
              '"name":"P'), ds, F.lit('"}</script>'),
    )
    bad = F.lit('<script type="application/ld+json">{oops</script>')
    html = F.concat(
        F.lit("<html><head>"),
        F.when(d % 3 == 0, art)
        .when(d % 3 == 1, F.concat(art, prod))
        .otherwise(bad),
        F.lit("</head><body>"),
        F.substring(F.coalesce("text", F.lit("")), 1, 60),
        F.lit("</body></html>"),
    )
    pages = _t(spark, sf, "documents").filter(d < 400).select(
        d.alias("doc_id"), html.alias("html")
    )
    return jsonld_records(pages, id_col="doc_id")


def _q_pagination(spark, sf):
    """rel=next pagination chains via pointer-doubling list ranking:
    synthetic articles of 2–4 pages (chain c has 1 + c%4 pages; only
    multi-page chains emit links) plus a 3-node cycle that must be
    DROPPED (no first page). The oracle walks the same link set with a
    recursive CTE from the roots — which never enters the cycle."""
    from pdf_context_extractor_agent_spark.functions.webtext import (
        pagination_chains,
    )

    d = F.col("doc_id")
    c = F.expr("doc_id div 4")
    j = (d % 4).alias("j")
    docs = _t(spark, sf, "documents").filter(d < 400).select(
        c.alias("c"), j, (1 + (c % 4)).alias("L")
    ).filter(F.col("j") < F.col("L"))
    url = F.concat(F.lit("https://s.org/art/"), F.col("c").cast("string"),
                   F.lit("/p"), F.col("j").cast("string"))
    nxt = F.concat(F.lit("https://s.org/art/"), F.col("c").cast("string"),
                   F.lit("/p"), (F.col("j") + 1).cast("string"))
    links = docs.filter(F.col("j") + 1 < F.col("L")).select(
        url.alias("url"), nxt.alias("next_url")
    )
    cyc = spark.createDataFrame(
        [("https://s.org/cyc/0", "https://s.org/cyc/1"),
         ("https://s.org/cyc/1", "https://s.org/cyc/2"),
         ("https://s.org/cyc/2", "https://s.org/cyc/0")],
        "url string, next_url string",
    )
    return pagination_chains(links.unionByName(cyc))


def _q_line_offsets(spark, sf):
    """Character-span index per line (start/end into the document text)
    over deterministically re-lined documents; prefix-sum window."""
    from pdf_context_extractor_agent_spark.functions.webtext import line_offsets

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), r"((\w+ ){4}\w+) ", "$1\n"
        ).alias("text"),
    )
    return line_offsets(docs)


def _q_winnow_fp(spark, sf):
    """MOSS winnowing fingerprints (k=5, w=4): frame-min with
    rightmost tie-break; the oracle runs the same struct-min window."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    return winnow_fingerprints(docs)


def _q_winnow_pairs(spark, sf):
    """Winnowing match candidates: 40 twins with an inserted prefix
    must still share most local fingerprints with their originals."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    base = _t(spark, sf, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    twins = base.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("PREFIX NOISE. "), F.col("text")).alias("text"),
    )
    return winnow_pairs(winnow_fingerprints(base.unionByName(twins)),
                        min_shared=5)


def _q_domain_boiler(spark, sf):
    """Domain-scoped boilerplate: every doc leads with its domain's
    nav line (frequent WITHIN the domain → removed) and every 31st doc
    carries a cross-domain 'terms' line whose per-domain count stays
    under min_docs → kept. The corpus-global rule would get the second
    case wrong; the oracle restates the domain-keyed frequencies."""
    from pdf_context_extractor_agent_spark.functions.webtext import (
        domain_frequent_lines,
    )

    d = F.col("doc_id")
    dom = F.concat(F.lit("src"), (d % 7).cast("string"), F.lit(".com"))
    url = F.concat(F.lit("https://www."), dom, F.lit("/p/"), d.cast("string"))
    body = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"((\w+ ){4}\w+) ", "$1\n"
    )
    text = F.concat(
        F.lit("NAV HOME | ABOUT | "), dom, F.lit("\n"),
        F.when(d % 31 == 0, F.lit("Terms of service apply.\n"))
        .otherwise(F.lit("")),
        body,
    )
    pages = _t(spark, sf, "documents").filter(d < 300).select(
        url.alias("url"), text.alias("text")
    )
    return domain_frequent_lines(pages, min_docs=3)


def _q_unigram(spark, sf):
    """Quantized-log unigram segmentation (SentencePiece-style Viterbi
    with ilog2 scores — every comparison integer-exact): the engine
    runs the bounded DP; the oracle ENUMERATES every segmentation of
    every distinct word (recursive CTE, words capped at 10 chars) and
    ranks by the same (score DESC, n_pieces ASC, mask DESC) order —
    certifying the DP against brute force."""
    from pdf_context_extractor_agent_spark.functions.unigram import (
        piece_counts,
        viterbi_segment,
    )

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 80)
    pieces = piece_counts(docs, min_count=2)
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                        "[^a-z0-9]+"),
                lambda x: x != "",
            )
        ).alias("word")
    )
    return viterbi_segment(words, pieces)


def _q_host_rank(spark, sf):
    """Host-graph PageRank: page links collapse to 23 hosts (dense ids
    via the two-phase rank), then the same scaled-integer power
    iteration as q_pagerank — the domain-authority prior a curation
    pipeline feeds back into sampling."""
    from pdf_context_extractor_agent_spark.functions.graph import host_rank

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents")
    src = F.concat(F.lit("https://h"), (d % 23).cast("string"),
                   F.lit(".example.org/p/"), d.cast("string"))
    out1 = F.concat(F.lit("https://h"), ((d * d + 3) % 23).cast("string"),
                    F.lit(".example.org/"))
    out2 = F.concat(F.lit("https://h"), (d % 7).cast("string"),
                    F.lit(".example.org/"))
    # ONE scan of documents (explode the two outlinks) instead of a
    # two-branch union that reads the parquet twice
    edges = docs.select(
        src.alias("url"), F.explode(F.array(out1, out2)).alias("out_url")
    )
    return host_rank(edges)


def _q_robots_sitemaps(spark, sf):
    """Sitemap: directive extraction (global per RFC 9309 — outside
    the user-agent groups robots_lines models): every host gains a
    well-formed sitemap line, even hosts a second SHOUTY one, and host
    3 a relative (junk) line that must be skipped."""
    from pdf_context_extractor_agent_spark.functions.robots import robots_sitemaps

    r = _robots_df(spark, sf)
    hid = F.regexp_extract("host", r"h(\d)", 1).cast("int")
    extra = F.concat(
        F.lit("\nSitemap: https://"), F.col("host"), F.lit("/sitemap.xml"),
        F.when(
            hid % 2 == 0,
            F.concat(F.lit("\nSITEMAP:   https://cdn.example.com/"),
                     hid.cast("string"), F.lit("/map.xml.gz")),
        ).otherwise(F.lit("")),
        F.when(hid == 3, F.lit("\nSitemap: relative/path.xml"))
        .otherwise(F.lit("")),
    )
    return robots_sitemaps(
        r.withColumn("robots_txt", F.concat("robots_txt", extra))
    )


def _q_hard_negatives(spark, sf):
    """Contrastive hard-negative mining: top-3 most-similar vectors
    from OTHER clusters (cluster = vec_id % 5), floor-truncated
    cosine, neg_id tie-break; candidates replicate over the broadcast
    cluster dim (equi-join, never a theta/cartesian scan)."""
    from pdf_context_extractor_agent_spark.functions.similarity import (
        hard_negatives,
    )

    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    assign = emb.select("vec_id", (F.col("vec_id") % 5).alias("cluster"))
    return hard_negatives(emb, assign, k=3)


def _q_snapshot_drift(spark, sf):
    """Per-domain crawl-drift dashboard: snapshot_diff counts (old =
    www+utm variants, new = plain urls, every third body revised) plus
    exact integer per-side score means and their delta — the
    extraction-regression alarm between releases."""
    from pdf_context_extractor_agent_spark.functions.urls import (
        snapshot_drift_report,
    )

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    base = F.concat(F.lit("h.example"), (d % 11).cast("string"),
                    F.lit(".com/p/"), d.cast("string"))
    old = docs.filter(d % 7 != 0).select(
        F.concat(F.lit("https://WWW."), base, F.lit("?utm_source=feed"))
        .alias("url"),
        F.md5("text").alias("digest"),
        ((d * 7919) % 1000000).alias("score_ppm"),
    )
    new = docs.filter(d % 5 != 0).select(
        F.concat(F.lit("https://"), base).alias("url"),
        F.md5(
            F.when(d % 3 == 0, F.concat("text", F.lit("v2")))
            .otherwise(F.col("text"))
        ).alias("digest"),
        ((d * 104729) % 1000000).alias("score_ppm"),
    )
    return snapshot_drift_report(old, new)


def _q_sitemap_recrawl(spark, sf):
    """Freshness-driven recrawl verdicts: lastmod kinds cycle over
    bare-date / datetime / empty / junk ('soon'), ledger covers
    doc_id%3!=0 — exercising all four reasons and the exact epoch
    staleness."""
    from pdf_context_extractor_agent_spark.functions.robots import sitemap_recrawl

    d = F.col("doc_id")
    url = F.concat(F.lit("https://s"), (d % 7).cast("string"),
                   F.lit(".com/p/"), d.cast("string"))
    lastmod = (
        F.when(d % 11 == 0, F.lit(""))
        .when(d % 11 == 1, F.lit("soon"))  # junk → no_lastmod
        .when(d % 2 == 0,
              F.concat(F.lit("2024-01-"),
                       F.lpad((1 + d % 28).cast("string"), 2, "0")))
        .otherwise(
            F.concat(F.lit("2024-01-"),
                     F.lpad((1 + d % 28).cast("string"), 2, "0"),
                     F.lit(" 06:00:00")))
    )
    entries = _t(spark, sf, "documents").select(
        url.alias("loc"), lastmod.alias("lastmod")
    )
    crawled = _t(spark, sf, "documents").filter(d % 3 != 0).select(
        url.alias("url"),
        (F.lit("2024-01-15 00:00:00").cast("timestamp")
         + F.expr("make_interval(0,0,0,0,cast(doc_id % 13 as int),0,0)"))
        .alias("last_fetch_ts"),
    )
    return sitemap_recrawl(entries, crawled)


def _q_crawl_plan(spark, sf):
    """One-call crawl-planning composition (plans/crawl.py, mirroring
    curate()'s shape): robots rules + crawl-delay dims, sitemap
    freshness → due recrawls, candidate∪due → robots verdicts →
    politeness-scheduled frontier. Candidates ride the 7 robots hosts
    with priorities; recrawl entries live on the same hosts at /p/N
    (priority null → sorts after prioritized under DESC NULLS LAST).
    Every 5th doc's /p/N entry is also a candidate, so due URLs that
    are already candidates exercise the anti-join."""
    from pdf_context_extractor_agent_spark.plans.crawl import crawl_plan

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents")
    loc = F.concat(F.lit("https://h"), (d % 7).cast("string"),
                   F.lit(".example.com/p/"), d.cast("string"))
    lastmod = (
        F.when(d % 11 == 0, F.lit(""))
        .when(d % 11 == 1, F.lit("soon"))
        .when(d % 2 == 0,
              F.concat(F.lit("2024-01-"),
                       F.lpad((1 + d % 28).cast("string"), 2, "0")))
        .otherwise(
            F.concat(F.lit("2024-01-"),
                     F.lpad((1 + d % 28).cast("string"), 2, "0"),
                     F.lit(" 06:00:00")))
    )
    entries = docs.select(loc.alias("loc"), lastmod.alias("lastmod"))
    ledger = docs.filter(d % 3 != 0).select(
        loc.alias("url"),
        (F.lit("2024-01-15 00:00:00").cast("timestamp")
         + F.expr("make_interval(0,0,0,0,cast(doc_id % 13 as int),0,0)"))
        .alias("last_fetch_ts"),
    )
    candidates = (
        _frontier_urls(spark, sf)
        .unionByName(docs.filter(d % 5 == 0).select("doc_id", loc.alias("url")))
        .select("url", (d % 13).cast("int").alias("priority"))
    )
    plan = crawl_plan(
        candidates,
        _robots_df(spark, sf),
        sitemap_pages=entries,
        crawl_ledger=ledger,
        agent="ccbot",
        priority_col="priority",
    )
    return plan["frontier"]


def _q_attributes(spark, sf):
    """Dolma-style attribute sidecar: fixed-key-order JSON string of
    integer signals (chars, tokens, PII hits, mojibake ppm) over
    bodies seeded with one email, one phone and one mojibake é."""
    from pdf_context_extractor_agent_spark.functions.quality import (
        attribute_records,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")), F.lit(" user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com +555-123-4567 caffÃ©"),
        ).alias("text"),
    )
    return attribute_records(docs)


def _q_politeness(spark, sf):
    """Crawl-politeness audit: 5 synthetic hosts fetched every 3s with
    every (doc_id%10==7)th fetch pulled 2s early; per-host Crawl-delay
    = host id (host h3 missing from the dim → 1s default). Violations
    = lag-window gap < required."""
    from pdf_context_extractor_agent_spark.functions.robots import (
        politeness_audit,
    )

    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example.com"))
    secs = (F.expr("doc_id div 5") * 3
            + F.when(d % 10 == 7, F.lit(-2)).otherwise(F.lit(0)))
    fetches = _t(spark, sf, "documents").select(
        d.alias("doc_id"), host.alias("host"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.expr("make_interval(0,0,0,0,0,0,"
                  "doc_id div 5 * 3 + IF(doc_id % 10 = 7, -2, 0))"))
        .alias("fetch_ts"),
    )
    del secs
    delays = spark.createDataFrame(
        [(f"h{k}.example.com", k) for k in range(5) if k != 3],
        "host string, crawl_delay_secs int",
    )
    return politeness_audit(fetches, delays)


def _q_page_flags(spark, sf):
    """JS-heavy and redirect flags: per doc_id%4 the html carries no
    script / one script / two scripts / a script plus a meta-refresh
    redirect; script_ratio floor-truncated 4dp, refresh target null
    when absent."""
    from pdf_context_extractor_agent_spark.functions.webtext import (
        meta_refresh_target,
        script_ratio,
    )

    d = F.col("doc_id")
    ds = d.cast("string")
    s1 = F.concat(F.lit('<script type="text/javascript">var x='), ds,
                  F.lit(";</script>"))
    s2 = F.concat(F.lit("<script>load("), ds, F.lit(")</script>"))
    refresh = F.concat(
        F.lit('<meta http-equiv="refresh" content="0; url=https://m.ex.com/'),
        ds, F.lit('">'))
    html = F.concat(
        F.lit("<html><head>"),
        F.when(d % 4 == 1, s1)
        .when(d % 4 == 2, F.concat(s1, s2))
        .when(d % 4 == 3, F.concat(s1, refresh))
        .otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.substring(F.coalesce("text", F.lit("")), 1, 100),
        F.lit("</body></html>"),
    )
    docs = _t(spark, sf, "documents").select("doc_id", html.alias("html"))
    return docs.select(
        "doc_id",
        script_ratio(F.col("html")).alias("script_ratio"),
        meta_refresh_target(F.col("html")).alias("refresh_target"),
    )


def _q_unescape(spark, sf):
    """HTML entity decode: named chain (&amp; last → single-decode),
    numeric refs via the pure-SQL UTF-8 encoder (Spark chr wraps at
    256); malformed / surrogate / out-of-range refs stay literal. The
    oracle uses DuckDB's native full-unicode chr under identical
    guards."""
    from pdf_context_extractor_agent_spark.functions.webtext import unescape_docs

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.lit(" &amp;&lt;ok&gt; caf&#233; q&#8217; h&#x2019;"
                  " bad&#boom; sur&#55296; big&#1114112; z&#x1F600;"
                  " amp&#38;lt; one&#1;x raw\x01y"),
        ).alias("text"),
    )
    return unescape_docs(docs)


_WILD_BODIES = [
    "User-agent: *|Disallow: /*.pdf$|Allow: /pub/*.pdf$",
    "User-agent: *|Disallow: /a/*/sec|Allow: /a/open/sec",
    "User-agent: *|Disallow: /q$",
    "User-agent: *|Disallow: /meta(x)+[y]|Allow: /",
    "",
]
_WILD_PATHS = ["/x.pdf", "/pub/z.pdf", "/a/1/sec", "/a/open/sec", "/q",
               "/q2", "/meta(x)+[y]z"]


def _q_robots_wildcards(spark, sf):
    """RFC 9309 wildcard matching: * runs, trailing-$ anchors, regex
    metacharacters in rule paths escaped; longest RAW pattern wins,
    ties to allow. Bodies parse through the full robots chain; the
    oracle carries the hand-translated anchored regexes and replays
    the same match + specificity window."""
    from pdf_context_extractor_agent_spark.functions.robots import (
        robots_check,
        robots_rules,
    )

    d = F.col("doc_id")
    hosts = _t(spark, sf, "documents").select((d % 5).alias("hid")).distinct()
    body = F.element_at(
        F.array(*[F.lit(b) for b in _WILD_BODIES]), F.col("hid").cast("int") + 1
    )
    robots = hosts.select(
        F.concat(F.lit("w"), F.col("hid").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.translate(body, "|", "\n").alias("robots_txt"),
    )
    path = F.element_at(
        F.array(*[F.lit(p) for p in _WILD_PATHS]),
        F.expr("cast((doc_id div 5) % 7 as int)") + 1,
    )
    urls = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("https://w"), (d % 5).cast("string"),
                 F.lit(".example.com"), path,
                 F.lit("?id="), d.cast("string")).alias("url"),
    )
    rules = robots_rules(robots, agent="ccbot")
    return robots_check(urls, rules, wildcards=True)


def _q_lsh_eval(spark, sf):
    """LSH band-geometry tuning harness: exact all-pairs Jaccard truth
    vs the banded md5 pipeline over documents + 60 first-word-dropped
    twins (guaranteed near-dups); the oracle recomputes BOTH sides and
    the same integer ppm metrics."""
    from pdf_context_extractor_agent_spark.functions.dedup import lsh_eval

    base = _t(spark, sf, "documents").select("doc_id", "text")
    twins = base.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\w+ ", "")
        .alias("text"),
    )
    return lsh_eval(base.unionByName(twins))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # scans / relational core
        "q_scan_pushdown": _q_scan_pushdown,
        "q1_pricing_summary": _q1_pricing,
        "q_join_revenue": _q_join_revenue,
        "q_topn_per_customer": _q_topn_per_customer,
        "q_cube_counts": _q_cube_counts,
        "q_rollup": _q_rollup,
        "q_semi_join": _q_semi_join,
        "q_anti_join": _q_anti_join,
        "q_pivot": _q_pivot,
        "q_sessionize": _q_sessionize,
        "q_orderby_limit": _q_orderby_limit,
        "q_percentiles": _q_percentiles,
        # reference operator semantics over testdata
        "q_j2_first_wins": _q_j2_first_wins,
        "q_j1_pattern_match": _q_j1_pattern_match,
        "q_si1_anchors": _q_si1_anchors,
        "q_p2_boundary": _q_p2_boundary,
        "q_p3_range_prune": _q_p3_range_prune,
        "q_v1_tolerance": _q_v1_tolerance,
        "q_v14_numeric_clean": _q_v14_numeric_clean,
        "q_n6_interval_assign": _q_n6_interval_assign,
        "q_n8_continuity": _q_n8_continuity,
        "q_window_running": _q_window_running,
        "q_m3_clean": _q_m3_clean,
        # training-data ops
        "q_dedup_exact": _q_dedup_exact,
        "q_fingerprint": _q_fingerprint,
        "q_stratified_sample": _q_stratified_sample,
        "q_stratified_topk": _q_stratified_topk,
        "q_ivf_topk": _q_ivf_topk,
        "q_sq_topk": _q_sq_topk,
        "q_kmeans": _q_kmeans,
        "q_hll_doc_terms": _q_hll_doc_terms,
        "q_cm_heavy_hitters": _q_cm_heavy_hitters,
        "q_decontaminate": _q_decontaminate,
        "q_token_counts": _q_token_counts,
        "q_lang_scores": _q_lang_scores,
        "q_quality": _q_quality,
        "q_readability": _q_readability,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_repetition": _q_repetition,
        "q_pii_scrub": _q_pii_scrub,
        "q_chunk_dedup": _q_chunk_dedup,
        "q_dup_clusters": _q_dup_clusters,
        "q_classifier_score": _q_classifier_score,
        "q_dsir_weights": _q_dsir_weights,
        "q_dsir_select": _q_dsir_select,
        "q_nfc_normalize": _q_nfc_normalize,
        "q_assign_splits": _q_assign_splits,
        "q_pack_sequences": _q_pack_sequences,
        "q_seq_manifest": _q_seq_manifest,
        "q_shard_manifest": _q_shard_manifest,
        "q_det_shuffle": _q_det_shuffle,
        "q_bpe_merges": _q_bpe_merges,
        "q_bpe_tokens": _q_bpe_tokens,
        "q_pagerank": _q_pagerank,
        "q_anchor_texts": _q_anchor_texts,
        "q5_local_supplier_volume": _q5_local_supplier_volume,
        "q_curation_verdicts": _q_curation_verdicts,
        "q_result_compare": _q_result_compare,
        "q_resolve_choices": _q_resolve_choices,
        "q_dup_spans": _q_dup_spans,
        "q_remove_dup_spans": _q_remove_dup_spans,
        "q_script_features": _q_script_features,
        "q_gopher_repetition": _q_gopher_repetition,
        "q_gopher_gate": _q_gopher_gate,
        "q_semdedup": _q_semdedup,
        "q_c4_filter": _q_c4_filter,
        "q_block_classify": _q_block_classify,
        "q_main_content": _q_main_content,
        "q_lm_score": _q_lm_score,
        "q_doc_freq": _q_doc_freq,
        "q_bm25": _q_bm25,
        "q_phrase_search": _q_phrase_search,
        "q_zorder_layout": _q_zorder_layout,
        "q_zorder_pruning": _q_zorder_pruning,
        "q_chunk_sentences": _q_chunk_sentences,
        "q_strip_frequent_lines": _q_strip_frequent_lines,
        "q_strand_pairs": _q_strand_pairs,
        "q_tfidf_keywords": _q_tfidf_keywords,
        "q_containment": _q_containment,
        "q_corpus_stats": _q_corpus_stats,
        "q_compression_ratio": _q_compression_ratio,
        "q_audio_features": _q_audio_features,
        "q_image_ahash": _q_image_ahash,
        "q_image_neardup": _q_image_neardup,
        "q_sentences": _q_sentences,
        "q_fuzzy_neardup": _q_fuzzy_neardup,
        "q_char_diversity": _q_char_diversity,
        "q_bloom_words": _q_bloom_words,
        "q_bloom_probe": _q_bloom_probe,
        "q_url_canon": _q_url_canon,
        "q_domain_stats": _q_domain_stats,
        "q_blocklist": _q_blocklist,
        "q_domain_cap": _q_domain_cap,
        "q_badwords": _q_badwords,
        "q_meta_robots": _q_meta_robots,
        "q_robots_rules": _q_robots_rules,
        "q_robots_check": _q_robots_check,
        "q_crawl_frontier": _q_crawl_frontier,
        "q_sitemap_urls": _q_sitemap_urls,
        "q_feed_entries": _q_feed_entries,
        "q_surt_keys": _q_surt_keys,
        "q_cdx_parse": _q_cdx_parse,
        "q_cdx_latest": _q_cdx_latest,
        "q_pq_topk": _q_pq_topk,
        "q_anchor_profile": _q_anchor_profile,
        "q_hits": _q_hits,
        "q_hyperball": _q_hyperball,
        "q_label_prop": _q_label_prop,
        "q_snapshot_diff": _q_snapshot_diff,
        "q_url_templates": _q_url_templates,
        "q_temperature_mix": _q_temperature_mix,
        "q_hll_union": _q_hll_union,
        "q_page_metadata": _q_page_metadata,
        "q_fix_mojibake": _q_fix_mojibake,
        "q_attributes": _q_attributes,
        "q_latest_revision": _q_latest_revision,
        "q_sniff_mime": _q_sniff_mime,
        "q_wet_records": _q_wet_records,
        "q_decode_charset": _q_decode_charset,
        "q_domain_prior": _q_domain_prior,
        "q_markdown": _q_markdown,
        "q_toc": _q_toc,
        "q_textrank": _q_textrank,
        "q_audio_neardup": _q_audio_neardup,
        "q_cdc_dedup": _q_cdc_dedup,
        "q_jsonld": _q_jsonld,
        "q_pagination": _q_pagination,
        "q_line_offsets": _q_line_offsets,
        "q_winnow_fp": _q_winnow_fp,
        "q_winnow_pairs": _q_winnow_pairs,
        "q_domain_boiler": _q_domain_boiler,
        "q_unigram": _q_unigram,
        "q_host_rank": _q_host_rank,
        "q_robots_sitemaps": _q_robots_sitemaps,
        "q_hard_negatives": _q_hard_negatives,
        "q_snapshot_drift": _q_snapshot_drift,
        "q_sitemap_recrawl": _q_sitemap_recrawl,
        "q_crawl_plan": _q_crawl_plan,
        "q_politeness": _q_politeness,
        "q_page_flags": _q_page_flags,
        "q_unescape": _q_unescape,
        "q_robots_wildcards": _q_robots_wildcards,
        "q_lsh_eval": _q_lsh_eval,
        "q_minhash_md5": _q_minhash_md5,
        "q_embed_topk": _q_embed_topk,
        "q_minhash_lsh_dedup": _q_minhash_lsh,
        "q_simhash_neardup": _q_simhash,
        # ANN / kernel paths
        "q_ann_topk": _q_ann_topk,
        "q_cosine_neardup": _q_cosine_neardup,
        "q_bitext_margin": _q_bitext_margin,
        "q_extract_parsed": _q_extract_parsed,
        "q_extract_checks": _q_extract_checks,
        "q_extract_notes": _q_extract_notes,
        "q_extract_text_identity": _q_extract_text_identity,
        "q_balance_boundary_parsed": _q_balance_boundary,
        "q_extract_fixture_parsed": _q_extract_fixture_parsed,
        "q_balance_boundary_fixture": _q_balance_boundary_fixture,
        "q_multimodal_features": _q_multimodal,
    }


def oracle_sql() -> dict[str, str]:
    norm = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"
    shingle_cte = f"""
WITH words AS (
  SELECT doc_id, string_split({norm}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                               FOR i IN generate_series(1, greatest(len(w)-2, 1))])) AS shingle
  FROM words
)"""
    lang_tokens = r"greatest(len(string_split_regex(trim(text), '\s+')), 1)"
    # shared prefix for the two Gopher oracles: the SAME deterministic
    # line/paragraph synthesis as _gopher_text, then the derived views
    # (words / lines / paragraphs) the Spark function itself computes,
    # and per-(doc, n) n-gram char aggregates (top / dup / tot)
    gopher_cte = f"""
WITH w0 AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
l0 AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(ceil(len(w)/8.0)::INT, 1)),
                        i -> array_to_string(w[(i-1)*8+1:(i-1)*8+8], ' ')) AS lines
  FROM w0),
p0 AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(ceil(len(lines)/3.0)::INT, 1)),
                        j -> array_to_string(lines[(j-1)*3+1:(j-1)*3+3], chr(10))) AS paras
  FROM l0),
t0 AS (
  SELECT doc_id,
         array_to_string(paras, chr(10)||chr(10))
         || CASE WHEN doc_id % 3 = 0 THEN chr(10)||'of and to be that have with tail' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN chr(10)||'- bullet item'||chr(10)||'- another bullet...' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN chr(10)||'### symbols ... more # # # # # # # # #' ELSE '' END AS text
  FROM p0),
d0 AS (
  SELECT doc_id, text,
         string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS w2,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS l2,
         list_filter(list_transform(string_split_regex(text, '\\n{{2,}}'), x -> trim(x)),
                     x -> x <> '') AS p2
  FROM t0),
g0 AS (
  SELECT doc_id, v.n AS n,
         unnest(list_transform(generate_series(1, len(w2) - v.n + 1),
                               i -> array_to_string(w2[i:i+v.n-1], ' '))) AS gram
  FROM d0 CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) v(n)),
c0 AS (SELECT doc_id, n, gram, count(*) AS c FROM g0 GROUP BY doc_id, n, gram),
a0 AS (
  SELECT doc_id, n,
         max(c * strlen(gram)) AS top,
         sum((c - 1) * strlen(gram)) AS dup,
         sum(c * strlen(gram)) AS tot
  FROM c0 GROUP BY doc_id, n)"""
    def _dup_frac_sql(col: str) -> str:
        return (
            f"CASE WHEN len({col}) > 0 THEN round((len({col}) - "
            f"len(list_distinct({col})))::DOUBLE / len({col}), 6) "
            f"ELSE 0.0 END"
        )

    def _dup_char_frac_sql(col: str) -> str:
        s = f"list_aggregate(list_transform({col}, x -> strlen(x)), 'sum')"
        sd = (
            f"list_aggregate(list_transform(list_distinct({col}), "
            f"x -> strlen(x)), 'sum')"
        )
        return (
            f"CASE WHEN coalesce({s}, 0) > 0 THEN "
            f"round(({s} - {sd})::DOUBLE / {s}, 6) ELSE 0.0 END"
        )

    def _dup_frac_raw(col: str) -> str:
        return (
            f"CASE WHEN len({col}) > 0 THEN (len({col}) - "
            f"len(list_distinct({col})))::DOUBLE / len({col}) ELSE 0.0 END"
        )

    def _dup_char_frac_raw(col: str) -> str:
        s = f"list_aggregate(list_transform({col}, x -> strlen(x)), 'sum')"
        sd = (
            f"list_aggregate(list_transform(list_distinct({col}), "
            f"x -> strlen(x)), 'sum')"
        )
        return (
            f"CASE WHEN coalesce({s}, 0) > 0 THEN "
            f"({s} - {sd})::DOUBLE / {s} ELSE 0.0 END"
        )

    # per-n pivot columns over the a0 CTE (one row per doc_id × n)
    gopher_metric_cols = ",\n         ".join(
        [
            f"coalesce(max(CASE WHEN a0.n = {n} THEN round(top::DOUBLE / tot, 6) END), 0.0)"
            f" AS top_{n}gram_char_frac"
            for n in (2, 3, 4)
        ]
        + [
            f"coalesce(max(CASE WHEN a0.n = {n} THEN round(dup::DOUBLE / tot, 6) END), 0.0)"
            f" AS dup_{n}gram_char_frac"
            for n in (5, 6, 7, 8, 9, 10)
        ]
    )
    # robots.txt fixtures: same 7 bodies as _ROBOTS_BODIES ('|' → \n so
    # the literals stay one-line); parse chain mirrors functions/robots.py
    # step for step (comment strip → directive/value extract → group-run
    # numbering via lag → most-specific-agent-wins → rule rows)
    robots_body_cases = "\n           ".join(
        f"WHEN {i} THEN '{b}'" for i, b in enumerate(_ROBOTS_BODIES[:-1])
    )
    robots_cte = rf"""
WITH hosts AS (
  SELECT DISTINCT (doc_id % 7) AS hid FROM documents
), bodies AS (
  SELECT 'h' || hid::VARCHAR || '.example.com' AS host,
         replace(CASE hid
           {robots_body_cases}
           ELSE '' END, '|', chr(10)) AS body
  FROM hosts
), rsplit AS (
  SELECT host, string_split(body, chr(10)) AS l FROM bodies
), rlines AS (
  SELECT host, unnest(generate_series(1, len(l))) AS pos, l FROM rsplit
), rfields AS (
  SELECT host, pos, trim(regexp_replace(l[pos], '#.*$', '')) AS line FROM rlines
), rdirec AS (
  SELECT host, pos,
         lower(regexp_extract(line, '^([A-Za-z][A-Za-z-]*)\s*:', 1)) AS directive,
         trim(regexp_extract(line, '^[A-Za-z][A-Za-z-]*\s*:(.*)$', 1)) AS value
  FROM rfields
  WHERE lower(regexp_extract(line, '^([A-Za-z][A-Za-z-]*)\s*:', 1))
        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
), rmark AS (
  SELECT host, pos, directive, value,
         CASE WHEN directive = 'user-agent'
               AND coalesce(lag(directive) OVER (PARTITION BY host ORDER BY pos), '')
                   <> 'user-agent'
              THEN 1 ELSE 0 END AS new_group
  FROM rdirec
), rgrp AS (
  SELECT host, pos, directive, value,
         sum(new_group) OVER (PARTITION BY host ORDER BY pos) AS group_id
  FROM rmark
), rgflags AS (
  SELECT host, group_id,
         max(CASE WHEN lower(value) = 'ccbot' THEN 1 ELSE 0 END) AS has_specific,
         max(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS has_star
  FROM rgrp WHERE directive = 'user-agent'
  GROUP BY host, group_id
), rapplies AS (
  SELECT host, group_id FROM (
    SELECT host, group_id, has_specific, has_star,
           max(has_specific) OVER (PARTITION BY host) AS any_specific
    FROM rgflags)
  WHERE has_specific = 1 OR (any_specific = 0 AND has_star = 1)
), rrules AS (
  SELECT g.host, g.directive AS rule, g.value AS path, length(g.value) AS path_len
  FROM rgrp g JOIN rapplies a USING (host, group_id)
  WHERE g.directive IN ('allow', 'disallow') AND g.value <> ''
)"""
    frontier_urls_cte = r"""
urls AS (
  SELECT doc_id,
         'https://www.h' || (doc_id % 7)::VARCHAR || '.EXAMPLE.com' ||
         (CASE ((doc_id // 7) % 7)
            WHEN 0 THEN '/' WHEN 1 THEN '/private/x' WHEN 2 THEN '/private/public/y'
            WHEN 3 THEN '/no-cc/z' WHEN 4 THEN '/a/b/c' WHEN 5 THEN '/shared/ok/page'
            ELSE '/a/zz' END) || '?id=' || doc_id::VARCHAR AS url
  FROM documents
)"""
    url_canon_chain = r"""regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
                         || regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(.*)$', 1),
                       '^([a-z]+://)www\.', '\1'),
                     '#.*$', ''),
                   '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                 '\?&+', '?'),
               '&&+', '&', 'g'),
             '[?&]+$', '')"""
    _top_max = {2: 0.20, 3: 0.18, 4: 0.16}
    _dup_max = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    gopher_flag_cols = ",\n         ".join(
        [
            f"coalesce(max(CASE WHEN a0.n = {n} THEN top::DOUBLE / tot <= {_top_max[n]} END), TRUE)"
            f" AS pass_top_{n}gram"
            for n in (2, 3, 4)
        ]
        + [
            f"coalesce(max(CASE WHEN a0.n = {n} THEN dup::DOUBLE / tot <= {_dup_max[n]} END), TRUE)"
            f" AS pass_dup_{n}gram"
            for n in (5, 6, 7, 8, 9, 10)
        ]
    )
    gopher_stop_sum = " + ".join(
        f"CASE WHEN list_contains(w2, '{s}') THEN 1 ELSE 0 END"
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    _gopher_rule_names = (
        "word_count mean_word_len symbol_ratio bullet_lines ellipsis_lines "
        "alpha_words stop_words dup_lines dup_line_chars top_2gram top_3gram "
        "top_4gram dup_5gram dup_6gram dup_7gram dup_8gram dup_9gram dup_10gram"
    ).split()
    gopher_pass_list = ", ".join(f"pass_{r}" for r in _gopher_rule_names)
    gopher_keep = " AND ".join(f"pass_{r}" for r in _gopher_rule_names)
    gopher_reasons = ", ".join(
        f"CASE WHEN NOT pass_{r} THEN '{r}' END" for r in _gopher_rule_names
    )

    # BPE oracle: v0 = vocabulary with |-delimited one-char symbol
    # encodings; round r = pair counts p{r} -> argmax m{r} -> merged
    # vocab v{r} via literal replace
    _bpe_rounds = []
    for r in range(1, 6):
        prev = f"v{r - 1}"
        _bpe_rounds.append(f"""
p{r} AS MATERIALIZED (
  SELECT pr.l AS lft, pr.r AS rgt, sum(cnt)::BIGINT AS pc
  FROM (
    SELECT cnt,
           unnest(list_transform(generate_series(1, greatest(len(s) - 1, 0)),
                                 i -> struct_pack(l := s[i], r := s[i + 1]))) AS pr
    FROM (SELECT cnt, list_filter(string_split(enc, '|'), x -> x <> '') AS s
          FROM {prev}) t{r})
  GROUP BY lft, rgt),
m{r} AS MATERIALIZED (SELECT lft, rgt, pc FROM p{r} ORDER BY pc DESC, lft, rgt LIMIT 1),
v{r} AS MATERIALIZED (
  SELECT word, cnt,
         replace(enc,
                 '|' || (SELECT lft FROM m{r}) || '|' || (SELECT rgt FROM m{r}) || '|',
                 '|' || (SELECT lft FROM m{r}) || (SELECT rgt FROM m{r}) || '|') AS enc
  FROM {prev})""")
    # fixed-point PageRank unrolled: 3 rounds, all-integer arithmetic
    # (// truncation == Spark DIV on non-negative longs), so the sums
    # are exact and order-independent in both engines
    _pr_rounds = []
    for k in range(1, 4):
        _pr_rounds.append(f"""
c{k} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS contrib
  FROM r{k - 1} r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
  GROUP BY e.dst),
d{k} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0)::BIGINT AS dang
  FROM r{k - 1} r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL),
r{k} AS MATERIALIZED (
  SELECT n.node,
         ((SELECT b FROM basev)
          + 85 * (coalesce(c.contrib, 0) + (SELECT dang FROM d{k}) // (SELECT n FROM nn))
            // 100)::BIGINT AS rank
  FROM nodes n LEFT JOIN c{k} c ON n.node = c.node)""")
    pagerank_sql = (
        """
WITH nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
e AS MATERIALIZED (
  SELECT doc_id AS src, (doc_id * doc_id + 3) % (SELECT n FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, doc_id % 97 FROM documents),
deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
basev AS MATERIALIZED (
  SELECT (100 - 85) * 1000000000000 // n // 100 AS b FROM nn),
r0 AS MATERIALIZED (
  SELECT node, (1000000000000 // (SELECT n FROM nn))::BIGINT AS rank FROM nodes),"""
        + ",".join(_pr_rounds)
        + """
SELECT node, rank FROM r3"""
    )

    # host-graph PageRank: same unrolled rounds over the host dimension
    # (dense ids by row_number over host order — the two-phase-rank twin)
    host_rank_sql = (
        """
WITH he AS MATERIALIZED (
  SELECT 'h' || (doc_id % 23)::VARCHAR || '.example.org' AS hs,
         'h' || ((doc_id * doc_id + 3) % 23)::VARCHAR || '.example.org' AS hd
  FROM documents
  UNION ALL
  SELECT 'h' || (doc_id % 23)::VARCHAR || '.example.org',
         'h' || (doc_id % 7)::VARCHAR || '.example.org'
  FROM documents),
ed AS MATERIALIZED (SELECT DISTINCT hs, hd FROM he WHERE hs <> hd),
hostdim AS MATERIALIZED (
  SELECT host, (row_number() OVER (ORDER BY host) - 1)::BIGINT AS hid
  FROM (SELECT hs AS host FROM ed UNION SELECT hd FROM ed)),
nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM hostdim),
nodes AS MATERIALIZED (SELECT hid AS node FROM hostdim),
e AS MATERIALIZED (
  SELECT a.hid AS src, b.hid AS dst
  FROM ed JOIN hostdim a ON ed.hs = a.host JOIN hostdim b ON ed.hd = b.host),
deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
basev AS MATERIALIZED (
  SELECT (100 - 85) * 1000000000000 // n // 100 AS b FROM nn),
r0 AS MATERIALIZED (
  SELECT node, (1000000000000 // (SELECT n FROM nn))::BIGINT AS rank FROM nodes),"""
        + ",".join(_pr_rounds)
        + """
SELECT h.host, r.rank FROM r3 r JOIN hostdim h ON h.hid = r.node"""
    )

    # fixed-point HITS unrolled: 2 rounds, all-integer with L1
    # normalizers as scalar subqueries (// == Spark DIV on
    # non-negatives) — same exactness discipline as PageRank
    _hits_rounds = []
    for k in range(1, 3):
        _hits_rounds.append(f"""
araw{k} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub)::BIGINT AS raw
  FROM h{k - 1} h JOIN e ON h.node = e.src GROUP BY e.dst),
atot{k} AS MATERIALIZED (
  SELECT coalesce(sum(raw), 1)::BIGINT AS tot FROM araw{k}),
a{k} AS MATERIALIZED (
  SELECT n.node,
         (coalesce(r.raw, 0) * 1000000 // (SELECT tot FROM atot{k}))::BIGINT AS auth
  FROM nodes n LEFT JOIN araw{k} r ON n.node = r.node),
hraw{k} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth)::BIGINT AS raw
  FROM a{k} a JOIN e ON a.node = e.dst GROUP BY e.src),
htot{k} AS MATERIALIZED (
  SELECT coalesce(sum(raw), 1)::BIGINT AS tot FROM hraw{k}),
h{k} AS MATERIALIZED (
  SELECT n.node,
         (coalesce(r.raw, 0) * 1000000 // (SELECT tot FROM htot{k}))::BIGINT AS hub
  FROM nodes n LEFT JOIN hraw{k} r ON n.node = r.node)""")
    hits_sql = (
        """
WITH nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
e AS MATERIALIZED (
  SELECT doc_id AS src, (doc_id * doc_id + 3) % (SELECT n FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, doc_id % 97 FROM documents),
h0 AS MATERIALIZED (SELECT node, 1000000::BIGINT AS hub FROM nodes),"""
        + ",".join(_hits_rounds)
        + """
SELECT a2.node, a2.auth, h2.hub FROM a2 JOIN h2 ON a2.node = h2.node"""
    )

    # HyperBall unrolled: per-node HLL registers in long format; the
    # per-hop merge (union-of-sketches == max per register) and the
    # per-node estimator (integer register sums, one double division,
    # 4-dp floor truncation) restate functions/graph.py:hyperball with
    # p=4 (m=16, wbits=56, field 57, m^2*2^57 = 2^65)
    def _hb_est(st: str, col: str) -> str:
        return f"""(
  SELECT node,
         floor((CASE WHEN raw <= 40.0 AND zeros > 0
                     THEN 16.0 * ln(16.0 / zeros) ELSE raw END) * 10000.0)
           / 10000.0 AS {col}
  FROM (
    SELECT node,
           (0.7213 / (1.0 + 1.079 / 16.0)) * 36893488147419103232.0
             / (ps + (16 - nz) * 144115188075855872::BIGINT) AS raw,
           16 - nz AS zeros
    FROM (SELECT node, count(*) AS nz,
                 sum(1::BIGINT << (57 - rho))::BIGINT AS ps
          FROM {st} GROUP BY node)))"""

    _hb_steps = []
    for t in (1, 2):
        _hb_steps.append(f"""
s{t} AS MATERIALIZED (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT * FROM s{t - 1}
    UNION ALL
    SELECT e.src AS node, s.bucket, s.rho FROM e JOIN s{t - 1} s ON e.dst = s.node)
  GROUP BY node, bucket),
est{t} AS MATERIALIZED {_hb_est(f"s{t}", f"n{t}")}""")
    hyperball_sql = (
        """
WITH nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
e AS MATERIALIZED (
  SELECT (doc_id * doc_id + 3) % (SELECT n FROM nn) AS src, doc_id AS dst
  FROM documents
  UNION ALL
  SELECT doc_id % 97, doc_id FROM documents),
s0 AS MATERIALIZED (
  SELECT node, h % 16 AS bucket,
         CASE WHEN (h // 16) = 0 THEN 57
              ELSE 57 - length(bin(h // 16)) END AS rho
  FROM (SELECT node,
               ('0x' || substr(md5('0:' || node::VARCHAR), 1, 15))::BIGINT AS h
        FROM nodes)),
est0 AS MATERIALIZED """
        + _hb_est("s0", "n0")
        + ","
        + ",".join(_hb_steps)
        + """
SELECT e0.node, e0.n0, e1.n1, e2.n2,
       floor((0.0 + (e1.n1 - e0.n0) / 1.0 + (e2.n2 - e1.n1) / 2.0) * 10000.0)
         / 10000.0 AS harmonic
FROM est0 e0 JOIN est1 e1 ON e0.node = e1.node JOIN est2 e2 ON e0.node = e2.node"""
    )

    # synchronous LPA unrolled: per-round neighbor-label vote counts
    # with the deterministic (count desc, label asc) tie-break as a
    # QUALIFY row_number — the exact argmin-struct graph.py computes
    _lpa_rounds = []
    for k in (1, 2):
        _lpa_rounds.append(f"""
v{k} AS MATERIALIZED (
  SELECT e.src AS node, l.label, count(*) AS cnt
  FROM e JOIN l{k - 1} l ON e.dst = l.node GROUP BY 1, 2),
b{k} AS MATERIALIZED (
  SELECT node, label AS new_label FROM v{k}
  QUALIFY row_number() OVER (PARTITION BY node
                             ORDER BY cnt DESC, label ASC) = 1),
l{k} AS MATERIALIZED (
  SELECT l.node, coalesce(b.new_label, l.label) AS label
  FROM l{k - 1} l LEFT JOIN b{k} b ON l.node = b.node)""")
    lpa_sql = (
        """
WITH nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
e0 AS MATERIALIZED (
  SELECT doc_id AS src, (doc_id * doc_id + 3) % (SELECT n FROM nn) AS dst
  FROM documents
  UNION ALL
  SELECT doc_id, doc_id % 97 FROM documents),
e AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),"""
        + ",".join(_lpa_rounds)
        + """
SELECT node, label FROM l2"""
    )

    # snapshot diff: the canonicalization chain (q_url_canon's twin)
    # applied to both sides, then per-side min-digest collapse and a
    # FULL OUTER join classified exactly as urls.snapshot_diff
    def _canon_sql(col: str) -> str:
        return (
            r"""regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    lower(regexp_extract(%(c)s, '^([a-zA-Z]+://[^/?#]*)', 1))
                      || regexp_extract(%(c)s, '^[a-zA-Z]+://[^/?#]*(.*)$', 1),
                    '^([a-z]+://)www\.', '\1'),
                  '#.*$', ''),
                '(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g'),
              '\?&+', '?'),
            '&&+', '&', 'g'),
          '[?&]+$', '')"""
            % {"c": col}
        )

    snapshot_diff_sql = f"""
WITH base AS (
  SELECT doc_id, text,
         'h' || (doc_id % 11)::VARCHAR || '.example.com/p/' || doc_id::VARCHAR AS b
  FROM documents),
old AS (
  SELECT {_canon_sql("('https://WWW.' || b || '?utm_source=feed')")} AS canon_url,
         min(md5(text)) AS old_digest
  FROM base WHERE doc_id % 7 <> 0 GROUP BY 1),
new AS (
  SELECT {_canon_sql("('https://' || b)")} AS canon_url,
         min(md5(CASE WHEN doc_id % 3 = 0 THEN text || 'v2' ELSE text END))
           AS new_digest
  FROM base WHERE doc_id % 5 <> 0 GROUP BY 1)
SELECT coalesce(old.canon_url, new.canon_url) AS canon_url,
       old_digest, new_digest,
       CASE WHEN old_digest IS NULL THEN 'new'
            WHEN new_digest IS NULL THEN 'gone'
            WHEN old_digest = new_digest THEN 'unchanged'
            ELSE 'changed' END AS change
FROM old FULL OUTER JOIN new ON old.canon_url = new.canon_url"""

    # URL templates: same 4 families, segment classification as a
    # list_transform CASE (the lookaround-free formulation both regex
    # engines share), canonical-distinct counts, threshold 100
    url_templates_sql = f"""
WITH u AS (
  SELECT CASE doc_id % 4
    WHEN 0 THEN 'https://t0.example.com/cal/2024/'
      || (doc_id % 12 + 1)::VARCHAR || '/' || (doc_id % 28 + 1)::VARCHAR
    WHEN 1 THEN 'https://t1.example.com/s/' || md5(doc_id::VARCHAR)
    WHEN 2 THEN 'https://t2.example.com/article/item-' || doc_id::VARCHAR
    ELSE 'https://t3.example.com/about?page=' || (doc_id % 7)::VARCHAR
    END AS url
  FROM documents),
t AS (
  SELECT
    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1))
    || (CASE WHEN tp = '' THEN '/' ELSE tp END)
    || (CASE WHEN qs = '' THEN ''
             ELSE '?' || regexp_replace(qs, '=[^&]*', '', 'g') END) AS template,
    {_canon_sql("url")} AS canon
  FROM (
    SELECT url,
      array_to_string(list_transform(
        string_split(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^?#]*)?', 1), '/'),
        s -> CASE
          WHEN regexp_full_match(s, '[0-9]+') THEN '{{d}}'
          WHEN regexp_full_match(s, '[0-9a-f]{{8,}}')
               AND regexp_matches(s, '[0-9]') THEN '{{h}}'
          WHEN regexp_full_match(s, '[0-9a-z_-]+')
               AND regexp_matches(s, '[0-9]')
               AND regexp_matches(s, '[a-z]') THEN '{{w}}'
          ELSE s END), '/') AS tp,
      regexp_extract(url, '\\?([^#]*)', 1) AS qs
    FROM u))
SELECT template, count(DISTINCT canon)::BIGINT AS n_urls,
       count(DISTINCT canon) >= 100 AS is_trap
FROM t GROUP BY template"""

    # temperature mixing: sqrt (IEEE-correctly-rounded) + floor-
    # quantized integer weights, exact sums, single exact divisions
    temperature_mix_sql = """
WITH c AS (SELECT lang AS stratum, count(*)::BIGINT AS n_docs
           FROM documents GROUP BY 1),
w AS (SELECT stratum, n_docs,
             floor(sqrt(n_docs) * 1048576.0)::BIGINT AS weight_q FROM c),
t AS (SELECT sum(weight_q)::BIGINT AS tot, max(weight_q)::BIGINT AS maxw FROM w)
SELECT stratum, n_docs, weight_q,
       floor(weight_q / tot * 1000000.0) / 1000000.0 AS p_mix,
       (weight_q * 1000000 // maxw) / 1000000.0 AS sample_rate
FROM w, t"""

    # HLL union: the q_hll register/estimator pattern applied to two
    # token slices and to their MERGED registers (max per bucket)
    def _hll_side_sql(regs: str, toks: str, side: str) -> str:
        return f"""
SELECT '{side}' AS side, 256 AS m, nonzero_registers,
       (present_sum + (256 - nonzero_registers) * (1::BIGINT << 53))::BIGINT
         AS register_sum,
       floor((CASE WHEN raw <= 640.0 AND zeros > 0
                   THEN 256.0 * ln(256.0 / zeros) ELSE raw END) * 10000.0)
         / 10000.0 AS hll_estimate,
       exact_distinct
FROM (SELECT *,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 590295810358705651712.0
               / (present_sum + (256 - nonzero_registers) * (1::BIGINT << 53))
               AS raw,
             (256 - nonzero_registers) AS zeros
      FROM (SELECT count(*) AS nonzero_registers,
                   sum((1::BIGINT << (53 - rho_max)))::BIGINT AS present_sum
            FROM {regs}),
           (SELECT count(DISTINCT token)::BIGINT AS exact_distinct
            FROM {toks}))"""

    def _hll_regs_sql(toks: str) -> str:
        return f"""(
  SELECT h % 256 AS bucket,
         max(CASE WHEN (h // 256) = 0 THEN 53
                  ELSE 53 - length(bin(h // 256)) END) AS rho_max
  FROM (SELECT ('0x' || substr(md5('0:' || token), 1, 15))::BIGINT AS h
        FROM {toks}) GROUP BY 1)"""

    hll_union_sql = (
        r"""
WITH ta AS MATERIALIZED (
  SELECT t AS token FROM (
    SELECT unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\s+')) AS t
    FROM documents WHERE doc_id % 2 = 0) WHERE t <> ''),
tb AS MATERIALIZED (
  SELECT t AS token FROM (
    SELECT unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\s+')) AS t
    FROM documents WHERE doc_id % 3 = 0) WHERE t <> ''),
tu AS MATERIALIZED (
  SELECT token FROM ta UNION ALL SELECT token FROM tb),
ra AS MATERIALIZED """
        + _hll_regs_sql("ta")
        + ",\nrb AS MATERIALIZED "
        + _hll_regs_sql("tb")
        + """,
rm AS MATERIALIZED (
  SELECT bucket, max(rho_max) AS rho_max FROM
    (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1)
"""
        + _hll_side_sql("ra", "ta", "a")
        + "\nUNION ALL"
        + _hll_side_sql("rb", "tb", "b")
        + "\nUNION ALL"
        + _hll_side_sql("rm", "tu", "union")
    )

    # page-metadata header pass: same 4 synthetic head variants, same
    # attribute-order-insensitive regexps (RE2 and Java agree on the
    # (?is)/lazy subset used), '' → NULL per field like the engine
    page_metadata_sql = r"""
WITH hsrc AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN '<html lang="en"><head><title> Doc  ' || doc_id::VARCHAR
        || chr(10) || '</title><meta charset="UTF-8"><meta property="og:title" content="OG '
        || doc_id::VARCHAR || '"/><link rel="canonical" href="https://example.com/c/'
        || doc_id::VARCHAR
        || '"/><meta property="article:published_time" content="2024-01-02"/></head><body/></html>'
      WHEN 1 THEN '<html lang="fr-CA"><head><title>Doc ' || doc_id::VARCHAR
        || '</title><meta charset=utf-8><meta content="OG ' || doc_id::VARCHAR
        || ' flip" property="og:title"/><link href="https://example.com/c/'
        || doc_id::VARCHAR
        || '" rel="canonical"/><meta content="2023-12-31T23:59:59Z" property="article:published_time"/></head></html>'
      WHEN 2 THEN '<html lang="zh"><head><title>Doc ' || doc_id::VARCHAR
        || '</title><meta http-equiv="Content-Type" content="text/html; charset=GBK"></head></html>'
      ELSE '<html><head></head><body>no head fields</body></html>'
    END AS h
  FROM documents)
SELECT doc_id,
  nullif(trim(regexp_replace(
    regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1), '\s+', ' ', 'g')), '')
    AS title,
  nullif(CASE WHEN regexp_extract(h,
           '(?is)<meta\s+[^>]*property\s*=\s*"og:title"[^>]*content\s*=\s*"([^"]*)"', 1) <> ''
         THEN regexp_extract(h,
           '(?is)<meta\s+[^>]*property\s*=\s*"og:title"[^>]*content\s*=\s*"([^"]*)"', 1)
         ELSE regexp_extract(h,
           '(?is)<meta\s+[^>]*content\s*=\s*"([^"]*)"[^>]*property\s*=\s*"og:title"', 1)
         END, '') AS og_title,
  nullif(CASE WHEN regexp_extract(h,
           '(?is)<link\s+[^>]*rel\s*=\s*"canonical"[^>]*href\s*=\s*"([^"]*)"', 1) <> ''
         THEN regexp_extract(h,
           '(?is)<link\s+[^>]*rel\s*=\s*"canonical"[^>]*href\s*=\s*"([^"]*)"', 1)
         ELSE regexp_extract(h,
           '(?is)<link\s+[^>]*href\s*=\s*"([^"]*)"[^>]*rel\s*=\s*"canonical"', 1)
         END, '') AS canonical_link,
  nullif(CASE WHEN regexp_extract(h,
           '(?is)<meta\s+[^>]*property\s*=\s*"article:published_time"[^>]*content\s*=\s*"([^"]*)"', 1) <> ''
         THEN regexp_extract(h,
           '(?is)<meta\s+[^>]*property\s*=\s*"article:published_time"[^>]*content\s*=\s*"([^"]*)"', 1)
         ELSE regexp_extract(h,
           '(?is)<meta\s+[^>]*content\s*=\s*"([^"]*)"[^>]*property\s*=\s*"article:published_time"', 1)
         END, '') AS published_time,
  nullif(lower(coalesce(
    nullif(regexp_extract(h, '(?is)<meta\s+charset\s*=\s*"?([a-z0-9_-]+)', 1), ''),
    regexp_extract(h, '(?is)content-type[^>]*charset=([a-z0-9_-]+)', 1))), '')
    AS charset,
  nullif(regexp_extract(h, '(?is)<html\s+[^>]*lang\s*=\s*"([^"]*)"', 1), '')
    AS html_lang
FROM hsrc"""

    # mojibake repair: the SAME generated (mojibake, fixed) table drives
    # the SQL chain, applied in the identical order — replace() is
    # all-non-overlapping-occurrences left-to-right in both engines
    from pdf_context_extractor_agent_spark.functions.encoding import MOJIBAKE_PAIRS

    _fix = "t"
    for _moji, _fixed in MOJIBAKE_PAIRS:
        _fix = f"replace({_fix}, '{_moji}', '{_fixed}')"
    mojibake_sql = f"""
WITH c AS (
  SELECT doc_id,
         coalesce(replace(replace(text, 'e', 'Ã©'), ',', 'â€™'), '') AS t
  FROM documents),
f AS (SELECT doc_id, length(t)::BIGINT AS n, {_fix} AS fixed FROM c)
SELECT doc_id,
       length(fixed)::BIGINT AS fixed_len,
       (n - length(fixed))::BIGINT AS repaired_chars,
       floor((n - length(fixed)) / greatest(n, 1) * 1000000.0)::BIGINT
         AS moji_score_ppm,
       md5(fixed) AS fixed_md5
FROM f"""

    # HTML entity decode: DuckDB's chr() is full-unicode, so the oracle
    # needs only the SAME validity guards; the named chain is generated
    # from the engine's own table (&amp; last)
    from pdf_context_extractor_agent_spark.functions.webtext import NAMED_ENTITIES

    _un = "u"
    for _ent, _ch in NAMED_ENTITIES:
        _e = _ent.replace("'", "''")
        _c = _ch.replace("'", "''")
        _un = f"replace({_un}, '{_e}', '{_c}')"
    unescape_sql = f"""
WITH d AS (
  SELECT doc_id,
         coalesce(text, '') || ' &amp;&lt;ok&gt; caf&#233; q&#8217; h&#x2019;'
           || ' bad&#boom; sur&#55296; big&#1114112; z&#x1F600;'
           || ' amp&#38;lt; one&#1;x raw' || chr(1) || 'y' AS t
  FROM documents),
esc AS (SELECT doc_id, replace(t, chr(1), chr(1) || 'B') AS t FROM d),
sp AS (SELECT doc_id, string_split(t, '&#') AS fr FROM esc),
num AS (
  SELECT doc_id,
         fr[1] || array_to_string(list_transform(fr[2:], x ->
           CASE
             WHEN regexp_matches(x, '^[0-9]{{1,7}};')
                  AND regexp_extract(x, '^([0-9]{{1,7}});', 1)::BIGINT
                      BETWEEN 1 AND 1114111
                  AND NOT (regexp_extract(x, '^([0-9]{{1,7}});', 1)::BIGINT
                           BETWEEN 55296 AND 57343)
               THEN CASE WHEN chr(regexp_extract(x, '^([0-9]{{1,7}});', 1)::INT) = '&'
                         THEN chr(1) || 'A'
                         WHEN chr(regexp_extract(x, '^([0-9]{{1,7}});', 1)::INT) = chr(1)
                         THEN chr(1) || 'B'
                         ELSE chr(regexp_extract(x, '^([0-9]{{1,7}});', 1)::INT) END
                    || substr(x, length(regexp_extract(x, '^[0-9]{{1,7}};', 0)) + 1)
             WHEN regexp_matches(x, '^[xX][0-9a-fA-F]{{1,6}};')
                  AND ('0x' || regexp_extract(x, '^[xX]([0-9a-fA-F]{{1,6}});', 1))::BIGINT
                      BETWEEN 1 AND 1114111
                  AND NOT (('0x' || regexp_extract(x, '^[xX]([0-9a-fA-F]{{1,6}});', 1))::BIGINT
                           BETWEEN 55296 AND 57343)
               THEN CASE WHEN chr(('0x' || regexp_extract(x, '^[xX]([0-9a-fA-F]{{1,6}});', 1))::INT) = '&'
                         THEN chr(1) || 'A'
                         WHEN chr(('0x' || regexp_extract(x, '^[xX]([0-9a-fA-F]{{1,6}});', 1))::INT) = chr(1)
                         THEN chr(1) || 'B'
                         ELSE chr(('0x' || regexp_extract(x, '^[xX]([0-9a-fA-F]{{1,6}});', 1))::INT) END
                    || substr(x, length(regexp_extract(x, '^[xX][0-9a-fA-F]{{1,6}};', 0)) + 1)
             ELSE '&#' || x
           END), '') AS u
  FROM sp)
SELECT doc_id, replace(replace({_un}, chr(1) || 'A', '&'),
                       chr(1) || 'B', chr(1)) AS unescaped FROM num"""

    # Dolma-style attribute sidecar: the fixed-key-order JSON concat is
    # restated verbatim; counts via len(regexp_extract_all), moji ppm
    # via the same generated repair chain
    attributes_sql = f"""
WITH c AS (
  SELECT doc_id,
         coalesce(text, '') || ' user' || doc_id::VARCHAR
           || '@example.com +555-123-4567 caffÃ©' AS t
  FROM documents),
f AS (SELECT doc_id, t, {_fix} AS fixed FROM c)
SELECT doc_id,
       '{{"n_chars":' || length(t)::VARCHAR
       || ',"ws_tokens":' || len(string_split_regex(trim(t), '\\s+'))::VARCHAR
       || ',"re_tokens":'
       || len(regexp_extract_all(t, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::VARCHAR
       || ',"pii_email":'
       || len(regexp_extract_all(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::VARCHAR
       || ',"pii_phone":'
       || len(regexp_extract_all(t, '\\+?[0-9]{{3}}-[0-9]{{3,4}}-[0-9]{{4}}'))::VARCHAR
       || ',"moji_ppm":'
       || floor((length(t) - length(fixed))
                / greatest(length(t), 1) * 1000000.0)::BIGINT::VARCHAR
       || '}}' AS attributes
FROM f"""

    bpe_cte = (
        f"""
WITH v0 AS MATERIALIZED (
  SELECT word, cnt,
         '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS enc
  FROM (
    SELECT word, count(*)::BIGINT AS cnt
    FROM (SELECT unnest(string_split({norm}, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word) base),"""
        + ",".join(_bpe_rounds)
    )

    acc = 0.0
    cases = []
    for sname, sfrac in SPLIT_FRACS.items():
        acc += float(sfrac)
        cases.append(f"WHEN u < {acc!r} THEN '{sname}'")
    _split_cases = " ".join(cases)

    def _nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substring(md5(term), {i}, 1)) - 1)"

    # DSIR mirror: md5-nibble bucket, Laplace-smoothed count ratio as an
    # exact small-integer rational, ln quantized to 2^-16 multiples —
    # the identical formula functions/dsir.py evaluates in Spark
    _dsir_cte = f"""
WITH terms AS (
  SELECT doc_id, lang, unnest(string_split({norm}, ' ')) AS term
  FROM documents),
tb AS (
  SELECT doc_id, lang,
         ({_nib(1)}*4096 + {_nib(2)}*256 + {_nib(3)}*16 + {_nib(4)}) % 256
           AS bucket
  FROM terms),
tc AS (SELECT bucket, count(*) AS cnt_t FROM tb WHERE lang = 'en' GROUP BY bucket),
qc AS (SELECT bucket, count(*) AS cnt_q FROM tb GROUP BY bucket),
tot AS (SELECT (SELECT coalesce(sum(cnt_t), 0) FROM tc) AS tot_t,
               (SELECT coalesce(sum(cnt_q), 0) FROM qc) AS tot_q),
dim AS (
  SELECT r.range::INT AS bucket,
         round(ln(((coalesce(cnt_t, 0) + 1.0) * (tot_q + 256.0)) /
                  ((tot_t + 256.0) * (coalesce(cnt_q, 0) + 1.0))) * 65536.0)
           / 65536.0 AS log_ratio
  FROM range(256) r
  LEFT JOIN tc ON r.range = tc.bucket
  LEFT JOIN qc ON r.range = qc.bucket
  CROSS JOIN tot)
"""

    def hits(words: list[str]) -> str:
        # case-folded like quality._marker_hits
        pat = r"\b(" + "|".join(words) + r")\b"
        return f"len(regexp_extract_all(lower(text), '{pat}'))"

    # --- MinHash / SimHash: the DuckDB mirror of the production plan.
    # md5_hash60(key, 0) is the one base hash; MinHash re-hashes it with
    # the same (a_k, b_k) literals dedup.minhash_signatures embeds ---
    from pdf_context_extractor_agent_spark.functions.dedup import (
        MINHASH_PRIME,
        SIMHASH_BITS,
        minhash_coefficients,
    )

    def hash60(key: str) -> str:
        return f"('0x' || substr(md5('0:' || {key}), 1, 15))::BIGINT"

    def mh_sigs(src: str, k: int = 16) -> str:
        mins = ", ".join(
            f"min((x * {a} + {b}) % {MINHASH_PRIME}) AS mh_{i}"
            for i, (a, b) in enumerate(minhash_coefficients(k))
        )
        return (f"SELECT doc_id, {mins} FROM (SELECT doc_id, "
                f"{hash60('shingle')} % {MINHASH_PRIME} AS x FROM {src}) GROUP BY doc_id")

    band_key = "CASE band_idx " + " ".join(
        f"WHEN {b} THEN mh_{2*b}::VARCHAR || '|' || mh_{2*b+1}::VARCHAR" for b in range(8)
    ) + " END"
    band_vals = ", ".join(f"({b})" for b in range(8))
    jacc = "len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s)))"

    sim_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sim_fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(SIMHASH_BITS)
    )

    # --- hyperplane-LSH twins: the planes are deterministic md5-derived
    # floats, so the DuckDB oracle embeds the SAME values as literals and
    # reproduces bucket signatures and cosine scores exactly ---
    from pdf_context_extractor_agent_spark.functions.similarity import _hyperplanes

    _planes = _hyperplanes(64, 8)
    bucket_expr = " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) > 0 THEN {2**i} ELSE 0 END)"
        for i, plane in enumerate(_planes)
    )
    # 4-plane variant for the bitext-margin query (16 buckets → real
    # multi-probe coverage on the 250-per-side split)
    bucket4_expr = " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) > 0 THEN {2**i} ELSE 0 END)"
        for i, plane in enumerate(_hyperplanes(64, 4))
    )
    cos_expr = (
        "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
        " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
        " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )

    en = f"{hits(['the','a','of','and','is'])} / {lang_tokens}"
    es = f"{hits(['el','la','de','que','los'])} / {lang_tokens}"
    de = f"{hits(['der','die','das','und','ist'])} / {lang_tokens}"
    zh = r"len(regexp_extract_all(text, '[一-鿿]')) / greatest(length(text), 1)"
    stop = hits(["the", "a", "of", "and", "is", "to", "in", "that", "it", "on"])

    return {
        "q_scan_pushdown": """
            SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_base
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
            GROUP BY l_returnflag""",
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "q_join_revenue": """
            SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        "q_topn_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) t WHERE rn <= 3""",
        "q_cube_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
        "q_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
        "q_semi_join": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",
        "q_anti_join": """
            SELECT p_partkey, p_brand FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
                                AND l_shipdate < TIMESTAMP '1996-01-01')""",
        "q_pivot": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f
            FROM lineitem GROUP BY l_returnflag""",
        "q_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, value, ts,
                     CASE WHEN epoch_us(ts)
                               - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                            OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events),
            s AS (
              SELECT user_id, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS session_id
              FROM g)
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM s GROUP BY user_id, session_id""",
        "q_orderby_limit": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
        "q_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                   count(DISTINCT l_partkey) AS n_parts
            FROM lineitem GROUP BY l_returnflag""",
        "q_j2_first_wins": """
            SELECT o_custkey, o_orderpriority, o_orderkey AS first_order FROM (
              SELECT o_custkey, o_orderpriority, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                        ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders) t WHERE rn = 1""",
        "q_j1_pattern_match": """
            SELECT doc_id, arg_min(label, ord) AS label
            FROM documents
            CROSS JOIN (VALUES ('p_spark', 'spark', 0), ('p_stream', 'stream', 1),
                               ('p_join', 'join', 2)) pat(label, pat, ord)
            WHERE regexp_matches(text, pat)
            GROUP BY doc_id""",
        "q_si1_anchors": """
            SELECT source, anchor, min(doc_id) AS first_doc
            FROM documents
            CROSS JOIN (VALUES ('table'), ('join'), ('window'), ('stream')) a(anchor)
            WHERE regexp_matches(text, anchor)
            GROUP BY source, anchor""",
        "q_p2_boundary": """
            SELECT source,
                   min(CASE WHEN regexp_matches(text, 'spark') THEN doc_id END) AS start_doc,
                   coalesce(max(CASE WHEN regexp_matches(text, 'stream') THEN doc_id END),
                            min(CASE WHEN regexp_matches(text, 'vector') THEN doc_id END)) AS end_doc
            FROM documents GROUP BY source""",
        "q_p3_range_prune": """
            WITH rng AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN ts END) AS start_ts,
                     max(CASE WHEN event_type = 'purchase' THEN ts END) AS end_ts
              FROM events GROUP BY user_id)
            SELECT e.user_id, count(*) AS n_kept, round(sum(value), 2) AS sum_value
            FROM events e JOIN rng r ON e.user_id = r.user_id
            WHERE r.start_ts IS NOT NULL AND e.ts >= r.start_ts AND e.ts <= r.end_ts
            GROUP BY e.user_id""",
        "q_v1_tolerance": """
            WITH calc AS (
              SELECT l_orderkey,
                     sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS calc
              FROM lineitem GROUP BY l_orderkey)
            SELECT o_orderstatus,
                   abs(calc - o_totalprice) <= greatest(abs(calc), abs(o_totalprice)) * 0.01 AS passed,
                   count(*) AS n
            FROM orders JOIN calc ON o_orderkey = l_orderkey
            GROUP BY 1, 2""",
        "q_v14_numeric_clean": r"""
            SELECT event_type,
                   round(sum(TRY_CAST(regexp_replace(props, '[^0-9.\-]', '', 'g') AS DOUBLE)), 2) AS sum_k,
                   count(CASE WHEN TRY_CAST(regexp_replace(props, '[^0-9.\-]', '', 'g') AS DOUBLE) IS NULL THEN 1 END) AS n_null
            FROM events GROUP BY event_type""",
        "q_n6_interval_assign": """
            WITH sign AS (
              SELECT user_id, ts AS s_ts, event_id AS signup_id,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
              FROM events WHERE event_type = 'signup')
            SELECT signup_id, count(*) AS n_clicks
            FROM sign s JOIN events c
              ON c.user_id = s.user_id AND c.event_type = 'click'
             AND c.ts >= s.s_ts AND (s.next_ts IS NULL OR c.ts < s.next_ts)
            GROUP BY signup_id""",
        "q_n8_continuity": """
            WITH g AS (
              SELECT user_id,
                     epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
              FROM events)
            SELECT user_id, count(CASE WHEN gap > 3600000000 THEN 1 END) AS n_gaps,
                   count(*) AS n_events
            FROM g GROUP BY user_id""",
        "q_window_running": """
            SELECT event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
            FROM events""",
        "q_m3_clean": f"SELECT doc_id, {norm} AS norm FROM documents",
        "q_dedup_exact": f"""
            SELECT md5({norm}) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1""",
        "q_fingerprint": f"SELECT doc_id, md5({norm}) AS fp_md5 FROM documents",
        "q_stratified_sample": """
            WITH d AS (
              SELECT doc_id, lang,
                     round((('0x' || substr(md5('mix-v1:' || doc_id::VARCHAR), 1, 8))::UBIGINT
                            / 4294967296.0), 6) AS u
              FROM documents)
            SELECT doc_id, lang, u FROM d
            WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.8
                                WHEN 'de' THEN 0.25 WHEN 'es' THEN 0.6
                                ELSE 0.0 END""",
        "q_stratified_topk": """
            WITH d AS (
              SELECT doc_id, lang,
                     round((('0x' || substr(md5('mix-v1:' || doc_id::VARCHAR), 1, 8))::UBIGINT
                            / 4294967296.0), 6) AS u
              FROM documents),
            r AS (
              SELECT doc_id, lang, u,
                     row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rank
              FROM d)
            SELECT doc_id, lang, u, rank FROM r
            WHERE rank <= CASE lang WHEN 'en' THEN 120 WHEN 'zh' THEN 40
                                    WHEN 'fr' THEN 25 ELSE 0 END""",
        "q_decontaminate": f"""
            {shingle_cte},
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
            tot AS (SELECT doc_id, count(*) AS n_ngrams FROM sh GROUP BY doc_id),
            hit AS (SELECT s.doc_id, count(*) AS n_hit
                    FROM sh s JOIN bench b USING (shingle) GROUP BY s.doc_id)
            SELECT t.doc_id, t.n_ngrams, coalesce(h.n_hit, 0) AS n_hit,
                   round(coalesce(h.n_hit, 0)::DOUBLE / t.n_ngrams, 6) AS contamination
            FROM tot t LEFT JOIN hit h USING (doc_id)""",
        "q_token_counts": r"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
            FROM documents""",
        "q_lang_scores": f"""
            SELECT doc_id,
                   round({en}, 5) AS s_en,
                   round({es}, 5) AS s_es,
                   round({de}, 5) AS s_de,
                   round({zh}, 5) AS s_zh,
                   CASE WHEN {en} >= {es} AND {en} >= {de} AND {en} >= {zh} THEN 'en'
                        WHEN {es} >= {de} AND {es} >= {zh} THEN 'es'
                        WHEN {de} >= {zh} THEN 'de'
                        ELSE 'zh' END AS pred
            FROM documents""",
        "q_quality": f"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(string_split_regex(trim(text), '\\s+')) AS n_words,
                     length(regexp_replace(text, '\\s+', '', 'g')) AS n_word_chars,
                     {stop} AS n_stop,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
              FROM documents)
            SELECT doc_id, n_words,
                   round(n_word_chars / greatest(n_words, 1), 4) AS mean_word_len,
                   round(n_stop / greatest(n_words, 1), 4) AS stop_ratio,
                   round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
                   round(
                     (CASE WHEN n_words >= 50 THEN 0.4 ELSE n_words / 125.0 END)
                     + (CASE WHEN n_word_chars / greatest(n_words, 1) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END)
                     + least((n_stop / greatest(n_words, 1)) * 2, 0.3), 4) AS quality_score
            FROM f""",
        "q_readability": """
            WITH f AS (
              SELECT doc_id,
                     greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS n_words,
                     greatest(len(regexp_extract_all(text, '[.!?。！？]+')), 1) AS n_sentences,
                     list_sum(list_transform(
                       string_split_regex(trim(text), '\\s+'),
                       w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1)
                     ))::BIGINT AS n_syllables
              FROM documents)
            SELECT doc_id,
                   n_sentences,
                   n_syllables,
                   floor(n_words::DOUBLE / n_sentences * 10000) / 10000 AS words_per_sentence,
                   floor(n_syllables::DOUBLE / n_words * 10000) / 10000 AS syllables_per_word,
                   floor((206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
                          - 84.6 * (n_syllables::DOUBLE / n_words)) * 10000) / 10000 AS flesch
            FROM f""",
        "q_ngram_jaccard": f"""
            {shingle_cte},
            sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM documents a JOIN documents b
                ON b.doc_id = a.doc_id + 20 AND a.source = b.source)
            SELECT doc_a, doc_b,
                   round(len(list_intersect(x.s, y.s))::DOUBLE
                         / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
            FROM pairs JOIN sets x ON doc_a = x.doc_id JOIN sets y ON doc_b = y.doc_id""",
        "q_containment": f"""
            {shingle_cte},
            sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM documents a JOIN documents b
                ON b.doc_id = a.doc_id + 20 AND a.source = b.source),
            c AS (
              SELECT doc_a, doc_b,
                     round(len(list_intersect(x.s, y.s))::DOUBLE / len(x.s), 6) AS containment_a,
                     round(len(list_intersect(x.s, y.s))::DOUBLE / len(y.s), 6) AS containment_b,
                     round(greatest(
                       len(list_intersect(x.s, y.s))::DOUBLE / len(x.s),
                       len(list_intersect(x.s, y.s))::DOUBLE / len(y.s)), 6) AS containment
              FROM pairs JOIN sets x ON doc_a = x.doc_id JOIN sets y ON doc_b = y.doc_id)
            SELECT doc_a, doc_b, containment_a, containment_b, containment,
                   containment >= 0.05 AS is_contained
            FROM c""",
        "q_tfidf_keywords": r"""
            WITH inst AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\s+')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM inst GROUP BY doc_id, term),
            dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            sc AS (
              SELECT doc_id, term, tf,
                     round(tf * ln((1 + n_docs)::DOUBLE / (1 + df)), 5) AS tfidf
              FROM tf JOIN dfr USING (term) CROSS JOIN n),
            rk AS (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
              FROM sc)
            SELECT doc_id, term, tf, tfidf, rank FROM rk WHERE rank <= 5""",
        "q_corpus_stats": r"""
            WITH s AS (
              SELECT source, lang,
                     length(text) AS n_chars,
                     len(string_split_regex(trim(text), '\s+')) AS tok,
                     md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
              FROM documents)
            SELECT source,
                   count(*) AS n_docs,
                   sum(tok)::BIGINT AS total_tokens,
                   round(avg(n_chars), 2) AS avg_chars,
                   round(quantile_cont(tok, 0.5), 1) AS median_tokens,
                   count(DISTINCT lang) AS n_langs,
                   (count(*) - count(DISTINCT fp))::BIGINT AS dup_docs
            FROM s GROUP BY source""",
        "q_minhash_md5": f"""
            {shingle_cte}
            {mh_sigs("sh", 4)}""",
        "q_repetition": f"""
            WITH w AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
            bg AS (
              SELECT doc_id, w,
                     list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                                    i -> concat_ws(' ', w[i], w[i + 1])) AS bg
              FROM w)
            SELECT doc_id,
                   round(len(list_distinct(w))::DOUBLE / len(w), 6) AS distinct_word_ratio,
                   CASE WHEN len(w) < 2 THEN 0.0 ELSE
                     round(list_max(list_transform(list_distinct(bg),
                                                   d -> len(list_filter(bg, x -> x = d))))::DOUBLE
                           / len(bg), 6) END AS top_bigram_frac
            FROM bg""",
        "q_pii_scrub": r"""
            WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR
                          || '@example.com or +555-123-4567 now' AS t
              FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(t, '\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS n_phone,
                   md5(regexp_replace(
                         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                         '\+?[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '[PHONE]', 'g')) AS masked_md5
            FROM d""",
        "q_lm_score": r"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))), '\s+') AS w
              FROM documents),
            bg AS (
              SELECT doc_id,
                     unnest(w[1:len(w)-1]) AS w1,
                     unnest(w[2:len(w)]) AS w2
              FROM w),
            pc AS (SELECT w1, w2, count(*) AS pair_cnt FROM bg GROUP BY w1, w2),
            fc AS (SELECT w1, sum(pair_cnt) AS first_cnt FROM pc GROUP BY w1),
            model AS (
              SELECT pc.w1, pc.w2, pair_cnt, first_cnt,
                     ln(pair_cnt::DOUBLE / first_cnt) AS logp
              FROM pc JOIN fc USING (w1)),
            per_doc AS (
              SELECT doc_id,
                     count(*) AS n_bigrams,
                     sum(pair_cnt)::BIGINT AS sum_pair_cnt,
                     sum(first_cnt)::BIGINT AS sum_first_cnt,
                     avg(logp) AS raw_logp
              FROM bg JOIN model USING (w1, w2)
              GROUP BY doc_id)
            SELECT doc_id, n_bigrams, sum_pair_cnt, sum_first_cnt,
                   round(raw_logp, 5) AS avg_logp,
                   round(exp(-raw_logp), 4) AS ppl,
                   ntile(4) OVER (ORDER BY round(raw_logp, 5) DESC, doc_id) AS lm_bucket
            FROM per_doc""",
        "q_doc_freq": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       string_split_regex(lower(trim(coalesce(text, ''))), '\s+'))) AS word
              FROM documents),
            dfreq AS (SELECT word, count(*) AS df FROM w GROUP BY word),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT word, df,
                   round(ln((1 + n_docs)::DOUBLE / (1 + df)), 5) AS idf
            FROM dfreq, n
            ORDER BY df DESC, word
            LIMIT 100""",
        "q_phrase_search": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))), '\s+') AS w
              FROM documents),
            pos AS (SELECT doc_id, unnest(w) AS term,
                           generate_subscripts(w, 1) AS pos
                    FROM toks),
            m0 AS (SELECT doc_id, pos AS anchor_pos FROM pos WHERE term = 'batch'),
            m1 AS (SELECT doc_id, pos - 1 AS anchor_pos FROM pos WHERE term = 'stream'),
            hits AS (SELECT m0.doc_id, m0.anchor_pos
                     FROM m0 JOIN m1 USING (doc_id, anchor_pos))
            SELECT doc_id,
                   count(*) AS n_hits,
                   min(anchor_pos) AS first_pos
            FROM hits GROUP BY doc_id""",
        "q_zorder_layout": r"""
            WITH src AS (
              SELECT event_id,
                     user_id % 1024 AS ub,
                     (epoch_us(ts) // 60000000) % 1024 AS mb
              FROM events),
            a0 AS (SELECT event_id, ub, mb,
                          ub & 65535 AS a, mb & 65535 AS b FROM src),
            a1 AS (SELECT event_id, ub, mb,
                          (a | (a << 8)) & 16711935 AS a,
                          (b | (b << 8)) & 16711935 AS b FROM a0),
            a2 AS (SELECT event_id, ub, mb,
                          (a | (a << 4)) & 252645135 AS a,
                          (b | (b << 4)) & 252645135 AS b FROM a1),
            a3 AS (SELECT event_id, ub, mb,
                          (a | (a << 2)) & 858993459 AS a,
                          (b | (b << 2)) & 858993459 AS b FROM a2),
            a4 AS (SELECT event_id, ub, mb,
                          (a | (a << 1)) & 1431655765 AS a,
                          (b | (b << 1)) & 1431655765 AS b FROM a3)
            SELECT event_id, ub, mb,
                   (a << 1) | b AS zkey,
                   ((a << 1) | b) >> 12 AS file_id
            FROM a4""",
        "q_zorder_pruning": r"""
            WITH src AS (
              SELECT user_id % 1024 AS ub,
                     (epoch_us(ts) // 60000000) % 1024 AS mb
              FROM events),
            a0 AS (SELECT ub, mb, ub & 65535 AS a, mb & 65535 AS b FROM src),
            a1 AS (SELECT ub, mb, (a | (a << 8)) & 16711935 AS a,
                          (b | (b << 8)) & 16711935 AS b FROM a0),
            a2 AS (SELECT ub, mb, (a | (a << 4)) & 252645135 AS a,
                          (b | (b << 4)) & 252645135 AS b FROM a1),
            a3 AS (SELECT ub, mb, (a | (a << 2)) & 858993459 AS a,
                          (b | (b << 2)) & 858993459 AS b FROM a2),
            a4 AS (SELECT ub, mb, (a | (a << 1)) & 1431655765 AS a,
                          (b | (b << 1)) & 1431655765 AS b FROM a3),
            keyed AS (SELECT ub, mb, ((a << 1) | b) >> 12 AS zfile,
                             mb >> 2 AS tfile FROM a4),
            zstats AS (SELECT zfile, min(ub) AS min0, max(ub) AS max0,
                              min(mb) AS min1, max(mb) AS max1
                       FROM keyed GROUP BY zfile),
            tstats AS (SELECT tfile, min(ub) AS min0, max(ub) AS max0,
                              min(mb) AS min1, max(mb) AS max1
                       FROM keyed GROUP BY tfile),
            z AS (SELECT 'zorder' AS layout, count(*)::BIGINT AS n_files,
                         sum((max0 >= 96 AND min0 <= 159 AND
                              max1 >= 256 AND min1 <= 511)::INT)::BIGINT
                             AS files_scanned
                  FROM zstats),
            t AS (SELECT 'time_sorted' AS layout, count(*)::BIGINT AS n_files,
                         sum((max0 >= 96 AND min0 <= 159 AND
                              max1 >= 256 AND min1 <= 511)::INT)::BIGINT
                             AS files_scanned
                  FROM tstats)
            SELECT layout, n_files, files_scanned,
                   round(files_scanned / n_files, 4) AS scan_frac FROM z
            UNION ALL
            SELECT layout, n_files, files_scanned,
                   round(files_scanned / n_files, 4) AS scan_frac FROM t""",
        "q_strand_pairs": r"""
            WITH pages AS (
              SELECT 'https://m' || ((doc_id // 2) % 5)::VARCHAR
                     || '.example.org/'
                     || (['en', 'es', 'en', 'fr'])[(doc_id % 4) + 1]
                     || '/item/'
                     || (CASE WHEN doc_id % 9 = 0 THEN doc_id + 1000
                              ELSE doc_id // 2 END)::VARCHAR
                     || '/view' AS url
              FROM documents WHERE doc_id < 400),
            marked AS (
              SELECT regexp_replace(url,
                       '/(en|es|fr|de|zh|ja|pt|it|ru)/', '/', 'g') AS base_key,
                     regexp_extract(url,
                       '/(en|es|fr|de|zh|ja|pt|it|ru)/', 1) AS lang,
                     url
              FROM pages
              WHERE regexp_extract(url,
                      '/(en|es|fr|de|zh|ja|pt|it|ru)/', 1) <> '')
            SELECT a.base_key,
                   a.lang AS lang_a, a.url AS url_a,
                   b.lang AS lang_b, b.url AS url_b
            FROM marked a JOIN marked b USING (base_key)
            WHERE a.lang < b.lang""",
        "q_strip_frequent_lines": r"""
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '((\w+ ){4}\w+) ', '\1' || chr(10), 'g') AS t
              FROM documents WHERE doc_id < 300),
            split AS (
              SELECT doc_id, string_split(t, chr(10)) AS l FROM src),
            lines AS (
              SELECT doc_id, i - 1 AS line_no, l[i] AS line,
                     md5(trim(l[i])) AS line_key
              FROM split, unnest(generate_series(1, len(l))) AS u(i)),
            freq AS (
              SELECT line_key, TRUE AS boiler FROM lines
              WHERE trim(line) <> ''
              GROUP BY line_key HAVING count(DISTINCT doc_id) >= 3),
            flagged AS (
              SELECT lines.*, coalesce(boiler, FALSE) AS is_boiler
              FROM lines LEFT JOIN freq USING (line_key))
            SELECT doc_id,
                   count(*) AS n_lines,
                   sum(is_boiler::INT)::BIGINT AS n_removed,
                   coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END,
                                       chr(10) ORDER BY line_no), '')
                       AS kept_text
            FROM flagged GROUP BY doc_id""",
        "q_chunk_sentences": r"""
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '((\w+ ){6}\w+) ', '\1. ', 'g') AS t
              FROM documents WHERE doc_id < 300),
            marked AS (
              SELECT doc_id,
                     string_split(regexp_replace(t, '([.!?。！？])\s+',
                                                 '\1' || chr(30), 'g'),
                                  chr(30)) AS l
              FROM src),
            idx AS (
              SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l
              FROM marked),
            sent AS (
              SELECT doc_id, i - 1 AS sent_idx, trim(l[i]) AS sentence
              FROM idx WHERE length(trim(l[i])) > 0),
            tok AS (
              SELECT doc_id, sent_idx, sentence,
                     len(string_split_regex(sentence, '\s+')) AS n_tok
              FROM sent),
            cum AS (
              SELECT *, coalesce(sum(n_tok) OVER (
                          PARTITION BY doc_id ORDER BY sent_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cum_before
              FROM tok),
            asg AS (
              SELECT *, cum_before // 32 AS raw_chunk FROM cum),
            dense AS (
              SELECT *, (dense_rank() OVER (
                          PARTITION BY doc_id ORDER BY raw_chunk) - 1)::BIGINT
                        AS chunk_idx
              FROM asg)
            SELECT doc_id, chunk_idx,
                   count(*) AS n_sents,
                   sum(n_tok)::BIGINT AS n_tokens,
                   string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text
            FROM dense GROUP BY doc_id, chunk_idx""",
        "q_bm25": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(coalesce(text, ''))), '\s+') AS w
              FROM documents),
            dl AS (SELECT doc_id, len(w) AS dl FROM toks),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            inst AS (SELECT doc_id, unnest(w) AS term FROM toks),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM inst WHERE term IN ('hash', 'stream', 'vector')
                   GROUP BY doc_id, term),
            dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            wt AS (SELECT tf.doc_id,
                          ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                          * tf * (1.2 + 1.0)
                          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS weight
                   FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id)
                   CROSS JOIN stats),
            sc AS (SELECT doc_id, round(sum(weight), 4) AS bm25,
                          count(*) AS n_terms_matched
                   FROM wt GROUP BY doc_id)
            SELECT doc_id, bm25, n_terms_matched FROM sc
            ORDER BY bm25 DESC, doc_id
            LIMIT 15""",
        # SQ8 codec oracle: global min/max, the quantization round, and
        # the integer dot scores all recomputed from the raw floats —
        # double arithmetic with one association order is IEEE-identical
        # across engines, and everything after round() is exact ints
        "q_sq_topk": """
            WITH lohi AS (
              SELECT min(u::DOUBLE) AS lo, max(u::DOUBLE) AS hi
              FROM embeddings, unnest(embedding) t(u)),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            codes AS (
              SELECT e.vec_id,
                     round((e.embedding[j+1]::DOUBLE - lo) * (255 / (hi - lo)))::INT
                       - 128 AS c,
                     round((q.qe[j+1]::DOUBLE - lo) * (255 / (hi - lo)))::INT
                       - 128 AS qc
              FROM embeddings e, q, lohi, range(64) r(j))
            SELECT vec_id, sum(c * qc)::INT AS qscore
            FROM codes GROUP BY vec_id
            ORDER BY qscore DESC, vec_id LIMIT 10
        """,
        # PQ-ADC oracle: rebuild the whole codec — strided codebooks
        # (centroid j of subspace s = subvector s of row j*31), per-
        # subspace argmin assignment, integer-quantized LUT scores.
        # Distance/dot sums are UNROLLED 8-term left-assoc chains: the
        # exact association order Spark's aggregate fold uses, so every
        # double is bit-identical and no trunc slack is needed before
        # the floor quantization.
        "q_pq_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0),
            sp AS (SELECT unnest(generate_series(0, 7)) AS s),
            cents AS (
              SELECT (vec_id // 31)::INT AS cent_id, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 496),
            books AS (
              SELECT sp.s AS subspace, c.cent_id,
                     list_slice(c.cvec, sp.s * 8 + 1, sp.s * 8 + 8) AS bv
              FROM cents c, sp),
            parts AS (
              SELECT e.vec_id, sp.s AS subspace,
                     list_slice(e.embedding::DOUBLE[], sp.s * 8 + 1, sp.s * 8 + 8) AS ev
              FROM embeddings e, sp),
            codes AS (
              SELECT vec_id, subspace, cent_id AS code FROM (
                SELECT p.vec_id, p.subspace, b.cent_id,
                       {d2} AS d2
                FROM parts p JOIN books b USING (subspace))
              QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
                                         ORDER BY d2 ASC, cent_id ASC) = 1),
            lut AS (
              SELECT b.subspace, b.cent_id,
                     floor(({qd}) * 1048576.0)::BIGINT AS part_q
              FROM books b, q)
            SELECT c.vec_id, (sum(l.part_q) / 1048576.0)::DOUBLE AS pq_score
            FROM codes c JOIN lut l ON c.subspace = l.subspace AND c.code = l.cent_id
            GROUP BY c.vec_id
            ORDER BY pq_score DESC, c.vec_id LIMIT 10
        """.format(
            d2=" + ".join(
                f"(p.ev[{i}] - b.bv[{i}]) * (p.ev[{i}] - b.bv[{i}])"
                for i in range(1, 9)
            ),
            qd=" + ".join(
                f"list_slice(q.qv, b.subspace * 8 + 1, b.subspace * 8 + 8)[{i}] * b.bv[{i}]"
                for i in range(1, 9)
            ),
        ),
        # audio kernel oracle: re-derive the per-window integer features
        # straight from the deterministic PCM synthesis formula — the
        # binary container never needs decoding on the oracle side
        "q_audio_features": """
            WITH ids AS (
              SELECT i AS media_id, (4 + i % 4) * 256 AS n
              FROM range(48) t(i)),
            samples AS (
              SELECT media_id, j AS i,
                     ((media_id * 131 + j * 17) % 4096) - 2048 AS s
              FROM ids JOIN range(2048) g(j) ON j < n),
            w AS (
              SELECT media_id, (i // 256)::INT AS window_idx, s,
                     lag(s) OVER (PARTITION BY media_id, i // 256 ORDER BY i) AS prev
              FROM samples)
            SELECT media_id::BIGINT AS media_id, window_idx,
                   sum(abs(s))::BIGINT AS sum_abs,
                   max(abs(s))::INT AS max_abs,
                   sum(s * s)::BIGINT AS energy,
                   sum(CASE WHEN prev IS NOT NULL AND (prev < 0) <> (s < 0)
                       THEN 1 ELSE 0 END)::INT AS zero_crossings
            FROM w GROUP BY media_id, window_idx
        """,
        # image aHash oracle: recompute the WHOLE perceptual-hash codec
        # from the FAKEIMG1 pixel synthesis formula — nearest-neighbor
        # 8x8 downsample (x = b*w//8, y = a*2 at h=16), strict integer
        # mean threshold (64*p > sum), row-major two's-complement pack
        # (CASE for bit 63, as in the Bloom oracle below). base image
        # id is media_id % 64: ids 64..79 duplicate payloads 0..15.
        "q_image_ahash": """
            WITH m AS (
              SELECT i AS media_id, (i % 64) AS base, 16 + (i % 64) % 8 AS w
              FROM range(80) t(i)),
            g AS (
              SELECT media_id, a, b,
                     ((base * 31 + ((b * w) // 8) * 7 + (a * 2) * 13) % 256)::BIGINT AS p
              FROM m, range(8) ta(a), range(8) tb(b)),
            s AS (SELECT media_id, sum(p) AS total FROM g GROUP BY media_id),
            bits AS (
              SELECT g.media_id, (a * 8 + b)::INT AS k,
                     CASE WHEN 64 * p > total THEN 1 ELSE 0 END AS bit
              FROM g JOIN s ON g.media_id = s.media_id)
            SELECT media_id::BIGINT AS media_id,
                   sum(bit * (CASE WHEN k = 63 THEN (-9223372036854775807 - 1)::BIGINT
                              ELSE (1::BIGINT << k) END))::BIGINT AS ahash64
            FROM bits GROUP BY media_id
        """,
        # near-dup pairs: the engine's banded join is exhaustive at
        # Hamming <= 3 (pigeonhole over four 16-bit bands), so the
        # oracle can be a plain all-pairs xor/bit_count scan
        "q_image_neardup": """
            WITH m AS (
              SELECT i AS media_id, (i % 64) AS base, 16 + (i % 64) % 8 AS w
              FROM range(80) t(i)),
            g AS (
              SELECT media_id, a, b,
                     ((base * 31 + ((b * w) // 8) * 7 + (a * 2) * 13) % 256)::BIGINT AS p
              FROM m, range(8) ta(a), range(8) tb(b)),
            s AS (SELECT media_id, sum(p) AS total FROM g GROUP BY media_id),
            bits AS (
              SELECT g.media_id, (a * 8 + b)::INT AS k,
                     CASE WHEN 64 * p > total THEN 1 ELSE 0 END AS bit
              FROM g JOIN s ON g.media_id = s.media_id),
            hv AS (
              SELECT media_id::BIGINT AS media_id,
                     sum(bit * (CASE WHEN k = 63 THEN (-9223372036854775807 - 1)::BIGINT
                                ELSE (1::BIGINT << k) END))::BIGINT AS ahash64
              FROM bits GROUP BY media_id)
            SELECT a.media_id AS media_a, b.media_id AS media_b,
                   bit_count(xor(a.ahash64, b.ahash64))::INT AS hamming
            FROM hv a JOIN hv b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.ahash64, b.ahash64)) <= 3
        """,
        # sentence segmentation: both engines inject the same
        # deterministic punctuation (period after every 7th word), then
        # the oracle restates mark-boundary-then-split with RE2 syntax
        # (\\1 backreference, explicit 'g' flag)
        "q_sentences": r"""
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '((\w+ ){6}\w+) ', '\1. ', 'g') AS t
              FROM documents WHERE doc_id < 200),
            marked AS (
              SELECT doc_id,
                     string_split(regexp_replace(t, '([.!?。！？])\s+',
                                                 '\1' || chr(30), 'g'),
                                  chr(30)) AS l
              FROM src),
            idx AS (
              SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l
              FROM marked)
            SELECT doc_id, (i - 1)::INT AS sent_idx, trim(l[i]) AS sentence
            FROM idx WHERE length(trim(l[i])) > 0
        """,
        # fuzzy near-dup: the engine's length-bucket blocking is
        # exhaustive at the threshold (lev <= k forces |len diff| <= k),
        # so an all-pairs Levenshtein scan is an exact twin
        "q_fuzzy_neardup": """
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 300),
            twins AS (
              SELECT doc_id + 1000 AS doc_id, '~' || substr(text, 2) AS text
              FROM base WHERE doc_id < 60),
            u AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   levenshtein(a.text, b.text)::INT AS edit_distance
            FROM u a JOIN u b ON a.doc_id < b.doc_id
            WHERE levenshtein(a.text, b.text) <= 2
        """,
        # char diversity: integer counts all the way; one final IEEE
        # division + floor-trunc, identical across engines. LEFT JOIN
        # keeps zero-char documents visible (Spark emits them with a
        # null diversity).
        "q_char_diversity": """
            WITH ch AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(coalesce(text, ''), ''),
                                        x -> x <> '')) AS c
              FROM documents),
            cnt AS (
              SELECT doc_id, c, count(*)::BIGINT AS k FROM ch GROUP BY doc_id, c),
            agg AS (
              SELECT doc_id, sum(k * (k - 1))::BIGINT AS s,
                     sum(k)::BIGINT AS n, count(*)::INT AS d
              FROM cnt GROUP BY doc_id)
            SELECT dd.doc_id, coalesce(a.n, 0)::BIGINT AS n_chars_counted,
                   coalesce(a.d, 0)::INT AS n_distinct_chars,
                   CASE WHEN a.n >= 2 THEN
                     floor((1.0::DOUBLE - a.s::DOUBLE / (a.n * (a.n - 1))::DOUBLE) * 1e6) / 1e6
                   END AS char_diversity
            FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.doc_id
        """,
        # Bloom build/probe: md5-positional hashing is reproduced
        # verbatim (first 15 hex nibbles -> 60-bit int mod m); the word
        # bitmap uses a CASE for bit 63 because DuckDB's BIGINT << 63
        # overflows where Spark's shiftleft wraps to min-long
        "q_bloom_words": """
            WITH pos AS (
              SELECT ('0x' || substr(md5(j::VARCHAR || ':doc:' || doc_id::VARCHAR),
                                     1, 15))::UBIGINT % 16384 AS p
              FROM documents, (SELECT unnest([0,1,2,3,4]) AS j)
              WHERE doc_id % 3 = 0)
            SELECT (p // 64)::BIGINT AS word_idx,
                   bit_or(CASE WHEN p % 64 = 63 THEN (-9223372036854775807 - 1)::BIGINT
                               ELSE (1::BIGINT << (p % 64)::INT) END) AS word
            FROM pos GROUP BY 1
        """,
        "q_bloom_probe": """
            WITH seeds AS (SELECT unnest([0,1,2,3,4]) AS j),
            ins AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(j::VARCHAR || ':doc:' || doc_id::VARCHAR),
                                     1, 15))::UBIGINT % 16384 AS p
              FROM documents, seeds WHERE doc_id % 3 = 0),
            probe AS (
              SELECT doc_id,
                     ('0x' || substr(md5(j::VARCHAR || ':doc:' || doc_id::VARCHAR),
                                     1, 15))::UBIGINT % 16384 AS p
              FROM documents, seeds)
            SELECT probe.doc_id,
                   (min(CASE WHEN ins.p IS NULL THEN 0 ELSE 1 END) = 1) AS maybe_member
            FROM probe LEFT JOIN ins USING (p)
            GROUP BY probe.doc_id
        """,
        "q_url_canon": r"""
            WITH u AS (
              SELECT doc_id,
                     'https://WWW.cdn.' || source || '.COM/A/' || doc_id::VARCHAR
                       || '/page?utm_source=feed&id=' || doc_id::VARCHAR
                       || '&ref=rss&x=Y#sec' AS url
              FROM documents),
            c AS (
              SELECT doc_id, url,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
                                   || regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(.*)$', 1),
                                 '^([a-z]+://)www\.', '\1'),
                               '#.*$', ''),
                             '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                           '\?&+', '?'),
                         '&&+', '&', 'g'),
                       '[?&]+$', '') AS canon_url,
                     regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                                    '^www\.', '') AS host
              FROM u)
            SELECT doc_id, canon_url, host,
                   regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
            FROM c""",
        "q_blocklist": r"""
            WITH u AS (
              SELECT doc_id,
                     'https://WWW.cdn.' || source || '.COM/A/' || doc_id::VARCHAR
                       || '/page?utm_source=feed&id=' || doc_id::VARCHAR
                       || '&ref=rss&x=Y#sec' AS url
              FROM documents),
            h AS (
              SELECT doc_id,
                     regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                                    '^www\.', '') AS host
              FROM u),
            bl(raw) AS (VALUES ('src3.com'), ('cdn.src7.com'),
                               ('tracker.src7.com'), ('SRC12.com '),
                               ('www.cdn.src5.com')),
            e AS (SELECT DISTINCT regexp_replace(lower(trim(raw)), '^www\.', '')
                           AS e FROM bl)
            SELECT h.doc_id, h.host,
                   coalesce(bool_or(h.host = e.e OR ends_with(h.host, '.' || e.e)), false)
                     AS is_blocked,
                   min(CASE WHEN h.host = e.e OR ends_with(h.host, '.' || e.e)
                            THEN e.e END) AS blocked_by
            FROM h LEFT JOIN e
              ON regexp_extract(h.host, '([^.]+\.[^.]+)$', 1)
               = regexp_extract(e.e, '([^.]+\.[^.]+)$', 1)
            GROUP BY h.doc_id, h.host""",
        # FineWeb-style per-domain cap: rank by n_chars desc with the
        # canonical url (unique: embeds doc_id) as the deterministic
        # tie-break — same canonicalization chain as q_url_canon
        "q_domain_cap": r"""
            WITH u AS (
              SELECT doc_id, n_chars,
                     'https://WWW.cdn.' || source || '.COM/A/' || doc_id::VARCHAR
                       || '/page?utm_source=feed&id=' || doc_id::VARCHAR
                       || '&ref=rss&x=Y#sec' AS url
              FROM documents),
            c AS (
              SELECT doc_id, n_chars,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
                                   || regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(.*)$', 1),
                                 '^([a-z]+://)www\.', '\1'),
                               '#.*$', ''),
                             '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                           '\?&+', '?'),
                         '&&+', '&', 'g'),
                       '[?&]+$', '') AS canon_url,
                     regexp_extract(
                       regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                                      '^www\.', ''),
                       '([^.]+\.[^.]+)$', 1) AS domain
              FROM u),
            r AS (
              SELECT doc_id, domain,
                     row_number() OVER (
                       PARTITION BY domain ORDER BY n_chars DESC, canon_url
                     )::INT AS domain_rank
              FROM c)
            SELECT doc_id, domain, domain_rank, (domain_rank > 5) AS domain_capped
            FROM r""",
        # cross-snapshot revisit dedup: newest warc_ts per canonical
        # url wins, doc_id breaks capture-time ties
        # magic-byte MIME sniff: the oracle restates the synthesis label
        # (the Spark side must RECOVER it from the constructed bytes)
        "q_sniff_mime": r"""
            SELECT doc_id,
                   CASE (doc_id % 10)
                     WHEN 0 THEN 'application/pdf'
                     WHEN 1 THEN 'application/gzip'
                     WHEN 2 THEN 'application/zip'
                     WHEN 3 THEN 'text/html'
                     WHEN 4 THEN 'text/html'
                     WHEN 5 THEN 'application/xml'
                     WHEN 6 THEN 'application/json'
                     WHEN 7 THEN 'application/warc'
                     WHEN 8 THEN 'text/plain'
                     ELSE 'application/octet-stream'
                   END AS content_type
            FROM documents""",
        # WET conversion records rebuilt verbatim; strlen = DuckDB byte
        # length (Content-Length is bytes, 'é' makes bytes != chars)
        "q_wet_records": r"""
            WITH p AS (
              SELECT 'https://crawl.example.org/doc/' || doc_id::VARCHAR AS url,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + (doc_id % 97) * INTERVAL 1 HOUR
                       + (doc_id % 59) * INTERVAL 1 MINUTE AS warc_ts,
                     replace(substr(COALESCE(text, ''), 1, 120), 'a', 'é') AS body
              FROM documents WHERE doc_id < 400),
            r AS (
              SELECT url,
                     'WARC/1.0' || chr(13) || chr(10)
                       || 'WARC-Type: conversion' || chr(13) || chr(10)
                       || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
                       || 'WARC-Date: ' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ')
                       || chr(13) || chr(10)
                       || 'Content-Type: text/plain' || chr(13) || chr(10)
                       || 'Content-Length: ' || strlen(body)::VARCHAR
                       || chr(13) || chr(10) || chr(13) || chr(10)
                       || body || chr(13) || chr(10) || chr(13) || chr(10) AS rec
              FROM p)
            SELECT url, md5(rec) AS record_md5, length(rec) AS record_chars
            FROM r""",
        # charset decode: oracle rebuilds the decoded document (header
        # + injected body) and the detection label per synthesis kind
        "q_decode_charset": r"""
            WITH b AS (
              SELECT doc_id, (doc_id % 6) AS k,
                     regexp_replace(
                       'Prose ' || substr(COALESCE(text, ''), 1, 80) || ' fin',
                       '[^ -~]', '', 'g') AS ab
              FROM documents),
            d AS (
              SELECT doc_id,
                     CASE k
                       WHEN 0 THEN '<html><head><meta charset="utf-8"></head><body>'
                                   || replace(ab, 'a', 'é') || '</body></html>'
                       WHEN 1 THEN '<html><body>' || replace(ab, 'a', 'é')
                                   || '</body></html>'
                       WHEN 2 THEN '<html><head><meta charset="windows-1252"></head><body>'
                                   || replace(ab, 'a', '’') || '</body></html>'
                       WHEN 3 THEN '<html><head><meta charset=''ISO-8859-1''></head><body>'
                                   || replace(ab, 'a', 'é') || '</body></html>'
                       WHEN 4 THEN '<html><body>' || replace(ab, 'a', 'é')
                                   || '</body></html>'
                       ELSE '<html><body>' || ab || '</body></html>'
                     END AS txt,
                     CASE k
                       WHEN 2 THEN 'windows-1252'
                       WHEN 3 THEN 'iso-8859-1'
                       WHEN 4 THEN 'utf-16le'
                       ELSE 'utf-8'
                     END AS charset
              FROM b)
            SELECT doc_id, charset, md5(txt) AS text_md5,
                   length(txt) AS text_chars
            FROM d""",
        # all-integer Bayesian shrinkage toward the corpus mean;
        # // is DuckDB's integer floor-div == Spark's div on nonneg longs
        "q_domain_prior": r"""
            WITH u AS (
              SELECT 'https://WWW.cdn.' || source || '.COM/A/' || doc_id::VARCHAR
                       || '/page?utm_source=feed&id=' || doc_id::VARCHAR
                       || '&ref=rss&x=Y#sec' AS url,
                     (doc_id * 7919) % 1000000 AS s
              FROM documents),
            k AS (
              SELECT regexp_extract(
                       regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                                      '^www\.', ''),
                       '([^.]+\.[^.]+)$', 1) AS domain,
                     s
              FROM u),
            g AS (SELECT (SUM(s) // COUNT(*))::BIGINT AS global_ppm FROM k)
            SELECT domain, COUNT(*) AS n_docs,
                   (SELECT global_ppm FROM g) AS global_ppm,
                   ((SUM(s) + 10 * (SELECT global_ppm FROM g))
                     // (COUNT(*) + 10))::BIGINT AS prior_ppm
            FROM k GROUP BY domain""",
        # markdown assembly: the oracle rebuilds the whole rendered
        # document (headings, list items, pipe table) as one string
        "q_markdown": r"""
            WITH m AS (
              SELECT doc_id,
                     '# Doc ' || doc_id::VARCHAR
                       || chr(10) || chr(10)
                       || substr(COALESCE(text, ''), 1, 100)
                       || chr(10) || chr(10)
                       || '## Details'
                       || chr(10) || chr(10)
                       || '- item ' || (doc_id % 5)::VARCHAR
                       || chr(10) || chr(10)
                       || '- item ' || ((doc_id + 1) % 5)::VARCHAR
                       || chr(10) || chr(10)
                       || '| k | v |' || chr(10)
                       || '| --- | --- |' || chr(10)
                       || '| a | ' || doc_id::VARCHAR || ' |' || chr(10)
                       || '| b | ' || (doc_id * 2)::VARCHAR || ' |' AS md
              FROM documents WHERE doc_id < 300)
            SELECT doc_id, md5(md) AS md_md5, length(md) AS md_chars
            FROM m""",
        # outline extraction: same running-max parent windows; labels
        # via recursive CTE instead of the bounded join unroll
        "q_toc": r"""
            WITH RECURSIVE s AS (SELECT range AS i FROM range(0, 8)),
            h AS (
              SELECT d.doc_id, s.i::INT AS seq,
                     (1 + (d.doc_id + s.i * s.i) % 3)::INT AS level,
                     'H' || s.i::VARCHAR AS title
              FROM documents d, s WHERE d.doc_id < 300),
            r AS (
              SELECT *,
                     max(CASE WHEN level = 1 THEN seq END) OVER w AS r1,
                     max(CASE WHEN level = 2 THEN seq END) OVER w AS r2
              FROM h
              WINDOW w AS (PARTITION BY doc_id ORDER BY seq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            p AS (
              SELECT doc_id, seq, level, title,
                     greatest(CASE WHEN level > 1 THEN r1 END,
                              CASE WHEN level > 2 THEN r2 END) AS parent_seq
              FROM r),
            q AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY doc_id, level, parent_seq ORDER BY seq
                     )::INT AS n
              FROM p),
            lab AS (
              SELECT doc_id, seq, level, title, parent_seq,
                     n::VARCHAR AS sec_label
              FROM q WHERE parent_seq IS NULL
              UNION ALL
              SELECT c.doc_id, c.seq, c.level, c.title, c.parent_seq,
                     l.sec_label || '.' || c.n::VARCHAR
              FROM q c JOIN lab l
                ON c.doc_id = l.doc_id AND c.parent_seq = l.seq)
            SELECT doc_id, seq, level, title, parent_seq, sec_label
            FROM lab""",
        # TextRank: Dice-ppm overlap graph + 3 unrolled integer power
        # iterations; // == Spark DIV on the nonnegative values here
        "q_textrank": r"""
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '((\w+ ){6}\w+) ', '\1. ', 'g') AS t
              FROM documents WHERE doc_id < 150),
            marked AS (
              SELECT doc_id,
                     string_split(regexp_replace(t, '([.!?。！？])\s+',
                                                 '\1' || chr(30), 'g'),
                                  chr(30)) AS l
              FROM src),
            idx AS (
              SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l
              FROM marked),
            sents AS (
              SELECT doc_id, (i - 1)::INT AS sent_idx, trim(l[i]) AS sentence
              FROM idx WHERE length(trim(l[i])) > 0),
            terms AS (
              SELECT DISTINCT doc_id, sent_idx, t AS term
              FROM (SELECT doc_id, sent_idx,
                           unnest(string_split_regex(lower(sentence),
                                                     '[^a-z0-9]+')) AS t
                    FROM sents)
              WHERE t <> ''),
            nlen AS (
              SELECT doc_id, sent_idx, COUNT(*) AS n_terms
              FROM terms GROUP BY doc_id, sent_idx),
            ov AS (
              SELECT a.doc_id, a.sent_idx AS sa, b.sent_idx AS sb,
                     COUNT(*) AS ov
              FROM terms a JOIN terms b
                ON a.doc_id = b.doc_id AND a.term = b.term
               AND a.sent_idx < b.sent_idx
              GROUP BY a.doc_id, a.sent_idx, b.sent_idx),
            pw AS (
              SELECT * FROM (
                SELECT o.doc_id, o.sa, o.sb,
                       ((2 * o.ov * 1000000) // (na.n_terms + nb.n_terms))::BIGINT AS w
                FROM ov o
                JOIN nlen na ON o.doc_id = na.doc_id AND o.sa = na.sent_idx
                JOIN nlen nb ON o.doc_id = nb.doc_id AND o.sb = nb.sent_idx)
              WHERE w > 0),
            edges AS (
              SELECT doc_id, sa AS src, sb AS dst, w FROM pw
              UNION ALL
              SELECT doc_id, sb AS src, sa AS dst, w FROM pw),
            outw AS (
              SELECT doc_id, src, SUM(w)::BIGINT AS outw
              FROM edges GROUP BY doc_id, src),
            nn AS (SELECT doc_id, COUNT(*) AS n FROM sents GROUP BY doc_id),
            r0 AS (
              SELECT s.doc_id, s.sent_idx,
                     (1000000000 // nn.n)::BIGINT AS rank,
                     ((15 * (1000000000 // nn.n)) // 100)::BIGINT AS base
              FROM sents s JOIN nn ON s.doc_id = nn.doc_id),
            c1 AS (
              SELECT e.doc_id, e.dst,
                     SUM((e.w * r.rank) // o.outw)::BIGINT AS contrib
              FROM edges e
              JOIN r0 r ON e.doc_id = r.doc_id AND e.src = r.sent_idx
              JOIN outw o ON e.doc_id = o.doc_id AND e.src = o.src
              GROUP BY e.doc_id, e.dst),
            r1 AS (
              SELECT r.doc_id, r.sent_idx,
                     (r.base + (85 * COALESCE(c.contrib, 0)) // 100)::BIGINT AS rank,
                     r.base
              FROM r0 r LEFT JOIN c1 c
                ON r.doc_id = c.doc_id AND r.sent_idx = c.dst),
            c2 AS (
              SELECT e.doc_id, e.dst,
                     SUM((e.w * r.rank) // o.outw)::BIGINT AS contrib
              FROM edges e
              JOIN r1 r ON e.doc_id = r.doc_id AND e.src = r.sent_idx
              JOIN outw o ON e.doc_id = o.doc_id AND e.src = o.src
              GROUP BY e.doc_id, e.dst),
            r2 AS (
              SELECT r.doc_id, r.sent_idx,
                     (r.base + (85 * COALESCE(c.contrib, 0)) // 100)::BIGINT AS rank,
                     r.base
              FROM r1 r LEFT JOIN c2 c
                ON r.doc_id = c.doc_id AND r.sent_idx = c.dst),
            c3 AS (
              SELECT e.doc_id, e.dst,
                     SUM((e.w * r.rank) // o.outw)::BIGINT AS contrib
              FROM edges e
              JOIN r2 r ON e.doc_id = r.doc_id AND e.src = r.sent_idx
              JOIN outw o ON e.doc_id = o.doc_id AND e.src = o.src
              GROUP BY e.doc_id, e.dst),
            r3 AS (
              SELECT r.doc_id, r.sent_idx,
                     (r.base + (85 * COALESCE(c.contrib, 0)) // 100)::BIGINT AS rank,
                     r.base
              FROM r2 r LEFT JOIN c3 c
                ON r.doc_id = c.doc_id AND r.sent_idx = c.dst),
            ranked AS (
              SELECT doc_id, sent_idx, rank,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY rank DESC, sent_idx
                     )::INT AS rank_order
              FROM r3)
            SELECT r.doc_id, r.rank_order, r.sent_idx, r.rank, s.sentence
            FROM ranked r JOIN sents s
              ON r.doc_id = s.doc_id AND r.sent_idx = s.sent_idx
            WHERE r.rank_order <= 3""",
        # audio near-dup: fingerprints recomputed from the PCM formula,
        # verified by an all-pairs Hamming scan (oracle-side); the
        # engine's banded join must match it exactly at the threshold
        "q_audio_neardup": """
            WITH ids AS (
              SELECT i AS media_id, i AS base, (4 + i % 4) * 256 AS n
              FROM range(48) t(i)
              UNION ALL
              SELECT 100 + j, j, (4 + j % 4) * 256
              FROM range(12) u(j)),
            samples AS (
              SELECT media_id, j AS i,
                     ((base * 131 + j * 17) % 4096) - 2048 AS s
              FROM ids JOIN range(2048) g(j) ON j < n),
            w AS (
              SELECT media_id, (i // 256)::INT AS window_idx,
                     sum(s * s)::BIGINT AS energy
              FROM samples GROUP BY media_id, i // 256),
            d AS (
              SELECT media_id, window_idx, energy,
                     lead(energy) OVER (
                       PARTITION BY media_id ORDER BY window_idx
                     ) AS next_e
              FROM w),
            fp AS (
              SELECT media_id,
                     COALESCE(SUM(CASE WHEN window_idx < 32
                                        AND next_e IS NOT NULL
                                        AND next_e > energy
                                   THEN (1::BIGINT << window_idx)
                                   ELSE 0 END), 0)::BIGINT AS f
              FROM d GROUP BY media_id)
            SELECT a.media_id AS media_a, b.media_id AS media_b,
                   bit_count(xor(a.f, b.f))::INT AS hamming
            FROM fp a JOIN fp b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.f, b.f)) <= 3""",
        # CDC: boundary iff md5 of the trailing 8-gram divides 64;
        # ownership via the doc*1e6+idx scalar (== Spark's struct min
        # because chunk_idx < 1e6)
        "q_cdc_dedup": r"""
            WITH base AS (
              SELECT doc_id, coalesce(text, '') AS t
              FROM documents WHERE doc_id < 250),
            twins AS (
              SELECT doc_id + 1000 AS doc_id, 'INSERTED PREFIX. ' || t AS t
              FROM base WHERE doc_id < 50),
            d AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
            b AS (
              SELECT doc_id, t,
                     CASE WHEN length(t) <= 8
                          THEN [0, length(t)]
                          ELSE [0]
                            || list_filter(range(8, length(t)),
                                 i -> ('0x' || substr(md5(substr(t, i - 7, 8)),
                                                      1, 8))::BIGINT % 64 = 0)
                            || [length(t)]
                     END AS ab
              FROM d),
            kk AS (
              SELECT doc_id, t, ab,
                     unnest(generate_series(1, len(ab) - 1)) AS k
              FROM b),
            ch AS (
              SELECT doc_id, (k - 1)::INT AS chunk_idx,
                     substr(t, (ab[k] + 1)::INT, (ab[k + 1] - ab[k])::INT)
                       AS chunk
              FROM kk),
            cf AS (
              SELECT doc_id, chunk_idx, md5(chunk) AS chunk_md5,
                     length(chunk)::INT AS chunk_len
              FROM ch WHERE length(chunk) > 0),
            own AS (
              SELECT chunk_md5,
                     min(doc_id * 1000000 + chunk_idx)::BIGINT AS ok
              FROM cf GROUP BY chunk_md5)
            SELECT c.doc_id, c.chunk_idx, c.chunk_md5, c.chunk_len,
                   (c.doc_id * 1000000 + c.chunk_idx) <> o.ok AS is_dup,
                   (o.ok // 1000000)::BIGINT AS owner_doc
            FROM cf c JOIN own o ON c.chunk_md5 = o.chunk_md5""",
        # JSON-LD: same regexp + JSON-path chain; json_valid gates the
        # malformed block the way Spark's null-@type filter does
        "q_jsonld": r"""
            WITH h AS (
              SELECT doc_id,
                     '<html><head>'
                     || CASE doc_id % 3
                        WHEN 0 THEN
                          '<script type="application/ld+json">{"@type":"Article","headline":"T'
                          || doc_id::VARCHAR || '","datePublished":"2024-0'
                          || (1 + doc_id % 9)::VARCHAR || '-01","author":{"name":"A'
                          || (doc_id % 7)::VARCHAR || '"}}</script>'
                        WHEN 1 THEN
                          '<script type="application/ld+json">{"@type":"Article","headline":"T'
                          || doc_id::VARCHAR || '","datePublished":"2024-0'
                          || (1 + doc_id % 9)::VARCHAR || '-01","author":{"name":"A'
                          || (doc_id % 7)::VARCHAR || '"}}</script>'
                          || '<script type="application/ld+json">{"@type":"Product","name":"P'
                          || doc_id::VARCHAR || '"}</script>'
                        ELSE '<script type="application/ld+json">{oops</script>'
                        END
                     || '</head><body>' || substr(COALESCE(text, ''), 1, 60)
                     || '</body></html>' AS html
              FROM documents WHERE doc_id < 400),
            ex AS (
              SELECT doc_id,
                     regexp_extract_all(html,
                       '(?s)<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>',
                       1) AS blocks
              FROM h),
            ub AS (
              SELECT doc_id, unnest(generate_series(1, len(blocks))) AS i,
                     blocks
              FROM ex),
            bl AS (
              SELECT doc_id, (i - 1)::INT AS ld_idx, blocks[i] AS block
              FROM ub),
            valid AS MATERIALIZED (
              -- MATERIALIZED: unlike Spark's null-returning
              -- get_json_object, DuckDB's extractor THROWS on
              -- malformed JSON, and an inlined CTE does not guarantee
              -- the json_valid gate evaluates first
              SELECT * FROM bl WHERE json_valid(block)),
            typed AS (
              SELECT doc_id, ld_idx,
                     json_extract_string(block, '$."@type"') AS ld_type,
                     COALESCE(json_extract_string(block, '$.headline'),
                              json_extract_string(block, '$.name')) AS title,
                     json_extract_string(block, '$.datePublished') AS published,
                     json_extract_string(block, '$.author.name') AS author
              FROM valid)
            SELECT * FROM typed WHERE ld_type IS NOT NULL""",
        # pagination: recursive walk from roots == pointer doubling;
        # the cycle never appears on either side
        "q_pagination": r"""
            WITH RECURSIVE d AS (
              SELECT doc_id // 4 AS c, doc_id % 4 AS j
              FROM documents WHERE doc_id < 400),
            p AS (SELECT c, j, 1 + (c % 4) AS L FROM d),
            links AS (
              SELECT 'https://s.org/art/' || c::VARCHAR || '/p' || j::VARCHAR
                       AS url,
                     'https://s.org/art/' || c::VARCHAR || '/p'
                       || (j + 1)::VARCHAR AS next_url
              FROM p WHERE j < L AND j + 1 < L
              UNION ALL
              SELECT * FROM (VALUES
                ('https://s.org/cyc/0', 'https://s.org/cyc/1'),
                ('https://s.org/cyc/1', 'https://s.org/cyc/2'),
                ('https://s.org/cyc/2', 'https://s.org/cyc/0')) v(u, n)),
            nodes AS (
              SELECT url AS node FROM links
              UNION
              SELECT next_url FROM links),
            walk AS (
              SELECT n.node AS url, n.node AS root, 0 AS pos
              FROM nodes n LEFT JOIN links i ON n.node = i.next_url
              WHERE i.next_url IS NULL
              UNION ALL
              SELECT l.next_url, w.root, w.pos + 1
              FROM walk w JOIN links l ON l.url = w.url)
            SELECT url, root, pos FROM walk""",
        # line spans: same prefix-sum window, DuckDB side
        "q_line_offsets": r"""
            WITH src AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '((\w+ ){4}\w+) ', '\1' || chr(10),
                                    'g') AS t
              FROM documents WHERE doc_id < 300),
            sp AS (
              SELECT doc_id, string_split(t, chr(10)) AS parts FROM src),
            l AS (
              SELECT doc_id, unnest(generate_series(1, len(parts))) AS i,
                     parts
              FROM sp),
            x AS (
              SELECT doc_id, (i - 1)::INT AS line_no, parts[i] AS line,
                     length(parts[i]) AS len
              FROM l),
            y AS (
              SELECT doc_id, line_no, line, len,
                     COALESCE(SUM(len + 1) OVER (
                       PARTITION BY doc_id ORDER BY line_no
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0)::BIGINT AS start
              FROM x)
            SELECT doc_id, line_no, start, (start + len)::BIGINT AS "end",
                   line
            FROM y""",
        # winnowing: identical struct-min window (h, -pos) → rightmost
        # minimal gram per w-window, deduped
        "q_winnow_fp": r"""
            WITH d AS (
              SELECT doc_id, coalesce(text, '') AS t
              FROM documents
              WHERE doc_id < 60 AND length(coalesce(text, '')) >= 5),
            g AS (
              SELECT doc_id, unnest(range(0, length(t) - 4)) AS pos, t
              FROM d),
            h AS (
              SELECT doc_id, pos::INT AS pos,
                     ('0x' || substr(md5(substr(t, pos::INT + 1, 5)), 1, 12))::BIGINT
                       AS h
              FROM g),
            m AS (
              SELECT doc_id, pos,
                     min({'h': h, 'np': -pos}) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
                     ) AS sel
              FROM h)
            SELECT DISTINCT doc_id, (-(sel.np))::INT AS pos,
                   sel.h AS gram_hash
            FROM m WHERE pos >= 3""",
        "q_winnow_pairs": r"""
            WITH base AS (
              SELECT doc_id, coalesce(text, '') AS t
              FROM documents WHERE doc_id < 200),
            twins AS (
              SELECT doc_id + 1000 AS doc_id, 'PREFIX NOISE. ' || t AS t
              FROM base WHERE doc_id < 40),
            d AS (
              SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM twins)
              WHERE length(t) >= 5),
            g AS (
              SELECT doc_id, unnest(range(0, length(t) - 4)) AS pos, t
              FROM d),
            h AS (
              SELECT doc_id, pos::INT AS pos,
                     ('0x' || substr(md5(substr(t, pos::INT + 1, 5)), 1, 12))::BIGINT
                       AS h
              FROM g),
            m AS (
              SELECT doc_id, pos,
                     min({'h': h, 'np': -pos}) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
                     ) AS sel
              FROM h),
            fp AS (
              SELECT DISTINCT doc_id, sel.h AS gram_hash
              FROM m WHERE pos >= 3)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(DISTINCT a.gram_hash) AS n_shared
            FROM fp a JOIN fp b
              ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(DISTINCT a.gram_hash) >= 5""",
        # domain-scoped boilerplate: (domain, line-md5) frequencies;
        # per-domain 'terms' counts stay under min_docs and survive
        "q_domain_boiler": r"""
            WITH src AS (
              SELECT doc_id,
                     'src' || (doc_id % 7)::VARCHAR || '.com' AS domain,
                     'https://www.src' || (doc_id % 7)::VARCHAR || '.com/p/'
                       || doc_id::VARCHAR AS url,
                     'NAV HOME | ABOUT | src' || (doc_id % 7)::VARCHAR
                       || '.com' || chr(10)
                       || CASE WHEN doc_id % 31 = 0
                               THEN 'Terms of service apply.' || chr(10)
                               ELSE '' END
                       || regexp_replace(coalesce(text, ''),
                                         '((\w+ ){4}\w+) ',
                                         '\1' || chr(10), 'g') AS t
              FROM documents WHERE doc_id < 300),
            sp AS (
              SELECT url, domain, string_split(t, chr(10)) AS parts
              FROM src),
            l AS (
              SELECT url, domain,
                     unnest(generate_series(1, len(parts))) AS i, parts
              FROM sp),
            x AS (
              SELECT url, domain, (i - 1)::INT AS line_no, parts[i] AS line,
                     md5(trim(parts[i])) AS k
              FROM l),
            fr AS (
              SELECT domain, k FROM x
              WHERE trim(line) <> ''
              GROUP BY domain, k HAVING COUNT(DISTINCT url) >= 3),
            fl AS (
              SELECT x.url, x.domain, x.line_no, x.line,
                     (fr.k IS NOT NULL) AS boiler
              FROM x LEFT JOIN fr
                ON x.domain = fr.domain AND x.k = fr.k)
            SELECT url, domain, COUNT(*) AS n_lines,
                   SUM(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT
                     AS n_removed,
                   COALESCE(string_agg(CASE WHEN NOT boiler THEN line END,
                                       chr(10) ORDER BY line_no),
                            '') AS kept_text
            FROM fl GROUP BY url, domain""",
        # unigram Viterbi certified against brute-force enumeration of
        # ALL segmentations (compositions with parts ≤ 4 of ≤10-char
        # words), same total tie order
        "q_unigram": r"""
            WITH RECURSIVE wa AS (
              SELECT w AS word
              FROM (SELECT unnest(string_split_regex(
                             lower(coalesce(text, '')), '[^a-z0-9]+')) AS w
                    FROM documents WHERE doc_id < 80)
              WHERE w <> '' AND length(w) <= 10),
            wf AS (SELECT word, COUNT(*) AS wf FROM wa GROUP BY word),
            pos AS (
              SELECT wf.word, wf.wf, s.start::INT AS start, k.k::INT AS k
              FROM wf, range(1, 11) s(start), range(1, 5) k(k)
              WHERE s.start <= length(wf.word)
                AND s.start + k.k - 1 <= length(wf.word)),
            pc AS (
              SELECT substr(word, start, k) AS piece, SUM(wf)::BIGINT AS cnt
              FROM pos GROUP BY piece),
            v0 AS (
              SELECT piece, cnt FROM pc
              WHERE length(piece) = 1 OR cnt >= 2),
            tot AS (SELECT SUM(cnt)::BIGINT AS t FROM v0),
            vocab AS (
              SELECT piece,
                     (length(printf('%b', cnt))
                      - length(printf('%b', (SELECT t FROM tot))))::INT AS s
              FROM v0),
            ww AS (SELECT DISTINCT word FROM wa),
            seg AS (
              SELECT word, 0 AS pos, 0 AS score, 0 AS np,
                     0::BIGINT AS mask, '' AS path
              FROM ww
              UNION ALL
              SELECT s.word, (s.pos + length(v.piece))::INT,
                     s.score + v.s, s.np + 1,
                     s.mask + (1::BIGINT << (s.pos + length(v.piece))::INT),
                     CASE WHEN s.path = '' THEN v.piece
                          ELSE s.path || ' ' || v.piece END
              FROM seg s JOIN vocab v
                ON length(v.piece) <= 4
               AND s.pos + length(v.piece) <= length(s.word)
               AND v.piece = substr(s.word, s.pos + 1, length(v.piece))),
            done AS (SELECT * FROM seg WHERE pos = length(word)),
            rk AS (
              SELECT word, path AS segmentation, score, np AS n_pieces,
                     row_number() OVER (
                       PARTITION BY word
                       ORDER BY score DESC, np ASC, mask DESC
                     ) AS r
              FROM done)
            SELECT word, segmentation, score, n_pieces FROM rk WHERE r = 1""",
        # drift report: full-outer diff + per-side integer score means
        "q_snapshot_drift": r"""
            WITH o AS (
              SELECT doc_id,
                     'example' || (doc_id % 11)::VARCHAR || '.com' AS domain,
                     'p/' || doc_id::VARCHAR AS key, md5(text) AS dg,
                     (doc_id * 7919) % 1000000 AS s
              FROM documents WHERE doc_id % 7 <> 0),
            n AS (
              SELECT doc_id,
                     'example' || (doc_id % 11)::VARCHAR || '.com' AS domain,
                     'p/' || doc_id::VARCHAR AS key,
                     md5(CASE WHEN doc_id % 3 = 0 THEN text || 'v2'
                              ELSE text END) AS dg,
                     (doc_id * 104729) % 1000000 AS s
              FROM documents WHERE doc_id % 5 <> 0),
            d AS (
              SELECT COALESCE(o.domain, n.domain) AS domain,
                     CASE WHEN o.key IS NULL THEN 'new'
                          WHEN n.key IS NULL THEN 'gone'
                          WHEN o.dg = n.dg THEN 'unchanged'
                          ELSE 'changed' END AS change
              FROM o FULL OUTER JOIN n ON o.key = n.key),
            c AS (
              SELECT domain,
                     COUNT(CASE WHEN change = 'new' THEN 1 END) AS n_new,
                     COUNT(CASE WHEN change = 'changed' THEN 1 END)
                       AS n_changed,
                     COUNT(CASE WHEN change = 'unchanged' THEN 1 END)
                       AS n_unchanged,
                     COUNT(CASE WHEN change = 'gone' THEN 1 END) AS n_gone
              FROM d GROUP BY domain),
            om AS (
              SELECT domain, (SUM(s) // COUNT(*))::BIGINT AS old_score_ppm
              FROM o GROUP BY domain),
            nm AS (
              SELECT domain, (SUM(s) // COUNT(*))::BIGINT AS new_score_ppm
              FROM n GROUP BY domain)
            SELECT c.domain, c.n_new, c.n_changed, c.n_unchanged, c.n_gone,
                   om.old_score_ppm, nm.new_score_ppm,
                   nm.new_score_ppm - om.old_score_ppm AS score_delta_ppm
            FROM c LEFT JOIN om ON c.domain = om.domain
                   LEFT JOIN nm ON c.domain = nm.domain""",
        # recrawl verdicts: try_cast lastmod, exact epoch staleness
        "q_sitemap_recrawl": r"""
            WITH e AS (
              SELECT 'https://s' || (doc_id % 7)::VARCHAR || '.com/p/'
                       || doc_id::VARCHAR AS url,
                     try_cast(
                       CASE
                         WHEN doc_id % 11 = 0 THEN ''
                         WHEN doc_id % 11 = 1 THEN 'soon'
                         WHEN doc_id % 2 = 0
                           THEN '2024-01-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
                         ELSE '2024-01-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
                              || ' 06:00:00'
                       END AS TIMESTAMP) AS lastmod_ts,
                     doc_id
              FROM documents),
            c AS (
              SELECT 'https://s' || (doc_id % 7)::VARCHAR || '.com/p/'
                       || doc_id::VARCHAR AS url,
                     TIMESTAMP '2024-01-15 00:00:00'
                       + (doc_id % 13) * INTERVAL 1 HOUR AS last_fetch_ts
              FROM documents WHERE doc_id % 3 <> 0),
            j AS (
              SELECT e.url, e.lastmod_ts, c.last_fetch_ts,
                     CASE WHEN c.last_fetch_ts IS NULL THEN 'never_fetched'
                          WHEN e.lastmod_ts IS NULL THEN 'no_lastmod'
                          WHEN e.lastmod_ts > c.last_fetch_ts
                            THEN 'modified_since_fetch'
                          ELSE 'fresh' END AS reason
              FROM e LEFT JOIN c ON e.url = c.url)
            SELECT url, lastmod_ts, last_fetch_ts, reason,
                   reason IN ('never_fetched', 'modified_since_fetch') AS due,
                   CASE WHEN lastmod_ts IS NOT NULL
                             AND last_fetch_ts IS NOT NULL
                        THEN epoch(lastmod_ts)::BIGINT
                             - epoch(last_fetch_ts)::BIGINT
                   END AS staleness_secs
            FROM j""",
        # politeness audit: same lag window + delay dim with default
        "q_politeness": r"""
            WITH f AS (
              SELECT doc_id,
                     'h' || (doc_id % 5)::VARCHAR || '.example.com' AS host,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + ((doc_id // 5) * 3
                          + CASE WHEN doc_id % 10 = 7 THEN -2 ELSE 0 END)
                         * INTERVAL 1 SECOND AS fetch_ts
              FROM documents),
            d(host, required_secs) AS (VALUES
              ('h0.example.com', 0), ('h1.example.com', 1),
              ('h2.example.com', 2), ('h4.example.com', 4)),
            w AS (
              SELECT f.*, lag(fetch_ts) OVER (
                       PARTITION BY host ORDER BY fetch_ts) AS prev_ts
              FROM f)
            SELECT w.doc_id, w.host, w.fetch_ts, w.prev_ts,
                   COALESCE(d.required_secs, 1)::BIGINT AS required_secs,
                   CASE WHEN prev_ts IS NOT NULL
                        THEN epoch(fetch_ts)::BIGINT - epoch(prev_ts)::BIGINT
                   END AS gap_secs,
                   COALESCE((epoch(fetch_ts) - epoch(prev_ts))
                            < COALESCE(d.required_secs, 1), FALSE)
                     AS violation
            FROM w LEFT JOIN d ON w.host = d.host""",
        # script-ratio + meta-refresh flags, same regex chains
        "q_page_flags": r"""
            WITH h AS (
              SELECT doc_id,
                     '<html><head>'
                     || CASE doc_id % 4
                        WHEN 1 THEN
                          '<script type="text/javascript">var x='
                          || doc_id::VARCHAR || ';</script>'
                        WHEN 2 THEN
                          '<script type="text/javascript">var x='
                          || doc_id::VARCHAR || ';</script>'
                          || '<script>load(' || doc_id::VARCHAR
                          || ')</script>'
                        WHEN 3 THEN
                          '<script type="text/javascript">var x='
                          || doc_id::VARCHAR || ';</script>'
                          || '<meta http-equiv="refresh" content="0; url=https://m.ex.com/'
                          || doc_id::VARCHAR || '">'
                        ELSE '' END
                     || '</head><body>' || substr(coalesce(text, ''), 1, 100)
                     || '</body></html>' AS html
              FROM documents),
            x AS (
              SELECT doc_id, html,
                     regexp_extract_all(html,
                       '(?s)(<script[^>]*>.*?</script>)', 1) AS sc
              FROM h)
            SELECT doc_id,
                   floor(COALESCE(list_sum(list_transform(sc,
                                                          s -> length(s))), 0)
                         / greatest(length(html), 1) * 10000.0)
                     / 10000.0 AS script_ratio,
                   nullif(trim(regexp_extract(
                     regexp_extract(html,
                       '(?is)<meta[^>]*http-equiv\s*=\s*["'']?refresh["'']?[^>]*content\s*=\s*["'']([^"'']*)["'']',
                       1),
                     '(?i)url\s*=\s*(.+)$', 1)), '') AS refresh_target
            FROM x""",
        # wildcard robots: hand-translated anchored regexes (the
        # translation itself is unit-tested on metacharacters); same
        # specificity window
        "q_robots_wildcards": r"""
            WITH u AS (
              SELECT doc_id,
                     'https://w' || (doc_id % 5)::VARCHAR || '.example.com'
                       || ['/x.pdf','/pub/z.pdf','/a/1/sec','/a/open/sec',
                           '/q','/q2','/meta(x)+[y]z']
                          [((doc_id // 5) % 7)::INT + 1]
                       || '?id=' || doc_id::VARCHAR AS url,
                     'w' || (doc_id % 5)::VARCHAR || '.example.com' AS host,
                     ['/x.pdf','/pub/z.pdf','/a/1/sec','/a/open/sec',
                      '/q','/q2','/meta(x)+[y]z']
                       [((doc_id // 5) % 7)::INT + 1]
                       || '?id=' || doc_id::VARCHAR AS path
              FROM documents),
            r(rhost, rule, rpath, rlen, pat) AS (VALUES
              ('w0.example.com', 'disallow', '/*.pdf$', 7, '^/.*\.pdf$'),
              ('w0.example.com', 'allow', '/pub/*.pdf$', 11,
               '^/pub/.*\.pdf$'),
              ('w1.example.com', 'disallow', '/a/*/sec', 8, '^/a/.*/sec'),
              ('w1.example.com', 'allow', '/a/open/sec', 11, '^/a/open/sec'),
              ('w2.example.com', 'disallow', '/q$', 3, '^/q$'),
              ('w3.example.com', 'disallow', '/meta(x)+[y]', 12,
               '^/meta\(x\)\+\[y\]'),
              ('w3.example.com', 'allow', '/', 1, '^/')),
            j AS (
              SELECT u.doc_id, u.url, u.host, u.path, r.rule, r.rpath, r.rlen
              FROM u LEFT JOIN r
                ON u.host = r.rhost AND regexp_matches(u.path, r.pat)),
            rk AS (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY rlen DESC NULLS LAST, rule ASC NULLS LAST
                     ) AS rn
              FROM j)
            SELECT doc_id, url, host, path, rule AS matched_rule,
                   rpath AS matched_path,
                   COALESCE(rule, 'allow') = 'allow' AS allowed
            FROM rk WHERE rn = 1""",
        "q_latest_revision": r"""
            WITH u AS (
              SELECT doc_id,
                     'https://WWW.example.COM/p/' || (doc_id % 97)::VARCHAR
                       || '?utm_source=feed&x=Y#top' AS url,
                     TIMESTAMP '2024-01-01'
                       + (doc_id % 11) * INTERVAL 1 DAY AS warc_ts
              FROM documents),
            c AS (
              SELECT doc_id, warc_ts,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
                                   || regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(.*)$', 1),
                                 '^([a-z]+://)www\.', '\1'),
                               '#.*$', ''),
                             '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                           '\?&+', '?'),
                         '&&+', '&', 'g'),
                       '[?&]+$', '') AS canon_url
              FROM u),
            r AS (
              SELECT doc_id, canon_url, warc_ts,
                     row_number() OVER (
                       PARTITION BY canon_url ORDER BY warc_ts DESC, doc_id
                     )::INT AS revision_rank
              FROM c)
            SELECT doc_id, canon_url, warc_ts, revision_rank,
                   (revision_rank = 1) AS is_latest
            FROM r""",
        # C4-style bad-word gate: engine-wide word_array tokenization
        # (case-folded whitespace split), broadcast word dim, any-hit flag
        "q_badwords": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\s+')) AS t
              FROM documents),
            nz AS (SELECT doc_id, t FROM toks WHERE t <> ''),
            nw AS (SELECT doc_id, count(*) AS n_words FROM nz GROUP BY 1),
            bw(word) AS (VALUES ('slow'), ('hash'), ('vector'), ('nonexistentword')),
            hits AS (
              SELECT doc_id, count(*) AS n_bad FROM nz JOIN bw ON nz.t = bw.word
              GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(hits.n_bad, 0)::BIGINT AS n_bad_words,
                   coalesce(nw.n_words, 0)::INT AS n_words,
                   round(CASE WHEN coalesce(nw.n_words, 0) > 0
                              THEN coalesce(hits.n_bad, 0) / nw.n_words
                              ELSE 0.0 END, 6) AS bad_word_frac,
                   (coalesce(hits.n_bad, 0) > 0) AS is_flagged
            FROM documents d
            LEFT JOIN nw USING (doc_id) LEFT JOIN hits USING (doc_id)""",
        # robots-directive extraction over deterministic synthesized
        # HTML; same regexps (RE2/Java common subset) on both engines
        "q_robots_sitemaps": rf"""
WITH hosts AS (
  SELECT DISTINCT (doc_id % 7) AS hid FROM documents
), bodies AS (
  SELECT hid, 'h' || hid::VARCHAR || '.example.com' AS host,
         replace(CASE hid
           {robots_body_cases}
           ELSE '' END, '|', chr(10))
           || chr(10) || 'Sitemap: https://h' || hid::VARCHAR
           || '.example.com/sitemap.xml'
           || CASE WHEN hid % 2 = 0
                   THEN chr(10) || 'SITEMAP:   https://cdn.example.com/'
                        || hid::VARCHAR || '/map.xml.gz'
                   ELSE '' END
           || CASE WHEN hid = 3
                   THEN chr(10) || 'Sitemap: relative/path.xml'
                   ELSE '' END AS body
  FROM hosts
), rsplit AS (
  SELECT host, string_split(body, chr(10)) AS l FROM bodies
), rlines AS (
  SELECT host, unnest(generate_series(1, len(l))) AS pos, l FROM rsplit
), x AS (
  SELECT host, (pos - 1)::INT AS pos,
         trim(regexp_replace(l[pos], '#.*$', '')) AS line
  FROM rlines
), s AS (
  SELECT host, pos,
         trim(regexp_extract(line, '(?i)^sitemap\s*:(.*)$', 1))
           AS sitemap_url
  FROM x)
SELECT host, pos, sitemap_url FROM s
WHERE regexp_matches(sitemap_url, '^[a-zA-Z][a-zA-Z0-9+.-]*://')""",
        "q_robots_rules": robots_cte
        + """
SELECT host, rule, path, path_len FROM rrules""",
        "q_robots_check": robots_cte
        + ",\n"
        + frontier_urls_cte.lstrip()
        + r""",
keyed AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                        '^www\.', '') AS host,
         CASE WHEN regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^#]*)', 1) = '' THEN '/'
              ELSE regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^#]*)', 1) END AS path
  FROM urls
), matched AS (
  SELECT k.doc_id, k.url, k.host, k.path, r.rule, r.path AS rpath,
         row_number() OVER (PARTITION BY k.doc_id
                            ORDER BY r.path_len DESC NULLS LAST, r.rule ASC NULLS LAST)
           AS rn
  FROM keyed k LEFT JOIN rrules r
    ON k.host = r.host AND starts_with(k.path, r.path)
)
SELECT doc_id, url, host, path, rule AS matched_rule, rpath AS matched_path,
       (coalesce(rule, 'allow') = 'allow') AS allowed
FROM matched WHERE rn = 1""",
        "q_crawl_frontier": robots_cte
        + r""",
delays AS (
  SELECT g.host, max(TRY_CAST(g.value AS DOUBLE)) AS crawl_delay
  FROM rgrp g JOIN rapplies a USING (host, group_id)
  WHERE g.directive = 'crawl-delay' AND TRY_CAST(g.value AS DOUBLE) IS NOT NULL
  GROUP BY g.host
),
"""
        + frontier_urls_cte.lstrip()
        + rf""",
keyed AS (
  SELECT doc_id, url, (doc_id % 13)::INT AS priority,
         regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                        '^www\.', '') AS host,
         {url_canon_chain} AS canon
  FROM urls
), seq AS (
  SELECT doc_id, url, priority, host,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, canon ASC)
           AS fetch_seq
  FROM keyed
)
SELECT s.doc_id, s.url, s.priority, s.host, s.fetch_seq,
       coalesce(d.crawl_delay, 1.0) AS crawl_delay,
       (s.fetch_seq - 1) * coalesce(d.crawl_delay, 1.0) AS scheduled_offset_secs
FROM seq s LEFT JOIN delays d USING (host)""",
        # the crawl_plan composition: robots rules/delays + sitemap
        # freshness due-set + candidate∪due robots verdicts + frontier
        "q_crawl_plan": robots_cte
        + r""",
delays AS (
  SELECT g.host, max(TRY_CAST(g.value AS DOUBLE)) AS crawl_delay
  FROM rgrp g JOIN rapplies a USING (host, group_id)
  WHERE g.directive = 'crawl-delay' AND TRY_CAST(g.value AS DOUBLE) IS NOT NULL
  GROUP BY g.host
),
"""
        + frontier_urls_cte.lstrip()
        + rf""",
cand AS (
  SELECT url, (doc_id % 13)::INT AS priority FROM urls
  UNION ALL
  SELECT 'https://h' || (doc_id % 7)::VARCHAR || '.example.com/p/' || doc_id::VARCHAR,
         (doc_id % 13)::INT FROM documents WHERE doc_id % 5 = 0
),
sm_e AS (
  SELECT 'https://h' || (doc_id % 7)::VARCHAR || '.example.com/p/'
           || doc_id::VARCHAR AS url,
         try_cast(CASE
             WHEN doc_id % 11 = 0 THEN ''
             WHEN doc_id % 11 = 1 THEN 'soon'
             WHEN doc_id % 2 = 0
               THEN '2024-01-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
             ELSE '2024-01-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
                  || ' 06:00:00'
           END AS TIMESTAMP) AS lastmod_ts
  FROM documents),
sm_c AS (
  SELECT 'https://h' || (doc_id % 7)::VARCHAR || '.example.com/p/'
           || doc_id::VARCHAR AS url,
         TIMESTAMP '2024-01-15 00:00:00'
           + (doc_id % 13) * INTERVAL 1 HOUR AS last_fetch_ts
  FROM documents WHERE doc_id % 3 <> 0),
due AS (
  SELECT e.url, NULL::INT AS priority
  FROM sm_e e LEFT JOIN sm_c c ON e.url = c.url
  WHERE c.last_fetch_ts IS NULL
     OR (e.lastmod_ts IS NOT NULL AND e.lastmod_ts > c.last_fetch_ts)
),
allu AS (SELECT * FROM cand UNION ALL
         SELECT * FROM due WHERE url NOT IN (SELECT url FROM cand)),
keyed AS (
  SELECT url, priority,
         regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                        '^www\.', '') AS host,
         CASE WHEN regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^#]*)', 1) = '' THEN '/'
              ELSE regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(/[^#]*)', 1) END AS path
  FROM allu
), matched AS (
  SELECT k.url, k.priority, k.host, k.path, r.rule,
         row_number() OVER (PARTITION BY k.url
                            ORDER BY r.path_len DESC NULLS LAST, r.rule ASC NULLS LAST)
           AS rn
  FROM keyed k LEFT JOIN rrules r
    ON k.host = r.host AND starts_with(k.path, r.path)
), verd AS (
  SELECT url, priority, host FROM matched
  WHERE rn = 1 AND coalesce(rule, 'allow') = 'allow'
), seq AS (
  SELECT url, priority, host,
         row_number() OVER (PARTITION BY host
                            ORDER BY priority DESC NULLS LAST,
                                     {url_canon_chain} ASC)
           AS fetch_seq
  FROM verd
)
SELECT s.url, s.priority, s.host, s.fetch_seq,
       coalesce(d.crawl_delay, 1.0) AS crawl_delay,
       (s.fetch_seq - 1) * coalesce(d.crawl_delay, 1.0) AS scheduled_offset_secs
FROM seq s LEFT JOIN delays d USING (host)""",
        # sitemap fixtures: same 4 bodies as _SITEMAP_BODIES; element
        # capture + per-element field extraction mirror functions/robots.py
        "q_sitemap_urls": "WITH hosts AS (\n"
        "  SELECT DISTINCT (doc_id % 4) AS hid FROM documents\n"
        "), bodies AS (\n"
        "  SELECT 'h' || hid::VARCHAR || '.example.com' AS host,\n"
        "         replace(CASE hid\n           "
        + "\n           ".join(
            f"WHEN {i} THEN '{b}'" for i, b in enumerate(_SITEMAP_BODIES[:-1])
        )
        + r"""
           ELSE '' END, '|', chr(10)) AS body
  FROM hosts
), lists AS (
  SELECT host,
         regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1) AS lu,
         regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1) AS lm
  FROM bodies
), numbered AS (
  SELECT host, 'url' AS kind, lu[i] AS raw, i - 1 AS pos
  FROM lists, unnest(generate_series(1, len(lu))) AS t(i)
  UNION ALL
  SELECT host, 'sitemap' AS kind, lm[i] AS raw, len(lu) + i - 1 AS pos
  FROM lists, unnest(generate_series(1, len(lm))) AS t(i)
)
SELECT host, pos, kind,
       trim(regexp_extract(raw, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
       nullif(trim(regexp_extract(raw, '(?s)<lastmod>(.*?)</lastmod>', 1)), '') AS lastmod,
       TRY_CAST(nullif(trim(regexp_extract(raw, '(?s)<priority>(.*?)</priority>', 1)), '')
                AS DOUBLE) AS priority
FROM numbered
WHERE trim(regexp_extract(raw, '(?s)<loc>(.*?)</loc>', 1)) <> ''""",
        # RSS/Atom discovery: same bodies, item/entry block lists with
        # preserved positions, link-text vs href-attribute per dialect,
        # pubDate→updated fallback, linkless blocks filtered
        "q_feed_entries": "WITH hosts AS (\n"
        "  SELECT DISTINCT (doc_id % 4) AS hid FROM documents\n"
        "), bodies AS (\n"
        "  SELECT 'h' || hid::VARCHAR || '.example.com' AS host,\n"
        "         CASE hid\n           "
        + "\n           ".join(
            f"WHEN {i} THEN '{b}'" for i, b in enumerate(_FEED_BODIES[:-1])
        )
        + r"""
           ELSE '' END AS body
  FROM hosts
), lists AS (
  SELECT host,
         regexp_extract_all(body, '(?s)<item>(.*?)</item>', 1) AS li,
         regexp_extract_all(body, '(?s)<entry>(.*?)</entry>', 1) AS le
  FROM bodies
), numbered AS (
  SELECT host, 'rss' AS kind, li[i] AS raw, i - 1 AS pos
  FROM lists, unnest(generate_series(1, len(li))) AS t(i)
  UNION ALL
  SELECT host, 'atom' AS kind, le[i] AS raw, len(li) + i - 1 AS pos
  FROM lists, unnest(generate_series(1, len(le))) AS t(i)
), fields AS (
  SELECT host, pos, kind,
         CASE WHEN kind = 'rss'
              THEN trim(regexp_extract(raw, '(?s)<link>(.*?)</link>', 1))
              ELSE regexp_extract(raw, '(?s)<link\s+[^>]*href\s*=\s*"([^"]*)"', 1)
         END AS link,
         nullif(trim(regexp_extract(raw, '(?s)<title>(.*?)</title>', 1)), '')
           AS title,
         nullif(trim(coalesce(
           nullif(regexp_extract(raw, '(?s)<pubDate>(.*?)</pubDate>', 1), ''),
           regexp_extract(raw, '(?s)<updated>(.*?)</updated>', 1))), '')
           AS published
  FROM numbered)
SELECT host, pos, kind, link, title, published
FROM fields WHERE link <> ''""",
        # SURT: lowercase host minus www/default-port, labels reversed
        # comma-joined, ')' + path+query (fragmentless), '/' if empty
        "q_surt_keys": frontier_urls_cte.lstrip().replace("urls AS (", "WITH urls AS (", 1)
        + r"""
SELECT doc_id, url,
       array_to_string(
         list_reverse(string_split(
           regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]*)', 1)),
                          '(^www\.|:(80|443)$)', ''), '.')), ',')
       || ')' ||
       (CASE WHEN regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^#]*)', 1) = ''
             THEN '/'
             ELSE regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^#]*)', 1) END) AS surt
FROM urls""",
        # CDXJ synthesis mirrored, then urlkey/ts split + JSON extraction
        "q_cdx_parse": r"""
WITH lines AS (
  SELECT 'com,example,h' || ((doc_id // 3) % 11)::VARCHAR || ')/p/' || (doc_id // 3)::VARCHAR
      || ' ' || printf('2024%02d%02d120000', (doc_id % 12) + 1, (doc_id % 28) + 1)
      || ' {"url": "https://h' || ((doc_id // 3) % 11)::VARCHAR || '.example.com/p/'
      || (doc_id // 3)::VARCHAR
      || '", "status": "' || (CASE WHEN doc_id % 5 = 0 THEN '404' ELSE '200' END)
      || '", "mime": "' || (CASE WHEN doc_id % 7 = 0 THEN 'application/pdf' ELSE 'text/html' END)
      || '", "digest": "sha1:D' || (doc_id // 3)::VARCHAR
      || '", "length": "' || ((doc_id % 997) + 100)::VARCHAR
      || '", "offset": "' || (doc_id * 1000)::VARCHAR
      || '", "filename": "crawl-' || (doc_id % 4)::VARCHAR || '.warc.gz"}' AS cdx_line
  FROM documents
), parsed AS (
  SELECT regexp_extract(cdx_line, '^(\S+)', 1) AS urlkey,
         regexp_extract(cdx_line, '^\S+\s+(\d{14})', 1) AS ts,
         nullif(regexp_extract(cdx_line, '^\S+\s+\d{14}\s+(\{.*\})\s*$', 1), '') AS j
  FROM lines
)
SELECT urlkey, ts,
       json_extract_string(j, '$.url') AS url,
       TRY_CAST(json_extract_string(j, '$.status') AS INT) AS status,
       json_extract_string(j, '$.mime') AS mime,
       json_extract_string(j, '$.digest') AS digest,
       TRY_CAST(json_extract_string(j, '$.length') AS BIGINT) AS warc_length,
       TRY_CAST(json_extract_string(j, '$.offset') AS BIGINT) AS warc_offset,
       json_extract_string(j, '$.filename') AS filename
FROM parsed""",
        "q_cdx_latest": r"""
WITH lines AS (
  SELECT 'com,example,h' || ((doc_id // 3) % 11)::VARCHAR || ')/p/' || (doc_id // 3)::VARCHAR
      || ' ' || printf('2024%02d%02d120000', (doc_id % 12) + 1, (doc_id % 28) + 1)
      || ' {"url": "https://h' || ((doc_id // 3) % 11)::VARCHAR || '.example.com/p/'
      || (doc_id // 3)::VARCHAR
      || '", "status": "' || (CASE WHEN doc_id % 5 = 0 THEN '404' ELSE '200' END)
      || '", "mime": "' || (CASE WHEN doc_id % 7 = 0 THEN 'application/pdf' ELSE 'text/html' END)
      || '", "digest": "sha1:D' || (doc_id // 3)::VARCHAR
      || '", "length": "' || ((doc_id % 997) + 100)::VARCHAR
      || '", "offset": "' || (doc_id * 1000)::VARCHAR
      || '", "filename": "crawl-' || (doc_id % 4)::VARCHAR || '.warc.gz"}' AS cdx_line
  FROM documents
), parsed AS (
  SELECT regexp_extract(cdx_line, '^(\S+)', 1) AS urlkey,
         regexp_extract(cdx_line, '^\S+\s+(\d{14})', 1) AS ts,
         nullif(regexp_extract(cdx_line, '^\S+\s+\d{14}\s+(\{.*\})\s*$', 1), '') AS j
  FROM lines
), typed AS (
  SELECT urlkey, ts,
         json_extract_string(j, '$.url') AS url,
         TRY_CAST(json_extract_string(j, '$.status') AS INT) AS status,
         json_extract_string(j, '$.mime') AS mime,
         json_extract_string(j, '$.digest') AS digest,
         TRY_CAST(json_extract_string(j, '$.length') AS BIGINT) AS warc_length,
         TRY_CAST(json_extract_string(j, '$.offset') AS BIGINT) AS warc_offset,
         json_extract_string(j, '$.filename') AS filename
  FROM parsed
)
SELECT urlkey, ts, url, status, mime, digest, warc_length, warc_offset, filename
FROM typed
WHERE status = 200 AND starts_with(mime, 'text/html')
QUALIFY row_number() OVER (PARTITION BY urlkey
                           ORDER BY ts DESC, filename DESC, warc_offset DESC) = 1""",
        "q_meta_robots": r"""
            WITH v AS (
              SELECT doc_id,
                     CASE (doc_id % 5)
                       WHEN 1 THEN '<meta name="robots" content="noindex">'
                       WHEN 2 THEN '<meta content="nofollow" name="robots">'
                       WHEN 3 THEN '<meta name="robots" content="NOINDEX, NOFOLLOW">'
                       WHEN 4 THEN '<meta name="robots" content="none">'
                       ELSE '' END AS meta
              FROM documents),
            h AS (
              SELECT doc_id,
                     '<html><head>' || meta || '</head><body><p>x</p></body></html>' AS html
              FROM v),
            c AS (
              SELECT doc_id,
                     CASE WHEN regexp_extract(html,
                            '(?i)<meta[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"([^"]*)"', 1) <> ''
                          THEN regexp_extract(html,
                            '(?i)<meta[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"([^"]*)"', 1)
                          ELSE regexp_extract(html,
                            '(?i)<meta[^>]*content\s*=\s*"([^"]*)"[^>]*name\s*=\s*"robots"', 1)
                     END AS robots_content
              FROM h),
            f AS (
              SELECT doc_id, robots_content,
                     (regexp_matches(robots_content, '(?i)(^|[,\s])noindex([,\s]|$)')
                      OR regexp_matches(robots_content, '(?i)(^|[,\s])none([,\s]|$)'))
                       AS robots_noindex,
                     (regexp_matches(robots_content, '(?i)(^|[,\s])nofollow([,\s]|$)')
                      OR regexp_matches(robots_content, '(?i)(^|[,\s])none([,\s]|$)'))
                       AS robots_nofollow
              FROM c)
            SELECT doc_id, robots_content, robots_noindex, robots_nofollow,
                   (NOT robots_noindex) AS robots_indexable
            FROM f""",
        "q_domain_stats": r"""
            WITH u AS (
              SELECT doc_id, text, source,
                     'https://WWW.cdn.' || source || '.COM/A/' || doc_id::VARCHAR
                       || '/page?utm_source=feed&id=' || doc_id::VARCHAR
                       || '&ref=rss&x=Y#sec' AS url
              FROM documents),
            c AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]*)', 1))
                                   || regexp_extract(url, '^[a-zA-Z]+://[^/?#]*(.*)$', 1),
                                 '^([a-z]+://)www\.', '\1'),
                               '#.*$', ''),
                             '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
                           '\?&+', '?'),
                         '&&+', '&', 'g'),
                       '[?&]+$', '') AS canon_url,
                     regexp_extract(
                       regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#:]*)', 1)),
                                      '^www\.', ''),
                       '([^.]+\.[^.]+)$', 1) AS domain,
                     length(coalesce(text, '')) AS text_len
              FROM u)
            SELECT domain,
                   count(*) AS n_pages,
                   count(DISTINCT canon_url) AS n_canon_urls,
                   sum(text_len)::BIGINT AS text_chars
            FROM c
            GROUP BY domain""",
        "q_chunk_dedup": f"""
            WITH w AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
            pos AS (
              SELECT doc_id, w,
                     unnest(generate_series(0, ceil(len(w) / 2.0)::INT - 1)) AS pos
              FROM w),
            ch AS (SELECT doc_id, pos, array_to_string(w[2*pos+1:2*pos+2], ' ') AS chunk FROM pos),
            owners AS (SELECT chunk, min(doc_id) AS owner FROM ch GROUP BY chunk)
            SELECT ch.doc_id,
                   count(*) AS n_chunks,
                   count(CASE WHEN owner != ch.doc_id THEN 1 END) AS n_removed,
                   md5(coalesce(string_agg(CASE WHEN owner = ch.doc_id THEN chunk END, ' ' ORDER BY pos), '')) AS kept_md5
            FROM ch JOIN owners USING (chunk)
            GROUP BY ch.doc_id""",
        "q_c4_filter": f"""
            WITH w AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
            pos AS (
              SELECT doc_id, w,
                     unnest(generate_series(0, ceil(len(w) / 6.0)::INT - 1)) AS line_no
              FROM w),
            bodies AS (
              SELECT doc_id, line_no,
                     array_to_string(w[6*line_no+1:6*line_no+6], ' ') AS body
              FROM pos),
            lines AS (
              SELECT doc_id, line_no, body || CASE
                       WHEN substring(md5(body), 32, 1) <= '6' THEN '.'
                       WHEN substring(md5(body), 32, 1) <= '9' THEN '?'
                       WHEN substring(md5(body), 32, 1) <= 'b' THEN '!'
                       ELSE '' END AS line
              FROM bodies),
            flags AS (
              SELECT doc_id, line_no, line,
                     regexp_matches(line, '[.!?"”。！？]$')
                       AND len(list_filter(string_split(trim(line), ' '), x -> x <> '')) >= 5
                       AND NOT contains(lower(line), 'slow') AS kept,
                     contains(lower(line), 'lorem ipsum') OR contains(line, '{{') AS banned
              FROM lines)
            SELECT doc_id, count(*) AS n_lines,
                   count(CASE WHEN kept THEN 1 END) AS n_kept,
                   count(CASE WHEN kept THEN 1 END) >= 3 AND NOT bool_or(banned) AS keep_doc,
                   md5(coalesce(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY line_no), '')) AS kept_md5
            FROM flags GROUP BY doc_id""",
        "q_block_classify": f"""
            WITH w AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
            pos AS (
              SELECT doc_id, w,
                     unnest(generate_series(0, ceil(len(w) / 6.0)::INT - 1)) AS block_no
              FROM w),
            ch AS (
              SELECT doc_id, block_no,
                     array_to_string(w[6*block_no+1:6*block_no+6], ' ') AS text
              FROM pos),
            feats AS (
              SELECT doc_id, block_no,
                     CASE WHEN substring(md5(text), 30, 1) <= '1' THEN 'h2' ELSE 'p' END AS tag,
                     length(text) AS n_chars,
                     len(string_split(text, ' ')) AS n_words,
                     floor(length(text) * CASE
                       WHEN substring(md5(text), 31, 1) <= '3' THEN 0.0
                       WHEN substring(md5(text), 31, 1) <= '7' THEN 0.25
                       WHEN substring(md5(text), 31, 1) <= 'b' THEN 0.5
                       ELSE 0.875 END)::INT AS n_link_chars
              FROM ch),
            base AS (
              SELECT *, CASE
                       WHEN n_chars = 0 THEN 'bad'
                       WHEN n_link_chars::DOUBLE / greatest(n_chars, 1) > 0.33 THEN 'bad'
                       WHEN tag IN ('h1','h2','h3','h4','h5','h6') THEN 'heading'
                       WHEN n_words >= 5 THEN 'good'
                       ELSE 'short' END AS base_label
              FROM feats),
            sm AS (
              SELECT *,
                     lag(base_label) OVER (PARTITION BY doc_id ORDER BY block_no) AS prev_l,
                     lead(base_label) OVER (PARTITION BY doc_id ORDER BY block_no) AS next_l
              FROM base)
            SELECT doc_id, block_no, tag, n_chars, n_words, n_link_chars, base_label,
                   CASE WHEN base_label = 'short' THEN
                          CASE WHEN prev_l = 'good' OR next_l = 'good' THEN 'good' ELSE 'bad' END
                        WHEN base_label = 'heading' THEN
                          CASE WHEN next_l = 'good' THEN 'good' ELSE 'bad' END
                        ELSE base_label END AS label,
                   (CASE WHEN base_label = 'short' THEN
                          CASE WHEN prev_l = 'good' OR next_l = 'good' THEN 'good' ELSE 'bad' END
                        WHEN base_label = 'heading' THEN
                          CASE WHEN next_l = 'good' THEN 'good' ELSE 'bad' END
                        ELSE base_label END) = 'good' AS is_content
            FROM sm""",
        # LSH tuning harness: both sides recomputed (banded pipeline +
        # exact all-pairs), same ppm metrics
        "q_lsh_eval": f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 2000, regexp_replace(coalesce(text, ''),
                                                   '^\\w+ ', '')
              FROM documents WHERE doc_id < 60),
            words AS (
              SELECT doc_id, string_split({norm}, ' ') AS w FROM d),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                              FOR i IN generate_series(1, greatest(len(w)-2, 1))]))
                       AS shingle
              FROM words),
            sigs AS ({mh_sigs("sh")}),
            banded AS (
              SELECT doc_id, band_idx, {band_key} AS band_key
              FROM sigs CROSS JOIN (VALUES {band_vals}) b(band_idx)),
            pairs AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM banded l JOIN banded r
                ON l.band_idx = r.band_idx AND l.band_key = r.band_key
               AND l.doc_id < r.doc_id),
            sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
            ver AS (
              SELECT doc_a, doc_b
              FROM pairs JOIN sets x ON doc_a = x.doc_id
                         JOIN sets y ON doc_b = y.doc_id
              WHERE {jacc} >= 0.5),
            truth AS (
              SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM sets x JOIN sets y
                ON x.doc_id < y.doc_id
               AND len(list_intersect(x.s, y.s)) > 0
              WHERE {jacc} >= 0.5),
            c AS (
              SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
                     (SELECT count(*) FROM pairs)::BIGINT AS n_candidates,
                     (SELECT count(*) FROM ver)::BIGINT AS n_verified)
            SELECT n_truth, n_candidates, n_verified,
                   (n_truth - n_verified)::BIGINT AS n_missed,
                   (n_verified * 1000000 // greatest(n_truth, 1))::BIGINT
                     AS recall_ppm,
                   (n_verified * 1000000 // greatest(n_candidates, 1))::BIGINT
                     AS cand_precision_ppm
            FROM c""",
        "q_minhash_lsh_dedup": f"""
            {shingle_cte},
            sigs AS ({mh_sigs("sh")}),
            banded AS (
              SELECT doc_id, band_idx, {band_key} AS band_key
              FROM sigs CROSS JOIN (VALUES {band_vals}) b(band_idx)),
            pairs AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM banded l JOIN banded r
                ON l.band_idx = r.band_idx AND l.band_key = r.band_key
               AND l.doc_id < r.doc_id),
            sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id)
            SELECT doc_a, doc_b, round({jacc}, 6) AS jaccard,
                   {jacc} >= 0.5 AS is_near_dup
            FROM pairs JOIN sets x ON doc_a = x.doc_id JOIN sets y ON doc_b = y.doc_id""",
        # the whole curation composition: gate → exact dedup (clean docs
        # only) → LSH pairs (survivors only) → recursive-CTE components
        "q_curation_verdicts": f"""
            {shingle_cte.replace("WITH words", "WITH RECURSIVE words", 1)},
            bg AS (
              SELECT doc_id, w,
                     list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                                    i -> concat_ws(' ', w[i], w[i + 1])) AS bg
              FROM words),
            rep AS (
              SELECT doc_id,
                     len(list_distinct(w))::DOUBLE / len(w) AS dwr,
                     list_max(list_transform(list_distinct(bg),
                                             d -> len(list_filter(bg, x -> x = d))))::DOUBLE
                       / len(bg) AS tbf
              FROM bg),
            qf AS (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_words
                   FROM documents),
            gate AS (
              SELECT q.doc_id,
                     coalesce(array_to_string(
                       (CASE WHEN q.n_words < 40 THEN ['too_short'] ELSE []::VARCHAR[] END)
                       || (CASE WHEN q.n_words > 200000 THEN ['too_long'] ELSE []::VARCHAR[] END)
                       || (CASE WHEN r.dwr < 0.2 THEN ['low_diversity'] ELSE []::VARCHAR[] END)
                       || (CASE WHEN r.tbf > 0.5 THEN ['repetitive'] ELSE []::VARCHAR[] END),
                       ','), '') AS gate_reasons
              FROM qf q JOIN rep r USING (doc_id)),
            clean AS (SELECT doc_id FROM gate WHERE gate_reasons = ''),
            ex AS (
              SELECT d.doc_id,
                     d.doc_id <> min(d.doc_id) OVER (PARTITION BY md5({norm})) AS exact_dup
              FROM documents d JOIN clean USING (doc_id)),
            survivors AS (SELECT doc_id FROM ex WHERE NOT exact_dup),
            ssh AS (SELECT sh.* FROM sh JOIN survivors USING (doc_id)),
            sigs AS ({mh_sigs("ssh")}),
            banded AS (
              SELECT doc_id, band_idx, {band_key} AS band_key
              FROM sigs CROSS JOIN (VALUES {band_vals}) b(band_idx)),
            pairs AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM banded l JOIN banded r
                ON l.band_idx = r.band_idx AND l.band_key = r.band_key
               AND l.doc_id < r.doc_id),
            sets AS (SELECT doc_id, list(shingle) AS s FROM ssh GROUP BY doc_id),
            near AS (
              SELECT doc_a, doc_b
              FROM pairs JOIN sets x ON doc_a = x.doc_id
                         JOIN sets y ON doc_b = y.doc_id
              WHERE {jacc} >= 0.5),
            bidir AS (SELECT doc_a AS u, doc_b AS v FROM near
                      UNION ALL SELECT doc_b, doc_a FROM near),
            reach AS (
              SELECT u AS node, u AS comp FROM bidir
              UNION
              SELECT b.u AS node, r2.comp FROM bidir b JOIN reach r2 ON b.v = r2.node),
            comps AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
            lab AS (
              SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component
              FROM survivors s LEFT JOIN comps c ON s.doc_id = c.node)
            SELECT g.doc_id, g.gate_reasons,
                   coalesce(e.exact_dup, false) AS exact_dup,
                   coalesce(l.component <> l.doc_id, false) AS near_dup_shadowed,
                   l.component,
                   g.gate_reasons = '' AND NOT coalesce(e.exact_dup, false)
                     AND NOT coalesce(l.component <> l.doc_id, false) AS kept
            FROM gate g LEFT JOIN ex e USING (doc_id) LEFT JOIN lab l USING (doc_id)""",
        # script-composition ratios: identical code-point class ranges
        # on both regex engines; sum order in other_frac mirrors the
        # engine's fold order exactly (IEEE addition is order-sensitive)
        "q_script_features": r"""
            WITH c AS (
              SELECT doc_id,
                     greatest(length(regexp_replace(text, '\s+', '', 'g')), 1)::DOUBLE AS base,
                     len(regexp_extract_all(text, '[A-Za-zÀ-ɏ]')) AS n_latin,
                     len(regexp_extract_all(text, '[一-鿿㐀-䶿]')) AS n_han,
                     len(regexp_extract_all(text, '[぀-ヿ]')) AS n_kana,
                     len(regexp_extract_all(text, '[가-힯ᄀ-ᇿ]')) AS n_hangul,
                     len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS n_cyrillic,
                     len(regexp_extract_all(text, '[؀-ۿ]')) AS n_arabic,
                     len(regexp_extract_all(text, '[Ͱ-Ͽ]')) AS n_greek,
                     len(regexp_extract_all(text, '[0-9]')) AS n_digit
              FROM documents),
            r AS (
              SELECT doc_id,
                     n_latin / base AS latin, n_han / base AS han,
                     n_kana / base AS kana, n_hangul / base AS hangul,
                     n_cyrillic / base AS cyrillic, n_arabic / base AS arabic,
                     n_greek / base AS greek, n_digit / base AS digit
              FROM c)
            SELECT doc_id,
                   round(latin, 6) AS latin_frac, round(han, 6) AS han_frac,
                   round(kana, 6) AS kana_frac, round(hangul, 6) AS hangul_frac,
                   round(cyrillic, 6) AS cyrillic_frac, round(arabic, 6) AS arabic_frac,
                   round(greek, 6) AS greek_frac, round(digit, 6) AS digit_frac,
                   list_max([
                     struct_pack(frac := arabic, script := 'arabic'),
                     struct_pack(frac := cyrillic, script := 'cyrillic'),
                     struct_pack(frac := digit, script := 'digit'),
                     struct_pack(frac := greek, script := 'greek'),
                     struct_pack(frac := han, script := 'han'),
                     struct_pack(frac := hangul, script := 'hangul'),
                     struct_pack(frac := kana, script := 'kana'),
                     struct_pack(frac := latin, script := 'latin')
                   ]).script AS main_script,
                   round(greatest(0.0,
                     1.0 - (0.0 + latin + han + kana + hangul
                            + cyrillic + arabic + greek + digit)), 6)
                     AS script_other_frac
            FROM r""",
        # full Gopher repetition suite over the synthesized line text:
        # the CTE rebuilds _gopher_text verbatim, then the same derived
        # words/lines/paragraphs views the Spark function computes
        "q_gopher_repetition": gopher_cte + f""",
ga AS (
  SELECT d0.doc_id,
         {gopher_metric_cols}
  FROM d0 LEFT JOIN a0 ON d0.doc_id = a0.doc_id
  GROUP BY d0.doc_id)
SELECT d0.doc_id,
       {_dup_frac_sql('l2')} AS dup_line_frac,
       {_dup_char_frac_sql('l2')} AS dup_line_char_frac,
       {_dup_frac_sql('p2')} AS dup_para_frac,
       {_dup_char_frac_sql('p2')} AS dup_para_char_frac,
       ga.* EXCLUDE (doc_id)
FROM d0 JOIN ga ON d0.doc_id = ga.doc_id""",
        "q_gopher_gate": gopher_cte + f""",
ga AS (
  SELECT d0.doc_id,
         {gopher_flag_cols}
  FROM d0 LEFT JOIN a0 ON d0.doc_id = a0.doc_id
  GROUP BY d0.doc_id),
feat AS (
  SELECT doc_id,
         len(w2) AS n_words,
         coalesce(list_aggregate(list_transform(w2, x -> strlen(x)), 'sum'), 0) AS word_chars,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_sym,
         greatest(len(l2), 1) AS n_lines,
         len(list_filter(l2, x -> regexp_matches(x, '^[-*•]'))) AS n_bullet,
         len(list_filter(l2, x -> regexp_matches(x, '(\\.\\.\\.|…)$'))) AS n_ell,
         len(list_filter(w2, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         {gopher_stop_sum} AS n_stop,
         {_dup_frac_raw('l2')} AS dlf,
         {_dup_char_frac_raw('l2')} AS dlcf
  FROM d0),
flags AS (
  SELECT feat.doc_id, n_words,
         CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0.0 END AS mwl,
         (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
         (CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0.0 END >= 3.0
          AND CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0.0 END <= 10.0)
           AS pass_mean_word_len,
         CASE WHEN n_words > 0 THEN n_sym::DOUBLE / n_words <= 0.1 ELSE FALSE END
           AS pass_symbol_ratio,
         (n_bullet::DOUBLE / n_lines <= 0.9) AS pass_bullet_lines,
         (n_ell::DOUBLE / n_lines <= 0.3) AS pass_ellipsis_lines,
         CASE WHEN n_words > 0 THEN n_alpha::DOUBLE / n_words >= 0.8 ELSE FALSE END
           AS pass_alpha_words,
         (n_stop >= 2) AS pass_stop_words,
         (dlf <= 0.30) AS pass_dup_lines,
         (dlcf <= 0.20) AS pass_dup_line_chars,
         ga.* EXCLUDE (doc_id)
  FROM feat JOIN ga ON feat.doc_id = ga.doc_id)
SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
       {gopher_pass_list},
       ({gopher_keep}) AS keep,
       coalesce(array_to_string(list_filter([{gopher_reasons}], x -> x IS NOT NULL), ','), '')
         AS fail_reasons
FROM flags""",
        # duplicate k-token window spans, canonical occurrence exempt,
        # gaps-and-islands merge to maximal intervals
        "q_dup_spans": f"""
            WITH words AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
            occ0 AS (
              SELECT doc_id,
                     unnest([struct_pack(pos := i - 1,
                                         h := md5(array_to_string(w[i:i+7], ' ')))
                             FOR i IN generate_series(1, len(w) - 7)]) AS o
              FROM words WHERE len(w) >= 8),
            occ AS (SELECT doc_id, o.pos AS pos, o.h AS h FROM occ0),
            marked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY h) AS cnt,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
              FROM occ),
            dup AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn > 1),
            lagged AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dup),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged)
            SELECT doc_id, min(pos)::INT AS span_start, (max(pos) + 8)::INT AS span_end,
                   count(*)::BIGINT AS n_windows
            FROM isl GROUP BY doc_id, island""",
        "q_remove_dup_spans": f"""
            WITH words AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM documents),
            occ0 AS (
              SELECT doc_id,
                     unnest([struct_pack(pos := i - 1,
                                         h := md5(array_to_string(w[i:i+7], ' ')))
                             FOR i IN generate_series(1, len(w) - 7)]) AS o
              FROM words WHERE len(w) >= 8),
            occ AS (SELECT doc_id, o.pos AS pos, o.h AS h FROM occ0),
            marked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY h) AS cnt,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
              FROM occ),
            dup AS (SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn > 1),
            lagged AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM dup),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged),
            spans AS (
              SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
              FROM isl GROUP BY doc_id, island),
            sp AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sps
                   FROM spans GROUP BY doc_id),
            j AS (SELECT w.doc_id, w.w, coalesce(sp.sps, []) AS sps
                  FROM words w LEFT JOIN sp USING (doc_id)),
            kept AS (
              SELECT doc_id, w,
                     [w[i] FOR i IN generate_series(1, len(w))
                      IF len([x FOR x IN sps IF i - 1 >= x.s AND i - 1 < x.e]) = 0] AS kw
              FROM j)
            SELECT doc_id, coalesce(array_to_string(kw, ' '), '') AS clean_text,
                   (len(w) - len(kw))::BIGINT AS n_removed_tokens
            FROM kept""",
        # result comparator: null-safe role diff + header-cell attach
        "q_result_compare": """
            WITH base AS (
              SELECT doc_id,
                     (doc_id % 4)::INT AS item_col,
                     ((doc_id + 1) % 4)::INT AS cur_col,
                     ((doc_id + 2) % 4)::INT AS prev_col,
                     CASE WHEN doc_id % 3 = 0 THEN ((doc_id + 3) % 4)::INT END AS note_col
              FROM documents),
            alt AS (
              SELECT doc_id, item_col,
                     CASE WHEN doc_id % 5 = 0 THEN ((cur_col + 1) % 4)::INT ELSE cur_col END AS cur_col,
                     CASE WHEN doc_id % 11 = 0 THEN NULL ELSE prev_col END AS prev_col,
                     CASE WHEN doc_id % 7 = 0 THEN NULL ELSE note_col END AS note_col
              FROM base),
            hdr AS (SELECT doc_id, string_split_regex(trim(text), '\\s+')[1:4] AS cells
                    FROM documents),
            long AS (
              SELECT b.doc_id, r.role AS column_type,
                     CASE r.role WHEN 'item_name' THEN b.item_col
                                 WHEN 'current_period' THEN b.cur_col
                                 WHEN 'previous_period' THEN b.prev_col
                                 ELSE b.note_col END AS left_index,
                     CASE r.role WHEN 'item_name' THEN a.item_col
                                 WHEN 'current_period' THEN a.cur_col
                                 WHEN 'previous_period' THEN a.prev_col
                                 ELSE a.note_col END AS right_index
              FROM base b JOIN alt a USING (doc_id)
              CROSS JOIN (VALUES ('item_name'), ('current_period'),
                                 ('previous_period'), ('note')) r(role)),
            d AS (SELECT * FROM long WHERE left_index IS DISTINCT FROM right_index),
            c AS (SELECT d.*, h.cells[left_index + 1] AS left_cell,
                         h.cells[right_index + 1] AS right_cell
                  FROM d JOIN hdr h USING (doc_id))
            SELECT doc_id, column_type, left_index, right_index, left_cell, right_cell,
                   concat(column_type, ': left ',
                          CASE WHEN left_index IS NULL THEN 'unmatched'
                               ELSE concat('col ', left_index, ' (''',
                                           coalesce(left_cell, ''), ''')') END,
                          ', right ',
                          CASE WHEN right_index IS NULL THEN 'unmatched'
                               ELSE concat('col ', right_index, ' (''',
                                           coalesce(right_cell, ''), ''')') END
                   ) AS description
            FROM c""",
        # choice resolution: auto-accept > replayed history > policy
        "q_resolve_choices": """
            WITH base AS (
              SELECT doc_id,
                     (doc_id % 4)::INT AS item_col,
                     ((doc_id + 1) % 4)::INT AS cur_col,
                     ((doc_id + 2) % 4)::INT AS prev_col,
                     CASE WHEN doc_id % 3 = 0 THEN ((doc_id + 3) % 4)::INT END AS note_col
              FROM documents),
            alt AS (
              SELECT doc_id, item_col,
                     CASE WHEN doc_id % 5 = 0 THEN ((cur_col + 1) % 4)::INT ELSE cur_col END AS cur_col,
                     CASE WHEN doc_id % 11 = 0 THEN NULL ELSE prev_col END AS prev_col,
                     CASE WHEN doc_id % 7 = 0 THEN NULL ELSE note_col END AS note_col
              FROM base),
            long AS (
              SELECT b.doc_id,
                     CASE r.role WHEN 'item_name' THEN b.item_col
                                 WHEN 'current_period' THEN b.cur_col
                                 WHEN 'previous_period' THEN b.prev_col
                                 ELSE b.note_col END AS left_index,
                     CASE r.role WHEN 'item_name' THEN a.item_col
                                 WHEN 'current_period' THEN a.cur_col
                                 WHEN 'previous_period' THEN a.prev_col
                                 ELSE a.note_col END AS right_index
              FROM base b JOIN alt a USING (doc_id)
              CROSS JOIN (VALUES ('item_name'), ('current_period'),
                                 ('previous_period'), ('note')) r(role)),
            s AS (
              SELECT doc_id,
                     count(left_index)::BIGINT AS n_left,
                     count(right_index)::BIGINT AS n_right,
                     sum(CASE WHEN left_index IS DISTINCT FROM right_index
                              THEN 1 ELSE 0 END)::BIGINT AS n_diff
              FROM long GROUP BY doc_id),
            ch AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0 THEN 'right' ELSE 'skip' END AS choice
              FROM base WHERE doc_id % 13 = 0 OR doc_id % 17 = 0)
            SELECT s.doc_id, s.n_diff,
                   CASE WHEN s.n_diff = 0 THEN 'left'
                        ELSE coalesce(ch.choice, 'left') END AS choice,
                   CASE WHEN s.n_diff = 0 THEN 'auto'
                        WHEN ch.choice IS NOT NULL THEN 'history'
                        ELSE 'policy' END AS choice_source,
                   s.n_diff = 0 AS is_match,
                   CASE WHEN s.n_diff = 0
                        THEN concat('match: ', s.n_left, ' columns')
                        ELSE concat('mismatch: left ', s.n_left, ', right ', s.n_right,
                                    ', ', s.n_diff, ' differences') END AS summary
            FROM s LEFT JOIN ch USING (doc_id)""",
        # split bounds embed the engine's exact float accumulation
        # (repr), so the boundary is bit-identical on both engines
        "q_assign_splits": f"""
            WITH d AS (
              SELECT doc_id,
                     round((('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 8))::UBIGINT
                            / 4294967296.0), 6) AS u
              FROM documents)
            SELECT doc_id, u,
                   CASE {_split_cases} ELSE 'rest' END AS split
            FROM d""",
        "q_pagerank": pagerank_sql,
        "q_host_rank": host_rank_sql,
        # anchor profile: terms restated from the synthesis (doc/link
        # shared per hub target, each id once), same total-order rank
        "q_anchor_profile": """
            WITH t AS (
              SELECT '/t' || (doc_id % 7)::VARCHAR AS outlink, u AS term
              FROM documents,
                   unnest(['doc', doc_id::VARCHAR, 'link']) s(u)),
            c AS (SELECT outlink, term, count(*)::BIGINT AS n
                  FROM t GROUP BY 1, 2)
            SELECT outlink, rank, term, n FROM (
              SELECT outlink, term, n,
                     row_number() OVER (PARTITION BY outlink
                                        ORDER BY n DESC, term ASC) AS rank
              FROM c) WHERE rank <= 5""",
        "q_hits": hits_sql,
        "q_hyperball": hyperball_sql,
        "q_label_prop": lpa_sql,
        "q_snapshot_diff": snapshot_diff_sql,
        "q_url_templates": url_templates_sql,
        "q_temperature_mix": temperature_mix_sql,
        "q_hll_union": hll_union_sql,
        "q_extract_fixture_parsed": _fixture_parsed_sql(include_parent_extra=True),
        "q_balance_boundary_fixture": _fixture_parsed_sql(include_parent_extra=False),
        "q_page_metadata": page_metadata_sql,
        "q_fix_mojibake": mojibake_sql,
        "q_attributes": attributes_sql,
        "q_unescape": unescape_sql,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name IN ('ASIA', 'EUROPE')
            GROUP BY n_name""",
        "q_anchor_texts": """
            SELECT doc_id::VARCHAR AS url,
                   '/d/' || doc_id::VARCHAR AS outlink,
                   'doc ' || doc_id::VARCHAR || ' link' AS anchor_text
            FROM documents""",
        # BPE training unrolled: 5 chained rounds, each = pair counts
        # over the vocab symbol encodings, scalar-subquery argmax,
        # literal replace on the |-delimited encoding (left-to-right
        # non-overlapping in both engines = canonical BPE merge order)
        "q_bpe_merges": bpe_cte + """
SELECT * FROM (""" + " UNION ALL ".join(
            f"SELECT {r} AS step, lft AS left_sym, rgt AS right_sym, "
            f"lft || rgt AS merged, pc AS pair_count FROM m{r}"
            for r in range(1, 6)
        ) + ")",
        "q_bpe_tokens": bpe_cte + """
SELECT sym AS token, sum(cnt)::BIGINT AS n_tokens
FROM (SELECT cnt, unnest(list_filter(string_split(enc, '|'), x -> x <> '')) AS sym
      FROM v5)
GROUP BY sym""",
        "q_det_shuffle": r"""
            SELECT doc_id,
                   md5('shuffle-v1:' || doc_id::VARCHAR) AS shuffle_key,
                   (row_number() OVER (
                      ORDER BY md5('shuffle-v1:' || doc_id::VARCHAR), doc_id)
                    - 1)::BIGINT AS shuffle_pos
            FROM documents""",
        # budget 2048 = 2^11: the float division in floor() is exact,
        # so the window ids match bit-for-bit across engines
        "q_pack_sequences": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0 ELSE
                       len(string_split_regex(trim(text), '\s+')) END::INT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     (sum(n_tokens) OVER (ORDER BY doc_id))::BIGINT AS end_offset
              FROM t)
            SELECT doc_id, n_tokens,
                   (end_offset - n_tokens)::BIGINT AS start_offset,
                   floor((end_offset - n_tokens) / 2048.0)::BIGINT AS first_seq,
                   floor(greatest(end_offset - 1, end_offset - n_tokens) / 2048.0)::BIGINT AS last_seq,
                   (floor(greatest(end_offset - 1, end_offset - n_tokens) / 2048.0)
                    - floor((end_offset - n_tokens) / 2048.0) + 1)::BIGINT AS n_seqs
            FROM c""",
        # same prefix-sum chain as q_pack_sequences, then one window-x-doc
        # intersection row per straddled window (generate_series) with the
        # slice bounds as pure BIGINT arithmetic on the global offsets
        "q_seq_manifest": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0 ELSE
                       len(string_split_regex(trim(text), '\s+')) END::INT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     (sum(n_tokens) OVER (ORDER BY doc_id))::BIGINT AS end_offset
              FROM t),
            p AS (
              SELECT doc_id, n_tokens,
                     (end_offset - n_tokens)::BIGINT AS start_offset,
                     floor((end_offset - n_tokens) / 2048.0)::BIGINT AS first_seq,
                     floor(greatest(end_offset - 1, end_offset - n_tokens) / 2048.0)::BIGINT AS last_seq
              FROM c WHERE n_tokens > 0),
            e AS (
              SELECT doc_id, n_tokens, start_offset,
                     unnest(generate_series(first_seq, last_seq)) AS seq_id
              FROM p)
            SELECT seq_id,
                   floor(seq_id / 8.0)::BIGINT AS shard_id,
                   doc_id,
                   (greatest(seq_id * 2048, start_offset) - start_offset)::BIGINT AS tok_start,
                   (least((seq_id + 1) * 2048, start_offset + n_tokens)
                    - greatest(seq_id * 2048, start_offset))::BIGINT AS tok_len
            FROM e""",
        "q_shard_manifest": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0 ELSE
                       len(string_split_regex(trim(text), '\s+')) END::INT AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     (sum(n_tokens) OVER (ORDER BY doc_id))::BIGINT AS end_offset
              FROM t),
            p AS (
              SELECT doc_id, n_tokens,
                     (end_offset - n_tokens)::BIGINT AS start_offset,
                     floor((end_offset - n_tokens) / 2048.0)::BIGINT AS first_seq,
                     floor(greatest(end_offset - 1, end_offset - n_tokens) / 2048.0)::BIGINT AS last_seq
              FROM c WHERE n_tokens > 0),
            e AS (
              SELECT doc_id, n_tokens, start_offset,
                     unnest(generate_series(first_seq, last_seq)) AS seq_id
              FROM p),
            m AS (
              SELECT seq_id, floor(seq_id / 8.0)::BIGINT AS shard_id, doc_id,
                     (least((seq_id + 1) * 2048, start_offset + n_tokens)
                      - greatest(seq_id * 2048, start_offset))::BIGINT AS tok_len
              FROM e)
            SELECT shard_id,
                   count(DISTINCT seq_id) AS n_seqs,
                   count(DISTINCT doc_id) AS n_docs,
                   sum(tok_len)::BIGINT AS n_tokens,
                   min(seq_id) AS first_seq,
                   max(seq_id) AS last_seq
            FROM m GROUP BY shard_id""",
        # weight = first 16 bits of md5(term) / 2^16 - 0.5 — exact
        # multiples of 2^-16, so the per-doc sums are order-independent
        # exact doubles on both engines
        "q_classifier_score": f"""
            WITH terms AS (
              SELECT doc_id, unnest(string_split({norm}, ' ')) AS term
              FROM documents),
            wt AS (
              SELECT doc_id,
                     (({_nib(1)}*4096 + {_nib(2)}*256 + {_nib(3)}*16 + {_nib(4)})::DOUBLE
                      / 65536.0 - 0.5) AS weight
              FROM terms)
            SELECT doc_id, count(*) AS n_terms,
                   round(sum(weight) / count(*), 6) AS margin,
                   sum(weight) / count(*) > 0 AS label
            FROM wt GROUP BY doc_id""",
        "q_dsir_weights": f"""
            {_dsir_cte}
            SELECT doc_id, count(*) AS n_terms,
                   round(sum(log_ratio) / count(*), 6) AS dsir_weight
            FROM tb JOIN dim USING (bucket)
            GROUP BY doc_id""",
        "q_dsir_select": f"""
            {_dsir_cte},
            sel AS (
              SELECT doc_id, count(*) AS n_terms,
                     sum(log_ratio) / count(*) AS w
              FROM tb JOIN dim USING (bucket)
              GROUP BY doc_id)
            SELECT doc_id, n_terms, round(w, 6) AS dsir_weight
            FROM sel ORDER BY w DESC, doc_id LIMIT 50""",
        "q_nfc_normalize": """
            SELECT doc_id,
                   md5(nfc_normalize(text || ' cafe' || chr(769))) AS norm_md5,
                   length(nfc_normalize(text || ' cafe' || chr(769))) AS n_chars
            FROM documents""",
        # transitive closure stands in for the engine's star-contraction
        # loop: same components, oracle-scale only (closure is O(|C|^2)
        # per component — fine at sf0.01, never the 100 TB plan)
        "q_dup_clusters": f"""
            {shingle_cte.replace("WITH words", "WITH RECURSIVE words", 1)},
            sigs AS ({mh_sigs("sh")}),
            banded AS (
              SELECT doc_id, band_idx, {band_key} AS band_key
              FROM sigs CROSS JOIN (VALUES {band_vals}) b(band_idx)),
            pairs AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM banded l JOIN banded r
                ON l.band_idx = r.band_idx AND l.band_key = r.band_key
               AND l.doc_id < r.doc_id),
            sets AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
            near AS (
              SELECT doc_a, doc_b
              FROM pairs JOIN sets x ON doc_a = x.doc_id
                         JOIN sets y ON doc_b = y.doc_id
              WHERE {jacc} >= 0.5),
            bidir AS (SELECT doc_a AS u, doc_b AS v FROM near
                      UNION ALL SELECT doc_b, doc_a FROM near),
            reach AS (
              SELECT u AS node, u AS comp FROM bidir
              UNION
              SELECT b.u AS node, r.comp FROM bidir b JOIN reach r ON b.v = r.node),
            comps AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
            lab AS (
              SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
              FROM documents d LEFT JOIN comps c ON d.doc_id = c.node)
            SELECT doc_id, component,
                   count(*) OVER (PARTITION BY component) AS cluster_size,
                   doc_id = component AS is_canonical
            FROM lab""",
        "q_simhash_neardup": f"""
            WITH w AS (SELECT doc_id, unnest(string_split({norm}, ' ')) AS word FROM documents),
            words AS (SELECT doc_id, {hash60('word')} AS h FROM w),
            sums AS (SELECT doc_id, {sim_sums} FROM words GROUP BY doc_id),
            fps AS (SELECT doc_id, {sim_fp} AS fp FROM sums),
            banded AS (
              SELECT doc_id, fp, band_idx, (fp >> (band_idx * 15)) & 32767 AS band_val
              FROM fps CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx))
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                   bit_count(xor(l.fp, r.fp))::INT AS hamming
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_val = r.band_val
             AND l.doc_id < r.doc_id""",
        "q_ann_topk": f"""
            WITH buckets AS (
              SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings),
            q AS (SELECT embedding AS qv, bucket AS qb FROM buckets WHERE vec_id = 0),
            cand AS (
              SELECT b.vec_id, b.embedding, q.qv FROM buckets b, q
              WHERE bit_count(xor(b.bucket::BIGINT, q.qb::BIGINT)) <= 2)
            SELECT vec_id, round({cos_expr.format(a='embedding', b='qv')}, 6) AS cos_sim
            FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        "q_cosine_neardup": f"""
            WITH buckets AS (
              SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings)
            SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                   round({cos_expr.format(a='l.embedding', b='r.embedding')}, 6) AS cos_sim
            FROM buckets l JOIN buckets r
              ON l.bucket = r.bucket AND l.vec_id < r.vec_id
            WHERE {cos_expr.format(a='l.embedding', b='r.embedding')} >= 0.5""",
        # bitext margin mining: full Artetxe-Schwenk ratio-margin chain
        # (multi-probe LSH candidates → per-side kNN means over SORTED
        # cosine lists so the fold order matches Spark's aggregate →
        # forward-best + mutual flag); planes are the same md5 literals
        "q_bitext_margin": f"""
            WITH isrc AS (
              SELECT vec_id AS src_id, embedding, {bucket4_expr} AS bucket
              FROM embeddings WHERE vec_id % 2 = 0),
            itgt AS (
              SELECT vec_id AS tgt_id, embedding, {bucket4_expr} AS bucket
              FROM embeddings WHERE vec_id % 2 = 1),
            probes AS (
              SELECT src_id, embedding,
                     unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                             xor(bucket, 4), xor(bucket, 8)]) AS bucket
              FROM isrc),
            cand AS (
              SELECT s.src_id, t.tgt_id,
                     {cos_expr.format(a='s.embedding', b='t.embedding')} AS cos
              FROM probes s JOIN itgt t USING (bucket)),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rf,
                     row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rb
              FROM cand),
            a_src AS (
              SELECT src_id,
                     list_reduce(list_sort(list(cos)), (a, b) -> a + b) / count(*) AS a_src
              FROM ranked WHERE rf <= 4 GROUP BY src_id),
            a_tgt AS (
              SELECT tgt_id,
                     list_reduce(list_sort(list(cos)), (a, b) -> a + b) / count(*) AS a_tgt
              FROM ranked WHERE rb <= 4 GROUP BY tgt_id),
            bb AS (SELECT tgt_id, src_id AS best_src FROM ranked WHERE rb = 1),
            fwd AS (SELECT src_id, tgt_id, cos FROM ranked WHERE rf = 1)
            SELECT src_id, tgt_id, round(cos, 6) AS cos_sim,
                   floor(cos / greatest((a_src + a_tgt) / 2, 1e-9) * 1e6) / 1e6 AS margin,
                   (bb.best_src = fwd.src_id) AS is_mutual
            FROM fwd JOIN a_src USING (src_id) JOIN a_tgt USING (tgt_id)
                     JOIN bb USING (tgt_id)
            WHERE floor(cos / greatest((a_src + a_tgt) / 2, 1e-9) * 1e6) / 1e6 >= 1.0""",
        # SemDeDup: the q_cosine_neardup pair generation composed with
        # the q_dup_clusters recursive-CTE transitive closure
        "q_semdedup": f"""
            WITH RECURSIVE buckets AS (
              SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings),
            near AS (
              SELECT l.vec_id AS doc_a, r.vec_id AS doc_b
              FROM buckets l JOIN buckets r
                ON l.bucket = r.bucket AND l.vec_id < r.vec_id
              WHERE {cos_expr.format(a='l.embedding', b='r.embedding')} >= 0.2),
            bidir AS (SELECT doc_a AS u, doc_b AS v FROM near
                      UNION ALL SELECT doc_b, doc_a FROM near),
            reach AS (
              SELECT u AS node, u AS comp FROM bidir
              UNION
              SELECT b.u AS node, r.comp FROM bidir b JOIN reach r ON b.v = r.node),
            comps AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
            lab AS (
              SELECT e.vec_id, coalesce(c.component, e.vec_id) AS component
              FROM embeddings e LEFT JOIN comps c ON e.vec_id = c.node)
            SELECT vec_id, component,
                   count(*) OVER (PARTITION BY component) AS cluster_size,
                   vec_id = component AS is_canonical
            FROM lab""",
        "q_ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            cents AS (SELECT vec_id AS cent_id, embedding AS cvec
                      FROM embeddings WHERE vec_id % 97 = 0),
            scored AS (
              SELECT e.vec_id, c.cent_id,
                     round(list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[])
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))), 4) AS ccos
              FROM embeddings e, cents c),
            assign AS (
              SELECT vec_id, cent_id AS cell FROM (
                SELECT vec_id, cent_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ccos DESC, cent_id) AS rn
                FROM scored) WHERE rn = 1),
            probes AS (
              SELECT cent_id AS cell FROM (
                SELECT c.cent_id,
                       round(list_dot_product(c.cvec::DOUBLE[], q.qv::DOUBLE[])
                             / (sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))
                                * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS qcos
                FROM cents c, q)
              ORDER BY qcos DESC, cell LIMIT 4)
            SELECT e.vec_id,
                   round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
                         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cos_sim
            FROM embeddings e
            JOIN assign a USING (vec_id)
            JOIN probes p ON a.cell = p.cell, q
            ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        # hard negatives: oracle pairs clusters with a plain != join
        # (oracle-side only) and ranks by the same trunc4 score
        "q_hard_negatives": """
            WITH a AS (
              SELECT vec_id, embedding::DOUBLE[] AS v, vec_id % 5 AS cluster
              FROM embeddings WHERE vec_id < 200),
            p AS (
              SELECT q.vec_id AS qid, c.vec_id AS neg_id,
                     floor(10000.0 * list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(c.v, c.v))))::BIGINT
                       AS score4
              FROM a q JOIN a c ON q.cluster <> c.cluster),
            r AS (
              SELECT qid, neg_id, score4,
                     row_number() OVER (
                       PARTITION BY qid ORDER BY score4 DESC, neg_id ASC
                     )::INT AS neg_rank
              FROM p)
            SELECT qid AS vec_id, neg_rank, neg_id, score4
            FROM r WHERE neg_rank <= 3""",
        "q_embed_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4) AS cos_sim
            FROM embeddings, q
            ORDER BY cos_sim DESC, vec_id LIMIT 10""",
        # Lloyd's k-means, 2 iterations unrolled (fixed iteration count =
        # static plan = unrollable oracle): assign → mean-update → assign →
        # mean-update → final assign. Same determinism discipline as the
        # Spark side: cosines floor-TRUNCATED to 4 dp (round() is HALF_UP
        # BigDecimal on Spark vs raw-double on DuckDB — divergent on
        # boundaries), centroid means in exact integer space (coordinates
        # quantized to floor(x*2^20) bigints, order-independent sum,
        # floor-division by the cell count, scaled back by 2^-20).
        "q_kmeans": """
            WITH cents0 AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id % 97 = 0),
            assign1 AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       floor(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(c.cvec, c.cvec))) * 10000.0) / 10000.0 AS ccos
                FROM embeddings e, cents0 c)
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1),
            cents1 AS (
              SELECT cell, list(v ORDER BY pos) AS cvec FROM (
                SELECT cell, pos,
                       ((s - ((s % n) + n) % n) // n) / 1048576.0 AS v FROM (
                  SELECT a.cell, t.pos,
                         sum(floor(e.embedding[t.pos]::DOUBLE * 1048576.0)::BIGINT) AS s,
                         count(*)::BIGINT AS n
                  FROM embeddings e JOIN assign1 a USING (vec_id)
                  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) t
                  GROUP BY a.cell, t.pos))
              GROUP BY cell),
            assign2 AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       floor(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(c.cvec, c.cvec))) * 10000.0) / 10000.0 AS ccos
                FROM embeddings e, cents1 c)
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1),
            cents2 AS (
              SELECT cell, list(v ORDER BY pos) AS cvec FROM (
                SELECT cell, pos,
                       ((s - ((s % n) + n) % n) // n) / 1048576.0 AS v FROM (
                  SELECT a.cell, t.pos,
                         sum(floor(e.embedding[t.pos]::DOUBLE * 1048576.0)::BIGINT) AS s,
                         count(*)::BIGINT AS n
                  FROM embeddings e JOIN assign2 a USING (vec_id)
                  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) t
                  GROUP BY a.cell, t.pos))
              GROUP BY cell),
            assign3 AS (
              SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       floor(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                * sqrt(list_dot_product(c.cvec, c.cvec))) * 10000.0) / 10000.0 AS ccos
                FROM embeddings e, cents2 c)
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1)
            SELECT vec_id, cell, count(*) OVER (PARTITION BY cell) AS cell_size
            FROM assign3""",
        # HyperLogLog over (doc, token) incidence keys: md5-positional
        # 60-bit hash, 256 registers, INTEGER register sum (missing
        # registers contribute the 2^53 term), linear-counting branch
        # for the small range. 590295810358705651712.0 = 256^2 * 2^53.
        "q_hll_doc_terms": """
            WITH toks AS (
              SELECT doc_id::VARCHAR || ':' || t AS token FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS t
                FROM documents) WHERE t <> ''),
            hashed AS (
              SELECT ('0x' || substr(md5('0:' || token), 1, 15))::BIGINT AS h FROM toks),
            regs AS (
              SELECT h % 256 AS bucket,
                     max(CASE WHEN (h // 256) = 0 THEN 53
                              ELSE 53 - length(bin(h // 256)) END) AS rho_max
              FROM hashed GROUP BY 1),
            agg AS (
              SELECT count(*) AS nonzero_registers,
                     sum((1::BIGINT << (53 - rho_max)))::BIGINT AS present_sum FROM regs),
            ex AS (SELECT count(DISTINCT token) AS exact_distinct FROM toks),
            comb AS (
              SELECT 256 AS m, nonzero_registers,
                     (present_sum
                      + (256 - nonzero_registers) * (1::BIGINT << 53))::BIGINT AS register_sum,
                     exact_distinct,
                     (256 - nonzero_registers) AS zeros
              FROM agg, ex),
            est AS (
              SELECT *,
                     (0.7213 / (1.0 + 1.079 / 256.0)) * 590295810358705651712.0
                       / register_sum AS raw
              FROM comb)
            SELECT m, nonzero_registers, register_sum,
                   floor((CASE WHEN raw <= 640.0 AND zeros > 0
                               THEN 256.0 * ln(256.0 / zeros) ELSE raw END)
                         * 10000.0) / 10000.0 AS hll_estimate,
                   exact_distinct,
                   floor(((CASE WHEN raw <= 640.0 AND zeros > 0
                                THEN 256.0 * ln(256.0 / zeros) ELSE raw END)
                          / exact_distinct - 1.0) * 10000.0) / 10000.0 AS rel_error
            FROM est""",
        # count-min at width 16 / depth 4 (collision-heavy on purpose):
        # the sketch build and the probe share the md5-positional hash.
        "q_cm_heavy_hitters": """
            WITH toks AS (
              SELECT t AS token FROM (
                SELECT unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS t
                FROM documents) WHERE t <> ''),
            pos AS (
              SELECT token, j AS row,
                     ('0x' || substr(md5(j::VARCHAR || ':' || token), 1, 15))::BIGINT % 16 AS col
              FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
            sketch AS (SELECT row, col, count(*) AS cnt FROM pos GROUP BY 1, 2),
            exact AS (SELECT token, count(*) AS exact FROM toks GROUP BY 1),
            probes AS (
              SELECT token, j AS row,
                     ('0x' || substr(md5(j::VARCHAR || ':' || token), 1, 15))::BIGINT % 16 AS col
              FROM exact CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
            est AS (
              SELECT p.token, min(s.cnt) AS est
              FROM probes p JOIN sketch s USING (row, col) GROUP BY 1)
            SELECT e.token, est, exact FROM exact e JOIN est USING (token)
            ORDER BY exact DESC, token LIMIT 20""",
    }
