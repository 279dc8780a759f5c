"""DSIR-style importance resampling: select web documents whose hashed
n-gram distribution resembles a target domain (Xie et al., "Data
Selection for Language Models via Importance Resampling", NeurIPS 2023).

The published recipe: featurize every document as hashed n-gram counts,
fit bag-of-words models ``p`` (target) and ``q`` (raw source) over the
hash buckets, weight each source document by its log importance ratio
``Σ_b count_b · (log p_b − log q_b)``, and resample the top of that
ranking. At 100 TB the shape is ideal for Spark:

* the BUCKET DIM is tiny and fixed (``num_buckets`` rows — 256 here,
  8k-64k in the paper) → fit is two partial-aggregated groupBys that
  collapse map-side, and scoring broadcast-joins the dim onto the
  exploded term stream;
* per-document scoring is one shuffle on ``doc_id`` whose bytes-per-row
  are independent of document length (bodies never shuffle);
* selection is ``TakeOrdered`` (orderBy + limit), never a global
  row_number window (which would serialize into one task).

Cross-engine exactness (the DuckDB-oracle contract): buckets come from
md5 nibbles, the per-bucket log-ratio argument is an exact small-integer
rational (Laplace-smoothed counts — products < 2^53, so the double is
identical everywhere), and the log-ratio itself is quantized to exact
multiples of 2^-16 before the per-document sum — the same trick as
``classify.hashed_term_weight``, making aggregation order irrelevant.

No single-document analog in /root/reference (the reference processes
one filing at a time); this operator exists because the rebuild's
target is corpus assembly, where DSIR is a standard selection stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_words

DEFAULT_BUCKETS = 256


def hashed_bucket(term: Column, num_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic hash bucket: first 16 bits of md5(term), mod
    ``num_buckets``. md5 (not xxhash64) so the DuckDB oracle reproduces
    the exact assignment; swap for xxhash64 in a non-audited run."""
    return (
        F.conv(F.substring(F.md5(term), 1, 4), 16, 10).cast("int")
        % F.lit(num_buckets)
    )


def _bucket_counts(docs: DataFrame, text_col: str, num_buckets: int) -> DataFrame:
    terms = docs.select(F.explode(normalized_words(F.col(text_col))).alias("term"))
    return terms.select(hashed_bucket(F.col("term"), num_buckets).alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def dsir_log_ratios(
    target: DataFrame,
    source: DataFrame,
    text_col: str = "text",
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Fit the importance model: ``(bucket, log_ratio)`` over all
    ``num_buckets`` buckets (absent buckets get the smoothed floor).

    ``log_ratio = ln( (cnt_t+1)·(Q+B) / ((T+B)·(cnt_q+1)) )`` — the
    Laplace-smoothed ``ln(p̂_b/q̂_b)`` — quantized to multiples of 2^-16.
    Both count tables are bucket-dimensional (≤ ``num_buckets`` rows);
    the crossJoin below is dim × one-row-totals, never data-sized.
    """
    spark = target.sparkSession
    tc = _bucket_counts(target, text_col, num_buckets).withColumnRenamed("cnt", "cnt_t")
    qc = _bucket_counts(source, text_col, num_buckets).withColumnRenamed("cnt", "cnt_q")
    buckets = spark.range(num_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        buckets.join(tc, "bucket", "left")
        .join(qc, "bucket", "left")
        .fillna(0, subset=["cnt_t", "cnt_q"])
    )
    totals = joined.agg(
        F.sum("cnt_t").alias("tot_t"), F.sum("cnt_q").alias("tot_q")
    )
    b = F.lit(float(num_buckets))
    # numerator/denominator are exact small-integer doubles (< 2^53):
    # the ln argument is bit-identical across engines, and quantizing
    # ln to 2^-16 steps makes every downstream sum exact
    arg = ((F.col("cnt_t") + 1.0) * (F.col("tot_q") + b)) / (
        (F.col("tot_t") + b) * (F.col("cnt_q") + 1.0)
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (F.round(F.ln(arg) * 65536.0, 0) / 65536.0).alias("log_ratio"),
        )
    )


def dsir_score(
    docs: DataFrame,
    log_ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-document importance weight: mean bucket log-ratio over the
    document's term stream → ``(doc_id, n_terms, dsir_weight)``.

    Mean (not raw sum) so the ranking is length-normalized — otherwise
    long documents dominate selection regardless of domain fit. Plan:
    explode → broadcast bucket dim → one partial-agg groupBy(doc_id).
    """
    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(F.col(text_col))).alias("term"),
    ).select("doc_id", hashed_bucket(F.col("term"), num_buckets).alias("bucket"))
    return (
        terms.join(F.broadcast(log_ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            (F.sum("log_ratio") / F.count(F.lit(1))).alias("dsir_weight"),
        )
    )


def dsir_select(scored: DataFrame, k: int) -> DataFrame:
    """Top-k selection by importance weight (doc_id tiebreak for
    determinism). ``orderBy().limit()`` compiles to TakeOrdered — a
    per-partition top-k then a k-row merge, never a one-task global
    sort; k rows is all that ever reaches a single machine."""
    return scored.orderBy(F.col("dsir_weight").desc(), F.col("doc_id")).limit(k)
