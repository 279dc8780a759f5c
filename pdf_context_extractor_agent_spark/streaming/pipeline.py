"""Structured Streaming pipelines over the pages table.

The reference is batch-only (streaming listed as "planned",
docs/ARCHITECTURE.md:498-511); the crawl-ingest shape of the north rule
makes these first-class here:

* stateless extraction (the layout kernel is a pure map → runs
  unchanged on a stream, micro-batch or continuous);
* watermarked windowed aggregation for ingest monitoring with late
  data;
* custom stateful operators (``applyInPandasWithState``): cross-batch
  exact dedup — first occurrence of a content hash passes, later
  arrivals are dropped, state carries the winner url per hash — and
  cross-batch MinHash-LSH near-dup, whose per-row signatures and band
  keys are the batch ``functions.dedup`` ones (same md5 base hash, same
  universal re-hashes), so a doc lands in the same buckets either way.

All sinks are append-compatible; checkpointing uses the standard
streaming checkpoint dir (exactly-once with a replayable source).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..corpus import PAGES_SCHEMA
from ..functions.dedup import normalized_text
from ..functions.quality import quality_features
from ..kernels import extract_pages


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of the pages table (schema pinned — streaming
    sources never infer). In production this is the Iceberg/Kafka
    ingest of crawl batches."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def streaming_page_text(pages_stream: DataFrame) -> DataFrame:
    """Layout kernel on a stream: identical code path as batch —
    mapInPandas is stateless, so the plan is streaming-safe as-is."""
    return extract_pages(pages_stream)


def streaming_quality(pages_stream: DataFrame) -> DataFrame:
    """Stateless per-doc text-quality scoring on the ingest stream."""
    return quality_features(pages_stream.select("url", "warc_ts", "text")).drop("text")


def streaming_lang_counts(
    pages_stream: DataFrame, window: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked windowed ingest monitoring: docs + bytes per lang per
    event-time window; late rows beyond the watermark are dropped."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "lang")
        .agg(F.count("*").alias("n_docs"), F.sum(F.length("html")).alias("n_bytes"))
    )


_DEDUP_OUT = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("is_first", T.BooleanType()),
    ]
)
_DEDUP_STATE = T.StructType([T.StructField("first_url", T.StringType())])


def _dedup_fn(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (content_hash,) = key
    first_url = state.get[0] if state.exists else None
    out = []
    for pdf in pdfs:
        for url in sorted(pdf["url"]):
            if first_url is None:
                first_url = url
                out.append((content_hash, url, True))
            else:
                out.append((content_hash, url, False))
    state.update((first_url,))
    yield pd.DataFrame(out, columns=["content_hash", "url", "is_first"])


def streaming_extract_statements(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    statements: tuple[str, ...] = ("balance_sheet", "income_statement", "cash_flow"),
):
    """Full statement extraction on the ingest stream via foreachBatch.

    The extraction plan is window- and join-heavy (cross-page merge,
    structure anchors, first-occurrence dedup), which Structured
    Streaming cannot compose incrementally — so each micro-batch runs
    the IDENTICAL batch plan and appends, the standard pattern for
    complex batch logic on streams. Per-document extraction is
    batch-local by construction (no cross-document state), so
    micro-batch boundaries cannot change results. Exactly-once comes
    from the streaming checkpoint plus an idempotent sink: each batch
    overwrites its own ``batch_id=N`` partition, so a batch replayed
    after a crash (its commit not yet recorded) replaces the rows it
    wrote instead of adding them again. Reading ``output_dir`` restores
    the ``batch_id`` column by partition discovery.

    Returns the started StreamingQuery (caller awaits/stops)."""
    from ..plans import parse_statements

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_statements(extract_pages(batch_df), spark, statements)["parsed"]
        parsed.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    return (
        stream_pages(spark, input_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_NEARDUP_OUT = T.StructType(
    [
        T.StructField("doc_a", T.StringType()),
        T.StructField("doc_b", T.StringType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)
_NEARDUP_STATE = T.StructType(
    [
        T.StructField("urls", T.ArrayType(T.StringType())),
        T.StructField("sigs", T.ArrayType(T.ArrayType(T.LongType()))),
    ]
)
# per-bucket state cap: an LSH bucket at web scale is small by design
# (the band key spreads docs over (2^31 − 1)^r buckets); a degenerate bucket
# (e.g. empty-text docs all sharing one signature) must not grow state
# without bound, so arrivals past the cap still emit pairs against the
# stored members but are not appended.
_NEARDUP_MAX_BUCKET = 256


def _neardup_threshold_holder(threshold: float):
    def _fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            urls, sigs = list(state.get[0]), [list(s) for s in state.get[1]]
        else:
            urls, sigs = [], []
        arrivals: list[tuple[str, list[int]]] = []
        for pdf in pdfs:
            for url, sig in zip(pdf["url"], pdf["sig"]):
                # plain-Python ints: numpy.int64 in the state tuple breaks
                # the JVM-side unpickler on state.update
                arrivals.append((str(url), [int(x) for x in sig]))
        arrivals.sort(key=lambda r: r[0])  # deterministic within a batch
        seen = set(urls)
        out = []
        for url, sig in arrivals:
            if url in seen:  # replayed micro-batch: already in state
                continue
            k = len(sig)
            for u2, s2 in zip(urls, sigs):
                est = sum(a == b for a, b in zip(sig, s2)) / k
                if est >= threshold:
                    a, b = (url, u2) if url < u2 else (u2, url)
                    out.append((a, b, est))
            if len(urls) < _NEARDUP_MAX_BUCKET:
                urls.append(url)
                sigs.append(sig)
                seen.add(url)
        state.update((urls, sigs))
        yield pd.DataFrame(out, columns=["doc_a", "doc_b", "est_jaccard"])

    return _fn


def streaming_minhash_neardup(
    pages_stream: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.0,
    text_col: str = "text",
) -> DataFrame:
    """Cross-micro-batch MinHash-LSH near-dup detection.

    The batch pipeline (functions/dedup.py: shingles → minhash_signatures
    → lsh_candidate_pairs) needs a groupBy over exploded shingles plus a
    bucket self-join — neither composes incrementally on a stream. This
    operator restates it stream-natively with identical hash semantics:

    * the signature is computed PER ROW (a doc's shingles never leave its
      row, so no streaming aggregation is needed): the md5 base array
      ``minhash_base(shingle)`` once per row, then for each of the k
      universal hashes an ``array_min`` over that array — the exact
      values the batch ``minhash_signatures`` computes;
    * band keys come from the same ``lsh_bands`` the batch
      ``lsh_candidate_pairs`` uses, so a doc lands in the SAME buckets
      streaming or batch;
    * the bucket self-join becomes per-bucket state
      (``applyInPandasWithState`` keyed on (band_idx, band_key)): each
      arrival emits a pair against every stored member with estimated
      Jaccard ≥ ``threshold`` (matching-component fraction — the standard
      MinHash estimate), then joins the state.

    With an unhit state cap the emitted pair set is EXACTLY the batch
    ``lsh_candidate_pairs`` output (at threshold 0) no matter how the
    corpus straddles micro-batches — the differential test in
    tests/test_streaming.py asserts set equality on a two-batch split.
    Like the batch generator, a pair sharing several bands is emitted
    once per band; the downstream per-pair aggregation collapses these.
    """
    from ..functions.dedup import (
        MINHASH_PRIME,
        lsh_bands,
        minhash_base,
        minhash_coefficients,
        shingle_array,
    )

    sh = shingle_array(F.col(text_col), n)
    xs = pages_stream.select("url", F.transform(sh, minhash_base).alias("_xs"))

    def universal(a: int, b: int) -> Column:
        return F.array_min(F.transform("_xs", lambda x: (x * a + b) % MINHASH_PRIME))

    sig = F.array(*[universal(a, b) for a, b in minhash_coefficients(num_hashes)])
    sigs = xs.select("url", sig.alias("sig"))
    mh = [F.col("sig")[k] for k in range(num_hashes)]
    keyed = sigs.select(
        "url", "sig", F.explode(lsh_bands(mh, bands)).alias("band")
    ).select("url", F.col("band.band_idx"), F.col("band.band_key"), "sig")
    return keyed.groupBy("band_idx", "band_key").applyInPandasWithState(
        _neardup_threshold_holder(threshold),
        outputStructType=_NEARDUP_OUT,
        stateStructType=_NEARDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful operator: cross-micro-batch exact dedup.

    Key = md5 of normalized text; state = first-seen url. Emits every
    arrival tagged ``is_first`` so a downstream filter keeps the corpus
    unique no matter how documents straddle micro-batches.
    """
    hashed = pages_stream.select(
        F.md5(normalized_text(F.col("text"))).alias("content_hash"),
        "url",
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_wet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming derived-text (WET) generation: pages stream → layout
    kernel → per-url text → WET conversion records, one shard set per
    micro-batch via foreachBatch (per-document work is batch-local, so
    micro-batch boundaries cannot change any record — the same
    argument as streaming_extract_statements; a differential test
    asserts streamed records == the batch run byte-for-byte).
    Exactly-once via the streaming checkpoint; a replayed batch
    re-appends into a batch-id subdirectory, overwriting its own files.

    Returns the started StreamingQuery."""
    from ..kernels import extract_pages, extracted_text
    from ..sources.pages import skew_partitioned
    from ..sources.warc import wet_records

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        text = extracted_text(extract_pages(skew_partitioned(batch_df)))
        wet_in = (
            batch_df.select("url", "warc_ts")
            .join(text.withColumnRenamed("extracted_text", "text"), "url")
        )
        wet_records(wet_in).select("wet_record").write.mode("overwrite").text(
            f"{output_dir}/batch={batch_id}"
        )

    return (
        stream_pages(spark, input_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# stateful cross-batch sessionization
# --------------------------------------------------------------------------

_SESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.IntegerType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("next_seq", T.IntegerType()),
    ]
)

SESSION_GAP_US = 1800 * 1_000_000  # the batch q_sessionize gap


def _sessionize_fn(key, pdfs, state):
    """Per-user fold: events sorted by timestamp extend the open
    session while the gap stays ≤ SESSION_GAP_US; a larger gap CLOSES
    the session (emitted) and opens the next. The open session lives
    in state across micro-batches — only closed sessions are emitted,
    exactly once. Contract: batches arrive time-ordered per key (the
    Kafka partition-per-key reality); a late event older than the
    state's last timestamp starts a session boundary like any gap."""
    (user_id,) = key
    ts = []
    for pdf in pdfs:
        ts.extend(int(v) for v in pdf["us"])
    ts.sort()
    if state.exists:
        start_us, last_us, n_events, next_seq = state.get
    else:
        start_us, last_us, n_events, next_seq = None, None, 0, 0
    closed = []
    for t in ts:
        if start_us is None:
            start_us, last_us, n_events = t, t, 1
            continue
        if t - last_us > SESSION_GAP_US or t < last_us:
            closed.append((user_id, next_seq, start_us, last_us, n_events))
            next_seq += 1
            start_us, last_us, n_events = t, t, 1
        else:
            last_us, n_events = t, n_events + 1
    state.update((start_us, last_us, n_events, next_seq))
    yield pd.DataFrame(
        closed,
        columns=["user_id", "session_seq", "start_us", "end_us", "n_events"],
    )


def streaming_sessionize(events_stream: DataFrame) -> DataFrame:
    """Cross-batch gap sessionization (applyInPandasWithState): input
    needs ``user_id`` and a timestamp column ``ts``; emits CLOSED
    sessions only — the open tail stays in state until a later batch
    closes it. Key-partitioned state, microsecond arithmetic matching
    the batch q_sessionize exactly (a differential test proves closed
    streamed sessions == the batch window computation minus each
    user's final open session)."""
    keyed = events_stream.select(
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
