"""Structured Streaming tests: stateless kernel on a stream, watermarked
windowed aggregation, and the custom stateful cross-batch dedup."""

import pyspark.sql.functions as F
import pytest

from pdf_context_extractor_agent_spark.corpus import pages_df
from pdf_context_extractor_agent_spark.streaming import (
    stream_pages,
    streaming_exact_dedup,
    streaming_lang_counts,
    streaming_page_text,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    # two files → two ingest units; duplicate doc 0's content in batch 2
    pages_df(spark, 6).write.mode("overwrite").parquet(str(d / "batch1.parquet"))
    dup = pages_df(spark, 6).filter(F.col("url").contains("doc00000000")).withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror=1"))
    )
    dup.write.mode("overwrite").parquet(str(d / "batch2.parquet"))
    return str(d)


def _run_to_memory(stream_df, name, tmp, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", f"{tmp}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_kernel(spark, stream_dir, tmp_path):
    src = stream_pages(spark, f"{stream_dir}/*")
    _run_to_memory(streaming_page_text(src).select("url", "page", "page_text"),
                   "pages_out", tmp_path)
    out = spark.sql("select * from pages_out")
    assert out.count() > 0
    # same kernel result as batch for a known page
    assert out.filter(
        (F.col("page") == 2) & F.col("page_text").contains("合并资产负债表")
    ).count() >= 4


def test_streaming_windowed_lang_counts(spark, stream_dir, tmp_path):
    src = stream_pages(spark, f"{stream_dir}/*")
    # complete mode for the test sink: append mode would hold windows
    # open until the watermark passes, which a finite availableNow run
    # never advances past the final batch
    _run_to_memory(streaming_lang_counts(src), "lang_out", tmp_path, output_mode="complete")
    out = spark.sql("select * from lang_out")
    rows = {r.lang: r.n_docs for r in out.collect()}
    assert rows.get("zh", 0) >= 4


def test_streaming_stateful_dedup(spark, stream_dir, tmp_path):
    src = stream_pages(spark, f"{stream_dir}/*")
    _run_to_memory(streaming_exact_dedup(src), "dedup_out", tmp_path, output_mode="update")
    out = spark.sql("select * from dedup_out").collect()
    by_url = {r.url: r.is_first for r in out}
    # the mirror of doc 0 must NOT be first (its hash was seen already —
    # potentially in another micro-batch, which is the stateful part)
    mirror = [u for u in by_url if "mirror=1" in u]
    assert mirror and not by_url[mirror[0]]
    firsts = [u for u, f in by_url.items() if f]
    assert len(firsts) == 6


def test_streaming_extract_statements_matches_batch(spark, stream_dir, tmp_path):
    """foreachBatch full extraction on the ingest stream produces the
    same parsed rows as the batch plan over the same documents (per-doc
    extraction has no cross-document state, so micro-batch boundaries
    cannot change results) — also after a crash between a batch's write
    and its checkpoint commit, when the restarted query replays it."""
    from pdf_context_extractor_agent_spark.corpus import PAGES_SCHEMA
    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.plans import parse_statements
    from pdf_context_extractor_agent_spark.streaming import (
        streaming_extract_statements,
    )

    out = str(tmp_path / "parsed_stream")
    ckpt = tmp_path / "ckpt_extract"

    def run():
        q = streaming_extract_statements(spark, f"{stream_dir}/*", out, str(ckpt))
        q.awaitTermination(300)

    pages = spark.read.schema(PAGES_SCHEMA).parquet(f"{stream_dir}/*")
    want = parse_statements(extract_pages(pages), spark)["parsed"]
    cols = sorted(want.columns)

    def rows(df):
        return sorted(tuple(map(repr, r)) for r in df.select(*cols).collect())

    w = rows(want)
    assert len(w) > 0
    run()
    got = spark.read.parquet(out)
    assert sorted(got.drop("batch_id").columns) == cols
    assert rows(got) == w
    # forget the commits (a crash after the sink wrote, before the
    # commit log did): the restart replays those batch ids
    commits = list((ckpt / "commits").iterdir())
    assert commits
    for f in commits:
        f.unlink()
    run()
    assert rows(spark.read.parquet(out)) == w


def test_streaming_minhash_neardup_matches_batch(spark, tmp_path):
    """The stateful LSH near-dup operator must emit exactly the batch
    ``lsh_candidate_pairs`` pair set (threshold 0, state cap unhit) even
    when the corpus straddles micro-batches — the cross-batch pair is the
    stateful part a per-batch join could never find."""
    from pdf_context_extractor_agent_spark.corpus import PAGES_SCHEMA
    from pdf_context_extractor_agent_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from pdf_context_extractor_agent_spark.streaming import streaming_minhash_neardup

    base = pages_df(spark, 8).select("url", "warc_ts", "html", "text", "lang")
    mirror = base.filter(F.col("url").contains("doc00000006")).withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror=1"))
    )
    d = tmp_path / "neardup_src"
    base.write.mode("overwrite").parquet(str(d / "batch1.parquet"))
    mirror.write.mode("overwrite").parquet(str(d / "batch2.parquet"))

    # batch expectation on the SAME documents (doc_id = url)
    static = spark.read.schema(PAGES_SCHEMA).parquet(str(d / "*"))
    sigs = minhash_signatures(shingles(static.select(F.col("url").alias("doc_id"), "text")))
    expected = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sigs).distinct().collect()
    }
    assert expected  # the mirror pair at minimum

    # maxFilesPerTrigger=1 → availableNow processes the two files as two
    # micro-batches, so the mirror pair can only come from bucket state
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    _run_to_memory(
        streaming_minhash_neardup(src), "neardup_out", tmp_path, output_mode="update"
    )
    rows = spark.sql("select * from neardup_out").collect()
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == expected
    mirror_pairs = [r for r in rows if "mirror=1" in r.doc_b]
    assert mirror_pairs and all(r.est_jaccard == 1.0 for r in mirror_pairs)


def test_streaming_wet_matches_batch(spark, stream_dir, tmp_path):
    """Streamed WET shards parse to exactly the batch-run records."""
    import glob

    from pdf_context_extractor_agent_spark.kernels import (
        extract_pages,
        extracted_text,
    )
    from pdf_context_extractor_agent_spark.sources.warc import (
        iter_warc_records,
        wet_records,
    )
    from pdf_context_extractor_agent_spark.streaming import streaming_wet

    out = str(tmp_path / "wet_out")
    q = streaming_wet(spark, f"{stream_dir}/*", out, str(tmp_path / "wet_ckpt"))
    q.awaitTermination(180)

    data = b"".join(
        open(f, "rb").read()
        for f in sorted(glob.glob(out + "/batch=*/part-*"))
    )
    streamed = {u: (ts, b.decode("utf-8"))
                for u, ts, b in iter_warc_records(data)}

    pages = spark.read.parquet(stream_dir + "/*.parquet")
    text = extracted_text(extract_pages(pages)).withColumnRenamed(
        "extracted_text", "text"
    )
    batch = {}
    for r in wet_records(
        pages.select("url", "warc_ts").join(text, "url")
    ).collect():
        for u, ts, b in iter_warc_records(r["wet_record"].encode("utf-8")):
            batch[u] = (ts, b.decode("utf-8"))
    assert streamed == batch and len(streamed) == 7


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Closed streamed sessions == the batch window sessionization
    minus each user's final (still-open) session — across a micro-batch
    split placed mid-timeline."""
    import datetime as dt

    from pyspark.sql import Window
    from pdf_context_extractor_agent_spark.streaming import streaming_sessionize

    base = dt.datetime(2024, 3, 1)
    rows = []
    for uid in range(4):
        t = base + dt.timedelta(minutes=uid)
        for s in range(3):                      # 3 sessions per user
            for e in range(2 + uid % 2):        # 2-3 events each
                rows.append((uid, t))
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=40)       # gap > 30min closes
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    cut = base + dt.timedelta(minutes=45)
    src = tmp_path / "sess_src"
    df.filter(F.col("ts") < cut).coalesce(1).write.parquet(
        str(src / "b1.parquet"))
    df.filter(F.col("ts") >= cut).coalesce(1).write.parquet(
        str(src / "b2.parquet"))

    stream = spark.readStream.schema("user_id long, ts timestamp").option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/*")
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory").queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["user_id"], r["session_seq"]): (r["start_us"], r["end_us"],
                                           r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    # batch twin (q_sessionize logic), drop each user's last session
    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = df.withColumn(
        "sid",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = sess.groupBy("user_id", "sid").agg(
        F.min(us).alias("s"), F.max(us).alias("e"), F.count("*").alias("n")
    )
    last = agg.groupBy("user_id").agg(F.max("sid").alias("last_sid"))
    batch = {
        (r["user_id"], r["sid"] - 1): (r["s"], r["e"], r["n"])
        for r in agg.join(last, "user_id")
        .filter(F.col("sid") < F.col("last_sid")).collect()
    }
    assert streamed == batch and len(streamed) == 4 * 2
