"""Training-data operator tests: dedup families, similarity search,
multimodal kernels, labels and sinks."""

import hashlib

import pyspark.sql.functions as F
import pytest

from pdf_context_extractor_agent_spark.functions.dedup import (
    MINHASH_PRIME,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_coefficients,
    minhash_dedup,
    minhash_signatures,
    shingles,
    simhash,
    simhash_near_dups,
)
from pdf_context_extractor_agent_spark.functions.multimodal import (
    frame_sample,
    image_features,
    make_fake_image,
    resize_images,
)
from pdf_context_extractor_agent_spark.functions.similarity import (
    ann_topk,
    brute_force_topk,
    cosine_near_dup_pairs,
    lsh_index,
)


@pytest.fixture(scope="module")
def docs(spark):
    """Corpus with known structure: 0/1 identical, 2 near-dup of 0,
    3-5 distinct."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),                                   # exact dup of 0
        (2, base.replace("today", "tomorrow")),      # near dup of 0
        (3, "completely different text about spark sql aggregation pipelines"),
        (4, "yet another unrelated document discussing minhash banding theory"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    d = exact_dedup(docs)
    dups = {r.doc_id: (r.is_duplicate, r.keep_id) for r in d.collect()}
    assert dups[0] == (False, 0)
    assert dups[1] == (True, 0)
    assert not dups[2][0] and not dups[3][0]


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = minhash_dedup(docs, num_hashes=16, bands=8, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 1) in got  # identical
    assert (0, 2) in got or (1, 2) in got  # near dup shares most shingles
    assert all(a < b for a, b in got)
    # distinct docs never pair up
    assert not any({a, b} & {3, 4} and {a, b} & {0, 1, 2} for a, b in got)


def test_minhash_identical_signatures(spark, docs):
    sigs = {r.doc_id: tuple(v for k, v in r.asDict().items() if k.startswith("mh_"))
            for r in minhash_signatures(shingles(docs), 8).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def _py_hash60(key: str) -> int:
    return int(hashlib.md5(f"0:{key}".encode()).hexdigest()[:15], 16)


def test_minhash_signatures_match_python(spark, docs):
    """One md5 base hash per shingle, then k exact universal hashes:
    plain-Python hashlib arithmetic gives the same signature values."""
    coeffs = minhash_coefficients(8)
    assert all(1 <= a < MINHASH_PRIME and 0 <= b < MINHASH_PRIME for a, b in coeffs)
    sh = shingles(docs)
    by_doc: dict[int, list[str]] = {}
    for r in sh.collect():
        by_doc.setdefault(r.doc_id, []).append(r.shingle)
    want = {
        d: tuple(
            min((_py_hash60(s) % MINHASH_PRIME * a + b) % MINHASH_PRIME for s in ss)
            for a, b in coeffs
        )
        for d, ss in by_doc.items()
    }
    got = {
        r.doc_id: tuple(r[f"mh_{k}"] for k in range(8))
        for r in minhash_signatures(sh, 8).collect()
    }
    assert got == want and len(got) == 6


def test_simhash_matches_python(spark, docs):
    """60 ±1 bit sums over md5_hash60 word hashes, positive sum → bit set."""
    want = {}
    for r in docs.collect():
        words = " ".join(r.text.strip().split()).lower().split(" ")
        fp = 0
        for b in range(60):
            if sum(1 if _py_hash60(w) >> b & 1 else -1 for w in words) > 0:
                fp |= 1 << b
        want[r.doc_id] = fp
    got = {r.doc_id: r.simhash64 for r in simhash(docs).collect()}
    assert got == want
    assert len(set(got.values())) > 2 and all(0 <= v < 1 << 60 for v in got.values())


def test_lsh_candidates_subset_of_pairs(spark, docs):
    cands = lsh_candidate_pairs(minhash_signatures(shingles(docs), 16), bands=4)
    got = {(r.doc_a, r.doc_b) for r in cands.collect()}
    assert (0, 1) in got


def test_simhash_near_dups(spark, docs):
    fps = simhash(docs)
    vals = {r.doc_id: r.simhash64 for r in fps.collect()}
    assert vals[0] == vals[1]
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dups(fps, 60).collect()}
    assert pairs.get((0, 1)) == 0
    near = pairs.get((0, 2))
    assert near is not None and near <= 16


def test_simhash_bands_find_every_pair_within_hamming_3(spark):
    """The four bands tile the 60-bit fingerprint (15 bits each), so by
    pigeonhole the banded join finds every pair an all-pairs scan finds
    within Hamming 3 — including pairs that differ only in bits 45-59,
    the top band — and no band is a short one that bits 60-63 (always
    0) pad out."""
    import random

    rnd = random.Random(7)
    fps = []
    for base in range(30):
        fp = rnd.getrandbits(60)
        fps.append(fp)
        for k in (1, 2, 3):
            bits = rnd.sample(range(60), k)
            fps.append(fp ^ sum(1 << b for b in bits))
        top = rnd.sample(range(45, 60), 3)
        fps.append(fp ^ sum(1 << b for b in top))
    # one differing bit in each 15-bit band: Hamming 4, identical in
    # bits 48-59 — a candidate only under a short 12-bit top band
    far = fps[0] ^ (1 << 0) ^ (1 << 15) ^ (1 << 30) ^ (1 << 45)
    fps.append(far)
    rows = list(enumerate(fps))
    df = spark.createDataFrame(rows, "doc_id long, simhash64 long")
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dups(df, 60).collect()}
    want = {
        (i, j): bin(a ^ b).count("1")
        for i, a in rows for j, b in rows
        if i < j and bin(a ^ b).count("1") <= 3
    }
    assert len(want) >= 120
    assert {p: h for p, h in got.items() if h <= 3} == want
    assert (0, len(fps) - 1) not in got


def test_brute_force_topk(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    top = brute_force_topk(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [0, 1]
    assert top[0].cos_sim == 1.0


def test_ann_matches_brute_force_top1(spark):
    from pdf_context_extractor_agent_spark.sources import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    brute = brute_force_topk(emb, q, k=1).first()
    ann = ann_topk(lsh_index(emb), q, k=1, probe_hamming=0).first()
    assert brute.vec_id == 7  # self-match sanity
    assert ann.vec_id == 7    # the query's own bucket contains itself


def test_lsh_index_dim_probe_edges(spark):
    """The dim probe on edge frames: an empty (or all-null) frame gets
    the constant bucket 0, ragged vector lengths raise a ValueError
    naming the lengths, and an explicit dim skips the probe."""
    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    assert lsh_index(empty).columns == ["vec_id", "embedding", "bucket"]
    assert lsh_index(empty).count() == 0
    nulls = spark.createDataFrame([(0, None), (1, None)], schema)
    assert [r.bucket for r in lsh_index(nulls).collect()] == [0, 0]
    ragged = spark.createDataFrame([(0, [1.0, 0.0]), (1, [1.0, 0.0, 1.0])], schema)
    with pytest.raises(ValueError, match="lengths 2..3"):
        lsh_index(ragged)
    assert lsh_index(ragged, dim=2).count() == 2


def test_ivf_topk_self_match_and_pruning(spark):
    from pdf_context_extractor_agent_spark.functions.similarity import ivf_index, ivf_topk
    from pdf_context_extractor_agent_spark.sources import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    top = ivf_topk(emb, q, k=3, stride=29, nprobe=3).collect()
    # the query vector's own cell is always among the probed cells
    assert top[0].vec_id == 7 and top[0].cos_sim == 1.0
    # every vector lands in exactly one cell, cells come from the centroid set
    idx = ivf_index(emb, stride=29)
    n = emb.count()
    assert idx.count() == n
    cents = {r.vec_id for r in emb.filter(F.col("vec_id") % 29 == 0).collect()}
    cells = {r.cell for r in idx.select("cell").distinct().collect()}
    assert cells <= cents


def test_sq_topk_recall_and_code_range(spark):
    from pdf_context_extractor_agent_spark.functions.similarity import (
        sq_codes,
        sq_minmax,
        sq_topk,
    )
    from pdf_context_extractor_agent_spark.sources import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    lo, hi = sq_minmax(emb)
    codes = emb.select(
        F.array_min(sq_codes(F.col("embedding"), lo, hi)).alias("mn"),
        F.array_max(sq_codes(F.col("embedding"), lo, hi)).alias("mx"),
    ).agg(F.min("mn"), F.max("mx")).first()
    assert codes[0] >= -128 and codes[1] <= 127
    top = sq_topk(emb, q, k=5)
    got = [r.vec_id for r in top.collect()]
    assert got[0] == 7  # self-match survives quantization
    # quantized neighborhood should largely agree with the exact one
    exact = {r.vec_id for r in brute_force_topk(emb, q, k=5).collect()}
    assert len(set(got) & exact) >= 3


def test_sq_degenerate_constant_vectors(spark):
    from pdf_context_extractor_agent_spark.functions.similarity import sq_topk

    emb = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    # hi == lo → scale 0, every code -128; deterministic id tie-break
    top = sq_topk(emb, [0.5, 0.5], k=2).collect()
    assert [r.vec_id for r in top] == [0, 1]
    assert top[0].qscore == top[1].qscore == 2 * 128 * 128


def test_cosine_near_dup_pairs(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = cosine_near_dup_pairs(emb, threshold=0.99, n_planes=4, dim=2).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_multimodal_features_and_resize(spark):
    media = spark.createDataFrame(
        [(i, "image", make_fake_image(i, 16, 8)) for i in range(10)],
        "media_id long, kind string, payload binary",
    )
    feats = {r.media_id: r for r in image_features(media).collect()}
    assert feats[0].width == 16 and feats[0].height == 8
    assert 0 <= feats[0].mean_intensity <= 255
    assert abs(sum(feats[0].histogram) - 1.0) < 1e-9
    resized = resize_images(media, 4, 4)
    f2 = image_features(resized).first()
    assert (f2.width, f2.height) == (4, 4)
    frames = frame_sample(media, every_n=2)
    assert frames.filter(F.col("media_id") == 0).count() == 4  # 8 rows / 2


def test_image_ahash_duplicates_and_resize_fixpoint(spark):
    from pdf_context_extractor_agent_spark.functions.multimodal import image_ahash

    media = spark.createDataFrame(
        # 6 distinct + ids 6,7 duplicating payloads 0,1
        [(i, "image", make_fake_image(i % 6, 16 + (i % 6) % 5, 16)) for i in range(8)],
        "media_id long, kind string, payload binary",
    )
    hashes = {r.media_id: r.ahash64 for r in image_ahash(media).collect()}
    assert hashes[6] == hashes[0] and hashes[7] == hashes[1]
    # ahash samples the same nearest-neighbor grid a resize-to-8x8
    # does, so hashing the resized image is a fixpoint of the codec
    resized_hashes = {
        r.media_id: r.ahash64 for r in image_ahash(resize_images(media, 8, 8)).collect()
    }
    assert resized_hashes == hashes


def test_image_neardup_band_join_exhaustive_at_hamming_3(spark):
    from pdf_context_extractor_agent_spark.functions.multimodal import (
        image_ahash,
        image_near_dups,
    )

    media = spark.createDataFrame(
        [(i, "image", make_fake_image(i % 24, 16 + (i % 24) % 8, 16)) for i in range(32)],
        "media_id long, kind string, payload binary",
    )
    hdf = image_ahash(media)
    hashes = {r.media_id: r.ahash64 for r in hdf.collect()}
    expected = {
        (a, b)
        for a in hashes
        for b in hashes
        if a < b and bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {(r.media_a, r.media_b) for r in image_near_dups(hdf, max_hamming=3).collect()}
    assert got == expected
    assert expected  # the duplicate ids guarantee at least 8 hits


def test_labels_join(spark):
    from pdf_context_extractor_agent_spark.functions.labels import (
        BALANCE_SHEET_LABELS,
        en_key,
        get_label,
        with_labels,
    )

    assert get_label("net_profit", "income_statement") == "净利润"
    assert get_label("货币资金", "balance_sheet") == "货币资金"  # fallback
    # full balance map (reference statement_labels.py:7-88): EN → ZH
    assert get_label("cash", "balance_sheet") == "货币资金"
    assert get_label("treasury_stock", "balance_sheet") == "减：库存股"
    assert get_label("total_liabilities_and_equity", "balance_sheet") == "负债和所有者权益总计"
    assert len(BALANCE_SHEET_LABELS) >= 70
    # reverse direction: ZH item name → reference English key
    assert en_key("应收账款") == "accounts_receivable"
    assert en_key("未映射科目") == "未映射科目"  # fallback to key itself
    parsed = spark.createDataFrame(
        [("u", "income_statement", "profit", "net_profit", "五、净利润", "1", "1", None, 3, False)],
        "url string, statement_type string, section_path string, standard_name string, "
        "original_name string, current_period string, previous_period string, "
        "note string, row_order int, is_total boolean",
    )
    lab = with_labels(parsed, spark).first()
    assert lab.label == "净利润"


def test_sinks(spark, tmp_path):
    from pdf_context_extractor_agent_spark.sources.sinks import (
        nested_document_json,
        write_parsed_csv,
    )

    parsed = spark.createDataFrame(
        [("u1", "balance_sheet", "assets.current_assets", "货币资金", "货币资金",
          "100.00", "90.00", "六、1", 2, False),
         ("u1", "balance_sheet", "assets.assets_total", "assets_total", "资产总计",
          "100.00", "90.00", None, 5, True)],
        "url string, statement_type string, section_path string, standard_name string, "
        "original_name string, current_period string, previous_period string, "
        "note string, row_order int, is_total boolean",
    )
    doc = nested_document_json(parsed).first()
    assert '"ordered_items"' in doc.document_json
    assert doc.document_json.index("货币资金") < doc.document_json.index("资产总计")
    write_parsed_csv(parsed, str(tmp_path / "csv"))
    back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert back.count() == 2


def test_balance_excel_ordered_walk():
    """S7 golden: the workbook row structure the reference's ordered
    walk produces (main.py:166-370) — title + blank, section/category
    header rows at transitions, no category rows after totals."""
    from pdf_context_extractor_agent_spark.sources.sinks import balance_excel_rows

    items = [
        {"section_path": "assets.current_assets", "original_name": "货币资金",
         "current_period": "100", "previous_period": "90", "note": "1"},
        {"section_path": "assets.current_assets", "original_name": "存货",
         "current_period": "50", "previous_period": "40", "note": None},
        {"section_path": "assets.current_assets_total", "original_name": "流动资产合计",
         "current_period": "150", "previous_period": "130", "note": None},
        {"section_path": "assets.non_current_assets", "original_name": "固定资产",
         "current_period": "30", "previous_period": "20", "note": None},
        {"section_path": "assets.assets_total", "original_name": "资产总计",
         "current_period": "180", "previous_period": "150", "note": None},
        {"section_path": "liabilities.current_liabilities", "original_name": "短期借款",
         "current_period": "10", "previous_period": "5", "note": None},
        {"section_path": "equity", "original_name": "股本",
         "current_period": "70", "previous_period": "70", "note": None},
        {"section_path": "liabilities_and_equity_total", "original_name": "负债和所有者权益总计",
         "current_period": "180", "previous_period": "150", "note": None},
    ]
    rows = balance_excel_rows(items)
    skeleton = [(r["部分"], r["类别"], r["项目名称"]) for r in rows]
    assert skeleton == [
        ("合并资产负债表", "", ""),
        ("", "", ""),                        # blank after title
        ("资产", "", ""),                    # section header (once)
        ("", "流动资产", ""),                # category header
        ("", "", "货币资金"),
        ("", "", "存货"),
        ("", "", "流动资产合计"),            # *_total stays in category walk
        ("", "非流动资产", ""),              # category switch, no new section row
        ("", "", "固定资产"),
        ("", "", "资产总计"),                # assets_total: no header row
        ("", "", ""),                        # blank before the new section
        ("负债和所有者权益", "", ""),
        ("", "流动负债", ""),
        ("", "", "短期借款"),
        ("", "所有者权益", ""),
        ("", "", "股本"),
        ("", "", "负债和所有者权益总计"),
    ]
    # None values render as empty strings
    assert rows[5]["附注"] == ""


def test_repetition_features(spark):
    from pdf_context_extractor_agent_spark.functions.quality import repetition_features

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "x y z w"), (2, "solo")], "doc_id long, text string"
    )
    r = {x.doc_id: x for x in repetition_features(docs).collect()}
    assert r[0].distinct_word_ratio == 0.5          # {a,b} of 4 words
    assert abs(r[0].top_bigram_frac - 2 / 3) < 1e-9  # 'a b' twice of 3 bigrams
    assert r[1].distinct_word_ratio == 1.0 and r[1].top_bigram_frac == 1 / 3
    # a one-word doc has NO bigrams -> zero repetition evidence (the
    # degenerate lone-word "bigram" used to score a false 1.0)
    assert r[2].distinct_word_ratio == 1.0 and r[2].top_bigram_frac == 0.0


def test_repetition_features_jumbo_doc_linear(spark):
    """A 10⁵-word document must complete in bounded time (the naive
    distinct×scan formulation is O(n²) ≈ 10¹⁰ comparisons and would hang
    a single task; the sorted-run-length fold is O(n log n))."""
    import time

    from pdf_context_extractor_agent_spark.functions.quality import repetition_features

    n = 100_000
    # worst case for the old algorithm: mostly-distinct bigrams, plus a
    # known repeated bigram planted 50 times
    words = [f"w{i}" for i in range(n)] + ["rep", "pair"] * 50
    docs = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    t0 = time.monotonic()
    row = repetition_features(docs).collect()[0]
    elapsed = time.monotonic() - t0
    total_bg = len(words) - 1
    assert abs(row.top_bigram_frac - 50 / total_bg) < 1e-12
    assert elapsed < 60, f"jumbo repetition took {elapsed:.1f}s — not linear"


def test_pii_mask_and_counts(spark):
    import pyspark.sql.functions as F

    from pdf_context_extractor_agent_spark.functions.quality import mask_pii, pii_counts

    docs = spark.createDataFrame(
        [(0, "mail a.b+c@test.org call +123-456-7890 or 999-123-4567 end"),
         (1, "clean text")],
        "doc_id long, text string",
    )
    c = pii_counts(F.col("text"))
    out = {r.doc_id: r for r in docs.select(
        "doc_id", c["email"].alias("e"), c["phone"].alias("p"),
        mask_pii(F.col("text")).alias("m")).collect()}
    assert (out[0].e, out[0].p) == (1, 2)
    assert out[0].m == "mail [EMAIL] call [PHONE] or [PHONE] end"
    assert (out[1].e, out[1].p) == (0, 0) and out[1].m == "clean text"


def test_chunk_dedup_c4_style(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(0, "x y z w"), (1, "x y q r"), (2, "q r x y")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in chunk_dedup(docs).collect()}
    # doc 0 owns 'x y' and 'z w'
    assert (out[0].n_chunks, out[0].n_removed, out[0].kept_text) == (2, 0, "x y z w")
    # doc 1 loses 'x y' (owned by 0), keeps 'q r'
    assert (out[1].n_chunks, out[1].n_removed, out[1].kept_text) == (2, 1, "q r")
    # doc 2 loses both ('q r' owned by 1, 'x y' by 0)
    assert (out[2].n_chunks, out[2].n_removed, out[2].kept_text) == (2, 2, "")


def test_fast_match_equals_rlike_for_every_bank_pattern(spark):
    """fast_match compiles literal pattern shapes to string predicates;
    it must agree with rlike for EVERY pattern in every bank, over a
    probe set covering hits, misses, prefixes, suffixes and embeddings."""
    import pyspark.sql.functions as F

    from pdf_context_extractor_agent_spark.functions.text import fast_match
    from pdf_context_extractor_agent_spark.patterns import (
        _ANCHOR_SPEC,
        HEADER_ALSO_MATCH,
        HEADER_MUST_MATCH,
        STATEMENT_END_PATTERNS,
        item_pattern_list,
        item_pid_ranges,
    )

    pats = {HEADER_MUST_MATCH, HEADER_ALSO_MATCH}
    for stmt in item_pid_ranges():
        pats |= {p for _i, p in item_pattern_list(stmt)}
    for spec in _ANCHOR_SPEC.values():
        for _n, _r, ps in spec:
            pats |= set(ps)
    for ps in STATEMENT_END_PATTERNS.values():
        pats |= set(ps)

    probes = set()
    for p in sorted(pats):
        body = p.strip("^$")
        lit = "".join(ch for ch in body if ch not in ".^$*+?()[]{}|\\")
        probes |= {lit, f"x{lit}", f"{lit}x", f"x{lit}x", lit[:-1], ""}
    probe_df = spark.createDataFrame([(s,) for s in sorted(probes)], "s string")

    mismatches = F.lit(0)
    for p in sorted(pats):
        eq = F.coalesce(fast_match(F.col("s"), p), F.lit(False)) == F.coalesce(
            F.col("s").rlike(p), F.lit(False)
        )
        mismatches = mismatches + F.when(~eq, 1).otherwise(0)
    total = probe_df.agg(F.sum(mismatches)).first()[0]
    assert total == 0


def test_duplicate_spans_canonical_exempt_and_merge(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    # k=3: doc 0 holds the canonical copy of "a b c d"; doc 1 repeats it
    # inside unique framing; doc 2 is entirely unique
    docs = spark.createDataFrame(
        [
            (0, "a b c d zero only tail here"),
            (1, "one unique a b c d another tail"),
            (2, "totally distinct words without repeats"),
        ],
        "doc_id long, text string",
    )
    spans = {r.doc_id: r for r in duplicate_spans(docs, k=3).collect()}
    # windows "a b c" and "b c d" (doc1 pos 2,3) are dups of doc0 pos 0,1;
    # overlapping → ONE merged span covering tokens 2..6
    assert set(spans) == {1}
    s = spans[1]
    assert (s.span_start, s.span_end, s.n_windows) == (2, 6, 2)

    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, duplicate_spans(docs, k=3)).collect()
    }
    assert out[0].clean_text == "a b c d zero only tail here"  # canonical kept
    assert out[0].n_removed_tokens == 0
    assert out[1].clean_text == "one unique another tail"
    assert out[1].n_removed_tokens == 4
    assert out[2].n_removed_tokens == 0


def test_duplicate_spans_within_single_doc(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import duplicate_spans

    # same phrase twice in ONE doc: second occurrence flagged, first kept
    docs = spark.createDataFrame(
        [(7, "p q r filler words here p q r")], "doc_id long, text string"
    )
    spans = duplicate_spans(docs, k=3).collect()
    assert len(spans) == 1
    assert (spans[0].span_start, spans[0].span_end) == (6, 9)


def test_script_features_multiscript(spark):
    from pdf_context_extractor_agent_spark.functions.quality import script_features

    docs = spark.createDataFrame(
        [
            (0, "资产负债表 货币资金"),          # pure Han
            (1, "hello world"),                  # pure Latin
            (2, "Привет мир"),                   # Cyrillic
            (3, "abc 资产 123"),                 # mixed
            (4, "…—!!??"),                       # nothing known → other
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in script_features(docs).collect()}
    assert out[0].main_script == "han" and out[0].han_frac == 1.0
    assert out[1].main_script == "latin" and out[1].latin_frac == 1.0
    assert out[2].main_script == "cyrillic" and out[2].cyrillic_frac == 1.0
    assert out[3].latin_frac == 0.375 and out[3].han_frac == 0.25
    assert out[3].digit_frac == 0.375 and out[3].main_script in ("latin", "digit")
    assert out[4].script_other_frac == 1.0 and out[4].main_script == "latin"


def test_containment_short_doc_inside_long(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import (
        containment_pairs,
        shingles,
    )

    d = spark.createDataFrame(
        [
            (0, "one two three four five"),                      # 3 shingles
            (1, "one two three four five six seven eight"),      # 6, superset
            (2, "nine ten eleven twelve thirteen"),               # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2)], "doc_a long, doc_b long"
    )
    out = {(r.doc_a, r.doc_b): r for r in containment_pairs(pairs, shingles(d), 0.8).collect()}
    emb = out[(0, 1)]
    assert emb.containment_a == pytest.approx(1.0)   # A fully inside B
    assert emb.containment_b == pytest.approx(0.5)
    assert emb.containment == pytest.approx(1.0)
    assert emb.is_contained
    dis = out[(0, 2)]
    assert dis.containment == pytest.approx(0.0)
    assert not dis.is_contained


def test_corpus_stats_hand_computed(spark):
    from pdf_context_extractor_agent_spark.functions.quality import corpus_stats

    d = spark.createDataFrame(
        [
            (0, "a b c", "en", "s1"),
            (1, "a  b   c", "en", "s1"),   # same normalized fp as doc 0
            (2, "d e f g", "fr", "s1"),
            (3, "x", "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.source: r for r in corpus_stats(d).collect()}
    s1 = out["s1"]
    assert s1.n_docs == 3
    assert s1.total_tokens == 3 + 3 + 4
    assert s1.n_langs == 2
    assert s1.dup_docs == 1              # docs 0/1 collapse after ws-normalization
    assert s1.median_tokens == pytest.approx(3.0)
    s2 = out["s2"]
    assert (s2.n_docs, s2.total_tokens, s2.dup_docs) == (1, 1, 0)


def test_compression_ratio_repetitive_vs_random(spark):
    import zlib

    from pdf_context_extractor_agent_spark.functions.quality import compression_ratio

    rep = "spam " * 400
    prose = " ".join(f"w{i*7919%9973}" for i in range(400))
    d = spark.createDataFrame(
        [(0, rep), (1, prose), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in compression_ratio(d).collect()}
    # exact parity with local zlib at the pinned level
    assert out[0].n_compressed == len(zlib.compress(rep.encode(), 6))
    assert out[1].n_compressed == len(zlib.compress(prose.encode(), 6))
    # repetitive text compresses far better than pseudo-random words
    assert out[0].compression_ratio < 0.05
    assert out[1].compression_ratio > 0.3
    assert out[0].n_bytes == len(rep.encode())
    # null text → empty doc, ratio pinned to 1.0
    assert (out[2].n_bytes, out[2].compression_ratio) == (0, 1.0)


def test_edit_distance_pairs_blocking_exhaustive(spark):
    """Length-bucket blocking must find exactly the all-pairs results
    (lev <= k forces |len diff| <= k), including pairs whose lengths
    straddle a bucket boundary, with no duplicate rows."""
    from pdf_context_extractor_agent_spark.functions.dedup import edit_distance_pairs

    texts = {
        0: "abcdefghijklmno",    # len 15 — bucket boundary at 16
        1: "abcdefghijklmnop",   # len 16, lev=1 vs 0
        2: "abcdefghijklmnopq",  # len 17, lev=2 vs 0
        3: "abcdefghijklmnoX",   # len 16, lev vs 1 = 1
        4: "zzzzzzzzzzzzzzzz",   # len 16, far from all
        5: "abcdefghijklmno",    # exact dup of 0
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in edit_distance_pairs(docs, max_dist=2, bucket=16).collect()
    }
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]
    expected = {
        (a, b): lev(texts[a], texts[b])
        for a in texts
        for b in texts
        if a < b and lev(texts[a], texts[b]) <= 2
    }
    assert got == expected
    assert (0, 5) in got and got[(0, 5)] == 0
    assert (0, 2) in got and got[(0, 2)] == 2  # straddles the 16-bucket edge


def test_char_diversity_hand_computed(spark):
    from pdf_context_extractor_agent_spark.functions.quality import char_diversity

    docs = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, "a"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in char_diversity(docs).collect()}
    assert r[0].char_diversity == 0.0                      # 1 - 12/12
    assert abs(r[1].char_diversity - (1 - 4 / 12)) < 1e-6  # two chars ×2
    assert r[2].char_diversity == 1.0                      # all distinct
    assert r[3].char_diversity is None and r[3].n_chars_counted == 1
    assert r[4].char_diversity is None and r[4].n_chars_counted == 0
    assert r[5].char_diversity is None and r[5].n_distinct_chars == 0


def test_margin_bitext_mutual_translation_pair(spark):
    """A planted translation pair (near-identical vectors) must be
    mined as each other's forward-best with a margin above its
    neighbourhood average, flagged mutual; a hub-adjacent source whose
    best target is claimed harder by another source stays non-mutual."""
    from pdf_context_extractor_agent_spark.functions.similarity import (
        margin_bitext_pairs,
    )

    src = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0]), (2, [0.0, 1.0, 0.1, 0.0]),
         (4, [0.1, 0.9, 0.05, 0.0])],
        "vec_id long, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [(1, [1.0, 0.04, 0.0, 0.0]), (3, [0.05, 1.0, 0.1, 0.0]),
         (5, [-1.0, 0.2, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.src_id: r
        for r in margin_bitext_pairs(
            src, tgt, k=2, n_planes=4, dim=4, threshold=0.0
        ).collect()
    }
    assert rows[0].tgt_id == 1 and rows[0].is_mutual
    # margin == 1.0 exactly when the probed neighbourhood is just the
    # pair itself (cos / mean-of-one-cos); never below its average
    assert rows[0].margin >= 1.0
    # 2 and 4 both want target 3; only 3's own best (higher cos) is mutual
    contested = [r for r in (rows.get(2), rows.get(4)) if r and r.tgt_id == 3]
    assert contested and sum(r.is_mutual for r in contested) <= 1


# --------------------------------------------------------------------------
# content-defined chunking
# --------------------------------------------------------------------------

def test_cdc_chunks_reassemble_exactly(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import cdc_chunks

    texts = [
        # varied grams (periodic text has too few distinct 8-grams to
        # ever hit a boundary — that degenerate case is doc 5)
        (1, " ".join(f"tok{i} word" for i in range(120))),
        (2, "short"),
        (3, ""),
        (4, "héllo wörld é " * 40),  # multibyte chars
        (5, "word " * 200),          # periodic → may stay one chunk
    ]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    rows = cdc_chunks(df).orderBy("doc_id", "chunk_idx").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    # chunks concatenate back to the original text, in order
    for did, text in texts:
        assert "".join(by_doc.get(did, [])) == text
    # a 1000-char doc at divisor 64 should split into multiple chunks
    assert len(by_doc[1]) > 3


def test_cdc_insertion_resilience(spark):
    """The CDC selling point: a prefix insertion leaves every chunk
    after the first boundary identical, so the twin re-aligns and
    dedups against the original — fixed-offset chunking would shift
    every window."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        cdc_chunks,
        cdc_dedup,
    )

    body = "the quick brown fox jumps over the lazy dog again and again " * 20
    df = spark.createDataFrame(
        [(1, body), (2, "XXINSERTXX " + body)], "doc_id int, text string"
    )
    ch = cdc_chunks(df)
    h1 = {r["chunk_md5"] for r in ch.filter("doc_id = 1").collect()}
    h2 = {r["chunk_md5"] for r in ch.filter("doc_id = 2").collect()}
    shared = h1 & h2
    assert len(shared) >= len(h1) - 2  # only the head chunk(s) differ
    dd = cdc_dedup(df)
    dup_rows = dd.filter("doc_id = 2 AND is_dup").collect()
    assert len(dup_rows) >= len(shared)
    assert all(r["owner_doc"] == 1 for r in dup_rows)


def test_cdc_no_shuffle_before_digest_group(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import cdc_chunks

    df = spark.createDataFrame([(1, "abc " * 100)], "doc_id int, text string")
    plan = cdc_chunks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


# --------------------------------------------------------------------------
# winnowing fingerprints
# --------------------------------------------------------------------------

def _py_winnow(text, k=5, w=4):
    import hashlib

    n = len(text)
    if n < k:
        return set()
    hs = [
        int(hashlib.md5(text[i:i + k].encode()).hexdigest()[:12], 16)
        for i in range(n - k + 1)
    ]
    out = set()
    for end in range(w - 1, len(hs)):
        window = [(hs[p], -p) for p in range(end - w + 1, end + 1)]
        h, np = min(window)
        out.add((-np, h))
    return out


def test_winnow_matches_pure_python(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import (
        winnow_fingerprints,
    )

    texts = [
        (1, "the winnowing algorithm selects local minima of gram hashes"),
        (2, "short"),
        (3, "aaaaaaaaaaaaaaaa"),  # all grams identical → tie-breaking path
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["gram_hash"]))
    for did, t in texts:
        assert got.get(did, set()) == _py_winnow(t), f"doc {did}"


def test_winnow_guarantee_shared_substring(spark):
    """Any common substring of length ≥ k+w-1 = 8 must yield at least
    one shared fingerprint (the winnowing correctness guarantee)."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    common = "incriminating shared passage of text"
    df = spark.createDataFrame(
        [(1, "alpha preamble " + common + " omega"),
         (2, "totally different framing: " + common + "!!"),
         (3, "unrelated content with nothing borrowed here at all")],
        "doc_id int, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in winnow_pairs(winnow_fingerprints(df), min_shared=1)
             .collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1


def test_hard_negatives_excludes_own_cluster(spark):
    from pdf_context_extractor_agent_spark.functions.similarity import (
        hard_negatives,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]), (1, [0.99, 0.14]),    # cluster 0
            (2, [0.98, 0.19]), (3, [0.0, 1.0]),    # cluster 1
        ],
        "vec_id long, embedding array<float>",
    )
    assign = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1)], "vec_id long, cluster int"
    )
    got = {(r["vec_id"], r["neg_rank"]): r["neg_id"]
           for r in hard_negatives(emb, assign, k=2).collect()}
    # vec 0's hardest negative is 2 (cosine ≈ .98), NOT its clustermate 1
    assert got[(0, 1)] == 2 and got[(0, 2)] == 3
    # vec 2's hardest negatives are the near-parallel cluster-0 vectors
    assert got[(2, 1)] in (0, 1)
    plan = hard_negatives(emb, assign, k=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_attribute_records_json_shape(spark):
    import json

    from pdf_context_extractor_agent_spark.functions.quality import (
        attribute_records,
    )

    docs = spark.createDataFrame(
        [(1, "hello world a@b.co +555-123-4567 caffÃ©"), (2, None)],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["attributes"]
           for r in attribute_records(docs).collect()}
    a = json.loads(got[1])  # the concat must produce VALID json
    assert a["pii_email"] == 1 and a["pii_phone"] == 1
    assert a["ws_tokens"] == 5 and a["n_chars"] == len(
        "hello world a@b.co +555-123-4567 caffÃ©"
    )
    assert a["moji_ppm"] > 0  # the mojibake é shrinks under repair
    b = json.loads(got[2])
    assert b == {"n_chars": 0, "ws_tokens": 1, "re_tokens": 0,
                 "pii_email": 0, "pii_phone": 0, "moji_ppm": 0}


def test_lsh_eval_metrics(spark):
    from pdf_context_extractor_agent_spark.functions.dedup import lsh_eval

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base),
        (2, base.replace("alpha", "omega")),   # near dup of 1
        (3, "totally different words entirely here now and forever more"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_eval(df, threshold=0.5).collect()[0]
    assert r["n_truth"] >= 1           # (1,2) is a true near-dup pair
    assert r["n_verified"] <= r["n_truth"]
    assert r["n_missed"] == r["n_truth"] - r["n_verified"]
    assert 0 <= r["recall_ppm"] <= 1_000_000
    assert 0 <= r["cand_precision_ppm"] <= 1_000_000
    # 16 hashes / 8 bands on a strong near-dup: banding should find it
    assert r["n_verified"] >= 1 and r["recall_ppm"] == 1_000_000


# --------------------------------------------------------------------------
# real PNG codec (stdlib zlib decode path)
# --------------------------------------------------------------------------

def _encode_png(arr, color_type, row_filters, palette=None):
    """Spec-side PNG encoder (test-local, independent of the decoder):
    applies the requested per-row filter transforms and assembles
    IHDR/PLTE/IDAT/IEND chunks."""
    import struct
    import zlib

    import numpy as np

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        raw = flat[y]
        ft = row_filters[y % len(row_filters)]
        f = raw.copy()
        if ft == 1:
            f[ch:] = raw[ch:] - raw[:-ch]
        elif ft == 2:
            f = raw - prev
        elif ft == 3:
            for i in range(stride):
                a = raw[i - ch] if i >= ch else 0
                f[i] = raw[i] - ((int(a) + int(prev[i])) >> 1)
        elif ft == 4:
            for i in range(stride):
                a = int(raw[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                f[i] = raw[i] - pred
        out += bytes([ft]) + (f & 0xFF).astype(np.uint8).tobytes()
        prev = raw
    body = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    )
    if palette is not None:
        body += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    body += chunk(b"IDAT", zlib.compress(out)) + chunk(b"IEND", b"")
    return body


def test_png_decoder_all_filters_grayscale():
    import numpy as np

    from pdf_context_extractor_agent_spark.functions.multimodal import _decode_png

    rng = np.arange(9 * 11, dtype=np.uint8).reshape(9, 11) * 7 % 251
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        blob = _encode_png(rng, color_type=0, row_filters=filters)
        w, h, gray = _decode_png(blob)
        assert (w, h) == (11, 9)
        assert np.array_equal(gray, rng), filters


def test_png_decoder_rgb_rgba_palette_luma():
    import numpy as np

    from pdf_context_extractor_agent_spark.functions.multimodal import _decode_png

    rgb = (np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3) * 29) % 255
    rgb32 = rgb.astype(np.uint32)
    luma = (
        (299 * rgb32[:, :, 0] + 587 * rgb32[:, :, 1] + 114 * rgb32[:, :, 2])
        // 1000
    ).astype(np.uint8)
    w, h, gray = _decode_png(_encode_png(rgb, 2, [0, 1, 2, 3, 4]))
    assert (w, h) == (4, 5) and np.array_equal(gray, luma)

    rgba = np.dstack([rgb, np.full((5, 4), 200, np.uint8)])
    _, _, gray_a = _decode_png(_encode_png(rgba, 6, [4, 2]))
    assert np.array_equal(gray_a, luma)  # alpha ignored

    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]])
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    exp = (
        (299 * palette[idx][:, :, 0] + 587 * palette[idx][:, :, 1]
         + 114 * palette[idx][:, :, 2]) // 1000
    ).astype(np.uint8)
    _, _, gray_p = _decode_png(_encode_png(idx, 3, [0, 1], palette=palette))
    assert np.array_equal(gray_p, exp)


def test_png_decoder_honest_raises():
    import struct as _s
    import zlib as _z

    import numpy as np
    import pytest

    from pdf_context_extractor_agent_spark.functions.multimodal import _decode_png

    arr = np.zeros((2, 2), np.uint8)
    blob = _encode_png(arr, 0, [0])
    interlaced = blob.replace(
        _s.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        _s.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1),
    )
    with pytest.raises(NotImplementedError, match="interlace"):
        _decode_png(interlaced)
    with pytest.raises(NotImplementedError, match="bit_depth"):
        _decode_png(blob.replace(
            _s.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
            _s.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0),
        ))


def test_image_ahash_on_real_png(spark):
    """An actual PNG payload must flow through image_ahash/image_features
    end-to-end (the VERDICT r4 'can't eat a JPEG' gap, closed for PNG):
    same pixels via FAKEIMG and via PNG must produce the same hash and
    features."""
    import numpy as np

    from pdf_context_extractor_agent_spark.functions.multimodal import (
        image_ahash,
        image_features,
        make_fake_image,
    )

    fake = make_fake_image(5, 16, 16)
    px = np.frombuffer(fake[16:], dtype=np.uint8).reshape(16, 16)
    png = _encode_png(px, 0, [0, 1, 2, 3, 4])
    media = spark.createDataFrame(
        [(1, "image", fake), (2, "image", png)],
        "media_id long, kind string, payload binary",
    )
    hashes = {r.media_id: r.ahash64 for r in image_ahash(media).collect()}
    assert hashes[1] == hashes[2]
    feats = {r.media_id: r for r in image_features(media).collect()}
    assert feats[1].mean_intensity == feats[2].mean_intensity
    assert feats[1].histogram == feats[2].histogram


def test_minhash_default_geometry(spark):
    """minhash_dedup's default band geometry must stay the sweep-chosen
    (k=32, b=8, r=4) for the 0.8-Jaccard target (SCALE.md 'LSH band
    geometry'): 100% measured recall at half the candidate volume of
    the r=2 geometries. A drive-by 'optimization' of these numbers
    silently loses near-duplicates."""
    import inspect

    from pdf_context_extractor_agent_spark.functions.dedup import minhash_dedup

    sig = inspect.signature(minhash_dedup)
    assert sig.parameters["num_hashes"].default == 32
    assert sig.parameters["bands"].default == 8
    assert sig.parameters["threshold"].default == 0.8
    # r = hashes/bands must divide evenly (lsh_candidate_pairs slices
    # the signature into equal bands)
    assert sig.parameters["num_hashes"].default % sig.parameters["bands"].default == 0


def test_truncated_png_honest_raise():
    """Corrupt IDAT or short decompressed data raises the module's
    honest NotImplementedError, never a bare zlib/numpy error."""
    import numpy as np
    import pytest

    from pdf_context_extractor_agent_spark.functions.multimodal import _decode_png

    blob = _encode_png(np.zeros((4, 4), np.uint8), 0, [0])
    # corrupt the IDAT payload bytes (keep chunk framing)
    i = blob.find(b"IDAT") + 4
    bad = blob[:i] + bytes(8) + blob[i + 8:]
    with pytest.raises(NotImplementedError, match="no codec|truncated"):
        _decode_png(bad)
