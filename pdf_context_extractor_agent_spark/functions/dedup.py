"""Deduplication operators for web-scale training-data pipelines.

Four families, each with a distinct scale profile:

* exact        — hash-groupBy; one shuffle on the digest, first-wins.
* MinHash+LSH  — shingle→minhash→band→bucket-join; candidate pairs are
                 verified with exact Jaccard. The only all-pairs work
                 happens INSIDE buckets (the LSH contract).
* SimHash      — 64-bit sign-aggregated word hashes; near-dups share
                 bands of the fingerprint.
* embedding    — cosine near-dup over `array<float>` (see similarity.py
                 for the ANN path).

Everything is built-in column algebra: shingling is `split`+`transform`+
`sequence`, signatures are `groupBy(min)`, banding is string keys /
bit-slicing, bucket joins are plain equi-joins (AQE handles bucket
skew). MinHash and SimHash hash each shingle / word once with
``sketch.md5_hash60``; MinHash then applies k exact integer universal
hashes ``(a_k·x + b_k) mod (2^31 − 1)`` — so Spark, DuckDB and Python
compute the same signatures, bands and fingerprints bit for bit, and
the DuckDB oracles check the production pipelines themselves.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .iterate import iterate
from .sketch import md5_hash60


def normalized_text(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def normalized_words(text: Column) -> Column:
    """``normalized_text`` split on its single spaces."""
    return F.split(normalized_text(text), " ")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative per normalized-text digest.

    One shuffle on the 128-bit digest; at 10^12 rows this is the
    canonical first pass (the digest column is 16 bytes vs KBs of text,
    so the shuffle moves ~1% of the corpus volume).
    """
    h = F.md5(normalized_text(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        docs.withColumn("content_hash", h)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("is_duplicate", F.col("_rn") > 1)
        .withColumn("keep_id", F.first(id_col).over(w))
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------

def shingle_array(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of one text, in order: a sliding window
    expressed with `sequence` + `slice` (fewer than n words → one)."""
    words = normalized_words(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, one row each."""
    sh = shingle_array(F.col(text_col), n)
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


# Mersenne prime 2^31 - 1: a·x + b < 2^62 for a, b, x < P, so every
# universal hash is exact long arithmetic under ANSI mode on any engine
MINHASH_PRIME = (1 << 31) - 1


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """The ``(a_k, b_k)`` of the k universal hashes ``(a_k·x + b_k) mod P``
    — fixed md5-derived constants (a_k ≥ 1), embedded as literals in the
    Spark plan and the DuckDB oracle alike."""
    out = []
    for k in range(num_hashes):
        d = hashlib.md5(f"minhash:{k}".encode()).digest()
        a = 1 + int.from_bytes(d[:8], "big") % (MINHASH_PRIME - 1)
        out.append((a, int.from_bytes(d[8:], "big") % MINHASH_PRIME))
    return out


def minhash_base(shingle: Column) -> Column:
    """The one md5 per shingle: ``md5_hash60(shingle, 0) mod P``."""
    return md5_hash60(shingle, 0) % MINHASH_PRIME


def minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """MinHash signature per doc: one md5 base hash x per shingle, then
    for each k the min over shingles of ``(a_k·x + b_k) mod P``. One
    groupBy, k partial-aggregated mins — no per-row Python, no all-pairs
    anything, and bit-identical in DuckDB and plain Python."""
    x = sh.select("doc_id", minhash_base(F.col("shingle")).alias("_x"))
    aggs = [
        F.min((F.col("_x") * a + b) % MINHASH_PRIME).alias(f"mh_{k}")
        for k, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    return x.groupBy("doc_id").agg(*aggs)


def lsh_bands(mh: list[Column], bands: int) -> Column:
    """``array<struct<band_idx, band_key>>`` over a signature: band b's key
    is its r = k/bands members as decimal strings joined by ``'|'`` — no
    re-hash, so DuckDB computes the same key."""
    if len(mh) % bands != 0:
        raise ValueError(
            f"{len(mh)} minhashes do not band evenly into {bands} "
            "(leftover hashes would be silently dropped, weakening recall)"
        )
    r = len(mh) // bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws("|", *[c.cast("string") for c in mh[b * r:(b + 1) * r]]).alias("band_key"),
        )
        for b in range(bands)
    ])


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 4) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band.

    rows = bands × docs; the self-join is an equi-join on
    (band_idx, band_key) so only same-bucket docs ever meet. Output is
    unordered candidate pairs (a < b), possibly repeated once per shared
    band — intentionally NOT ``.distinct()``-ed: the verify step's
    per-pair aggregation collapses duplicates, so deduping here would
    spend a wide exchange on the pair set for nothing.
    """
    mh = [F.col(c) for c in sigs.columns if c.startswith("mh_")]
    banded = sigs.select(
        "doc_id", F.explode(lsh_bands(mh, bands)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    )


def _pair_shingle_counts(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Shared counting core of :func:`jaccard_verify` and
    :func:`containment_pairs`: per candidate pair, ``(doc_a, doc_b,
    _n_a, _n_common, _n_b)`` counted at the SHINGLE level — no
    ``collect_set`` arrays are ever built or shipped, and the
    distinct-counting makes the aggregation idempotent under duplicated
    candidate rows (band duplicates collapse here for free)."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("_doc_b"), F.col("shingle").alias("_shingle_b"))
    marked = (
        pairs.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("_doc_b"))
            & (F.col("shingle") == F.col("_shingle_b")),
            "left",
        )
    )
    agg = marked.groupBy("doc_a", "doc_b").agg(
        F.countDistinct("shingle").alias("_n_a"),
        F.countDistinct(
            F.when(F.col("_shingle_b").isNotNull(), F.col("shingle"))
        ).alias("_n_common"),
    )
    n_b = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("_n_b"))
    return agg.join(n_b, agg["doc_b"] == n_b["doc_id"]).select(
        "doc_a", "doc_b", "_n_a", "_n_common", "_n_b"
    )


def jaccard_verify(pairs: DataFrame, sh: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact word-shingle Jaccard for candidate pairs (the verify step
    after LSH), counted at the SHINGLE level — no ``collect_set`` arrays
    are ever built or shipped (a long near-dup-heavy document would
    otherwise re-ship its whole shingle set once per candidate pair):

    * pairs ⋈ shingles(doc_a)                — one row per (pair, a-shingle)
    * left-⋈ shingles on (doc_b, shingle)    — marks the intersection
    * groupBy(pair)                          — |A| and |A∩B| in one aggregation
    * ⋈ tiny per-doc shingle-count dim       — |B|; J = |A∩B| / (|A|+|B|-|A∩B|)

    Distinct-counting makes the aggregation idempotent under duplicated
    candidate rows, so upstream LSH generators don't need a pair-set
    ``.distinct()`` exchange — the per-pair groupBy here collapses
    band-duplicates for free.
    """
    j = _pair_shingle_counts(pairs, sh).select(
        "doc_a",
        "doc_b",
        (
            F.col("_n_common")
            / (F.col("_n_a") + F.col("_n_b") - F.col("_n_common"))
        ).alias("jaccard"),
    )
    return j.withColumn("is_near_dup", F.col("jaccard") >= threshold)


def containment_pairs(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT for candidate pairs — catches the
    quote/boilerplate case Jaccard misses: a short document wholly
    embedded in a long one has tiny Jaccard (union is dominated by the
    long doc) but containment ≈ 1 on the short side.

    Output per pair: ``containment_a`` (|A∩B|/|A|), ``containment_b``
    (|A∩B|/|B|), ``containment`` (their max — the Broder containment
    score), ``is_contained`` (max ≥ threshold).

    Same shingle-level counting shape as :func:`jaccard_verify` — no
    ``collect_set`` arrays shipped, idempotent under duplicated
    candidate rows, so LSH generators feed it without a pair-set
    ``.distinct()`` exchange.
    """
    c = _pair_shingle_counts(pairs, sh).select(
        "doc_a",
        "doc_b",
        (F.col("_n_common") / F.col("_n_a")).alias("containment_a"),
        (F.col("_n_common") / F.col("_n_b")).alias("containment_b"),
    )
    c = c.withColumn(
        "containment", F.greatest("containment_a", "containment_b")
    )
    return c.withColumn("is_contained", F.col("containment") >= threshold)


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Full shingle→minhash→band→bucket-join→verify pipeline → verified
    near-duplicate pairs.

    Default geometry (k=32, b=8, r=4) chosen from the :func:`lsh_eval`
    sweep at the 0.8-Jaccard operating point (SCALE.md "LSH band
    geometry", ``scripts/lsh_band_sweep.py``): measured 100 % recall on
    the graded-twin eval set (theoretical 1-(1-0.8^4)^8 ≈ 0.985 at
    s = 0.8 exactly, against 0.878 for the old (16, 4) default) at
    ~half the candidate volume of the r=2 geometries — banding
    false-negatives are silent data loss in a dedup pipeline, so
    recall wins. Callers targeting a lower threshold should re-band:
    at 0.5, (16, 8, r=2) is the measured sweet spot."""
    sh = shingles(docs, id_col, text_col, n)
    sigs = minhash_signatures(sh, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands)
    return jaccard_verify(cands, sh, threshold).filter(F.col("is_near_dup"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # the md5_hash60 word hash; fits a signed long on any engine


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash: per bit of each word's ``md5_hash60(word, 0)``, sum
    ±1 across the doc's words; fingerprint bit b is 1 iff the sum is
    positive. Kept as a nonnegative long in ``simhash64`` (bits 60-63 are
    0), so every engine reproduces it exactly.

    Expressed as one explode + 60 conditional sums (partial-aggregated
    map-side; the shuffle carries 60 longs per doc).
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_words(F.col(text_col))).alias("word"),
    ).select("doc_id", md5_hash60(F.col("word"), 0).alias("wh"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("wh"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = words.groupBy("doc_id").agg(*aggs)
    fp = sum(
        F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
        for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", fp.alias("simhash64"))


def simhash_near_dups(fps: DataFrame, bits: int) -> DataFrame:
    """Candidate pairs sharing any of four ``bits // 4``-bit bands of a
    ``bits``-wide fingerprint, with exact Hamming distance via
    bit_count(xor). The bands tile the fingerprint, so by pigeonhole
    every pair within Hamming distance 3 shares a clean band."""
    width = bits // 4
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftrightunsigned(F.col("simhash64"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_val"),
        )
        for b in range(4)
    ]
    banded = fps.select(
        "doc_id", "simhash64", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "simhash64", "band.band_idx", "band.band_val")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.simhash64").bitwiseXOR(F.col("r.simhash64"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard without LSH (small-scope exact variant)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for an explicit pair list (doc_a, doc_b)."""
    sh = shingles(docs, id_col, text_col, n)
    return jaccard_verify(pairs, sh, threshold=0.0).drop("is_near_dup")


# ---------------------------------------------------------------------------
# C4-style cross-document unit dedup: a text unit appearing in several
# documents is kept only in the lowest-id one and removed everywhere
# else. Real pipelines use lines; the testdata corpus is single-line,
# so the unit is a non-overlapping word chunk — the plan (explode →
# ONE global groupBy on the unit → owner join back → per-doc rebuild)
# is identical either way and is the scale-correct shape: the shuffle
# carries (unit, doc_id) pairs, never document bodies.
# ---------------------------------------------------------------------------

def doc_chunks(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               chunk_words: int = 2) -> DataFrame:
    """(doc_id, pos, chunk) — non-overlapping ``chunk_words``-word units."""
    w = normalized_words(F.col(text_col))
    n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(w, i * chunk_words + 1, chunk_words), " "),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(chunks).alias("pos", "chunk")
    )


def chunk_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                chunk_words: int = 2) -> DataFrame:
    """→ (doc_id, n_chunks, n_removed, kept_text): every chunk whose
    global owner (min doc_id over all docs containing it) is another
    document is dropped; the survivors rebuild the cleaned text in
    original order."""
    ch = doc_chunks(docs, id_col, text_col, chunk_words)
    owners = ch.groupBy("chunk").agg(F.min("doc_id").alias("owner"))
    kept = ch.join(owners, "chunk")
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count(F.when(F.col("owner") != F.col("doc_id"), 1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("owner") == F.col("doc_id"), F.struct("pos", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of the undirected near-dup pair graph via
    alternating large-star / small-star contractions (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Returns ``(node, component)`` for every node that appears in
    ``edges``; ``component`` is the minimum node id of the component.
    Isolated nodes never enter the edge list — callers that need full
    coverage left-join back to the universe (see ``dedup_clusters``).

    Scale notes (the reason this shape, not label propagation):

    * Each round is two window-min shuffles plus a ``distinct`` over a
      two-long-column edge list — bytes-per-row is constant no matter
      how big the documents behind the ids are.
    * Convergence is O(log^2 n) rounds on ANY graph shape; plain
      min-label propagation is O(diameter), which a chain of pairwise
      near-dups (common in crawl snapshots: page_1 ~ page_2 ~ ...)
      degrades to thousands of shuffles.
    * High-degree hubs (one boilerplate page near-dup with millions)
      are exactly what large-star flattens first, so dup-cluster skew
      self-heals instead of serializing into one task.
    * The rounds run under :func:`iterate`, which cuts the edge
      relation's lineage between rounds.

    The per-round convergence probe is one tiny ``agg`` action
    (count + hash-sum fingerprint) over the relation the round is
    handed; it materialises iterate()'s lazy cut, so each round's
    relation is evaluated once. A repeated fingerprint stops the loop.
    """
    e = (
        # ids pass through UNCAST: every step (min/least/greatest/window
        # min) needs only an orderable type, and a cast('long') silently
        # nulls string ids — dropping every edge and reporting every doc
        # canonical. String ids order lexicographically; the component
        # label is the min id under that order.
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    # invariant maintained throughout: u > v (child above parent-candidate)
    prev = None

    def step(e: DataFrame, i: int) -> DataFrame | None:
        nonlocal prev
        if i:  # round 0's input is the uncut source; a probe would run it twice
            cur = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
                ).alias("h"),
            ).first()
            if cur == prev:
                return None
            prev = cur
        # large-star: around each center, point every STRICTLY LARGER
        # neighbor at min(neighborhood ∪ {center})
        bid = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        w = Window.partitionBy("u")
        ls = (
            bid.select("u", "v", F.least(F.min("v").over(w), F.col("u")).alias("m"))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges oriented u > v already; point every smaller
        # neighbor AND the center at min(neighborhood)
        sm = ls.select("u", "v", F.min("v").over(Window.partitionBy("u")).alias("m"))
        return (
            sm.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select("u", F.col("m").alias("v")))
            .distinct()
        )

    e = iterate(e, step, max_iter)
    # fixpoint is a star forest: e = (child, root); roots label themselves
    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return children.union(roots).distinct()


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Resolve near-dup pairs into duplicate clusters and elect one
    canonical document (min id) per cluster.

    → ``(doc_id, component, cluster_size, is_canonical)`` for EVERY
    input doc — singletons are their own component — so a training-data
    pipeline filters ``is_canonical`` to keep exactly one copy per
    cluster. The join back to ``docs`` carries only ids; document
    bodies never enter the component computation.
    """
    comp = connected_components(pairs, src, dst, max_iter)
    out = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )
    w = Window.partitionBy("component")
    return out.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Exact duplicate-SPAN detection (substring-level dedup): any k-token
# window whose text recurs anywhere in the corpus marks its tokens as
# duplicated, except in the one canonical (lowest doc_id, pos)
# occurrence — the "keep one copy of every repeated substring" policy
# of suffix-array training-data dedup, re-expressed as linear window
# hashing. The heavy relation is (doc_id, pos, 16-byte digest) — one
# row per TOKEN — shuffled once on the digest; bodies never move.
# Overlapping windows then merge into maximal spans with one
# gaps-and-islands window pass on the doc key.
# ---------------------------------------------------------------------------

def _window_occurrences(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc_id, pos, h): md5 of every overlapping k-token window."""
    toks = normalized_words(F.col(text_col))
    df = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("w")
    ).filter(F.size("w") >= k)
    # w is a materialized column (NOT an expression re-evaluated inside
    # the lambda — the repetition_features O(n²) lesson)
    wins = F.transform(
        F.sequence(F.lit(0), F.size("w") - k),
        lambda i: F.md5(F.array_join(F.slice("w", i + 1, k), " ")),
    )
    return df.select("doc_id", F.posexplode(wins).alias("pos", "h"))


def duplicate_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """Maximal duplicated token spans per document.

    A window occurrence is removable when its k-token text occurs ≥2
    times corpus-wide and it is not the canonical (min (doc_id, pos))
    occurrence. Overlapping/adjacent removable windows merge:
    → ``(doc_id, span_start, span_end, n_windows)`` with token-index
    bounds, end exclusive.

    Windows are keyed on their 128-bit md5 — collision-free in practice
    even at 10^12 windows, and the key DuckDB recomputes.
    """
    occ = _window_occurrences(docs, id_col, text_col, k)
    canon = occ.groupBy("h").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    dup = (
        occ.join(canon.filter(F.col("cnt") >= 2), "h")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn(
        "_new", F.coalesce((F.col("pos") > F.lag("pos").over(w) + k).cast("int"), F.lit(1))
    ).withColumn("_island", F.sum("_new").over(w))
    return isl.groupBy("doc_id", "_island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).drop("_island")


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rebuild each document's normalized text with duplicated spans cut
    out. Canonical occurrences never mark tokens themselves (they are
    exempt from ``spans``), though one can still be clipped when OTHER
    duplicated windows overlap it and their merged span engulfs it —
    inherent to span-granularity removal.

    → input keys + ``clean_text`` + ``n_removed_tokens``. The span list
    rides a per-doc array (spans per doc are few after merging); the
    token filter is one indexed-lambda projection, linear per doc.
    """
    sp = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias("_spans")
    )
    toks = normalized_words(F.col(text_col))
    out = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("w"))
        .join(sp, "doc_id", "left")
        .withColumn("_spans", F.coalesce("_spans", F.array().cast(
            "array<struct<span_start:int,span_end:int>>")))
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter("w", lambda x, i: ~covered(i))
    return out.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("w") - F.size(kept)).cast("long").alias("n_removed_tokens"),
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup (fuzzy match)
# ---------------------------------------------------------------------------

def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 4,
    bucket: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by exact Levenshtein distance ≤ ``max_dist``,
    with length-bucket blocking.

    Exhaustiveness argument: ``lev(a, b) ≤ k ⇒ |len(a) − len(b)| ≤ k``,
    so the left side emits every bucket its length could pair with
    (``⌊(n−k)/B⌋ … ⌊(n+k)/B⌋``) while the right side emits exactly one —
    an equi-join on the bucket id meets every qualifying pair exactly
    once (the left's emitted bucket ids are distinct), so no
    ``.distinct()`` is needed and the output equals an all-pairs scan.
    The JVM-side ``levenshtein`` verify runs only within buckets; at
    corpus scale the join never materializes cross-length candidates.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(text_col).alias("n"),
    )
    right = base.withColumn("bkt", F.floor(F.col("n") / bucket))
    left = base.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.floor((F.col("n") - max_dist) / bucket),
                F.floor((F.col("n") + max_dist) / bucket),
            )
        ).alias("bkt"),
    )
    return (
        left.alias("l")
        .join(
            right.alias("r"),
            (F.col("l.bkt") == F.col("r.bkt")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.levenshtein(F.col("l.text"), F.col("r.text")).alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_dist)
    )


# --------------------------------------------------------------------------
# content-defined chunking (CDC) — variable-boundary chunk dedup
# --------------------------------------------------------------------------

def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking: split each document where the hash of
    the trailing ``w``-gram divides ``divisor`` — the storage-dedup /
    LSC-dedup boundary rule (Rabin/Gear CDC family). Unlike
    ``doc_chunks``'s fixed k-token windows, CDC boundaries are decided
    by LOCAL content, so an insertion near the top of a page shifts
    only the chunk it lands in — every later chunk re-aligns and still
    dedups against the previous crawl of the same page (the property
    fixed-size chunking fundamentally lacks).

    Boundary at end-position ``i`` (chars, 1-based, ``w ≤ i < n``) iff
    ``md5(text[i-w+1 .. i]) % divisor == 0`` via the repo's md5-
    positional integer idiom — bit-identical in any engine, no rolling
    state (the fold-free formulation is what keeps it SQL-restatable;
    a Gear rolling hash needs a per-char fold that DuckDB's
    list_reduce cannot carry a struct through). Expected chunk length
    ≈ ``divisor`` chars; no min/max guards (pathological inputs can
    produce short chunks — callers needing bounds filter on
    ``chunk_len``).

    Plan shape: pure per-row expression algebra (filter/transform over
    a char-position sequence — O(n·1) md5 calls per doc, all inside
    codegen) + ONE terminal explode. No shuffle at all; the first wide
    op downstream (the digest groupBy in :func:`cdc_dedup`) does the
    only exchange.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    d = docs.select(F.col(id_col).alias("doc_id"), t.alias("_t"))
    bounds = F.expr(
        f"""CASE WHEN length(_t) <= {w} THEN array(0L, bigint(length(_t)))
            ELSE concat(
              array(0L),
              transform(
                filter(sequence({w}, length(_t) - 1),
                       i -> conv(substring(md5(substring(_t, i - {w} + 1, {w})),
                                 1, 8), 16, 10) % {divisor} = 0),
                x -> bigint(x)),
              array(bigint(length(_t))))
            END"""
    )
    chunks = F.expr(
        """transform(sequence(1, size(_ab) - 1),
             k -> struct(
               k - 1 AS chunk_idx,
               substring(_t, int(try_element_at(_ab, k)) + 1,
                         int(try_element_at(_ab, k + 1)
                             - try_element_at(_ab, k))) AS chunk))"""
    )
    return (
        d.withColumn("_ab", bounds)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
            F.col("c.chunk").alias("chunk"),
        )
        .filter(F.length("chunk") > 0)
        .withColumn("chunk_md5", F.md5("chunk"))
        .withColumn("chunk_len", F.length("chunk").cast("int"))
    )


def cdc_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Cross-document CDC chunk dedup: first occurrence (lowest
    (doc_id, chunk_idx)) owns each distinct chunk digest; later
    occurrences are flagged ``is_dup``. ONE shuffle on the 16-byte
    digest (same scale argument as exact_dedup); the owner pick is a
    min-struct hash aggregate, not a window sort."""
    ch = cdc_chunks(docs, id_col, text_col, w, divisor)
    owner = ch.groupBy("chunk_md5").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("_own")
    )
    return (
        ch.join(owner, "chunk_md5")
        .select(
            "doc_id", "chunk_idx", "chunk_md5", "chunk_len",
            (
                (F.col("doc_id") != F.col("_own.doc_id"))
                | (F.col("chunk_idx") != F.col("_own.chunk_idx"))
            ).alias("is_dup"),
            F.col("_own.doc_id").alias("owner_doc"),
        )
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
# --------------------------------------------------------------------------

def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowing: hash every ``k``-gram, slide a window of
    ``w`` consecutive gram hashes, keep each window's minimum — with
    ties broken to the RIGHTMOST position (robust winnowing) — and
    dedup the selections. Guarantees every match of length ≥ k+w-1
    shares a fingerprint while storing ~2/(w+1) of the grams: the
    LOCAL fingerprinting scheme (position-bearing, substring-match
    witness) next to the GLOBAL ones here (minhash estimates set
    resemblance, simhash a rotation-invariant profile).

    → ``(doc_id, pos, gram_hash)`` — pos is the 0-based char position
    of the selected gram, the span witness a match report points at.

    Plan: explode grams (narrow), ONE window over the (doc_id, pos)
    order — frame ``w-1 PRECEDING..CURRENT`` min over struct
    (hash, -pos), so argmin-with-rightmost-tie is a plain frame min —
    then a per-doc distinct (groupBy on the partitioning the window
    already established). Gram hashes use the repo's md5-positional
    integer idiom: bit-identical in any engine.
    """
    from pyspark.sql import Window

    t = F.coalesce(F.col(text_col), F.lit(""))
    d = docs.select(F.col(id_col).alias("doc_id"), t.alias("_t")).filter(
        F.length("_t") >= k
    )
    grams = d.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, length(_t) - {k})")).alias("pos"),
        F.col("_t"),
    ).select(
        "doc_id",
        "pos",
        F.expr(
            f"conv(substring(md5(substring(_t, pos + 1, {k})), 1, 12), 16, 10)"
        ).cast("long").alias("h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    sel = grams.withColumn(
        "_m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(win)
    ).filter(F.col("pos") >= w - 1)
    return (
        sel.select(
            "doc_id",
            (-F.col("_m.np")).cast("int").alias("pos"),
            F.col("_m.h").alias("gram_hash"),
        )
        .groupBy("doc_id", "pos", "gram_hash")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )


def winnow_pairs(
    fps: DataFrame, min_shared: int = 2
) -> DataFrame:
    """Candidate pairs sharing ≥ ``min_shared`` winnowed fingerprints:
    ``(doc_a, doc_b, n_shared)``. Join on the gram hash (selected
    fingerprints are ~2/(w+1) of grams, so the join side is already
    thinned); hot hashes (boilerplate grams) are exactly where AQE's
    skew split earns its keep at corpus scale."""
    a = fps.select(F.col("doc_id").alias("doc_a"), "gram_hash")
    b = fps.select(F.col("doc_id").alias("doc_b"), "gram_hash")
    return (
        a.join(b, "gram_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("gram_hash").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def lsh_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Tuning harness for the MinHash-LSH pipeline: ONE summary row
    comparing the banded pipeline against exact all-pairs Jaccard
    ground truth at ``threshold``::

        (n_truth, n_candidates, n_verified, n_missed,
         recall_ppm, cand_precision_ppm)

    ``n_missed`` is the banding stage's false-negative count (verify
    can't create false positives — it computes the same Jaccard the
    truth does, so verified ⊆ truth and precision-after-verify is 1 by
    construction; what (r=hashes/bands, b=bands) actually trades away
    is RECALL, and ``cand_precision_ppm`` shows how much verify work
    the band collisions cost). Run at evaluation scale when choosing
    band geometry; the ground truth is an all-pairs shingle join and
    deliberately NOT a production plan.

    Integer ppm arithmetic; truth pairs need ≥1 shared shingle (a
    Jaccard ≥ any positive threshold implies one), so the all-pairs
    scan is the shingle-level equi-join, never a cartesian."""
    sh = shingles(docs, id_col, text_col, n)
    cands = lsh_candidate_pairs(minhash_signatures(sh, num_hashes), bands).distinct()
    verified = jaccard_verify(cands, sh, threshold).filter("is_near_dup")

    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("_sz"))
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("_sz").alias("_na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("_sz").alias("_nb")), "doc_b")
        .filter(
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
            >= threshold
        )
    )
    c_truth = truth.agg(F.count("*").alias("n_truth"))
    c_cand = cands.agg(F.count("*").alias("n_candidates"))
    c_ver = verified.agg(F.count("*").alias("n_verified"))
    return (
        c_truth.crossJoin(c_cand).crossJoin(c_ver)
        .select(
            "n_truth", "n_candidates", "n_verified",
            (F.col("n_truth") - F.col("n_verified")).alias("n_missed"),
            F.expr("n_verified * 1000000 div greatest(n_truth, 1)")
            .alias("recall_ppm"),
            F.expr("n_verified * 1000000 div greatest(n_candidates, 1)")
            .alias("cand_precision_ppm"),
        )
    )
