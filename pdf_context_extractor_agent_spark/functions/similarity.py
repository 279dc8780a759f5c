"""Similarity search over an embedding column (``array<float>``).

* brute-force cosine top-k — the correctness baseline: a broadcast of
  the query vector + one `aggregate`/`zip_with` dot product per row,
  fully JVM-side, then a top-k (sort limited by k).
* LSH-bucketed ANN — the scale path: random-hyperplane signatures give
  a Hamming-space bucket key; search touches only the query's bucket
  (and optionally neighboring buckets at distance 1).
* IVF-style variant — coarse k-means-free quantization by hyperplane
  prefix; demonstrates the partition-pruned layout used at 10^12 rows
  (cluster id = physical partition key).

Hyperplanes are generated deterministically from a seed via md5 so
driver and tests agree without RNG state.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes: each
    coefficient derived from md5(seed, plane, dim) → [-1, 1)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            (v,) = struct.unpack("<I", h[:4])
            row.append(v / 2**31 - 1.0)
        planes.append(row)
    return planes


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The sort is a
    partial top-k per partition + driver merge (Spark's TakeOrdered)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def hyperplane_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bit i = 1 iff vec·plane_i > 0 → integer bucket key."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        sig = sig + F.when(dot(vec_col.cast("array<double>"), p) > 0, F.lit(2**i).cast("long")).otherwise(0)
    return sig


def lsh_index(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the bucket signature. At scale you'd `repartitionByRange`/
    bucket-write on `bucket` so a query prunes to one file group.

    ``dim`` defaults to the data's own vector length: a mismatched
    literal dim makes ``zip_with`` null-pad every dot product, silently
    filing EVERY vector under bucket 0 — and ann_topk, whose planes
    derive from the query's true length, then probes empty buckets and
    returns an empty top-k with no error. The probe is one min/max
    aggregation over the vector lengths:

    * vectors of different lengths raise ``ValueError`` (no single dim
      is right for all of them);
    * a frame with no non-null vector (empty, or all null) has no length
      to probe and gets the constant bucket 0 — the bucket a null vector
      gets from the signature anyway."""
    if dim is None:
        lo, hi = emb.agg(F.min(F.size(vec_col)), F.max(F.size(vec_col))).first()
        if lo is None:
            return emb.withColumn("bucket", F.lit(0).cast("long"))
        if lo != hi:
            raise ValueError(
                f"lsh_index: {vec_col!r} vectors have lengths {lo}..{hi}; "
                "pad them to one length or pass dim="
            )
        dim = int(lo)
    planes = _hyperplanes(dim, n_planes, seed)
    return emb.withColumn("bucket", hyperplane_signature(F.col(vec_col), planes))


def ann_topk(
    indexed: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: score only vectors whose bucket is within ``probe_hamming``
    bits of the query's bucket (multi-probe LSH)."""
    planes = _hyperplanes(len(query), n_planes, seed)
    qsig = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query, plane)) > 0:
            qsig |= 1 << i
    cand = indexed.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    )
    return brute_force_topk(cand, query, k, id_col, vec_col)


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate detection: bucket by hyperplane
    signature, verify cosine only within buckets (same LSH contract as
    MinHash banding)."""
    idx = lsh_index(emb, n_planes, dim, vec_col=vec_col)
    l = idx.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), "bucket")
    r = idx.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), "bucket")
    pairs = l.join(r, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            cosine(F.col("v_a").cast("array<double>"), F.col("v_b").cast("array<double>")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_index(
    emb: DataFrame,
    stride: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer with DATA-DERIVED deterministic centroids:
    every ``stride``-th vector is a centroid (k-means training needs
    RNG state; strided selection is seedless and engine-agnostic, and
    swapping in trained centroids later changes no plan shape). Each
    vector keeps its max-cosine cell, tie-broken toward the lower
    centroid id.

    Scale shape: the centroid dim is tiny (corpus/stride rows) and
    broadcasts; assignment is one narrow pass. At 10^12 vectors the
    ``cell`` column becomes the partition/bucket key of the stored
    index table, so a query scans nprobe cells instead of the corpus.
    """
    cents = emb.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")
    ).unionByName(
        # guaranteed non-empty: a corpus smaller than the stride with
        # ids that never hit 0 (mod stride) would otherwise produce an
        # EMPTY centroid set, and ivf_topk would silently return an
        # empty top-k. The min-id row is a deterministic fallback
        # centroid (a tiny TakeOrdered, not a shuffle).
        emb.select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")
        ).orderBy("cent_id").limit(1)
    ).distinct()
    scored = emb.join(F.broadcast(cents)).select(
        id_col,
        vec_col,
        "cent_id",
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), F.col("cvec").cast("array<double>")),
            4,
        ).alias("ccos"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("ccos"), (-F.col("cent_id")).alias("nid"))).alias("m")
    )
    return emb.join(
        best.select(id_col, (-F.col("m.nid")).alias("cell")), id_col
    )


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    stride: int = 97,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: rank centroids by query cosine, scan only the best
    ``nprobe`` cells, exact top-k within. Fully declarative — the probe
    set is a broadcast dim, never a driver collect."""
    q = F.array(*[F.lit(float(x)) for x in query])
    idx = ivf_index(emb, stride, id_col, vec_col)
    cents = emb.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec")
    )
    probes = (
        cents.select(
            "cell",
            F.round(cosine(F.col("cvec").cast("array<double>"), q), 4).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), "cell")
        .limit(nprobe)
        .select("cell")
    )
    cand = idx.join(F.broadcast(probes), "cell")
    return brute_force_topk(cand, query, k, id_col, vec_col)


def sq_minmax(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[float, float]:
    """Global (lo, hi) over every embedding element — the SQ8 training
    step. One aggregate; the two scalars are the codec's parameters
    (an artifact fetch, like a query vector — not a data loop)."""
    elems = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    row = emb.select(
        F.min(F.array_min(elems)).alias("lo"), F.max(F.array_max(elems)).alias("hi")
    ).first()
    return float(row["lo"]), float(row["hi"])


def sq_codes(vec_col: Column, lo: float, hi: float) -> Column:
    """int8 scalar quantization: each element mapped to
    ``round((x - lo) / (hi - lo) * 255) - 128`` ∈ [-128, 127].

    4× smaller than float32 at rest and in shuffle, and the scoring
    dot product becomes exact INTEGER math — identical on any engine
    (the float arithmetic before round is plain IEEE-double with one
    association order, also engine-identical). Corpus inputs are within
    [lo, hi] by construction of :func:`sq_minmax`, so no clamp here;
    external queries are clamped by the caller (:func:`sq_topk`)."""
    scale = 255.0 / (hi - lo) if hi > lo else 0.0
    return F.transform(
        vec_col,
        lambda x: (F.round((x.cast("double") - F.lit(lo)) * F.lit(scale)).cast("int")
                   - F.lit(128)),
    )


def sq_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized top-k: int8-code dot product, descending.

    The 10^12-vector scan path: codes are 16× denser than the
    doubles the exact scorer widens to, the score is a 64-term int
    multiply-add (SIMD-friendly, whole-stage codegen), and ties break
    on id for a deterministic result. Recall loss vs exact cosine is
    the SQ8 trade; rerank the top candidates with
    :func:`brute_force_topk` when exactness matters."""
    if lo is None or hi is None:
        lo, hi = sq_minmax(emb, vec_col)
    # the CORPUS is within [lo, hi] by construction of sq_minmax; an
    # external query is not — clamp it so its codes stay in the int8
    # range instead of silently overflowing the quantizer
    qvals = [min(max(float(x), lo), hi) for x in query]
    qcode = sq_codes(F.array(*[F.lit(v) for v in qvals]), lo, hi)
    scored = emb.select(
        F.col(id_col),
        F.aggregate(
            F.zip_with(sq_codes(F.col(vec_col), lo, hi), qcode, lambda a, b: a * b),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("qscore"),
    )
    return scored.orderBy(F.desc("qscore"), F.col(id_col)).limit(k)


def semdedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication over an
    embedding column — cosine near-dup PAIRS (hyperplane-LSH bucketed,
    exact verify within buckets) resolved into duplicate CLUSTERS
    (alternating large-star/small-star connected components), one
    canonical vector elected per cluster.

    → ``(doc_id, component, cluster_size, is_canonical)`` for every
    input vector; filter ``is_canonical`` to keep one semantic copy.
    Pairwise verdicts alone over-delete (A~B, B~C but A!~C): the
    cluster resolution is what makes embedding dedup safe to apply.

    Scale shape: pairs are generated per LSH bucket (never all-pairs),
    components iterate on a two-long-column edge list, and the final
    join back to ids carries no embedding payloads.
    """
    from pdf_context_extractor_agent_spark.functions.dedup import dedup_clusters

    pairs = cosine_near_dup_pairs(emb, threshold, n_planes, dim, id_col, vec_col)
    return dedup_clusters(
        emb.select(id_col),
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        id_col=id_col,
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization codebooks with DATA-DERIVED deterministic
    centroids: the vector dimension splits into ``m`` contiguous
    subspaces, and centroid ``j`` of every subspace is the matching
    subvector of the corpus row with ``id = j * stride`` (strided
    selection is seedless and engine-agnostic — the same rationale as
    :func:`ivf_index`; trained centroids would change no plan shape).

    Output: ``(subspace, cent_id, cvec)`` — ``m × ksub`` rows, a
    driver-independent DIMENSION (broadcast everywhere downstream).
    Rows whose ``id`` exceeds the corpus simply don't exist, so small
    test corpora yield fewer centroids with identical semantics.
    """
    if dim is None:
        dim = int(emb.select(F.size(vec_col).alias("d")).first()["d"])
    sub = dim // m
    cents = emb.filter(
        (F.col(id_col) % stride == 0) & (F.col(id_col) < ksub * stride)
    ).select((F.col(id_col) / stride).cast("int").alias("cent_id"), vec_col)
    return cents.select(
        "cent_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice(F.col(vec_col), s * sub + 1, sub).alias("cvec"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select(F.col("e.subspace").alias("subspace"), "cent_id", F.col("e.cvec").alias("cvec"))


def pq_codes(
    emb: DataFrame,
    books: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign every vector its ``m``-byte PQ code.

    Per subspace: argmin squared-L2 distance to that subspace's
    centroids, tie-broken toward the LOWER centroid id. The distance is
    a fixed-length left-fold of IEEE doubles — one association order,
    bit-identical on any engine.

    Scale shape: vectors explode into ``m`` subvector rows, join the
    BROADCAST codebook dim, and one groupBy on the (already co-located)
    vector key picks the argmin — the output is ``m`` small ints per
    vector, 16-32× denser than the float payload it replaces.

    Output: ``(id, subspace, code)``.
    """
    if dim is None:
        dim = int(emb.select(F.size(vec_col).alias("d")).first()["d"])
    sub = dim // m
    parts = emb.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice(F.col(vec_col), s * sub + 1, sub).alias("svec"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select(id_col, F.col("e.subspace").alias("subspace"), F.col("e.svec").alias("svec"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("svec").cast("array<double>"),
            F.col("cvec").cast("array<double>"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = parts.join(F.broadcast(books), "subspace").select(
        id_col, "subspace", d2.alias("d2"), "cent_id"
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.min(F.struct(F.col("d2"), F.col("cent_id"))).alias("b")
    )
    return best.select(id_col, "subspace", F.col("b.cent_id").alias("code"))


def pq_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jegou et al., TPAMI 2011).

    ADC: the query stays exact; each candidate's score is the sum over
    subspaces of ``dot(query_sub, centroid[code])`` — an ``m``-term sum
    of codebook lookups. The lookup table is ``m × ksub`` rows (query ×
    codebook dim, broadcast); the scan touches only the CODES relation,
    never the float payloads, which is the 10^12-vector layout: codes
    live in the index table, vectors stay at rest.

    Determinism: each LUT part is floor-quantized to a 2^-20 multiple
    BEFORE the per-vector sum, so the aggregation is exact integer math
    — partial-agg association order cannot perturb the score (summing
    raw doubles then truncating would flip on boundaries; the same
    discipline as the k-means centroid update). ``pq_score`` =
    integer-sum / 2^20, bit-identical on any engine; ties break on id.
    """
    dim = len(query)
    sub = dim // m
    books = pq_codebooks(emb, m, ksub, stride, id_col, vec_col, dim=dim)
    codes = pq_codes(emb, books, m, id_col, vec_col, dim=dim)
    qsub = {
        s: F.array(*[F.lit(float(x)) for x in query[s * sub : (s + 1) * sub]])
        for s in range(m)
    }
    qdot = F.aggregate(
        F.zip_with(
            F.element_at(
                F.array(*[qsub[s] for s in range(m)]), F.col("subspace").cast("int") + 1
            ),
            F.col("cvec").cast("array<double>"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = books.select(
        F.col("subspace").alias("__s"),
        F.col("cent_id").alias("__c"),
        F.floor(qdot * F.lit(1048576.0)).cast("long").alias("part_q"),
    )
    scored = codes.join(
        F.broadcast(lut),
        (codes["subspace"] == F.col("__s")) & (codes["code"] == F.col("__c")),
    )
    return (
        scored.groupBy(id_col)
        .agg((F.sum("part_q") / F.lit(1048576.0)).alias("pq_score"))
        .orderBy(F.desc("pq_score"), F.col(id_col))
        .limit(k)
    )


def margin_bitext_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    n_planes: int = 4,
    dim: int = 64,
    probe_hamming: int = 1,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019): align
    each source-language document to its best target-language candidate,
    scored by the RATIO margin ``cos(x, y) / ((a_x + a_y) / 2)`` where
    ``a_x`` / ``a_y`` are the mean cosines of each side's k nearest
    neighbours — the normalization that suppresses hub vectors plain
    cosine thresholds mis-rank. The standard mining op for parallel-
    corpus construction from web crawls (CCMatrix/CCAligned family).

    Scale shape: candidates come from the SAME hyperplane-LSH bucketing
    the ANN path uses (multi-probe on the source side, equi-join on the
    bucket key — never a cross join), so the k-NN statistics are
    computed over the probed candidate graph, exactly as a 10^12-vector
    run would. Then: one window per side for the k-NN ranks, one
    groupBy per side for the neighbour means, and keyed joins back —
    every exchange is on an id or bucket key.

    Determinism: per-pair cosines are sequential-fold dot products
    (bit-identical cross-engine, the ``cosine_near_dup_pairs``
    discipline); the k-neighbour mean folds a ``sort_array``-ed cosine
    list so partial-aggregation order cannot perturb the sum; the
    margin is floor-truncated at 6dp (``floor(x*1e6)/1e6`` — exact
    cross-engine, unlike HALF_UP rounding).

    Returns one row per source doc that found any candidate: its
    forward-best target, ``cos_sim`` (rounded 6dp for display),
    ``margin``, and ``is_mutual`` (the target's own best candidate is
    this source — the high-precision subset). Rows below ``threshold``
    are dropped (1.0 = keep anything better than its neighbourhood
    average; CCMatrix mines at ~1.06).
    """
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming must be 0 or 1 (multi-probe radius)")
    planes = _hyperplanes(dim, n_planes)
    isrc = src.select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("v_src"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    itgt = tgt.select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("v_tgt"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    probe_list = [F.col("bucket")]
    if probe_hamming == 1:
        probe_list += [
            F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
        ]
    probed = isrc.select(
        "src_id", "v_src", F.explode(F.array(*probe_list)).alias("bucket")
    )
    cand = probed.join(itgt, "bucket").select(
        "src_id",
        "tgt_id",
        cosine(
            F.col("v_src").cast("array<double>"), F.col("v_tgt").cast("array<double>")
        ).alias("cos"),
    )
    wf = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.col("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), F.col("src_id"))
    ranked = cand.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rb", F.row_number().over(wb)
    )
    knn_mean = lambda key, rank: (  # noqa: E731
        ranked.filter(F.col(rank) <= k)
        .groupBy(key)
        .agg(
            (
                F.aggregate(
                    F.sort_array(F.collect_list("cos")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count("*")
            ).alias(f"a_{key[:3]}")
        )
    )
    a_src = knn_mean("src_id", "rf")
    a_tgt = knn_mean("tgt_id", "rb")
    best_back = ranked.filter(F.col("rb") == 1).select(
        "tgt_id", F.col("src_id").alias("_best_src")
    )
    fwd = ranked.filter(F.col("rf") == 1).select("src_id", "tgt_id", "cos")
    out = (
        fwd.join(a_src, "src_id")
        .join(a_tgt, "tgt_id")
        .join(best_back, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.round("cos", 6).alias("cos_sim"),
            (
                # the neighbour-mean denominator is clamped positive:
                # an all-negative candidate neighbourhood would FLIP the
                # ratio's sign (anti-similar pairs scoring as high-margin
                # translations) and an exactly-zero mean would null the
                # row out of the audit entirely
                F.floor(
                    F.col("cos")
                    / F.greatest(
                        (F.col("a_src") + F.col("a_tgt")) / F.lit(2.0),
                        F.lit(1e-9),
                    )
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("margin"),
            (F.col("_best_src") == F.col("src_id")).alias("is_mutual"),
        )
    )
    return out.filter(F.col("margin") >= threshold)


def hard_negatives(
    emb: DataFrame,
    assign: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector,
    the ``k`` most-similar vectors from OTHER clusters —
    ``(vec_id, neg_rank, neg_id, score4)`` with ``score4 =
    floor(cosine·10^4)`` (floor-truncated: exact cross-engine, the
    module's determinism rule) and neg_id as the deterministic
    tie-break.

    Plan shape: NOT a theta join (``cluster_a != cluster_b`` would be
    a cartesian scan). Candidates replicate over the tiny distinct-
    cluster dim (broadcast; replication factor = C-1, model-sized like
    a centroid table) keyed by target cluster, then one EQUI-join on
    the query's own cluster and a per-query top-k window. This exact
    variant is the evaluation-scale baseline; at corpus scale feed the
    same anti-cluster filter with :func:`ann_topk` / :func:`ivf_topk`
    candidates instead of all vectors."""
    from pyspark.sql import Window

    a = emb.join(assign, id_col).select(
        F.col(id_col), F.col(vec_col), F.col(cluster_col)
    )
    cdim = assign.select(F.col(cluster_col).alias("_tc")).distinct()
    cand = (
        a.crossJoin(F.broadcast(cdim))
        .filter(F.col("_tc") != F.col(cluster_col))
        .select("_tc", F.col(id_col).alias("neg_id"),
                F.col(vec_col).alias("_nv"))
    )
    q = a.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv"),
        F.col(cluster_col).alias("_tc"),
    )
    scored = q.join(cand, "_tc").select(
        "qid", "neg_id",
        F.floor(
            cosine(F.col("_qv").cast("array<double>"),
                   F.col("_nv").cast("array<double>")) * 10000.0
        ).cast("long").alias("score4"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score4").desc(),
                                          F.col("neg_id").asc())
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(F.col("qid").alias(id_col), "neg_rank", "neg_id", "score4")
    )
