"""Distributed Bloom filter: build a compact bitset over a key column,
then probe another relation for (probabilistic) membership.

The 100 TB use case is CROSS-SNAPSHOT dedup: a crawl refresh must drop
urls already ingested by earlier snapshots without joining against the
full multi-terabyte history. A Bloom filter of the seen-key set is an
aggregate artifact — ``m_bits/64`` longs, a few MB even for billions of
keys — so the probe is map-side (broadcast), never a shuffle of the
new snapshot. False positives only (tunable via m/k); never false
negatives, the safe direction for dedup.

Build is one shuffle on ``word_idx`` (output rows = m/64, tiny).
Probe has two shapes:

* :func:`bloom_probe` — pure relational: explode the k probe
  positions, broadcast-join the filter words, AND the bit tests with
  one groupBy on the probe key. Fully oracle-checkable.
* :func:`bloom_probe_mapside` — the production shape: the collected
  bitmap (an artifact, like model weights — collecting it is not a
  driver-side data loop) rides a Spark broadcast into an Arrow-batched
  pandas UDF; zero shuffle, zero explode. Differential-tested against
  the relational probe.

Hash position j is ``sketch.md5_hash60(key, j) mod m`` (first 15 hex
nibbles of md5('<j>:<key>') → 60-bit int), so Spark, DuckDB, and
hashlib all compute identical positions — the same base hash the
MinHash and SimHash pipelines use.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sketch import md5_hash60


def _positions(key: Column, k: int, m_bits: int) -> list[Column]:
    return [md5_hash60(key, j) % m_bits for j in range(k)]


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 16, k: int = 5
) -> DataFrame:
    """Build the filter: ``(word_idx long, word long)`` — one row per
    64-bit word that has at least one bit set.

    Plan: project k positions per key (narrow), explode (k× fanout of
    a single long column), one groupBy(word_idx) bit_or — the only
    shuffle, and its output is at most m/64 rows regardless of input
    size. Map-side partial aggregation collapses almost everything
    before the exchange.
    """
    pos = df.select(
        F.explode(F.array(*_positions(F.col(key_col), k, m_bits))).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Relational probe: adds ``maybe_member`` (true iff all k bits
    set). The filter side is tiny (≤ m/64 rows) so the join broadcasts;
    the groupBy re-aggregates the exploded tests per key with
    ``min(hit) == 1`` — every probed position must hit. min (not
    ``sum == k``) keeps the no-false-negative invariant under
    DUPLICATE probe keys: a key appearing twice contributes 2k hit
    rows, which a sum-based check would misread as a miss."""
    probes = df.select(
        F.col(key_col),
        F.explode(F.array(*_positions(F.col(key_col), k, m_bits))).alias("pos"),
    ).select(
        key_col,
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        (F.col("pos") % 64).cast("int").alias("bit"),
    )
    # & 1, not % 2: Spark's % keeps the dividend's sign, so a NEGATIVE
    # word (bit 63 set) probed at bit=0 yields -1 under % 2
    hit = F.col("word").isNotNull() & (
        F.expr("shiftrightunsigned(word, bit) & 1") == 1
    )
    return (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(key_col, F.coalesce(hit, F.lit(False)).cast("int").alias("hit"))
        .groupBy(key_col)
        .agg((F.min("hit") == F.lit(1)).alias("maybe_member"))
    )


def bloom_probe_joined(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 5,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Shuffle-free relational probe: k broadcast joins of the tiny
    word relation, one per hash, AND-ed in a final projection — no
    explode, no groupBy, so it composes into a pipeline without
    repartitioning the big side (the shape :func:`bloom_probe`'s
    per-key aggregate can't offer). Output: input columns + out_col.
    """
    out = df
    hits = []
    for j in range(k):
        pos = md5_hash60(F.col(key_col), j) % m_bits
        out = out.withColumns(
            {
                f"_bw{j}": (pos / 64).cast("long"),
                f"_bb{j}": (pos % 64).cast("int"),
            }
        )
        b = bloom.select(
            F.col("word_idx").alias(f"_bw{j}"), F.col("word").alias(f"_bword{j}")
        )
        out = out.join(F.broadcast(b), f"_bw{j}", "left")
        hits.append(
            F.col(f"_bword{j}").isNotNull()
            & (F.expr(f"shiftrightunsigned(_bword{j}, _bb{j}) & 1") == 1)
        )
    member = hits[0]
    for h in hits[1:]:
        member = member & h
    return out.withColumn(out_col, member).drop(
        *[c for j in range(k) for c in (f"_bw{j}", f"_bb{j}", f"_bword{j}")]
    )


def bloom_bitmap(bloom: DataFrame, m_bits: int) -> np.ndarray:
    """Collect the built filter into a numpy uint64 bitmap (the
    artifact hand-off: m/64 longs, a few MB at production sizes)."""
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for row in bloom.collect():
        words[int(row["word_idx"])] = np.uint64(row["word"] & 0xFFFFFFFFFFFFFFFF)
    return words


def bloom_probe_mapside(
    df: DataFrame,
    key_col: str,
    bitmap: np.ndarray,
    m_bits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Production probe: zero-shuffle mapInPandas with the bitmap shipped
    once per executor via a Spark broadcast. hashlib.md5 computes the
    same positions as the build's Spark-side ``F.md5``."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap)
    cols = df.columns

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words = bc.value
        for b in batches:
            flags = []
            for key in b[key_col].astype(str):
                ok = True
                for j in range(k):
                    h = hashlib.md5(f"{j}:{key}".encode()).hexdigest()
                    pos = int(h[:15], 16) % m_bits
                    if not (int(words[pos // 64]) >> (pos % 64)) & 1:
                        ok = False
                        break
                flags.append(ok)
            b = b.copy()
            b["maybe_member"] = pd.Series(flags, dtype="bool", index=b.index)
            yield b

    # NB: StructType.add mutates in place — build a fresh copy so the
    # input DataFrame's cached schema object is left untouched
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("maybe_member", T.BooleanType(), False)]
    )
    return df.mapInPandas(kernel, schema=schema)
