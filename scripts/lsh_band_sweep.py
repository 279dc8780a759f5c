#!/usr/bin/env python
"""LSH band-geometry sweep: ``dedup.lsh_eval`` over a documents table plus
graded mutated twins, one JSON line per (hashes, bands) geometry.

Eval set: every input document plus one twin (doc_id + 100000) whose
normalized words at 0-based positions i ≡ 0 (mod k) are replaced by "zz",
with k = 3 + doc_id % 10 — shingle-Jaccard to the original spreads from 0
(k = 3) up to ~0.6, so the truth pairs at 0.8 are the corpus's own
near-duplicates plus the mildest twins.

Example:
    python scripts/lsh_band_sweep.py --input /root/testdata/sf0.01/documents.parquet
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

GEOMETRIES = [(16, 2), (16, 4), (16, 8), (32, 4), (32, 8), (64, 16), (32, 16)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdf_context_extractor_agent_spark.functions.dedup import lsh_eval, normalized_words
    from pdf_context_extractor_agent_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    base = spark.read.parquet(args.input).select("doc_id", "text")
    k = F.col("doc_id") % 10 + 3
    words = normalized_words(F.col("text"))
    twins = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.transform(words, lambda w, i: F.when(i % k == 0, F.lit("zz")).otherwise(w)), " "
        ).alias("text"),
    )
    docs = base.unionByName(twins).cache()
    n_docs = docs.count()
    for hashes, bands in GEOMETRIES:
        r = lsh_eval(docs, num_hashes=hashes, bands=bands, threshold=args.threshold).first()
        print(json.dumps({"docs": n_docs, "hashes": hashes, "bands": bands,
                          "rows": hashes // bands, **r.asDict()}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
