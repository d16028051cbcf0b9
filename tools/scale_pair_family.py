"""Pair-family scale probe (SCALE.md): run the candidate-pair queries
(q25/q31/q38/q39/q58/q66/q70) against a replica dir, recording wall
seconds, TRUE output rows, and — where the operator exposes or cheaply
admits it — the CANDIDATE volume, so candidate growth vs true output is
measurable across decades.

Usage: python tools/scale_pair_family.py /tmp/scale_sf10 [q25 q38 ...]
Prints one JSON line per query (flush) so a killed run keeps its rows.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nahuatl_data_pipeline_spark import registry
from nahuatl_data_pipeline_spark.operators import fuzzy_dedup
from nahuatl_data_pipeline_spark.session import get_spark

PAIR_QUERIES = [
    "q25_near_dup_pairs",
    "q31_minhash_lsh_dedup",
    "q38_ngram_jaccard_pairs",
    "q39_embedding_neardup",
    "q58_dup_components",
    "q66_incremental_dedup",
    "q70_chain_components_star",
]


def banded_bucket_histogram(spark, sf_dir: str) -> dict:
    """Band-bucket size distribution for q25's parameters — the skew
    diagnosis without running the join: sum of c*(c-1)/2 over buckets is
    the raw candidate volume, and the top bucket sizes show how much of
    it lands in single join tasks."""
    from pyspark.sql import functions as F

    base = registry.q25_input(spark, sf_dir)
    sizes = fuzzy_dedup._band_bucket_sizes(
        base, "doc_id", "text", shingle_n=3, num_hashes=8, band_size=2
    )
    top = [r["c"] for r in sizes.orderBy(F.desc("c")).limit(10).collect()]
    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("raw_candidates"),
    ).collect()[0]
    return {
        "top_bucket_sizes": top,
        "n_buckets": int(agg["n_buckets"]),
        "raw_candidates": int(agg["raw_candidates"]),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf10"
    wanted = sys.argv[2:] or None
    spark = get_spark(app_name="nahuatl-scale-pairs")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    if wanted and "buckets" in wanted:
        t0 = time.perf_counter()
        rec = banded_bucket_histogram(spark, sf_dir)
        rec.update(q="q25_bucket_histogram", sf_dir=sf_dir,
                   wall_sec=round(time.perf_counter() - t0, 1))
        print(json.dumps(rec), flush=True)

    if wanted and "q25capped" in wanted:
        fuzzy_dedup.LAST_STATS.clear()
        t0 = time.perf_counter()
        n = fuzzy_dedup.ngram_jaccard_pairs(
            registry.q25_input(spark, sf_dir), "doc_id", "text", shingle_n=3,
            num_hashes=8, band_size=2, jaccard_threshold=0.5,
            max_bucket_size=150,
        ).count()
        rec = {"q": "q25_capped150", "wall_sec": round(time.perf_counter() - t0, 1),
               "out_rows": n, "sf_dir": sf_dir}
        rec.update(fuzzy_dedup.LAST_STATS)
        print(json.dumps(rec), flush=True)

    for name in PAIR_QUERIES:
        if wanted and not any(name.startswith(w) for w in wanted):
            continue
        fuzzy_dedup.LAST_STATS.clear()
        t0 = time.perf_counter()
        n = qs[name](spark, sf_dir).count()
        wall = round(time.perf_counter() - t0, 1)
        rec = {"q": name, "wall_sec": wall, "out_rows": n, "sf_dir": sf_dir}
        rec.update(fuzzy_dedup.LAST_STATS)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
