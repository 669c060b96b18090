"""A/B: candidate `.distinct()` placement in _minhash_pairs at sf0.1.

Shipped (A): band-join -> 30.6M pair rows -> DISTINCT (7.7M) -> verify
             -> threshold filter.
Challenger (B): band-join -> verify ALL 30.6M candidate rows (the
             toksets side is a broadcast at this size, so the extra
             rows are pure map-side work) -> threshold filter ->
             DISTINCT on the final output (6.45M rows).

B trades the 30.6M-row candidate shuffle for ~4x map-side
array_intersect work + a 6.45M-row output distinct.  Interleaved
A B A B, equality asserted once.

    python scripts/minhash_nodistinct_ab.py
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.1"


def pairs_b(spark, sf_dir: str):
    from zebra_spark.caching import tracked_persist
    from zebra_spark.queries.dedup import (
        MINHASH_THRESHOLD,
        N_BANDS,
        N_HASHES,
        _minhash_sigs,
    )
    from zebra_spark.functions import rnd
    from zebra_spark.io import load
    from zebra_spark.queries.text import tokens

    docs = load(spark, sf_dir, "documents")
    sigs = tracked_persist(_minhash_sigs(docs, N_HASHES, N_BANDS))
    keyed = sigs.select("doc_id", F.xxhash64("band", "key").alias("bk"))
    a = keyed.select(F.col("doc_id").alias("doc_a"), "bk")
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("bk").alias("bk_b"))
    cand = a.join(
        b, (F.col("bk") == F.col("bk_b")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")  # NO distinct here
    tok = tokens(spark, sf_dir, distinct=True).select("doc_id", "word")
    toksets = tracked_persist(
        tok.groupBy("doc_id").agg(F.array_sort(F.collect_set("word")).alias("words"))
    )
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    scored = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("wa", "wb")).cast("bigint").alias("n_common"),
            F.size("wa").alias("na"),
            F.size("wb").alias("nb"),
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        scored.filter(jac >= MINHASH_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", rnd(jac).alias("jaccard"))
        .distinct()  # dedupe multi-band hits at the (small) output
    )


def main() -> None:
    import zebra_spark
    from zebra_spark.caching import release_caches
    from zebra_spark.session import get_spark

    zebra_spark.load_all_queries()
    spark = get_spark("minhash-ab", cpus="32")
    # warm
    zebra_spark.QUERIES["q_agg_hash"](spark, SF).count()

    counts = {}
    for rep in range(3):
        for eng in ("A", "B"):
            t0 = time.perf_counter()
            df = (
                zebra_spark.QUERIES["q_dedup_minhash"](spark, SF)
                if eng == "A"
                else pairs_b(spark, SF)
            )
            n = df.count()
            dt = time.perf_counter() - t0
            release_caches()
            counts[eng] = n
            print(f"  {eng} rep{rep}: {dt:6.1f}s  ({n:,} pairs)", flush=True)
    assert counts["A"] == counts["B"], counts
    print("  row counts identical")
    spark.stop()


if __name__ == "__main__":
    main()
