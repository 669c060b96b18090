"""Stage breakdown for the 10x replicated-corpus scale check
(scripts/dedup_scale10.py showed q_dedup_minhash curvature 4.3 at 10x):
per scale, measure signature time, band-bucket size distribution,
candidate-pair volume (sum g^2/2 over buckets, pre- and post-distinct),
and verify time, to attribute the superlinearity to a stage.

    python scripts/dedup_scale10_stages.py
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def main() -> None:
    import shutil

    import zebra_spark
    from zebra_spark.caching import release_caches
    from zebra_spark.io import load
    from zebra_spark.queries import dedup
    from zebra_spark.session import get_spark
    from scripts.dedup_scale10 import replicated

    zebra_spark.load_all_queries()
    spark = get_spark("dedup-scale10-stages", cpus="32")
    sf = "/root/testdata/sf0.1"

    for k in (1, 3, 10):
        out = tempfile.mkdtemp(prefix=f"d10s_x{k}_")
        n_rows = replicated(spark, sf, k, out)

        t0 = time.perf_counter()
        sigs = dedup._minhash_sigs(load(spark, out, "documents"))
        n_sigs = sigs.count()
        t_sigs = time.perf_counter() - t0

        # bucket stats: per (band,key) group size g; pair fan-out g*(g-1)/2
        t0 = time.perf_counter()
        stats = (
            sigs.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.max("g").alias("max_g"),
                F.sum(F.col("g") * (F.col("g") - 1) / 2).alias("pair_rows"),
            )
            .collect()[0]
        )
        t_buckets = time.perf_counter() - t0

        keyed = sigs.select("doc_id", F.xxhash64("band", "key").alias("bk"))
        a = keyed.select(F.col("doc_id").alias("doc_a"), "bk")
        b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("bk").alias("bk_b"))
        t0 = time.perf_counter()
        n_cand = (
            a.join(
                b,
                (F.col("bk") == F.col("bk_b")) & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b")
            .distinct()
            .count()
        )
        t_cand = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_pairs = zebra_spark.QUERIES["q_dedup_minhash"](spark, out).count()
        t_full = time.perf_counter() - t0
        release_caches()

        print(
            f"x{k}: rows={n_rows:,} sigs={n_sigs:,} ({t_sigs:.1f}s) "
            f"buckets={stats['n_buckets']:,} max_g={stats['max_g']:,} "
            f"pair_rows={int(stats['pair_rows']):,} ({t_buckets:.1f}s) "
            f"cand={n_cand:,} ({t_cand:.1f}s) "
            f"pairs={n_pairs:,} (full {t_full:.1f}s)",
            flush=True,
        )
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
