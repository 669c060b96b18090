"""Isolated stage timings for the MinHash dedup pipeline at sf0.1.

Run on a quiet machine:  python scripts/minhash_stages.py
Prints per-stage wall times so SCALING.md claims stay measured, not
guessed (VERDICT r2: reconcile bench vs docs with isolated numbers).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    import zebra_spark
    from zebra_spark.io import load
    from zebra_spark.queries import dedup
    from zebra_spark.session import get_spark

    zebra_spark.load_all_queries()
    spark = get_spark("minhash-stages", cpus="32")

    # warm
    docs = load(spark, SF, "documents")
    dedup._token_ids(docs).count()

    t0 = time.perf_counter()
    n_tok = dedup._token_ids(docs).count()
    t_tok = time.perf_counter() - t0

    t0 = time.perf_counter()
    sigs = dedup._minhash_sigs(docs)
    n_sigs = sigs.count()
    t_sigs = time.perf_counter() - t0

    # candidates only (hashed band-key equi-join as in _minhash_pairs,
    # no verify)
    t0 = time.perf_counter()
    keyed = sigs.select("doc_id", F.xxhash64("band", "key").alias("bk"))
    a = keyed.select(F.col("doc_id").alias("doc_a"), "bk")
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("bk").alias("bk_b"))
    cand = (
        a.join(
            b,
            (F.col("bk") == F.col("bk_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    n_cand = cand.count()
    t_cand = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pairs = zebra_spark.QUERIES["q_dedup_minhash"](spark, SF).count()
    t_full = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_clusters = zebra_spark.QUERIES["q_dedup_clusters"](spark, SF).count()
    t_clusters = time.perf_counter() - t0

    print(f"token_ids      rows={n_tok:>10,}  {t_tok:6.2f}s")
    print(f"sigs           rows={n_sigs:>10,}  {t_sigs:6.2f}s (incl token stage)")
    print(f"candidates     rows={n_cand:>10,}  {t_cand:6.2f}s (incl sig stage)")
    print(f"full minhash   rows={n_pairs:>10,}  {t_full:6.2f}s (verify delta = full - cand)")
    print(f"clusters       rows={n_clusters:>10,}  {t_clusters:6.2f}s (CC delta = clusters - full)")
    spark.stop()


if __name__ == "__main__":
    main()
