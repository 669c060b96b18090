"""10x scale check for the PQ / IVF-PQ ANN family (VERDICT r5 #3),
matching the discipline of scripts/dedup_scale10_stages.py: replicated
corpus with per-replica perturbation, per-stage measurement, recall
audit at every scale.

Per scale (1x / 3x / 10x of the sf0.1 embeddings corpus):
- IVF-PQ train+encode wall-clock and derived encode throughput (vec/s);
- save the index (codes table hive-partitioned by cell_id), reload it,
  and measure probe-pruning effectiveness: cell dirs on disk vs cells
  the pruned scan actually reads (PartitionFilters in the physical
  plan, plus scanned-row counts = the InputMetrics proxy);
- recall@10 of the pruned+refined search vs exact brute force.

Replication is input-side scaling: generation k>0 offsets vec_id by
k*STRIDE and perturbs every lane by a deterministic +-5% hash noise, so
replicas stay inside the base corpus's density structure (realistic for
IVF cells) without being exact copies.

Not part of the test suite (runtime); results recorded in SCALING.md.

    python scripts/pq_scale_check.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

STRIDE = 1_000_000_000
K_COARSE = 16
NPROBE = 4
REFINE = 400
N_Q = 20


def replicated_emb(spark, sf_dir: str, k_copies: int, out: str) -> int:
    """embeddings x k_copies: generation 0 verbatim, generation k>0 with
    vec_id offset k*STRIDE and every lane shifted by deterministic hash
    noise in [-0.05, 0.05) (native expressions, no UDF)."""
    from zebra_spark.io import load

    base = load(spark, sf_dir, "embeddings")
    gens = [base]
    for k in range(1, k_copies):
        gens.append(
            base.withColumn("vec_id", F.col("vec_id") + F.lit(k * STRIDE))
            .withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, i) -> CAST(x + "
                    f"(pmod(xxhash64(vec_id, i, {k}), 1000) / 1000.0 - 0.5)"
                    f" * 0.1 AS FLOAT))"
                ),
            )
        )
    df = gens[0]
    for g in gens[1:]:
        df = df.unionByName(g)
    df.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return spark.read.parquet(f"{out}/embeddings.parquet").count()


def exact_top10(spark, corpus, n_q: int):
    """Brute-force L2^2 top-10 for query ids 0..n_q-1: broadcast query
    side, one corpus pass, per-query window top-k."""
    from zebra_spark import functions as zf

    q = corpus.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            zf.l2sq(F.col("qe"), F.col("emb")).alias("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id")
    )


def main() -> None:
    from zebra_spark.index.ivfpq import IVFPQIndex
    from zebra_spark.io import embeddings_d
    from zebra_spark.session import get_spark

    spark = get_spark("pq-scale", cpus="32")
    sf = "/root/testdata/sf0.1"

    # untimed warm-up train at 1x: the first train pays JVM/codegen/
    # Arrow-path warm-up that would otherwise distort the 1x baseline
    # (measured: cold 1x train 11.6 s vs 3x train 7.2 s)
    warm = tempfile.mkdtemp(prefix="pq10_warm_")
    replicated_emb(spark, sf, 1, warm)
    IVFPQIndex.train(spark, warm, k_coarse=K_COARSE, m=8, k=16)
    shutil.rmtree(warm, ignore_errors=True)

    results: dict[int, dict] = {}
    for k in (1, 3, 10):
        out = tempfile.mkdtemp(prefix=f"pq10_x{k}_")
        n = replicated_emb(spark, sf, k, out)

        t0 = time.perf_counter()
        idx = IVFPQIndex.train(spark, out, k_coarse=K_COARSE, m=8, k=16)
        t_train = time.perf_counter() - t0

        idx.save(f"{out}/idx")
        idx2 = IVFPQIndex.load(spark, f"{out}/idx")

        # probe pruning on the saved layout: which cells would ONE query
        # read (the per-query scan bound — the number that holds at any
        # batch size), and what does the 20-query batch's union cover?
        # (same nprobe-argmin as search_df's probe step, driver-side)
        rows = (
            idx2.corpus.filter(F.col("vec_id") < N_Q)
            .select("vec_id", "emb")
            .collect()
        )
        Q = np.array([r.emb for r in rows], dtype=np.float64)
        d2 = ((Q[:, None, :] - idx2.centroids[None, :, :]) ** 2).sum(axis=2)
        probe = np.argsort(d2, axis=1)[:, :NPROBE]
        probed_1 = sorted(int(c) for c in probe[0])
        probed_all = sorted({int(c) for row in probe for c in row})
        dirs = len(list(Path(f"{out}/idx/codes").glob("cell_id=*")))
        scan = idx2.coded.filter(F.col("cell_id").isin(probed_1))
        plan = scan._jdf.queryExecution().executedPlan().toString()
        pf = [ln.strip() for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "cell_id" in pf[0], "partition pruning missing from plan"
        n_scanned, n_total = scan.count(), idx2.coded.count()

        t0 = time.perf_counter()
        ann = idx2.search_ids(range(N_Q), k=10, nprobe=NPROBE, refine=REFINE)
        got = {(r.query_id, r.neighbor_id) for r in ann.collect()}
        t_search = time.perf_counter() - t0
        want = {
            (r.query_id, r.neighbor_id)
            for r in exact_top10(spark, embeddings_d(spark, out), N_Q).collect()
        }
        recall = len(got & want) / len(want)

        results[k] = {
            "rows": n,
            "train_s": round(t_train, 1),
            "enc_vps": int(n / t_train),
            "cells_1q": f"{len(probed_1)}/{dirs}",
            "rows_1q": f"{n_scanned}/{n_total}",
            "cells_batch20": f"{len(probed_all)}/{dirs}",
            "search_s": round(t_search, 1),
            "recall@10": round(recall, 3),
        }
        print(f"x{k}: {results[k]}", flush=True)
        i = pf[0].find("PartitionFilters")
        print(f"   plan: ...{pf[0][i:i + 120]}", flush=True)
        shutil.rmtree(out, ignore_errors=True)

    print("\ncurvature (time ratio / rows ratio; 1.0 = perfectly linear):")
    base = results[1]
    for k in (3, 10):
        r = results[k]
        rr = r["rows"] / base["rows"]
        for m in ("train_s", "search_s"):
            print(
                f"  x{k} {m}: x{r[m] / max(base[m], 0.1):.1f} over rows x{rr:.1f}"
                f" -> curvature {r[m] / max(base[m], 0.1) / rr:.2f}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
