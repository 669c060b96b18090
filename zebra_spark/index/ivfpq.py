"""IVF-PQ: the billion-scale ANN composition (FAISS IVFADC, Jegou et
al. TPAMI 2011) — a coarse IVF quantizer prunes the corpus to `nprobe`
cells, and product-quantized RESIDUALS (vector minus cell centroid)
make the scan read 4-8 B codes instead of full vectors.

This composes the two standalone indexes (index/ivf.py's trained coarse
quantizer, index/pq.py's codebooks/ADC) into the layout actually used
at 10^9-10^12 vectors:

- cells bound the scan: only nprobe of k_coarse partitions are read
  (the codes table is written partitioned by cell_id, so Spark's
  partition pruning turns probes into file skips — same layout as the
  LSH bucket table, reference src/db/lsh.rs bucket files);
- residual PQ bounds the bytes: within a probed cell the scan is
  numpy take+sum over (n, m) uint8-sized codes;
- exactness is restored at the end: top-`refine` ADC candidates
  re-rank against the full vectors, so quantization affects recall
  only, never emitted distances.

Driver state: k_coarse x dim centroids + m x k x (dim/m) codebooks —
constants independent of corpus size.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zebra_spark import functions as zf
from zebra_spark.functions import rank_top_k
from zebra_spark.index import SearchIds, check_metric, query_frame
from zebra_spark.io import embeddings_d
from zebra_spark.index.ivf import IVFIndex, probe_l2sq_scores
from zebra_spark.index import ivf as _ivf_mod
from zebra_spark.index.pq import (
    _drift_row,
    _kmeans_np,
    _pq_decode_np,
    _pq_encode_np,
    _refine_candidates,
    _residual_lut,
    _sample_mse,
    retrain_due,
)


class IVFPQIndex(SearchIds):
    """Maintained state mirrors PQIndex (VERDICT r6 #1): add() assigns a
    new batch to the FROZEN coarse centroids, PQ-encodes the residuals
    with the FROZEN codebooks, and appends to the cell-partitioned codes
    table; drift_audit() tracks residual reconstruction error vs the
    frozen training baseline — the staleness signal for retrain()."""

    # the ADC lookup tables hold partial squared L2 distances
    metrics = ("l2sq",)

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        centroids: np.ndarray,  # (k_coarse, dim)
        codebooks: np.ndarray,  # (m, k, dim/m), trained on residuals
        coded: DataFrame,  # (cell_id, vec_id, codes array<int>)
        n_trained: int = 0,
        n_added: int = 0,
        appends: int = 0,
        train_mse: float | None = None,
    ):
        self.spark = spark
        self.corpus = corpus
        self.centroids = centroids
        self.codebooks = codebooks
        self.coded = coded
        self.n_trained = n_trained
        self.n_added = n_added
        self.appends = appends
        self.train_mse = train_mse  # residual-space baseline

    @classmethod
    def train(
        cls,
        spark: SparkSession,
        sf_dir: str,
        k_coarse: int = 16,
        m: int = 8,
        k: int = 16,
        iters: int = 5,
        seed: int = 42,
        sample_rows: int = 16_384,
        corpus: DataFrame | None = None,
    ) -> "IVFPQIndex":
        corpus = (
            corpus
            if corpus is not None
            else embeddings_d(spark, sf_dir).select("vec_id", "emb")
        )
        ivf = IVFIndex.train(
            spark, sf_dir, k=k_coarse, iters=iters, seed=seed, corpus=corpus
        )
        centroids = ivf.centroids
        dim = centroids.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m

        # residuals = emb - centroid[cell]; computed distributed, the
        # centroid matrix rides the closure
        cents = centroids.copy()

        def residual_op(batches):
            for pdf in batches:
                X = np.array(pdf["emb"].tolist(), dtype=np.float64)
                cells = np.asarray(pdf["cell_id"], dtype=np.int64)
                R = X - cents[cells]
                yield pd.DataFrame(
                    {
                        "vec_id": np.asarray(pdf["vec_id"], dtype=np.int64),
                        "cell_id": cells,
                        "res": list(R),
                    }
                )

        assigned = corpus.join(ivf.assignments, "vec_id")
        residuals = assigned.mapInPandas(
            residual_op, "vec_id bigint, cell_id int, res array<double>"
        )

        # PQ codebooks trained on a bounded seeded residual sample
        sample = (
            residuals.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
            .limit(sample_rows)
            .select("res")
            .toPandas()
        )
        R = np.array(sample["res"].tolist(), dtype=np.float64)
        codebooks = np.stack(
            [
                _kmeans_np(R[:, s * dsub : (s + 1) * dsub], k, 10, seed + s)
                for s in range(m)
            ]
        )
        cb = codebooks.copy()

        def encode_op(batches):
            for pdf in batches:
                R = np.array(pdf["res"].tolist(), dtype=np.float64)
                yield pd.DataFrame(
                    {
                        "cell_id": np.asarray(pdf["cell_id"], dtype=np.int64),
                        "vec_id": np.asarray(pdf["vec_id"], dtype=np.int64),
                        "codes": list(_pq_encode_np(R, cb)),
                    }
                )

        coded = residuals.mapInPandas(
            encode_op, "cell_id int, vec_id bigint, codes array<int>"
        ).localCheckpoint()
        return cls(
            spark, corpus, centroids, codebooks, coded,
            n_trained=coded.count(),
            train_mse=_sample_mse(R, codebooks),
        )

    @classmethod
    def from_options(cls, spark: SparkSession, corpus: DataFrame, opts: dict):
        """Train from the facade's index_options."""
        return cls.train(
            spark, "", k_coarse=opts.get("k_coarse", 16), m=opts.get("m", 8),
            k=opts.get("k", 16), iters=opts.get("iters", 5),
            seed=opts.get("seed", 42), corpus=corpus,
        )

    # -- incremental maintenance (VERDICT r6 #1) --------------------------

    def _assign_encode(self, new_corpus: DataFrame) -> DataFrame:
        """(cell_id, vec_id, codes) for a batch under the FROZEN coarse
        centroids + codebooks: one distributed pass, both matrices in
        the task closure, no shuffle."""
        cents, cb = self.centroids.copy(), self.codebooks.copy()
        probe_limit = _ivf_mod._PROBE_TENSOR_LIMIT  # driver-side read

        def op(batches):
            for pdf in batches:
                X = np.array(pdf["emb"].tolist(), dtype=np.float64)
                # cell RANKING via the shared guarded helper (r13 —
                # the ivf.py probe-tensor guard, applied family-wide)
                d2 = probe_l2sq_scores(X, cents, limit=probe_limit)
                cells = d2.argmin(axis=1)
                R = X - cents[cells]
                yield pd.DataFrame(
                    {
                        "cell_id": cells.astype(np.int64),
                        "vec_id": np.asarray(pdf["vec_id"], dtype=np.int64),
                        "codes": list(_pq_encode_np(R, cb)),
                    }
                )

        return new_corpus.select("vec_id", "emb").mapInPandas(
            op, "cell_id int, vec_id bigint, codes array<int>"
        )

    def add(self, new_corpus: DataFrame, path: str | None = None) -> int:
        """Append a new batch (vec_id, emb) WITHOUT retraining.  With
        `path` (a save() dir), the rows append into the SAME
        cell-partitioned codes layout — each cell's new file lands in
        its cell_id=N directory, so search-time partition pruning keeps
        skipping non-probed cells across any number of appends.
        Returns rows added; see PQIndex.add for the retrain contract."""
        new = new_corpus.select("vec_id", "emb").localCheckpoint()
        new_coded = self._assign_encode(new).localCheckpoint()
        n = new_coded.count()
        self.coded = self.coded.unionByName(new_coded)
        self.corpus = self.corpus.unionByName(new)
        self.appends += 1
        self.n_added += n
        if path is not None:
            new_coded.write.mode("append").partitionBy("cell_id").parquet(
                f"{path}/codes"
            )
            new.write.mode("append").parquet(f"{path}/embeddings")
            self._write_meta(path)  # counters already reflect this batch
        return n

    def remove(self, ids_df: DataFrame) -> None:
        """Delete by id (one column `vec_id`) from the coded table and
        corpus via anti-join — see PQIndex.remove for the counter
        convention."""
        ids = ids_df.select("vec_id")
        self.coded = self.coded.join(ids, "vec_id", "left_anti").localCheckpoint()
        self.corpus = self.corpus.join(ids, "vec_id", "left_anti")

    def needs_retrain(self, added_frac: float = 0.5) -> bool:
        return retrain_due(self.n_added, self.n_trained, added_frac)

    def retrain(self, iters: int = 5, seed: int = 42,
                sample_rows: int = 16_384) -> "IVFPQIndex":
        """Fresh coarse centroids AND residual codebooks over the
        current corpus (base + appends), full re-encode."""
        m, k, _ = self.codebooks.shape
        return IVFPQIndex.train(
            self.spark, "", k_coarse=self.centroids.shape[0], m=m, k=k,
            iters=iters, seed=seed, sample_rows=sample_rows,
            corpus=self.corpus,
        )

    def compact(self) -> "IVFPQIndex":
        """Collapse add() union lineage into checkpointed blocks (for a
        saved index, save() also rewrites the appended cell files into
        one clean partitioned layout)."""
        return IVFPQIndex(
            self.spark,
            self.corpus.localCheckpoint(),
            self.centroids,
            self.codebooks,
            self.coded.localCheckpoint(),
            n_trained=self.n_trained,
            n_added=self.n_added,
            appends=0,
            train_mse=self.train_mse,
        )

    def drift_audit(self, batch: DataFrame, label: str = "batch") -> DataFrame:
        """One row (split, n, mse, ratio): mean squared RESIDUAL
        reconstruction error of `batch` under the frozen
        centroids+codebooks vs the frozen training baseline — ratio ≫ 1
        means new data lands far from any trained cell/codeword and the
        quantizer has gone stale.  Distributed partial sums; only
        (n, sse) reaches the driver."""
        cents, cb = self.centroids.copy(), self.codebooks.copy()
        probe_limit = _ivf_mod._PROBE_TENSOR_LIMIT  # driver-side read

        def op(batches):
            for pdf in batches:
                X = np.array(pdf["emb"].tolist(), dtype=np.float64)
                d2 = probe_l2sq_scores(X, cents, limit=probe_limit)
                R = X - cents[d2.argmin(axis=1)]
                Rh = _pq_decode_np(_pq_encode_np(R, cb), cb)
                yield pd.DataFrame(
                    {"n": [len(X)], "sse": [float(((R - Rh) ** 2).sum())]}
                )

        return _drift_row(self.spark, batch, op, label, self.train_mse)

    def _write_meta(self, path: str) -> None:
        import json

        from zebra_spark.fsutil import write_text

        write_text(
            self.spark,
            f"{path}/metadata.json",
            json.dumps(
                {
                    "centroids": self.centroids.tolist(),
                    "codebooks": self.codebooks.tolist(),
                    "n_trained": self.n_trained,
                    "n_added": self.n_added,
                    "appends": self.appends,
                    "train_mse": self.train_mse,
                }
            ),
        )

    def save(self, path: str) -> None:
        self.coded = self.coded.localCheckpoint()
        self.corpus = self.corpus.localCheckpoint()
        # partitionBy(cell_id): probes become partition-pruned file skips
        self.coded.write.mode("overwrite").partitionBy("cell_id").parquet(
            f"{path}/codes"
        )
        self.corpus.write.mode("overwrite").parquet(f"{path}/embeddings")
        self._write_meta(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFPQIndex":
        import json

        from zebra_spark.fsutil import read_text

        meta = json.loads(read_text(spark, f"{path}/metadata.json"))
        return cls(
            spark,
            spark.read.parquet(f"{path}/embeddings"),
            np.array(meta["centroids"]),
            np.array(meta["codebooks"]),
            spark.read.parquet(f"{path}/codes"),
            n_trained=int(meta.get("n_trained", 0)),
            n_added=int(meta.get("n_added", 0)),
            appends=int(meta.get("appends", 0)),
            train_mse=meta.get("train_mse"),
        )

    def search_vectors(
        self,
        vectors: np.ndarray,
        k: int = 10,
        metric: str = "l2sq",
        query_ids: Sequence[int] | None = None,
        filter_ids: DataFrame | None = None,
        *,
        nprobe: int = 8,
        refine: int = 100,
    ) -> DataFrame:
        """A driver-side batch (query ids default to the row positions),
        shipped as a small frame to search_df: the probe join needs the
        query vectors per (query, cell) row, so there is one ADC scan."""
        return self.search_df(
            query_frame(self.spark, vectors, query_ids), k, metric,
            filter_ids, nprobe=nprobe, refine=refine,
        )

    def search_df(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str = "l2sq",
        filter_ids: DataFrame | None = None,
        *,
        nprobe: int = 8,
        refine: int = 100,
    ) -> DataFrame:
        """Distributed IVF-PQ search: `queries` is (query_id bigint, qe
        array<double>) and NOTHING batch-proportional touches the driver
        (the LSH/IVF search_df contract, extended to the
        coarse-quantized layout).

        Plan shape:
        1. probe assignment: one mapInPandas over the query batch emits
           (query_id, cell_id, qe) — the nprobe nearest frozen
           centroids per query, centroid matrix in the closure;
        2. the probe frame joins the coded table on cell_id (the ONLY
           corpus-sized shuffle, bounded by sum over probed cells of
           |cell| x queries-probing-it — exactly the ADC work itself);
        3. applyInPandas per (cell_id, query_id) group builds that
           query's residual LUT once and scores the cell's codes via
           numpy take+sum, emitting a partial top-`refine`;
        4. global per-query top-`refine` window, exact re-rank against
           the full vectors (distances exact, quantization affects
           recall only).

        filter_ids (r16, VERDICT r15 #4): a one-column (vec_id) frame
        of ADMISSIBLE neighbours, semi-joined into the coded table
        before the probe join — excluded rows are never ADC-scored and
        never consume refine slots (the pre-filter contract shared by
        all four index families)."""
        check_metric(type(self), metric)
        cents, cb = self.centroids.copy(), self.codebooks.copy()
        m = cb.shape[0]
        # clamp: argsort slice below yields min(nprobe, k_coarse)
        # columns, but np.repeat and the qe expansion use nprobe_ — an
        # oversized nprobe (recall tuning on a small index) would emit
        # mismatched column lengths (ADVICE r7)
        nprobe_ = min(nprobe, len(cents))
        probe_limit = _ivf_mod._PROBE_TENSOR_LIMIT  # driver-side read

        def probe_op(batches):
            for pdf in batches:
                Q = np.array(pdf["qe"].tolist(), dtype=np.float64)
                d2 = probe_l2sq_scores(Q, cents, limit=probe_limit)
                probe = np.argsort(d2, axis=1)[:, :nprobe_]  # (nq, nprobe)
                nq = len(Q)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            np.asarray(pdf["query_id"], dtype=np.int64), nprobe_
                        ),
                        "cell_id": probe.reshape(-1).astype(np.int64),
                        "qe": [q for q in Q for _ in range(nprobe_)],
                    }
                )

        probes = queries.select("query_id", "qe").mapInPandas(
            probe_op, "query_id bigint, cell_id int, qe array<double>"
        )

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            # one (cell_id, query_id) group: LUT built once, numpy scan
            c = int(pdf["cell_id"].iloc[0])
            q = np.array(pdf["qe"].iloc[0], dtype=np.float64)
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)
            vids = np.asarray(pdf["vec_id"], dtype=np.int64)
            lut = _residual_lut(q - cents[c], cb)
            adist = np.zeros(len(C))
            for s in range(m):
                adist += lut[s][C[:, s]]
            keep = min(refine, len(C))
            part = np.argpartition(adist, keep - 1)[:keep]
            return pd.DataFrame(
                {
                    "query_id": np.full(keep, int(pdf["query_id"].iloc[0])),
                    "vec_id": vids[part],
                    "adist": adist[part],
                }
            )

        coded_side = self.coded
        if filter_ids is not None:
            coded_side = coded_side.join(
                filter_ids.select("vec_id"), "vec_id", "left_semi"
            )
        scored = (
            coded_side.join(probes, "cell_id")
            .groupBy("cell_id", "query_id")
            .applyInPandas(
                score_group, "query_id bigint, vec_id bigint, adist double"
            )
        )
        cand = _refine_candidates(scored, refine)
        return rank_top_k(
            cand.join(self.corpus, "vec_id")
            .join(queries.select("query_id", "qe"), "query_id")
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                zf.l2sq(F.col("qe"), F.col("emb")).alias("dist"),
            ),
            k,
        )

    def cell_sizes(self) -> DataFrame:
        return (
            self.coded.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cell_id")
        )
