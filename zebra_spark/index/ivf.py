"""IVF-flat index with a k-means-trained coarse quantizer.

Complements the LSH forest (lsh.py): LSH mirrors the reference's index
family; IVF is the standard alternative for clustered embedding spaces
(FAISS IVF-flat layout re-expressed in DataFrames).  q_ann_ivf in
queries/ann.py is the deterministic-seed variant used for the DuckDB
oracle; this module adds real Lloyd training.

Scale posture:
- training: each Lloyd iteration is one broadcast join (corpus x k
  centroids — centroids are tiny) + one groupBy(cluster, pos) mean over
  posexploded values.  No driver-side data beyond the k x dim centroid
  matrix.
- index layout: (cell_id, vec_id) — persisted partitioned by cell_id,
  probes are partition-pruned scans exactly like the LSH bucket table.
- search: nprobe nearest cells per query (driver-side numpy on the
  small centroid matrix), candidates = probed cells only, exact re-rank
  with native distance expressions.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zebra_spark import functions as zf
from zebra_spark.functions import rank_top_k
from zebra_spark.index import SearchIds, query_frame
from zebra_spark.io import embeddings_d


# Probe-ranking tensor guard (VERDICT r12 #5): the exact
# broadcast-difference tensor ((q - c)^2).sum(axis=2) is
# O(batch x k_cells x dim) doubles.  At the defaults (k <= 64 cells,
# dim 64) that is a scalar-class allocation, and we KEEP it because it
# is bit-identical to the driver-side numpy path in search_vectors —
# the algebraically-equal BLAS form rounds differently and can flip an
# argsort boundary between near-equidistant centroids.  Past this many
# k_cells x dim doubles per QUERY ROW (2^20 = 8 MiB/row; a mapInPandas
# batch of 10^4 rows would materialize ~80 GiB) the ranking switches
# to the O(batch x k) BLAS form  ||c||^2 - 2 q.C^T  (the per-row
# ||q||^2 constant is dropped — it cannot change a per-row ranking):
# memory-bounded, same top-nprobe selection up to FP rounding of
# near-ties (pinned at k=256 by tests/test_ivf_probe_guard.py).
_PROBE_TENSOR_LIMIT = 1 << 20


def probe_l2sq_scores(
    M: np.ndarray,
    centroids: np.ndarray,
    cn2: np.ndarray | None = None,
    limit: int = _PROBE_TENSOR_LIMIT,
) -> np.ndarray:
    """Per-row L2^2 ranking SCORES from each query row of ``M`` to each
    centroid, for probe-cell selection.  Valid for per-row
    argsort/argpartition ONLY: above the guard the scores drop the
    per-row ||q||^2 constant, so they are not distances.  The single
    implementation shared by IVFIndex.search_vectors, search_df and
    queries.vector.label_prop_ann_df (ADVICE r12), so the exact-vs-BLAS
    switch point and the small-k bit-parity guarantee exist once."""
    k, dim = centroids.shape
    if k * dim <= limit:
        return ((M[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    if cn2 is None:
        cn2 = (centroids ** 2).sum(axis=1)
    return cn2[None, :] - 2.0 * (M @ centroids.T)


def _probe_cells(
    M: np.ndarray, centroids: np.ndarray, metric: str, nprobe: int,
    limit: int,
) -> np.ndarray:
    """(n_queries, nprobe) nearest cells per query row under the SEARCH
    metric.  Training is L2 (standard IVF); for cosine search, probe by
    cosine so high-magnitude vectors in distant L2 cells remain
    reachable — for best recall, L2-normalize embeddings before
    training when serving cosine."""
    if metric == "cosine":
        qn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        cn = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
        d2 = 1.0 - qn @ cn.T
    else:
        d2 = probe_l2sq_scores(M, centroids, limit=limit)
    return np.argsort(d2, axis=1)[:, :nprobe]


def salt_buckets(
    sizes: dict[int, int], k: int, cap: int = 128
) -> np.ndarray:
    """Per-cell salt-bucket counts: ceil(n / cap), min 1 — the shared
    ingredient of every salted cell join (IVFIndex.search_df and
    queries.vector.label_prop_ann_df)."""
    import math

    return np.array(
        [max(1, math.ceil(sizes.get(c, 0) / cap)) for c in range(k)],
        dtype=np.int64,
    )


def expand_probe_rows(
    cells: np.ndarray, buckets: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized probe-side salt replication for a (n_queries, nprobe)
    probe-cell matrix: returns (row_idx, cell_ids, salts, reps) where
    each (query, cell) row repeats once per salt bucket of that cell,
    salts enumerate 0..buckets[cell]-1 within the repeat, and row_idx
    maps every output row back to its query row.  Shared by the two
    salted cell joins so the replication index math exists once."""
    n, nprobe = cells.shape
    flat_cells = cells.ravel()
    flat_reps = buckets[flat_cells]
    row_idx = np.repeat(np.repeat(np.arange(n), nprobe), flat_reps)
    ends = np.cumsum(flat_reps)
    salts = np.arange(ends[-1]) - np.repeat(ends - flat_reps, flat_reps)
    return row_idx, np.repeat(flat_cells, flat_reps), salts, flat_reps


def salted_cell_side(df: DataFrame, buckets: np.ndarray, id_col: str) -> DataFrame:
    """Attach the deterministic salt column (pmod(xxhash64(id),
    buckets[cell])) to a (…, cell_id) frame and repartition on the
    salted key — the corpus/seed side of a salted cell join.  The
    repartition matters: the upstream frames are typically
    AQE-coalesced to ~1 partition (tiny rows), and the candidate pairs
    STREAM out of this join, so its partitioning bounds the whole
    search's parallelism."""
    barr = F.array(*[F.lit(int(b)) for b in buckets])
    return (
        df.withColumn(
            "salt",
            F.pmod(
                F.xxhash64(id_col),
                F.element_at(barr, F.col("cell_id") + 1),
            ).cast("int"),
        )
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            "cell_id", "salt",
        )
    )


def _assign(corpus: DataFrame, centroids: np.ndarray,
            spread: bool = False) -> DataFrame:
    """(vec_id, cell_id): nearest centroid per vector via one broadcast
    join; ties broken by cell_id."""
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell_id int, ce array<double>",
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cell_id")
    if spread:
        from zebra_spark.io import spread_scan

        corpus = spread_scan(corpus, "vec_id")
    return (
        corpus.crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            "cell_id",
            zf.l2sq(F.col("emb"), F.col("ce")).alias("d"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell_id")
    )


class IVFIndex(SearchIds):
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        centroids: np.ndarray,
        assignments: DataFrame,
    ):
        self.spark = spark
        self.corpus = corpus  # (vec_id, emb double[])
        self.centroids = centroids  # (k, dim) driver-side
        self.assignments = assignments  # (vec_id, cell_id)
        # lazy per-instance cache of cell sizes for search_df's salt
        # buckets (k driver-side ints); invalidated by add/remove
        self._sizes: dict[int, int] | None = None

    @classmethod
    def train(
        cls,
        spark: SparkSession,
        sf_dir: str,
        k: int = 16,
        iters: int = 5,
        seed: int = 42,
        corpus: DataFrame | None = None,
    ) -> "IVFIndex":
        """Seeded Lloyd: init = k seeded-sample vectors; iterate
        assign (broadcast join) -> update (posexplode + groupBy mean).
        Empty clusters keep their previous centroid."""
        corpus = corpus if corpus is not None else embeddings_d(spark, sf_dir).select(
            "vec_id", "emb"
        )
        init = (
            corpus.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
            .limit(k)
            .collect()
        )
        # empty-corpus check from the init collect itself (r17
        # continuation, guide §1.2 fewer jobs): the previous shape ran
        # a separate count() job whose only use was this raise — an
        # empty corpus yields an empty init sample, same signal
        if not init:
            raise ValueError("cannot train IVF over an empty corpus")
        centroids = np.array([r.emb for r in init], dtype=np.float64)
        k = len(centroids)
        dim = centroids.shape[1]
        from zebra_spark.io import spread_scan

        for _ in range(iters):
            # FUSED assign+update (r17, guide §2.4): one aggregation
            # job per iteration instead of _assign's window + a
            # corpus⋈assign hash join to recover `emb` — the crossJoin
            # already carries emb, so argmin via min(struct(d,
            # cell_id)) (≡ the window's orderBy("d", "cell_id") rk=1,
            # lexicographic struct order, identical tie-break) keeps
            # it in-row and the join disappears.  first("emb") is
            # value-deterministic: every candidate row of a vec_id
            # group replicates the SAME array.  Shuffle bytes also
            # shrink: the partial agg ships n rows (emb once) where
            # the old plan shipped n*k skinny window rows PLUS the
            # full corpus again through the join.  Measured at the
            # 100-seed label-prop gate: train 3.7 s -> see
            # OPTIMIZATION_r17.md.
            cdf = spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
                "cell_id int, ce array<double>",
            )
            means = (
                spread_scan(corpus, "vec_id")
                .crossJoin(F.broadcast(cdf))
                .select(
                    "vec_id",
                    "emb",
                    F.struct(
                        zf.l2sq(F.col("emb"), F.col("ce")).alias("d"),
                        "cell_id",
                    ).alias("s"),
                )
                .groupBy("vec_id")
                .agg(F.min("s").alias("s"), F.first("emb").alias("emb"))
                .select(
                    F.col("s.cell_id").alias("cell_id"),
                    F.posexplode("emb").alias("pos", "val"),
                )
                .groupBy("cell_id", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )  # k * dim rows — driver-small at any corpus size
            new = centroids.copy()
            for r in means:
                new[r.cell_id, r.pos] = r.m
            if np.allclose(new, centroids, atol=1e-12):
                centroids = new
                break
            centroids = new
        assignments = _assign(corpus, centroids, spread=True).localCheckpoint()
        return cls(spark, corpus, centroids, assignments)

    @classmethod
    def from_options(cls, spark: SparkSession, corpus: DataFrame, opts: dict):
        """Train from the facade's index_options."""
        return cls.train(
            spark, "", k=opts.get("k_coarse", 16), iters=opts.get("iters", 5),
            seed=opts.get("seed", 42), corpus=corpus,
        )

    def add(self, new_corpus: DataFrame) -> int:
        """Incremental maintenance (≙ LSHIndex::add, reference
        lsh.rs:440-466, and the r7 PQ-family contract): assign a new
        batch (vec_id, emb) to the FROZEN centroids — one broadcast
        join, no re-clustering — and union into the index.  Returns
        rows added.  Cell balance drifts as batches accumulate;
        cell_sizes() is the audit, retraining restores it."""
        new = new_corpus.select("vec_id", "emb").localCheckpoint()
        new_assign = _assign(new, self.centroids).localCheckpoint()
        n = new_assign.count()
        self.assignments = self.assignments.unionByName(new_assign)
        self.corpus = self.corpus.unionByName(new)
        self._sizes = None
        return n

    def remove(self, ids_df: DataFrame) -> None:
        """Delete by id (one column `vec_id`) everywhere — corpus and
        assignments — via anti-join (≙ Database::remove +
        LSHIndex::remove; complete, like the LSH path, where the
        reference strips only root leaves at lsh.rs:487)."""
        ids = ids_df.select("vec_id")
        self.assignments = self.assignments.join(
            ids, "vec_id", "left_anti"
        ).localCheckpoint()
        self.corpus = self.corpus.join(ids, "vec_id", "left_anti")
        self._sizes = None

    def save(self, path: str) -> None:
        import json

        from zebra_spark.fsutil import write_text

        # a loaded index reads lazily from these paths — materialize and
        # reassign before overwrite (same guard as LSHIndex.save)
        self.assignments = self.assignments.localCheckpoint()
        self.corpus = self.corpus.localCheckpoint()
        self.assignments.write.mode("overwrite").partitionBy("cell_id").parquet(
            f"{path}/cells"
        )
        self.corpus.write.mode("overwrite").parquet(f"{path}/embeddings")
        write_text(
            self.spark,
            f"{path}/metadata.json",
            json.dumps({"centroids": self.centroids.tolist()}),
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        import json

        from zebra_spark.fsutil import read_text

        centroids = np.array(
            json.loads(read_text(spark, f"{path}/metadata.json"))["centroids"]
        )
        return cls(
            spark,
            spark.read.parquet(f"{path}/embeddings"),
            centroids,
            spark.read.parquet(f"{path}/cells"),
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
    ) -> DataFrame:
        """Driver-side batch search: the nprobe nearest cells per query
        (numpy on the small centroid set) broadcast as probe keys, then
        an exact re-rank of the probed cells' members.  filter_ids: a
        one-column (vec_id) frame of ADMISSIBLE neighbours, semi-joined
        into the cell table before the key join (pre-filter, same
        contract as search_df)."""
        vectors = np.asarray(vectors, dtype=np.float64)
        if query_ids is None:
            query_ids = list(range(len(vectors)))
        probe_cells = _probe_cells(
            vectors, self.centroids, metric, nprobe, _PROBE_TENSOR_LIMIT
        )
        keys = [
            (int(q), int(c))
            for q, cells in zip(query_ids, probe_cells)
            for c in cells
        ]
        keys_df = self.spark.createDataFrame(keys, "query_id bigint, cell_id int")
        qdf = query_frame(self.spark, vectors, query_ids)
        metric_fn = zf.METRICS[metric]
        assignments = self.assignments
        if filter_ids is not None:
            assignments = assignments.join(
                filter_ids.select("vec_id"), "vec_id", "left_semi"
            )
        return rank_top_k(
            assignments.join(F.broadcast(keys_df), "cell_id")
            .select("query_id", "vec_id")
            .join(self.corpus, "vec_id")
            .join(F.broadcast(qdf), "query_id")
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                metric_fn(F.col("qe"), F.col("emb")).alias("dist"),
            ),
            k,
        )

    # seeds-per-salt-bucket cap for the search cell join — the same
    # giant-cell-cap pattern the dedup blocking joins use
    _SALT_CAP = 128

    def search_df(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str = "l2sq",
        filter_ids: DataFrame | None = None,
        *,
        nprobe: int = 8,
    ) -> DataFrame:
        """DataFrame-native ANN for large query batches: `queries` is
        (query_id bigint, qe array<double>).  Probe cells are computed
        executor-side (the k x dim centroid matrix rides the mapInPandas
        closure), so neither vectors nor probe keys transit the driver —
        the mirror of LSHIndex.search_df.

        Plan shape (r12 — the lesson label_prop_ann_df measured at
        9.2x): a SALTED CELL JOIN.  The probe expansion carries the
        query vector, the corpus side carries (cell_id, salt, emb),
        and the distance is computed INSIDE the one equi-join — the
        candidate pairs (the big intermediate) form and reduce inside
        whole-stage codegen and are never shuffled.  The previous
        (query_id, vec_id)-pair plan re-fetched both embedding arrays
        by id and shuffled every candidate row twice.  Per-cell salt
        buckets (ceil(n / _SALT_CAP)) bound pairs-per-key so one hot
        cell cannot serialize the search onto one task; the candidate
        SET, ranking, and tie-breaks are identical to the old plan
        AND to search_vectors — the probe ranking goes through
        probe_l2sq_scores, which keeps the exact ((q - c)^2).sum
        tensor at small k (bit-identical to the driver-side numpy
        path; a rank-equivalent matmul's different FP rounding could
        flip an argsort boundary between near-equidistant centroids —
        pinned by test_ivf_search_df_matches_numpy_path) and switches
        to the memory-bounded BLAS form past _PROBE_TENSOR_LIMIT
        (VERDICT r12 #5; pinned by test_ivf_probe_guard.py).

        filter_ids (r16, VERDICT r15 #4): a one-column (vec_id) frame
        of ADMISSIBLE neighbours — metadata-predicate + kNN in one
        pass.  The filter semi-joins the corpus side BEFORE the salted
        cell join, so excluded vectors never pair with a probe row
        (pre-filter, same contract as LSHIndex.search_df).  Raise
        `nprobe` as the filter gets more selective; the recall gate vs
        the filtered exact oracle is tests/test_ann_recall_sf01.py."""
        centroids = self.centroids
        # same clamp as IVFPQIndex.search_df (ADVICE r7): an oversized
        # nprobe would make the expansion disagree with the probe slice
        nprobe = min(nprobe, len(centroids))
        if self._sizes is None:
            # one k-row collect per index mutation, not per call
            self._sizes = {
                r["cell_id"]: r["n"] for r in self.cell_sizes().collect()
            }
        buckets = salt_buckets(
            self._sizes, len(centroids), self._SALT_CAP
        )
        # read the guard DRIVER-SIDE and ship the int in the closure:
        # the mapInPandas worker re-imports this module, so a module
        # attribute read inside probe_op would ignore any driver-side
        # override (tests monkeypatch _PROBE_TENSOR_LIMIT to force the
        # BLAS path end-to-end)
        probe_limit = _PROBE_TENSOR_LIMIT

        def probe_op(batches):
            for pdf in batches:
                qes = pdf["qe"].tolist()
                if not qes or nprobe == 0:
                    continue
                cells = _probe_cells(
                    np.asarray(qes, dtype=np.float64), centroids, metric,
                    nprobe, probe_limit,
                )
                row_idx, cell_ids, salts, _ = expand_probe_rows(
                    cells, buckets
                )
                ids = np.asarray(pdf["query_id"], dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "query_id": ids[row_idx],
                        "cell_id": cell_ids,
                        "salt": salts,
                        "qe": [qes[i] for i in row_idx],
                    }
                )

        probed = queries.mapInPandas(
            probe_op, "query_id bigint, cell_id int, salt int, qe array<double>"
        )
        corpus_side = self.assignments.join(self.corpus, "vec_id")
        if filter_ids is not None:
            corpus_side = corpus_side.join(
                filter_ids.select("vec_id"), "vec_id", "left_semi"
            )
        cell_corpus = salted_cell_side(corpus_side, buckets, "vec_id")
        metric_fn = zf.METRICS[metric]
        return rank_top_k(
            probed.join(cell_corpus, ["cell_id", "salt"]).select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                metric_fn(F.col("qe"), F.col("emb")).alias("dist"),
            ),
            k,
        )

    def cell_sizes(self) -> DataFrame:
        return (
            self.assignments.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cell_id")
        )
