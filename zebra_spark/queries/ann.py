"""Similarity-search suite (rows-only entries): the LSH ANN path and its
diagnostics.  Brute-force kNN (the oracle) lives in queries.vector.

These are registered WITHOUT oracle SQL — the driver records rows-only
checks; PySpark-side tests assert the strong invariants (recall@10 >= 0.9
vs q_knn_exact, seeded determinism) in tests/test_lsh.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from zebra_spark.functions import rnd as zf_rnd
from zebra_spark.registry import query

_INDEX_CACHE: dict[tuple, object] = {}


def get_index(spark: SparkSession, sf_dir: str, num_trees: int = 15, seed: int = 42):
    from zebra_spark.index.lsh import LSHIndex

    # keyed on applicationId, not id(spark): CPython reuses object ids
    # after GC, which could hand a new session an index bound to a
    # stopped one (ADVICE r1)
    key = (spark.sparkContext.applicationId, sf_dir, num_trees, seed)
    if key not in _INDEX_CACHE:
        for k in [k for k in _INDEX_CACHE if k[0] != key[0]]:
            del _INDEX_CACHE[k]  # evict indexes of dead sessions
        _INDEX_CACHE[key] = LSHIndex.build(
            spark, sf_dir, num_trees=num_trees, seed=seed
        )
    return _INDEX_CACHE[key]


@query("q_knn_lsh")
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for the first 10 corpus vectors via the seeded LSH
    forest (candidate bucket join + exact re-rank), with the semantics
    PINNED IN THE OUTPUT: every row carries `recall` (fraction of the
    exact brute-force top-10 the forest recovered, computed
    declaratively against q_knn_exact — no driver collect) and
    `n_candidates` (deduped pre-rerank candidate rows), so even the
    rows-only driver check sees a value that collapses if the index
    degrades.  recall >= 0.9 is additionally asserted in
    tests/test_lsh.py."""
    from pyspark.sql import functions as F

    from zebra_spark.registry import QUERIES

    idx = get_index(spark, sf_dir)
    ann = idx.search_ids(range(10), k=10)
    exact = QUERIES["q_knn_exact"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    n_hit = (
        ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    stats = (
        n_hit.crossJoin(n_exact)
        .crossJoin(
            idx.candidates_for_ids(range(10)).agg(
                F.count(F.lit(1)).alias("n_candidates")
            )
        )
        .select(
            zf_rnd(F.col("n_hit") / F.col("n_exact")).alias("recall"),
            "n_candidates",
        )
    )
    return ann.crossJoin(F.broadcast(stats))


@query("q_lsh_bucket_counts")
def q_lsh_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size histogram of the seeded forest — deterministic under
    the fixed seed; golden-checked in tests/test_lsh.py."""
    idx = get_index(spark, sf_dir)
    return idx.bucket_counts()


# --- IVF-flat (hash-checked: deterministic coarse quantizer) ---------------

from pyspark.sql import Window
from pyspark.sql import functions as F

from zebra_spark import functions as zf
from zebra_spark.functions import rank_top_k, rnd
from zebra_spark.io import embeddings_d
from zebra_spark.registry import sql_rnd

N_CELLS = 10
N_PROBE = 2
IVF_K = 5


@query(
    "q_ann_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    seeds AS (SELECT vec_id AS cell_id, emb AS ce FROM e
              WHERE vec_id < {N_CELLS}),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, s.cell_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {zf.sql_metric("l2sq", a="e.emb", b="s.ce", dim=64)}, s.cell_id)
                 AS rk
        FROM e CROSS JOIN seeds s
      ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, emb AS qe FROM e
          WHERE vec_id >= 490 AND vec_id < 500),
    qprobe AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, s.cell_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 {zf.sql_metric("l2sq", a="q.qe", b="s.ce", dim=64)}, s.cell_id)
                 AS rk
        FROM q CROSS JOIN seeds s
      ) WHERE rk <= {N_PROBE}
    ),
    cand AS (
      SELECT qp.query_id, a.vec_id AS neighbor_id
      FROM qprobe qp JOIN assign a ON a.cell_id = qp.cell_id
    ),
    d AS (
      SELECT c.query_id, c.neighbor_id,
             {zf.sql_metric("l2sq", a="q.qe", b="e.emb", dim=64)} AS dist
      FROM cand c
      JOIN q ON q.query_id = c.query_id
      JOIN e ON e.vec_id = c.neighbor_id
    ),
    r AS (
      SELECT query_id, neighbor_id, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor_id) AS INTEGER) AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, rank, {sql_rnd("dist")} AS dist
    FROM r WHERE rank <= {IVF_K}
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic coarse quantizer (cells seeded by the
    first {N_CELLS} vectors, one Lloyd assignment step), queries probe
    their {N_PROBE} nearest cells, exact re-rank inside probed cells.

    Scale posture: `assign` is a broadcast join of the corpus against the
    (tiny) centroid set — one scan, no shuffle for assignment; in
    production the cell table is written partitioned by cell_id so probes
    partition-prune exactly like the LSH index.
    """
    e = embeddings_d(spark, sf_dir).select("vec_id", "emb")
    seeds = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("emb").alias("ce")
    )
    wv = Window.partitionBy("vec_id").orderBy("d_seed", "cell_id")
    assign = (
        e.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            "cell_id",
            zf.l2sq(F.col("emb"), F.col("ce")).alias("d_seed"),
        )
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell_id")
    )
    q = e.filter((F.col("vec_id") >= 490) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    wq = Window.partitionBy("query_id").orderBy("d_seed", "cell_id")
    qprobe = (
        q.crossJoin(F.broadcast(seeds))
        .select(
            "query_id",
            "cell_id",
            zf.l2sq(F.col("qe"), F.col("ce")).alias("d_seed"),
        )
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= N_PROBE)
        .select("query_id", "cell_id")
    )
    cand = qprobe.join(assign, "cell_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    return rank_top_k(
        cand.join(e.select(F.col("vec_id").alias("neighbor_id"), "emb"), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            zf.l2sq(F.col("qe"), F.col("emb")).alias("dist"),
        ),
        IVF_K,
    )


@query("q_multimodal_features")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline over the driver fixtures: treat each
    document's UTF-8 bytes as an opaque binary blob, run the
    mapInPandas decode->feature->embed path (deterministic fake decode,
    real Arrow plumbing), return scalar features.  Rows-only: the
    embedding content is hash-based, not SQL-expressible; determinism
    is asserted in tests/test_multimodal.py."""
    from zebra_spark.io import load
    from zebra_spark.multimodal import _fake_pixels, decode_and_embed, to_multimodal

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    blobs = to_multimodal(docs, "doc_id", "content", "image")
    # decoder pinned to the deterministic fake: these blobs are UTF-8
    # text bytes, not images — the environment-default decoder would
    # crash (PIL) or drift the hashes on a machine that has Pillow
    feats = decode_and_embed(blobs, decoder=_fake_pixels)
    return feats.select(
        F.col("id").alias("doc_id"),
        "modality",
        "n_bytes",
        "height",
        "width",
        rnd(F.element_at(F.col("embedding").cast("array<double>"), 1)).alias(
            "emb_head"
        ),
    )


# --- product quantization (rows-only: ADC over compressed codes) -----------

_PQ_CACHE: dict[tuple, object] = {}


def get_pq_index(spark: SparkSession, sf_dir: str, m: int = 8, k: int = 16,
                 seed: int = 42):
    from zebra_spark.index.pq import PQIndex

    key = (spark.sparkContext.applicationId, sf_dir, m, k, seed)
    if key not in _PQ_CACHE:
        for stale in [s for s in _PQ_CACHE if s[0] != key[0]]:
            del _PQ_CACHE[stale]
        _PQ_CACHE[key] = PQIndex.train(spark, sf_dir, m=m, k=k, seed=seed)
    return _PQ_CACHE[key]


@query("q_ann_pq")
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for the first 10 corpus vectors over 8x4-bit PQ codes
    (index/pq.py): the compressed-corpus ANN path — the scan touches
    4 B/vector codes, full vectors only for the refine re-rank.  Same
    in-band semantics pinning as q_knn_lsh: every row carries `recall`
    against the exact brute-force top-10, computed declaratively, so
    the rows-only driver check collapses if quantization quality
    degrades.  recall >= 0.9 additionally asserted in tests/test_pq.py."""
    from zebra_spark.registry import QUERIES

    idx = get_pq_index(spark, sf_dir)
    # refine=200: the IVFADC recall knob — top-200 ADC candidates
    # re-ranked exactly (measured recall@10 at sf0.01: 0.88 at 100,
    # 0.98 at 200, 1.0 at 400; the scan cost is unchanged, only the
    # re-rank join grows)
    ann = idx.search_ids(range(10), k=10, refine=200)
    exact = QUERIES["q_knn_exact"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    n_hit = ann.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    stats = n_hit.crossJoin(n_exact).select(
        zf_rnd(F.col("n_hit") / F.col("n_exact")).alias("recall")
    )
    return ann.crossJoin(F.broadcast(stats))


def get_ivfpq_index(spark: SparkSession, sf_dir: str, seed: int = 42):
    from zebra_spark.index.ivfpq import IVFPQIndex

    key = (spark.sparkContext.applicationId, sf_dir, "ivfpq", seed)
    if key not in _PQ_CACHE:
        for stale in [s for s in _PQ_CACHE if s[0] != key[0]]:
            del _PQ_CACHE[stale]
        _PQ_CACHE[key] = IVFPQIndex.train(
            spark, sf_dir, k_coarse=16, m=8, k=16, seed=seed
        )
    return _PQ_CACHE[key]


@query("q_ann_ivfpq")
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (index/ivfpq.py): coarse cells prune the scan
    to nprobe partitions, PQ residual codes bound the bytes per scanned
    row, exact re-rank restores true distances — the standard
    billion-scale ANN layout.  recall vs brute force pinned in-band as
    in q_knn_lsh/q_ann_pq; >= 0.9 asserted in tests/test_ivfpq.py."""
    from zebra_spark.registry import QUERIES

    idx = get_ivfpq_index(spark, sf_dir)
    # nprobe=12/16, refine=400: at fixture scale each of the 16 cells
    # holds only ~30 vectors, so realistic pruning ratios (nprobe <<
    # k_coarse) cannot hold recall — measured 0.79 at nprobe=8, 0.92 at
    # nprobe=12/refine=400.  At production scale k_coarse ~ sqrt(N) and
    # nprobe/k_coarse shrinks while per-cell candidate counts grow.
    ann = idx.search_ids(range(10), k=10, nprobe=12, refine=400)
    exact = QUERIES["q_knn_exact"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    n_hit = ann.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    stats = n_hit.crossJoin(n_exact).select(
        zf_rnd(F.col("n_hit") / F.col("n_exact")).alias("recall")
    )
    return ann.crossJoin(F.broadcast(stats))


@query("q_index_drift")
def q_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-drift audit for the PQ family (VERDICT r6 #1): train
    PQ codebooks on the 90% base corpus (vec_id % 10 != 0), then score
    mean reconstruction error under the FROZEN codebooks for (a) the
    frozen training sample (ratio 1 by construction), (b) the held-out
    10% ingest batch — same distribution, so ratio stays near 1 — and
    (c) the same batch synthetically shifted (3x + 1 per component),
    the staleness signal that should trigger retrain() long before the
    volume threshold.  rows-only: k-means codebooks are not
    SQL-expressible; the BINDS contract (same-dist ratio < shifted
    ratio, shifted ratio > 5) is asserted in tests/test_pq.py."""
    from zebra_spark.index.pq import PQIndex

    e = embeddings_d(spark, sf_dir).select("vec_id", "emb")
    base = e.filter(F.col("vec_id") % 10 != 0)
    batch = e.filter(F.col("vec_id") % 10 == 0)
    idx = PQIndex.train(spark, sf_dir, corpus=base)
    shifted = batch.select(
        "vec_id", F.expr("transform(emb, x -> 3.0d * x + 1.0d)").alias("emb")
    )
    train_row = spark.createDataFrame(
        [("a_train_sample", int(idx.n_trained), float(idx.train_mse), 1.0)],
        "split string, n bigint, mse double, ratio double",
    )
    out = (
        train_row.unionByName(idx.drift_audit(batch, "b_batch_same_dist"))
        .unionByName(idx.drift_audit(shifted, "c_batch_shifted"))
    )
    return out.select(
        "split", "n", zf_rnd(F.col("mse")).alias("mse"),
        zf_rnd(F.col("ratio")).alias("ratio"),
    ).orderBy("split")


from zebra_spark.queries.vector import FILTERED_KNN_ORACLE


@query("q_knn_filtered_ivf", oracle=FILTERED_KNN_ORACLE)
def q_knn_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN through the REAL IVFIndex.search_df plumbing, made
    HASH-CHECKABLE by probing every cell (r16, VERDICT r15 #4): with
    nprobe = k_coarse the candidate set is the whole admissible corpus
    regardless of where k-means placed the centroids, so the result is
    centroid-independent and must bit-equal the filtered exact oracle
    (q_knn_filtered's SQL).  This gates the filter_ids path itself —
    the admissibility semi-join before the salted cell join, the
    (dist, neighbor_id) ranking, the tie-breaks — end to end at the
    driver hash gate, where the recall tests can only gate a
    threshold.  Scale shape: identical to IVFIndex.search_df's
    documented plan (the exhaustive probe is the test configuration;
    production uses nprobe << k_coarse and the sf0.1 recall gate).

    Gate config (r17, VERDICT r16 #3): k_coarse 8 / one k-means
    iteration — centroid-independence means ANY (k, iters) hashes
    identically, so the gate buys nothing by training a bigger
    k-means; the per-call train latency was one of the two rows
    blamed for B8's r16 growth.  nprobe is tied to k_coarse so the
    exhaustive-probe precondition can't silently break."""
    from zebra_spark.index.ivf import IVFIndex

    k_coarse = 8
    idx = IVFIndex.train(spark, sf_dir, k=k_coarse, iters=1, seed=42)
    q, allowed = _filtered_gate_inputs(spark, sf_dir)
    return idx.search_df(q, k=5, nprobe=k_coarse, filter_ids=allowed)


def _filtered_gate_inputs(spark: SparkSession, sf_dir: str):
    """The exact (queries, admissible) pair FILTERED_KNN_ORACLE fixes:
    10 query vectors, lang='en' admissibility — shared by the four
    per-family filtered gates so their inputs cannot drift apart."""
    from zebra_spark.io import load

    e = embeddings_d(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    allowed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return q, allowed


# candidate bound for the exhaustive PQ-family gates: must exceed the
# admissible-set size at every sf the parity sweeps run (sf0.1: ~880
# lang='en' rows) so the partial ADC top-`refine` keeps EVERY
# admissible row and the exact re-rank reproduces the oracle
_EXHAUSTIVE_REFINE = 4096


@query("q_knn_filtered_pq", oracle=FILTERED_KNN_ORACLE)
def q_knn_filtered_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN through the REAL PQIndex.search_df plumbing, made
    HASH-CHECKABLE by an exhaustive candidate bound (r17, completing
    the r16 q_knn_filtered_ivf pattern for the PQ family): with
    refine >= the admissible-set size, the per-batch ADC
    argpartition and the global candidate window keep EVERY admissible
    code row regardless of what the codebooks quantized, and the exact
    re-rank then reproduces the filtered exact oracle bit-for-bit —
    codebook-independent, so the gate pins the filter_ids semi-join
    (BEFORE the ADC scan), the re-rank join, and the (dist,
    neighbor_id) tie-breaks, which the sf0.1 recall gates can only
    threshold.  Gate config is deliberately tiny (m=8, one k-means
    iteration): any (m, k, iters) hashes identically here.
    Production serves with refine << corpus (recall gates in
    tests/test_ann_recall_sf01.py)."""
    from zebra_spark.index.pq import PQIndex

    idx = PQIndex.train(spark, sf_dir, m=8, k=16, iters=1, seed=42)
    q, allowed = _filtered_gate_inputs(spark, sf_dir)
    return idx.search_df(
        q, k=5, refine=_EXHAUSTIVE_REFINE, filter_ids=allowed
    )


@query("q_knn_filtered_ivfpq", oracle=FILTERED_KNN_ORACLE)
def q_knn_filtered_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN through IVFPQIndex.search_df, hash-checkable by
    composing BOTH exhaustiveness tricks (r17): nprobe = k_coarse
    makes the probe set centroid-independent (every cell visited) and
    refine >= the admissible-set size makes the residual-ADC
    truncation lossless, so the exact re-rank must equal the filtered
    exact oracle.  This is the only driver-hash coverage of the
    coarse+residual path's filter plumbing — the admissibility
    semi-join lands on the CODED table before the probe join, and a
    post-filter regression (or a refine-slot leak to inadmissible
    rows) breaks the hash.  Production: nprobe << k_coarse, refine <<
    corpus; the sf0.1 filtered recall gate holds the serving point."""
    from zebra_spark.index.ivfpq import IVFPQIndex

    k_coarse = 8
    idx = IVFPQIndex.train(
        spark, sf_dir, k_coarse=k_coarse, m=8, k=16, iters=1, seed=42
    )
    q, allowed = _filtered_gate_inputs(spark, sf_dir)
    return idx.search_df(
        q, k=5, nprobe=k_coarse, refine=_EXHAUSTIVE_REFINE,
        filter_ids=allowed,
    )
