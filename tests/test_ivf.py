"""IVF index: seeded training determinism, full coverage of the corpus,
recall vs exact on clustered data, save/load round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 5
    data = centers[rng.integers(0, 8, 1000)] + rng.standard_normal((1000, 16)) * 0.3
    return spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(1000)],
        "vec_id bigint, emb array<double>",
    ).cache(), data


def test_train_deterministic(spark, clustered):
    from zebra_spark.index.ivf import IVFIndex

    corpus, _ = clustered
    a = IVFIndex.train(spark, "", k=8, iters=3, seed=5, corpus=corpus)
    b = IVFIndex.train(spark, "", k=8, iters=3, seed=5, corpus=corpus)
    assert np.array_equal(a.centroids, b.centroids)
    assert a.cell_sizes().toPandas().equals(b.cell_sizes().toPandas())


def test_assignments_cover_corpus(spark, clustered):
    from zebra_spark.index.ivf import IVFIndex

    corpus, _ = clustered
    idx = IVFIndex.train(spark, "", k=8, iters=3, seed=5, corpus=corpus)
    assert idx.assignments.count() == 1000
    assert idx.assignments.select("vec_id").distinct().count() == 1000


def test_recall_on_clustered(spark, clustered):
    from zebra_spark import functions as zf
    from zebra_spark.index.ivf import IVFIndex

    corpus, data = clustered
    idx = IVFIndex.train(spark, "", k=8, iters=5, seed=5, corpus=corpus)
    nq = 20
    ann = idx.search_vectors(data[:nq], k=10, nprobe=2).toPandas()
    # exact truth
    from pyspark.sql import Window

    q = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(nq)],
        "query_id bigint, qe array<double>",
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            zf.l2sq(F.col("qe"), F.col("emb")).alias("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 10")
        .toPandas()
    )
    es = exact.groupby("query_id")["neighbor_id"].apply(set)
    as_ = ann.groupby("query_id")["neighbor_id"].apply(set)
    recall = float(np.mean([len(es[i] & as_.get(i, set())) / 10 for i in es.index]))
    assert recall >= 0.9, recall


def test_save_load_roundtrip(spark, clustered, tmp_path):
    from zebra_spark.index.ivf import IVFIndex

    corpus, data = clustered
    idx = IVFIndex.train(spark, "", k=8, iters=2, seed=5, corpus=corpus)
    idx.save(str(tmp_path / "ivf"))
    loaded = IVFIndex.load(spark, str(tmp_path / "ivf"))
    assert np.allclose(idx.centroids, loaded.centroids)
    a = idx.search_vectors(data[:3], k=5).toPandas()
    b = loaded.search_vectors(data[:3], k=5).toPandas()
    assert a.equals(b)


def test_fixture_corpus_trains(spark):
    from zebra_spark.index.ivf import IVFIndex

    idx = IVFIndex.train(spark, SF_ORACLE, k=10, iters=2, seed=42)
    assert idx.assignments.count() == 500


def test_ivf_search_df_matches_numpy_path(spark):
    """DataFrame-native IVF search (no driver collect) equals the numpy
    probe path for the same queries."""
    import numpy as np
    from pyspark.sql import functions as F

    from tests.conftest import SF_ORACLE
    from zebra_spark.index.ivf import IVFIndex
    from zebra_spark.io import embeddings_d

    idx = IVFIndex.train(spark, SF_ORACLE, k=8, iters=3, seed=5)
    queries = (
        embeddings_d(spark, SF_ORACLE)
        .filter("vec_id < 50")
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    )
    via_df = (
        idx.search_df(queries, k=5, nprobe=3)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    vecs = {r.query_id: r.qe for r in queries.collect()}
    qids = sorted(vecs)
    via_np = (
        idx.search_vectors(
            np.array([vecs[q] for q in qids], dtype=np.float64),
            k=5, nprobe=3, query_ids=qids,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert via_df.equals(via_np)


def test_ivf_add_and_remove(spark):
    """Incremental IVF maintenance: added vectors are assigned with the
    frozen centroids (identical to training-time assignment of the same
    data) and become searchable; removed ids vanish from corpus and
    assignments alike."""
    from pyspark.sql import functions as F

    from zebra_spark.index.ivf import IVFIndex, _assign
    from zebra_spark.io import embeddings_d

    e = embeddings_d(spark, SF_ORACLE).select("vec_id", "emb")
    base = e.filter(F.col("vec_id") % 10 != 0)
    batch = e.filter(F.col("vec_id") % 10 == 0)
    idx = IVFIndex.train(spark, "", k=8, seed=42, corpus=base)
    n = idx.add(batch)
    assert n == batch.count()
    # assignment of the added rows == frozen-centroid assignment
    got = (
        idx.assignments.join(batch.select("vec_id"), "vec_id", "left_semi")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    want = (
        _assign(batch, idx.centroids)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert got.equals(want)
    # an added vector finds itself
    hit = idx.search_vectors(
        [[float(x) for x in batch.filter("vec_id = 10").first().emb]],
        k=1, nprobe=2,
    ).toPandas()
    assert hit.neighbor_id.iloc[0] == 10

    ids = spark.createDataFrame([(10,), (20,)], "vec_id bigint")
    idx.remove(ids)
    assert idx.corpus.filter(F.col("vec_id").isin(10, 20)).count() == 0
    assert idx.assignments.filter(F.col("vec_id").isin(10, 20)).count() == 0


def test_search_df_nprobe_clamped(spark, clustered):
    """nprobe > k_cells must behave as nprobe == k_cells (the IVFPQ
    ADVICE r7 clamp, mirrored on the IVF twin)."""
    from zebra_spark.index.ivf import IVFIndex

    corpus, _ = clustered
    idx = IVFIndex.train(spark, "", k=8, iters=3, seed=5, corpus=corpus)
    ids = list(range(4))
    over = (
        idx.search_ids(ids, k=5, nprobe=999)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    full = (
        idx.search_ids(ids, k=5, nprobe=len(idx.centroids))
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert over.equals(full)


def test_ivf_search_df_filtered(spark):
    """r16 (VERDICT r15 #4): filter_ids pre-filters the corpus side of
    the salted cell join — every hit admissible, all-corpus filter a
    no-op."""
    from zebra_spark.index.ivf import IVFIndex
    from zebra_spark.io import embeddings_d, load

    idx = IVFIndex.train(spark, SF_ORACLE, k=16, iters=5, seed=42)
    queries = (
        embeddings_d(spark, SF_ORACLE)
        .filter("vec_id < 50")
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    )
    allowed = (
        load(spark, SF_ORACLE, "documents")
        .filter("lang = 'en'")
        .select(F.col("doc_id").alias("vec_id"))
    )
    res = idx.search_df(queries, k=5, nprobe=8, filter_ids=allowed).toPandas()
    ok = set(allowed.toPandas()["vec_id"])
    assert set(res["neighbor_id"]) <= ok
    assert res.groupby("query_id").size().max() <= 5

    full = embeddings_d(spark, SF_ORACLE).select("vec_id")
    via_full = (
        idx.search_df(queries, k=5, nprobe=8, filter_ids=full)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    via_none = (
        idx.search_df(queries, k=5, nprobe=8)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert via_full.equals(via_none)
