"""IVF-PQ composition (zebra_spark/index/ivfpq.py): recall vs exact,
cell-pruning coverage, save/load with partition layout, and the
registry entry."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import zebra_spark
from tests.conftest import SF_ORACLE
from zebra_spark.index.ivfpq import IVFPQIndex

zebra_spark.load_all_queries()


@pytest.fixture(scope="module")
def idx(spark):
    return IVFPQIndex.train(spark, SF_ORACLE, k_coarse=16, m=8, k=16, seed=42)


def test_recall_vs_exact(spark, idx):
    ann = (
        idx.search_ids(range(10), k=10, nprobe=12, refine=400)
        .select("query_id", "neighbor_id")
        .toPandas()
    )
    exact = (
        zebra_spark.QUERIES["q_knn_exact"](spark, SF_ORACLE)
        .select("query_id", "neighbor_id")
        .toPandas()
    )
    a = set(map(tuple, ann.itertuples(index=False)))
    e = set(map(tuple, exact.itertuples(index=False)))
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"IVF-PQ recall@10 {recall} < 0.9"


def test_every_vector_coded_once(spark, idx):
    n_corpus = idx.corpus.count()
    assert idx.coded.count() == n_corpus
    assert idx.coded.select("vec_id").distinct().count() == n_corpus


def test_save_load_partition_pruning(spark, idx, tmp_path):
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    loaded = IVFPQIndex.load(spark, path)
    assert np.allclose(loaded.centroids, idx.centroids)
    assert np.allclose(loaded.codebooks, idx.codebooks)
    # partitioned layout: probing one cell plans a pruned scan
    one = loaded.coded.filter(F.col("cell_id") == 0)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell_id" in plan or "cell_id#" in plan
    a = (
        idx.search_ids(range(5), k=5, nprobe=12, refine=400)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        loaded.search_ids(range(5), k=5, nprobe=12, refine=400)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_registry_entry(spark):
    out = zebra_spark.QUERIES["q_ann_ivfpq"](spark, SF_ORACLE).toPandas()
    assert len(out) == 100
    assert out["recall"].iloc[0] >= 0.9


def test_add_appends_into_cell_partitions(spark, tmp_path):
    """IVF-PQ add(path=...): the batch's codes append into the SAME
    cell_id= partition directories (so probe-time partition pruning
    keeps skipping files across appends), counters round-trip, and an
    added vector finds itself at rank 1."""
    import os

    from pyspark.sql import functions as F

    from zebra_spark.io import embeddings_d

    e = embeddings_d(spark, SF_ORACLE).select("vec_id", "emb")
    base = e.filter(F.col("vec_id") % 10 != 0)
    batch = e.filter(F.col("vec_id") % 10 == 0)
    idx = IVFPQIndex.train(spark, "", k_coarse=8, m=8, k=16, seed=42,
                           corpus=base)
    p = str(tmp_path / "ivfpq_store")
    idx.save(p)
    n = idx.add(batch, path=p)
    assert n == batch.count()
    # layout check: only cell_id= dirs under codes/ (hive partitioning)
    subdirs = [
        d for d in os.listdir(f"{p}/codes")
        if os.path.isdir(f"{p}/codes/{d}")
    ]
    assert subdirs and all(d.startswith("cell_id=") for d in subdirs)
    back = IVFPQIndex.load(spark, p)
    assert back.n_added == n and back.appends == 1
    assert back.coded.count() == e.count()
    got = back.search_ids([10], k=1, nprobe=4, refine=100).toPandas()
    assert got.neighbor_id.iloc[0] == 10 and got.dist.iloc[0] == 0.0
    # every vector coded exactly once after the append
    assert back.coded.select("vec_id").distinct().count() == e.count()


def test_ivfpq_drift_audit_fires_on_shift(spark):
    """Residual-space drift: same-dist batch near ratio 1, shifted
    batch far above — the retrain signal for the coarse+PQ composition."""
    from pyspark.sql import functions as F

    from zebra_spark.io import embeddings_d

    e = embeddings_d(spark, SF_ORACLE).select("vec_id", "emb")
    base = e.filter(F.col("vec_id") % 10 != 0)
    batch = e.filter(F.col("vec_id") % 10 == 0)
    idx = IVFPQIndex.train(spark, "", k_coarse=8, m=8, k=16, seed=42,
                           corpus=base)
    shifted = batch.select(
        "vec_id", F.expr("transform(emb, x -> 3.0d * x + 1.0d)").alias("emb")
    )
    same = idx.drift_audit(batch).toPandas().ratio.iloc[0]
    far = idx.drift_audit(shifted).toPandas().ratio.iloc[0]
    assert same < 3.0 < far


def test_ivfpq_remove(spark, idx):
    """remove() on a fresh copy: ids vanish from coded table and corpus."""
    from pyspark.sql import functions as F

    from zebra_spark.index.ivfpq import IVFPQIndex
    from zebra_spark.io import embeddings_d

    e = embeddings_d(spark, SF_ORACLE).select("vec_id", "emb")
    fresh = IVFPQIndex.train(spark, "", k_coarse=8, m=8, k=16, seed=42,
                             corpus=e)
    ids = spark.createDataFrame([(10,), (11,)], "vec_id bigint")
    fresh.remove(ids)
    assert fresh.coded.filter(F.col("vec_id").isin(10, 11)).count() == 0
    assert fresh.corpus.filter(F.col("vec_id").isin(10, 11)).count() == 0
    got = fresh.search_ids([20], k=10, nprobe=8, refine=400).toPandas()
    assert not set(got.neighbor_id) & {10, 11}


def test_nprobe_clamped_to_cell_count(spark, idx):
    """nprobe > k_coarse (reachable when tuning recall on a small
    index) must behave as nprobe == k_coarse — previously search_df's
    probe expansion emitted mismatched column lengths (ADVICE r7)."""
    ids = list(range(5))
    over = (
        idx.search_ids(ids, k=5, nprobe=99, refine=400)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    exact_probe = (
        idx.search_ids(ids, k=5, nprobe=16, refine=400)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert over.equals(exact_probe)


def test_ivfpq_search_df_filtered(spark, idx):
    """r16 (VERDICT r15 #4): filter_ids pre-filters the coded table
    before the probe join — every hit admissible, all-corpus filter a
    no-op."""
    from pyspark.sql import functions as F

    from zebra_spark.io import embeddings_d, load

    queries = (
        embeddings_d(spark, SF_ORACLE)
        .filter("vec_id < 20")
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    )
    allowed = (
        load(spark, SF_ORACLE, "documents")
        .filter("lang = 'en'")
        .select(F.col("doc_id").alias("vec_id"))
    )
    res = idx.search_df(
        queries, k=5, nprobe=12, refine=200, filter_ids=allowed
    ).toPandas()
    ok = set(allowed.toPandas()["vec_id"])
    assert set(res["neighbor_id"]) <= ok
    assert res.groupby("query_id").size().max() <= 5

    full = embeddings_d(spark, SF_ORACLE).select("vec_id")
    via_full = (
        idx.search_df(queries, k=5, nprobe=12, refine=200, filter_ids=full)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    via_none = (
        idx.search_df(queries, k=5, nprobe=12, refine=200)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert via_full.equals(via_none)
