"""LSH index invariants (SURVEY §5.2): recall vs the exact oracle,
seeded determinism, incremental add == bulk build, remove semantics,
save/load round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql.functions import col as spark_col

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def index(spark):
    from zebra_spark.index.lsh import LSHIndex

    return LSHIndex.build(spark, SF_ORACLE, num_trees=15, seed=42)


def test_recall_vs_exact(spark, index):
    from zebra_spark.queries.vector import knn_exact

    k, nq = 10, 20
    exact = knn_exact(spark, SF_ORACLE, n_queries=nq, k=k).toPandas()
    ann = index.search_ids(range(nq), k=k).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    ann_sets = ann.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(exact_sets[q] & ann_sets.get(q, set())) / k for q in exact_sets.index
    ]
    recall = float(np.mean(recalls))
    assert recall >= 0.9, f"recall@10 = {recall:.3f} < 0.9"


def test_seeded_determinism(spark, index):
    from zebra_spark.index.lsh import LSHIndex

    again = LSHIndex.build(spark, SF_ORACLE, num_trees=15, seed=42)
    a = index.bucket_counts().toPandas()
    b = again.bucket_counts().toPandas()
    assert a.equals(b)
    assert np.array_equal(index.normals, again.normals)


def test_incremental_add_matches_bulk(spark):
    """bulk(all) == build(head) + add(tail): same buckets for same seed
    (reference's two insert paths, lsh.rs:441-443 — here provably
    identical because hyperplanes depend only on the seeded sample)."""
    from zebra_spark.index.lsh import LSHIndex
    from zebra_spark.io import embeddings_d

    corpus = embeddings_d(spark, SF_ORACLE).select("vec_id", "emb")
    head = corpus.filter("vec_id < 400")
    tail = corpus.filter("vec_id >= 400")
    bulk = LSHIndex.build(spark, SF_ORACLE, num_trees=5, seed=7, corpus=corpus)
    # same hyperplanes: sample drawn from the full corpus both times
    incr_base = LSHIndex(
        spark, head, bulk.options, bulk.normals, bulk.constants,
        bulk.index_df.join(head.select("vec_id"), "vec_id", "left_semi"),
    )
    incr = incr_base.add(tail)
    cols = ["tree_id", "bucket_id", "vec_id"]
    a = bulk.index_df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    b = incr.index_df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


def test_remove(spark, index):
    doomed = [0, 1, 2]
    pruned = index.remove(doomed)
    left = pruned.index_df.filter(
        pruned.index_df.vec_id.isin(doomed)
    ).count()
    assert left == 0
    assert pruned.corpus.filter(pruned.corpus.vec_id.isin(doomed)).count() == 0
    res = pruned.search_ids([5], k=5).toPandas()
    assert not set(res.neighbor_id) & set(doomed)


def test_save_load_roundtrip(spark, index, tmp_path):
    from zebra_spark.index.lsh import LSHIndex

    path = str(tmp_path / "idx")
    index.save(path)
    loaded = LSHIndex.load(spark, path)
    a = index.bucket_counts().toPandas()
    b = loaded.bucket_counts().toPandas()
    assert a.equals(b)
    r1 = index.search_ids([3], k=5).toPandas()
    r2 = loaded.search_ids([3], k=5).toPandas()
    assert r1.equals(r2)


def test_adaptive_build_splits_locally_on_skew(spark):
    """A tightly clustered corpus overflows some leaves at the default
    depth; adaptive build must split ONLY those leaves (per-node
    hyperplanes from the leaf's own members, ≙ build_a_tree's recursion
    lsh.rs:250-267) — untouched leaves keep the base depth, every
    vector stays in exactly num_trees leaves, oversized mass shrinks,
    and recall vs exact stays high."""
    import numpy as np
    from pyspark.sql import functions as F

    from zebra_spark.index.lsh import LSHIndex

    rng = np.random.default_rng(3)
    n, trees = 1500, 3
    # 3 tight clusters -> default depth leaves huge buckets
    centers = rng.standard_normal((3, 16)) * 10
    data = centers[rng.integers(0, 3, n)] + rng.standard_normal((n, 16)) * 0.5
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(n)],
        "vec_id bigint, emb array<double>",
    )
    plain = LSHIndex.build(spark, "", corpus=corpus, num_trees=trees, seed=1)
    adaptive = LSHIndex.build(
        spark, "", corpus=corpus, num_trees=trees, seed=1, adaptive=True,
        oversize_factor=8, max_split_rounds=12,
    )
    # local split: base depth unchanged, split metadata present,
    # split leaves carry more signature bits than the base depth
    assert adaptive.options.depth == plain.options.depth
    assert len(adaptive.split_meta) > 0
    sizes = adaptive.bucket_counts().toPandas()
    assert sizes["nbits"].max() > adaptive.options.depth
    # index size invariant: every vector in exactly num_trees leaves
    # (global deepening would keep this too, but it re-buckets EVERY
    # row; local split moved only the oversized leaves' rows)
    assert sizes["n"].sum() == n * trees
    untouched = sizes[sizes["nbits"] == adaptive.options.depth]
    assert len(untouched) > 0  # most leaves were never re-bucketed

    limit = 8 * adaptive.options.max_node_size

    def oversized_rows(idx):
        return (
            idx.index_df.groupBy("tree_id", "bucket_id", "nbits")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > limit)
            .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("r"))
            .collect()[0]
            .r
        )

    # splitting strictly reduces oversized mass (full convergence is
    # impossible for arbitrarily tight clusters under ANY splitting
    # scheme, the reference's recursion included)
    assert oversized_rows(adaptive) < oversized_rows(plain)
    # p99 leaf of the adaptive index respects the oversize budget
    assert float(sizes["n"].quantile(0.99)) <= limit
    # recall vs exact top-10 for 20 member queries
    qids = list(range(0, n, 100))
    got = adaptive.search_ids(qids, k=10, probes=8).toPandas()
    ref_hits = 0
    for q in qids:
        dist = ((data - data[q]) ** 2).sum(1)
        order = np.argsort(dist, kind="stable")[:10]
        mine = set(got[got.query_id == q].neighbor_id)
        ref_hits += len(mine & set(int(x) for x in order))
    assert ref_hits / (10 * len(qids)) >= 0.9


def test_identical_vector_leaf_freezes_not_loops(spark):
    """A leaf of byte-identical vectors can never split; the builder
    must freeze it and terminate instead of looping."""
    from zebra_spark.index.lsh import LSHIndex

    rows = [(i, [1.0] * 8) for i in range(300)] + [
        (1000 + i, [float(i), 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.0]) for i in range(50)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, emb array<double>")
    idx = LSHIndex.build(
        spark, "", corpus=corpus, num_trees=3, seed=7, adaptive=True,
        oversize_factor=4,
    )
    sizes = idx.bucket_counts().toPandas()
    assert sizes["n"].sum() == 350 * 3  # nothing lost, build terminated
    hits = idx.search_ids([0], k=5).toPandas()
    assert len(hits) == 5


def test_search_df_matches_numpy_path(spark, index):
    """The DataFrame-native search (no driver collect) returns exactly
    what the numpy probe path returns for the same queries."""
    from zebra_spark.io import embeddings_d

    queries = (
        embeddings_d(spark, SF_ORACLE)
        .filter("vec_id < 200")
        .select(spark_col("vec_id").alias("query_id"), "emb")
        .withColumnRenamed("emb", "qe")
    )
    via_df = (
        index.search_df(queries, k=10, probes=8)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    vecs = {r.query_id: r.qe for r in queries.collect()}
    qids = sorted(vecs)
    via_np = (
        index.search_vectors(
            np.array([vecs[q] for q in qids], dtype=np.float64),
            k=10, probes=8, query_ids=qids,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert via_df.equals(via_np)


def test_compact_preserves_results(spark, index):
    from pyspark.sql import functions as F

    from zebra_spark.io import embeddings_d

    extra = (
        embeddings_d(spark, SF_ORACLE)
        .select("vec_id", "emb")
        .filter("vec_id < 5")
        .withColumn("vec_id", (F.lit(1 << 50) + F.col("vec_id")))
    )

    grown = index.add(extra)
    compacted = grown.compact()
    a = grown.bucket_counts().toPandas()
    b = compacted.bucket_counts().toPandas()
    assert a.equals(b)
    r1 = grown.search_ids([3], k=5).toPandas()
    r2 = compacted.search_ids([3], k=5).toPandas()
    assert r1.equals(r2)


def test_compact_collapses_probe_plan_unions(spark, index):
    """Each add() leaves one more un-clustered appendix on the probe
    path (a Union branch in the candidate scan); compact() restores the
    single tree_id-clustered relation."""
    from pyspark.sql import functions as F

    from zebra_spark.io import embeddings_d

    grown = index
    for i in range(3):
        extra = (
            embeddings_d(spark, SF_ORACLE)
            .select("vec_id", "emb")
            .filter("vec_id < 3")
            .withColumn("vec_id", (F.lit((60 + i) << 50) + F.col("vec_id")))
        )
        grown = grown.add(extra)
    assert grown.appends == 3

    def probe_plan(idx):
        df = idx.search_ids([1], k=3)
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Union" in probe_plan(grown)
    compacted = grown.compact()
    assert compacted.appends == 0
    assert "Union" not in probe_plan(compacted)
    a = grown.search_ids([3], k=5).toPandas()
    b = compacted.search_ids([3], k=5).toPandas()
    assert a.equals(b)


def test_database_auto_compacts_index(spark, tmp_path, monkeypatch):
    """insert_records compacts the incremental index once the append
    stack reaches _AUTO_COMPACT_APPENDS (VERDICT r1 #8).  The threshold
    is lowered to keep the insert loop short."""
    import zebra_spark.database as dbmod
    from zebra_spark.database import ZebraDatabase

    monkeypatch.setattr(dbmod, "_AUTO_COMPACT_APPENDS", 3)
    db = ZebraDatabase.create(spark, str(tmp_path / "db"), dim=8, metric="l2sq")
    db.insert_texts([f"seed doc {i}" for i in range(40)])
    db.index()  # force the initial build
    for i in range(3):
        db.insert_texts([f"incremental doc {i}"])
        assert db._index.appends <= 3
    # the loop crossed the threshold at least once -> stack was reset
    assert db._index.appends < 3
    # dim=8 hash-TF can bucket-collide distinct digits, so assert on the
    # distance (an exact-duplicate embedding is guaranteed present)
    hits = db.query_texts(["seed doc 7"], k=1).collect()
    assert hits[0].dist == 0.0


def test_candidates_for_ids_matches_driver_probe_keys(spark, index):
    """candidates_for_ids (probe keys computed executor-side) takes a
    list or a vec_id frame alike, and its candidate set is the index
    rows under the driver-side probe_keys of the same vectors."""
    import pandas as pd

    ids = list(range(0, 60))
    ids_df = spark.createDataFrame([(i,) for i in ids], "vec_id bigint")
    cols = ["query_id", "vec_id"]
    got = (
        index.candidates_for_ids(ids_df)
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    via_list = (
        index.candidates_for_ids(ids)
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    assert got.equals(via_list)

    vecs = {
        r.vec_id: r.emb
        for r in index.corpus.filter(spark_col("vec_id").isin(ids)).collect()
    }
    keys = index.probe_keys(np.array([vecs[i] for i in ids]), probes=8)
    keys["query_id"] = keys["query_id"].map(dict(enumerate(ids)))
    want = (
        pd.merge(keys, index.index_df.toPandas(),
                 on=["tree_id", "bucket_id", "nbits"])[cols]
        .drop_duplicates().sort_values(cols).reset_index(drop=True)
    )
    assert got.astype("int64").equals(want.astype("int64"))


def test_search_df_filtered(spark, index):
    """r16 (VERDICT r15 #4): filter_ids pre-filters the index side —
    every hit is admissible, per-query result size still <= k, and an
    all-corpus filter is a no-op (bit-equal to unfiltered)."""
    from zebra_spark.io import embeddings_d, load

    queries = (
        embeddings_d(spark, SF_ORACLE)
        .filter("vec_id < 50")
        .select(spark_col("vec_id").alias("query_id"),
                spark_col("emb").alias("qe"))
    )
    allowed = (
        load(spark, SF_ORACLE, "documents")
        .filter("lang = 'en'")
        .select(spark_col("doc_id").alias("vec_id"))
    )
    res = index.search_df(
        queries, k=5, probes=8, filter_ids=allowed
    ).toPandas()
    ok = set(allowed.toPandas()["vec_id"])
    assert set(res["neighbor_id"]) <= ok
    assert res.groupby("query_id").size().max() <= 5

    full = embeddings_d(spark, SF_ORACLE).select("vec_id")
    via_full = (
        index.search_df(queries, k=5, probes=8, filter_ids=full)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    via_none = (
        index.search_df(queries, k=5, probes=8)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert via_full.equals(via_none)


def test_adaptive_split_cap_bounds_driver_batches(spark):
    """r16 (VERDICT r15 #5): max_splits_per_round caps every per-round
    driver transfer.  A capped build must still terminate with nothing
    lost, record the deferral in resplit_stats, and stay deterministic
    (two capped builds identical)."""
    from zebra_spark.index.lsh import LSHIndex

    rows = [
        (i, [float(i % 7), float(i % 5), 0.0, 1.0, float(i % 3), 2.0,
             float(i % 11), 0.5])
        for i in range(600)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, emb array<double>")
    kw = dict(
        corpus=corpus, num_trees=3, seed=7, adaptive=True,
        oversize_factor=4, max_node_size=5, max_split_rounds=16,
    )
    capped = LSHIndex.build(spark, "", max_splits_per_round=2, **kw)
    assert capped.resplit_stats["capped_rounds"] >= 1
    assert capped.resplit_stats["deferred_peak"] >= 1
    assert capped.resplit_stats["splits"] == len(capped.split_meta) > 0
    sizes = capped.bucket_counts().toPandas()
    assert sizes["n"].sum() == 600 * 3  # nothing lost

    again = LSHIndex.build(spark, "", max_splits_per_round=2, **kw)
    assert capped.split_meta.keys() == again.split_meta.keys()
    a = capped.index_df.toPandas().sort_values(
        ["tree_id", "bucket_id", "nbits", "vec_id"]).reset_index(drop=True)
    b = again.index_df.toPandas().sort_values(
        ["tree_id", "bucket_id", "nbits", "vec_id"]).reset_index(drop=True)
    assert a.equals(b)

    # the uncapped build on the same corpus reports zero deferrals
    free = LSHIndex.build(spark, "", **kw)
    assert free.resplit_stats["capped_rounds"] == 0
    assert free.resplit_stats["deferred_peak"] == 0
