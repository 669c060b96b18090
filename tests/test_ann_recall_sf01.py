"""Pinned recall gates at sf0.1 for the three centroid-based ANN
families (VERDICT r10 #5): LSH has recall@10 = 1.0 pinned in test_lsh;
IVF / PQ / IVF-PQ had tuning grids (scripts/ivfpq_tuning_grid.py) but
no recall-vs-exact assertion at the larger fixture — a regression in
cell or codebook construction could pass silently.  Each gate trains
seeded over the real sf0.1 embeddings (2,000 x 64-d) and asserts
recall@10 >= 0.9 against the exact brute-force kNN for 100 queries.

The settings are each family's honest serving point at this corpus
shape (chosen by a one-off sweep against the exact baseline, not
cranked to exhaustive): IVF probes 12/16 cells (0.95 measured; 10
cells reads 0.896); PQ uses 16 subspaces x 16 codes and re-ranks the
top-200 ADC candidates exactly (0.956; the coarser m=8/k=16 needs
refine=500 for 0.93); IVF-PQ probes 12/16 cells and re-ranks
top-400."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zebra_spark.queries.vector import knn_exact

SF01 = "/root/testdata/sf0.1"
N_QUERIES = 100


@pytest.fixture(scope="module")
def exact_pairs(spark):
    df = knn_exact(spark, SF01, n_queries=N_QUERIES, k=10).select(
        "query_id", "neighbor_id"
    )
    return set(map(tuple, df.toPandas().itertuples(index=False)))


def _recall(ann_df, exact_pairs) -> float:
    a = set(
        map(
            tuple,
            ann_df.select("query_id", "neighbor_id")
            .toPandas()
            .itertuples(index=False),
        )
    )
    return len(a & exact_pairs) / len(exact_pairs)


def test_ivf_recall_sf01(spark, exact_pairs):
    from zebra_spark.index.ivf import IVFIndex

    idx = IVFIndex.train(spark, SF01, k=16, iters=5, seed=42)
    ids = spark.range(N_QUERIES).select(F.col("id").alias("vec_id"))
    r = _recall(idx.search_ids(ids, k=10, nprobe=12), exact_pairs)
    assert r >= 0.9, f"IVF recall@10 {r} < 0.9 at sf0.1"


def test_pq_recall_sf01(spark, exact_pairs):
    from zebra_spark.index.pq import PQIndex

    idx = PQIndex.train(spark, SF01, m=16, k=16, seed=42)
    r = _recall(
        idx.search_ids(range(N_QUERIES), k=10, refine=200), exact_pairs
    )
    assert r >= 0.9, f"PQ recall@10 {r} < 0.9 at sf0.1"


def test_ivfpq_recall_sf01(spark, exact_pairs):
    from zebra_spark.index.ivfpq import IVFPQIndex

    idx = IVFPQIndex.train(spark, SF01, k_coarse=16, m=8, k=16, seed=42)
    r = _recall(
        idx.search_ids(range(N_QUERIES), k=10, nprobe=12, refine=400),
        exact_pairs,
    )
    assert r >= 0.9, f"IVF-PQ recall@10 {r} < 0.9 at sf0.1"


# -- filtered ANN (r16, VERDICT r15 #4): recall vs the FILTERED exact
# oracle at sf0.1.  The lang='en' predicate keeps ~44% of the corpus,
# thinning every bucket/cell, so these gates prove the pre-filter
# path still reaches 0.9 at each family's serving settings.


@pytest.fixture(scope="module")
def filtered_exact_pairs(spark):
    from zebra_spark.queries.vector import knn_filtered

    df = knn_filtered(
        spark, SF01, lang="en", n_queries=N_QUERIES, k=10
    ).select("query_id", "neighbor_id")
    return set(map(tuple, df.toPandas().itertuples(index=False)))


@pytest.fixture(scope="module")
def en_ids(spark):
    from zebra_spark.io import load

    return (
        load(spark, SF01, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )


@pytest.fixture(scope="module")
def query_frame(spark):
    from zebra_spark.io import embeddings_d

    return (
        embeddings_d(spark, SF01)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    )


def test_lsh_filtered_recall_sf01(
    spark, filtered_exact_pairs, en_ids, query_frame
):
    from zebra_spark.index.lsh import LSHIndex

    idx = LSHIndex.build(spark, SF01, num_trees=15, seed=42)
    r = _recall(
        idx.search_df(query_frame, k=10, probes=8, filter_ids=en_ids),
        filtered_exact_pairs,
    )
    assert r >= 0.9, f"filtered LSH recall@10 {r} < 0.9 at sf0.1"


def test_ivf_filtered_recall_sf01(
    spark, filtered_exact_pairs, en_ids, query_frame
):
    from zebra_spark.index.ivf import IVFIndex

    idx = IVFIndex.train(spark, SF01, k=16, iters=5, seed=42)
    r = _recall(
        idx.search_df(query_frame, k=10, nprobe=12, filter_ids=en_ids),
        filtered_exact_pairs,
    )
    assert r >= 0.9, f"filtered IVF recall@10 {r} < 0.9 at sf0.1"


def test_pq_filtered_recall_sf01(
    spark, filtered_exact_pairs, en_ids, query_frame
):
    """VERDICT r16 #5: filter_ids existed on PQIndex.search_df since
    r16 but had no sf0.1 recall gate.  PQ has no cells — the ADC scan
    covers every ADMISSIBLE code row — so the only filtered-recall
    risk is refine starvation; the unfiltered serving point (refine
    200) applies unchanged because the filter shrinks the scored set,
    never the coverage."""
    from zebra_spark.index.pq import PQIndex

    idx = PQIndex.train(spark, SF01, m=16, k=16, seed=42)
    r = _recall(
        idx.search_df(query_frame, k=10, refine=200, filter_ids=en_ids),
        filtered_exact_pairs,
    )
    assert r >= 0.9, f"filtered PQ recall@10 {r} < 0.9 at sf0.1"


def test_ivfpq_filtered_recall_sf01(
    spark, filtered_exact_pairs, en_ids, query_frame
):
    """VERDICT r16 #5: the IVF-PQ filtered gate — the lang filter
    thins every probed cell (~44% survive), so this pins that the
    unfiltered serving point (nprobe 12/16, refine 400) still reaches
    0.9 against the FILTERED exact oracle."""
    from zebra_spark.index.ivfpq import IVFPQIndex

    idx = IVFPQIndex.train(spark, SF01, k_coarse=16, m=8, k=16, seed=42)
    r = _recall(
        idx.search_df(
            query_frame, k=10, nprobe=12, refine=400, filter_ids=en_ids
        ),
        filtered_exact_pairs,
    )
    assert r >= 0.9, f"filtered IVF-PQ recall@10 {r} < 0.9 at sf0.1"


# -- selective-predicate edge case (VERDICT r16 #5): when the filter
# admits FEWER than k candidates, every family must return exactly the
# full admissible set, exact-ranked — nothing dropped (a post-filter
# implementation would empty the result), nothing padded.  Runs at
# sf0.01 with exhaustive probe settings (nprobe = k_coarse for the
# cell families; a wide multi-probe for LSH) because the guarantee
# under test is SEMANTIC completeness, not recall-at-serving-point.

SF001 = "/root/testdata/sf0.01"
ADMISSIBLE = [17, 123, 256, 444]
N_EDGE_QUERIES = 5


def _edge_expected():
    """Exact (query_id, neighbor_id, rank) triples via numpy: each of
    the 5 queries ranks ALL four admissible vectors by L2^2 asc, ties
    by vec_id."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(SF001 + "/embeddings.parquet").to_pandas()
    emb = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in t.itertuples(index=False)
    }
    out = set()
    for qid in range(N_EDGE_QUERIES):
        d = sorted(
            (float(((emb[qid] - emb[a]) ** 2).sum()), a) for a in ADMISSIBLE
        )
        for rank, (_, a) in enumerate(d, start=1):
            out.add((qid, a, rank))
    return out


@pytest.fixture(scope="module")
def edge_inputs(spark):
    from zebra_spark.io import embeddings_d

    q = (
        embeddings_d(spark, SF001)
        .filter(F.col("vec_id") < N_EDGE_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"))
    )
    fids = spark.createDataFrame(
        [(int(i),) for i in ADMISSIBLE], "vec_id bigint"
    )
    return q, fids, _edge_expected()


def _edge_triples(df):
    return set(
        map(
            tuple,
            df.select("query_id", "neighbor_id", "rank")
            .toPandas()
            .astype(int)
            .itertuples(index=False),
        )
    )


def test_lsh_filtered_underfilled_admissible_only_exact_ranked(
    spark, edge_inputs
):
    """LSH is the one family whose candidate generation CANNOT be made
    exhaustive by a parameter: multi-probe flips single hyperplane bits
    (_probe_keys_np), so a bucket at Hamming distance >= 2 from every
    tree's query signature is unreachable at any `probes` — the same
    structural property as the reference's tree descent (lsh.rs:544).
    So the full-admissible-set pin applies to IVF/PQ/IVFPQ below; the
    LSH filtered contract under an under-filled filter is pinned as:
    ONLY admissible neighbours (pre-filter never leaks), ranks
    contiguous from 1 (never padded), the found subset exact-ranked in
    the oracle's order, and a deterministic coverage floor (seeded
    build: 18/20 triples at probes=64 on this fixture)."""
    from zebra_spark.index.lsh import LSHIndex

    q, fids, expected = edge_inputs
    idx = LSHIndex.build(spark, SF001, num_trees=15, seed=42)
    got = _edge_triples(idx.search_df(q, k=10, probes=64, filter_ids=fids))
    by_q: dict = {}
    for qid, nid, rank in got:
        by_q.setdefault(qid, []).append((rank, nid))
    # oracle order per query: admissible ids by exact distance asc
    oracle_order = {
        qid: [nid for _, nid, _ in sorted(
            (r for r in expected if r[0] == qid), key=lambda r: r[2]
        )]
        for qid in range(N_EDGE_QUERIES)
    }
    for qid, pairs in by_q.items():
        pairs.sort()
        ranks = [r for r, _ in pairs]
        found = [n for _, n in pairs]
        assert ranks == list(range(1, len(pairs) + 1)), pairs
        assert set(found) <= set(ADMISSIBLE), found
        # exact-ranked: found sequence == oracle order restricted to it
        assert found == [n for n in oracle_order[qid] if n in set(found)]
    assert len(got) >= 0.85 * len(expected), (len(got), len(expected))


def test_ivf_filtered_underfilled_full_admissible(spark, edge_inputs):
    from zebra_spark.index.ivf import IVFIndex

    q, fids, expected = edge_inputs
    idx = IVFIndex.train(spark, SF001, k=8, iters=3, seed=42)
    got = _edge_triples(idx.search_df(q, k=10, nprobe=8, filter_ids=fids))
    assert got == expected, (sorted(got), sorted(expected))


def test_pq_filtered_underfilled_full_admissible(spark, edge_inputs):
    from zebra_spark.index.pq import PQIndex

    q, fids, expected = edge_inputs
    idx = PQIndex.train(spark, SF001, m=8, k=16, seed=42)
    got = _edge_triples(idx.search_df(q, k=10, refine=100, filter_ids=fids))
    assert got == expected, (sorted(got), sorted(expected))


def test_ivfpq_filtered_underfilled_full_admissible(spark, edge_inputs):
    from zebra_spark.index.ivfpq import IVFPQIndex

    q, fids, expected = edge_inputs
    idx = IVFPQIndex.train(spark, SF001, k_coarse=8, m=8, k=16, seed=42)
    got = _edge_triples(
        idx.search_df(q, k=10, nprobe=8, refine=100, filter_ids=fids)
    )
    assert got == expected, (sorted(got), sorted(expected))
