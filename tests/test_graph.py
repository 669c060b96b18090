"""connected_components invariants: correct labels vs a driver-side
union-find oracle on random graphs, log-round convergence on long
chains (the case that would starve pure neighbor propagation).

Every test runs against BOTH execution paths: the single-task
union-find fast path (default for these tiny fixtures) and the
iterative pointer-doubling path (forced by shrinking the threshold to
0) — the iterative path is what q_dedup_clusters uses at sf0.1 and
must not lose coverage to the fast path.
"""

from __future__ import annotations

import random

import pytest


@pytest.fixture(params=["fast_path", "iterative"], autouse=True)
def cc_path(request, monkeypatch):
    if request.param == "iterative":
        import zebra_spark.graph as g

        monkeypatch.setattr(g, "SMALL_GRAPH_EDGES", -1)
    return request.param


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_matches_union_find_on_random_graph(spark):
    from zebra_spark.graph import connected_components

    rng = random.Random(11)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r.id: r.component
        for r in connected_components(nodes, edf).collect()
    }
    want = _uf_components(n, edges)
    # normalize: union-find parent-compressed roots ARE min ids here
    # because unions always point the larger root at the smaller one
    assert got == want


def test_long_chain_converges_via_doubling(spark):
    """A 200-hop chain needs ~log2(200)+1 rounds with pointer doubling;
    pure neighbor propagation would need 200 (and the old 25-round cap
    raised).  max_rounds=12 passes only if doubling works."""
    from zebra_spark.graph import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    out = connected_components(nodes, edges, max_rounds=12).collect()
    assert all(r.component == 0 for r in out)
    assert len(out) == n


def test_isolated_nodes_keep_own_label(spark):
    from zebra_spark.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id bigint")
    edges = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4}


def test_out_of_node_endpoints_ignored(spark):
    """Edges referencing ids absent from `nodes` are ignored — the SAME
    result on both paths (ADVICE r4: unfiltered, the fast path labeled
    node 5 with the non-node min id 3 while the iterative path kept 5;
    the answer silently changed as the input crossed the threshold)."""
    from zebra_spark.graph import connected_components

    nodes = spark.createDataFrame([(5,), (6,)], "id bigint")
    edges = spark.createDataFrame([(3, 5), (5, 6)], "src bigint, dst bigint")
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {5: 5, 6: 5}


def test_pagerank_conserves_mass_and_favors_hubs(spark):
    """q_graph_pagerank invariants at the sf0.001 gate: (a) ranks are
    scaled by n, so they sum to ~n (no dangling mass on the symmetric
    graph); (b) every rank is positive; (c) the max-degree node ranks
    strictly above the min-degree node's rank (centrality orders with
    connectivity on the near-dup graph)."""
    import zebra_spark
    from tests.conftest import SF_SMOKE

    zebra_spark.load_all_queries()
    rows = zebra_spark.QUERIES["q_graph_pagerank"](spark, SF_SMOKE).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pagerank for r in rows)
    assert abs(total - n) < 0.01 * n, (total, n)
    assert all(r.pagerank > 0 for r in rows)
    by_deg = sorted(rows, key=lambda r: (r.degree, r.doc_id))
    # strict ordering only when degrees actually differ: on a
    # degree-regular graph (e.g. all isolated pairs) every PageRank is
    # 1.0 and > would fail on a correct implementation (ADVICE r5)
    if by_deg[-1].degree > by_deg[0].degree:
        assert by_deg[-1].pagerank > by_deg[0].pagerank, (
            by_deg[0], by_deg[-1],
        )
    else:
        assert by_deg[-1].pagerank >= by_deg[0].pagerank


def test_spill_fs_interface(spark, tmp_path, cc_path):
    """_fs_rmtree deletes through shutil for plain local paths and
    through the Hadoop FileSystem API for scheme'd paths; the iterative
    path's round spill works end-to-end on a `file:` URI spill_dir
    (the cluster-portable shape — swap file: for hdfs://s3a:// there)."""
    from zebra_spark.graph import _fs_rmtree, connected_components

    # plain local path -> shutil branch
    d1 = tmp_path / "plain"
    d1.mkdir()
    (d1 / "x").write_text("x")
    _fs_rmtree(spark, str(d1))
    assert not d1.exists()
    # scheme'd path -> Hadoop FileSystem branch (file: is local-testable)
    d2 = tmp_path / "hadoop"
    d2.mkdir()
    (d2 / "x").write_text("x")
    _fs_rmtree(spark, f"file:{d2}")
    assert not d2.exists()
    # missing path: no-op on both branches
    _fs_rmtree(spark, str(tmp_path / "absent"))
    _fs_rmtree(spark, f"file:{tmp_path / 'absent'}")
    if cc_path != "iterative":
        return  # spill rounds only exist on the iterative path
    nodes = spark.createDataFrame([(i,) for i in range(40)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src bigint, dst bigint"
    )
    spill = f"file:{tmp_path}/spill"
    out = connected_components(nodes, edges, spill_dir=spill).collect()
    assert all(r.component == 0 for r in out) and len(out) == 40
    # at most the last two rounds (+ edge table) remain on disk
    kept = sorted(p.name for p in (tmp_path / "spill").iterdir())
    assert "edges" in kept and len([k for k in kept if k.startswith("round_")]) <= 2


def test_edges_cheap_same_labels(spark):
    """edges_cheap=True (skip the edge materialization cut) must return
    identical labels on both execution paths."""
    from zebra_spark.graph import connected_components

    rng = random.Random(7)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    a = {r.id: r.component for r in connected_components(nodes, edf).collect()}
    b = {
        r.id: r.component
        for r in connected_components(nodes, edf, edges_cheap=True).collect()
    }
    assert a == b


def test_connected_components_small_graph_makes_no_spill_dir(
    spark, monkeypatch, cc_path
):
    """The small-graph path over cheap edges never spills, so it makes
    no zebra_cc_* tempdir and registers no exit handler; the iterative
    path makes exactly one of each, on its first spill."""
    import atexit

    import zebra_spark.graph as g

    made = []
    real_mkdtemp = g.tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(g.tempfile, "mkdtemp", mkdtemp)
    nodes = spark.createDataFrame([(i,) for i in range(30)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 29, 2)], "src bigint, dst bigint"
    )
    handlers = atexit._ncallbacks()
    out = {
        r.id: r.component
        for r in g.connected_components(nodes, edges, edges_cheap=True).collect()
    }
    assert out == {i: i - i % 2 for i in range(30)}
    spills = 0 if cc_path == "fast_path" else 1
    assert len(made) == spills
    assert atexit._ncallbacks() - handlers == spills


def test_incremental_components(spark):
    """Star-collapse correctness: updating a maintained labeling with a
    delta (merging two old components, extending a chain, adding brand
    new nodes) equals full CC over old ∪ delta — including min-id
    labels."""
    from pyspark.sql import functions as F

    from zebra_spark.graph import connected_components, incremental_components

    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    delta = [(3, 10), (22, 30), (40, 41)]  # merge, extend, new island
    old_nodes = sorted({n for e in old_edges for n in e} | {5})  # 5 isolated
    new_nodes = [30, 40, 41]

    nodes_df = spark.createDataFrame([(n,) for n in old_nodes], "id bigint")
    old_df = spark.createDataFrame(old_edges, "src bigint, dst bigint")
    labels = connected_components(nodes_df, old_df)

    delta_df = spark.createDataFrame(delta, "src bigint, dst bigint")
    new_df = spark.createDataFrame([(n,) for n in new_nodes], "id bigint")
    got = {
        (r.id, r.component)
        for r in incremental_components(labels, delta_df, new_df).collect()
    }

    all_nodes = spark.createDataFrame(
        [(n,) for n in old_nodes + new_nodes], "id bigint"
    )
    want = {
        (r.id, r.component)
        for r in connected_components(
            all_nodes, old_df.unionByName(delta_df)
        ).collect()
    }
    assert got == want
    # the merge really happened: 1..3 and 10..11 share a label now
    lbl = dict(got)
    assert lbl[11] == lbl[1] == 1
    assert lbl[30] == lbl[20]
    assert lbl[41] == 40 and lbl[5] == 5


def test_remove_and_relabel_splits_components(spark):
    """r9: removing a chain's middle node must SPLIT its component —
    the case star-union merging cannot express — while untouched
    clusters keep their labels verbatim, matching a from-scratch CC
    over the survivors bit-exactly."""
    from pyspark.sql import functions as F

    from zebra_spark.graph import connected_components, remove_and_relabel

    # component A: chain 1-2-3 (removing 2 splits it into {1}, {3});
    # component B: triangle 10-11-12 (untouched); isolated node 20
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 20)], "id bigint"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)],
        "src bigint, dst bigint",
    )
    labels = connected_components(nodes, edges, edges_cheap=True)
    removed = spark.createDataFrame([(2,)], "id bigint")

    got = {
        r.id: r.component
        for r in remove_and_relabel(labels, edges, removed).collect()
    }
    want = {
        r.id: r.component
        for r in connected_components(
            nodes.filter(F.col("id") != 2),
            edges.filter((F.col("src") != 2) & (F.col("dst") != 2)),
            edges_cheap=True,
        ).collect()
    }
    assert got == want
    assert got[1] == 1 and got[3] == 3      # the split happened
    assert got[10] == got[11] == got[12] == 10  # untouched cluster
    assert got[20] == 20
    assert 2 not in got


def test_adversarial_chain_and_duplicate_edges(spark):
    """r17 (vectorized single-task UF): a descending-order chain with
    duplicate and self edges forces multiple hook+compress rounds —
    the worst case for the hook step — and must still converge to the
    min id on both paths."""
    from zebra_spark.graph import connected_components

    n = 300
    edges = [(i + 1, i) for i in reversed(range(n - 1))]
    edges += edges[:50] + [(7, 7), (120, 120)]  # dups + self-loops
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = connected_components(nodes, edf, max_rounds=14).collect()
    assert len(out) == n and all(r.component == 0 for r in out)


def test_incremental_flags_identical_when_preconditions_hold(spark):
    """r17 optimization flags: endpoints_within_nodes / nodes_disjoint
    skip provably-redundant shuffles; on inputs satisfying their
    preconditions (delta endpoints ⊆ labels ∪ batch, batch ids
    disjoint from labels) the labels must be bit-identical to the
    guarded defaults."""
    from zebra_spark.graph import connected_components, incremental_components

    old_edges = [(1, 2), (2, 3), (10, 11)]
    old_nodes = sorted({n for e in old_edges for n in e} | {4})
    nodes_df = spark.createDataFrame([(n,) for n in old_nodes], "id bigint")
    labels = connected_components(
        nodes_df, spark.createDataFrame(old_edges, "src bigint, dst bigint")
    )
    delta = [(3, 20), (20, 21), (4, 10)]  # batch 20/21; corpus endpoints
    delta_df = spark.createDataFrame(delta, "src bigint, dst bigint")
    new_df = spark.createDataFrame([(20,), (21,)], "id bigint")
    base = {
        (r.id, r.component)
        for r in incremental_components(labels, delta_df, new_df).collect()
    }
    fast = {
        (r.id, r.component)
        for r in incremental_components(
            labels,
            delta_df,
            new_df,
            endpoints_within_nodes=True,
            nodes_disjoint=True,
        ).collect()
    }
    assert base == fast


def test_two_level_contraction_matches_union_find(spark, monkeypatch):
    """r17 two-level path: a graph ABOVE the single-task threshold runs
    the per-partition forest contraction, and when the forest fits the
    threshold the global merge is the single-task union-find.  Built by
    duplicating each edge 100x (20k edge rows over 100 nodes) with the
    threshold pinned between the raw edge count and the forest bound,
    so exactly the contraction + single-task combination executes —
    labels must match the driver-side union-find oracle (min-id)."""
    import zebra_spark.graph as g
    from zebra_spark.graph import connected_components

    rng = random.Random(23)
    n = 100
    base = [(rng.randrange(n), rng.randrange(n)) for _ in range(200)]
    edges = base * 100  # 20,000 rows; forest <= partitions x nodes
    monkeypatch.setattr(g, "SMALL_GRAPH_EDGES", 5000)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r.id: r.component
        for r in connected_components(nodes, edf).collect()
    }
    assert got == _uf_components(n, base)
    # out-of-node endpoints must still be ignored on this path: an
    # edge through a foreign node may not bridge two components
    iso = spark.createDataFrame([(i,) for i in range(4)], "id bigint")
    bridge = spark.createDataFrame(
        [(0, 99, ), (99, 1), (2, 3)] * 4000, "src bigint, dst bigint"
    )
    monkeypatch.setattr(g, "SMALL_GRAPH_EDGES", 5000)
    out = {
        r.id: r.component
        for r in connected_components(iso, bridge).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 2}
