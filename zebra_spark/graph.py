"""Distributed graph connectivity for the dedup pipeline.

`connected_components` is the engine behind q_dedup_clusters
(zebra_spark/queries/dedup.py): min-label propagation with a
pointer-doubling shortcut, the plain-DataFrame formulation of the
standard Pregel/GraphFrames algorithm.

Scale posture: every round is a bounded number of equi-joins + groupBys
(shuffles on node id); pointer doubling (label <- label-of-label) makes
the round count O(log diameter) instead of O(diameter) — a 1M-hop chain
converges in ~20 rounds, where pure neighbor propagation would need 1M.

Lineage cut: each round's label table round-trips through parquet.
Chained `localCheckpoint()`/`checkpoint()` both exhibit a super-linear
per-round planning blowup in Spark 4.1 after ~17 self-join rounds
(measured: 0.2 s/round flat until round ~17, then x2.6 per round —
58 s at round 24 — with flat logical plans AND flat RDD lineage; the
parquet round-trip stays at 0.25 s/round indefinitely).  The spill is
also the restart-friendly pattern for long iterative jobs on a real
cluster: each round is a compact (id, label) table, resumable.  Spills
go through a Hadoop-FS-compatible path; only the two most recent
rounds are kept.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


SMALL_GRAPH_EDGES = 5_000_000


def _fs_rmtree(spark, path: str) -> None:
    """Delete a spill directory on whatever filesystem owns `path` —
    shutil for plain local paths, the Hadoop FileSystem API for scheme'd
    stores (hdfs://, s3a://, file:), so round deletion works unchanged
    on a real cluster's shared store.  Consolidated into fsutil (r7);
    this alias stays because it is the name scale scripts import."""
    from zebra_spark.fsutil import rmtree

    rmtree(spark, path)


def _cc_single_task(
    nodes: DataFrame, edges_m: DataFrame,
    endpoints_within_nodes: bool = False,
) -> DataFrame:
    """Union-find over the whole (small) edge list in ONE task.

    The edge frame is coalesced to a single partition and processed by
    mapInPandas — executor-side, not a driver collect — then the labels
    join back to the full node list (nodes without edges label
    themselves).  Same min-id-per-component contract as the iterative
    path; path-compressed union-by-attach keeps it linear-ish.

    Edges touching ids absent from `nodes` are filtered out first
    (two left_semi joins — cheap at <=5M edges) so both paths share one
    contract: out-of-node endpoints are ignored.  Unfiltered, union-find
    could name a component after a NON-node id (nodes={5}, edge (3,5)
    -> component 3) while the iterative path's label join silently drops
    the edge -> component 5 — the same input would change results as it
    crossed the size threshold (ADVICE r4).

    `endpoints_within_nodes=True` (r17 optimization pass, guide §2.4:
    remove shuffles outright) skips those two guard joins for callers
    that PROVE every edge endpoint is a node — the incremental label
    merge's star∪delta edges are constructed from the label table and
    the batch's verified pairs, so the guards were two always-pass
    joins on the maintenance hot path.  Results are identical by
    construction when the precondition holds; callers that cannot
    prove it keep the default."""
    import pandas as pd

    if not endpoints_within_nodes:
        edges_m = edges_m.join(
            nodes.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(nodes.select(F.col("id").alias("dst")), "dst", "left_semi")

    def uf(it):
        # Per-edge path-compressed union-find.  The r17 optimization
        # pass prototyped a vectorized numpy/pandas hook-and-compress
        # variant (guide §4.2) and A/B'd it at the workload's actual
        # shape — a few thousand nodes under millions of near-dup
        # edges — where this dict loop WON (1.5 s vs 2.8 s at 3.5M
        # edges driver-side): the parent dict fits in cache and most
        # finds are O(1), while the vectorized form pays a full
        # id-space sort (np.unique) plus per-round passes over the
        # whole edge list.  Revisit only if the node count per task
        # grows to where dict locality breaks down.
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in it:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                rs, rd = find(int(s)), find(int(d))
                if rs != rd:
                    # attach the larger root to the smaller so the
                    # representative is always the MIN id (the contract)
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        seen = set(parent)
        yield pd.DataFrame(
            {"id": list(seen), "component": [find(x) for x in seen]}
        )

    # ONE materialization of the union-find output (r17 optimization
    # pass): consumers reference the returned frame more than once per
    # action — incremental_components' two expansion branches,
    # remove_and_relabel's stable∪relabeled union — and a bare
    # mapInPandas subtree re-runs the whole UF per reference (no
    # exchange for Spark to reuse).  The labels frame is one tiny
    # partition, so the checkpoint is the UF job itself, run exactly
    # once.
    labels = (
        edges_m.coalesce(1)
        .mapInPandas(uf, schema="id long, component long")
        .localCheckpoint()
    )
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
    spill_dir: str | None = None,
    edges_cheap: bool = False,
    endpoints_within_nodes: bool = False,
) -> DataFrame:
    """Label every node with the MIN node id of its component.

    nodes: one column `id`; edges: columns (`src`, `dst`), treated as
    undirected (symmetrized here).  Returns (id, component).

    Edges referencing ids absent from `nodes` are IGNORED — the
    iterative path drops them naturally (no label to join), and the
    single-task path filters them explicitly — so results are identical
    on either side of the fast-path threshold (pinned by
    tests/test_graph.py::test_out_of_node_endpoints_ignored).

    The returned DataFrame reads the final round's spill files; they
    stay on disk until interpreter exit (atexit) unless `spill_dir` is
    given, in which case the caller owns cleanup.  A call that never
    spills (the small-graph path over cheap edges) creates no
    directory and registers no exit handler.
    """
    spark = nodes.sparkSession

    @functools.cache
    def spill_base() -> str:
        if spill_dir:
            return spill_dir
        base = tempfile.mkdtemp(prefix="zebra_cc_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        return base

    def cut(df: DataFrame, r: int) -> DataFrame:
        """Materialize round r and sever all lineage/planner state."""
        base = spill_base()
        df.write.mode("overwrite").parquet(f"{base}/round_{r}")
        # keep r and r-1 (the convergence comparison target); drop r-2
        _fs_rmtree(spark, f"{base}/round_{r - 2}")
        return spark.read.parquet(f"{base}/round_{r}")

    # Materialize the edge list FIRST: `edges` is often an expensive
    # pipeline, and the symmetrize union below references it twice —
    # without this cut Spark recomputes the whole upstream pipeline once
    # per union branch (measured: 2x the pair-query cost inside one
    # job).  edges_cheap=True skips the cut for inputs that are already
    # materialized scans (the r6 derived pair tables): re-reading a
    # parquet filter twice is cheaper than writing it out again.
    if edges_cheap:
        edges_m = edges.select("src", "dst")
    else:
        path = f"{spill_base()}/edges"
        edges.select("src", "dst").write.mode("overwrite").parquet(path)
        edges_m = spark.read.parquet(path)

    # Small-graph fast path: below this edge count, a single-TASK
    # union-find (executor-side mapInPandas over one partition — no
    # driver collect) beats the iterative rounds, whose per-round spill
    # job overhead dominates tiny graphs.  5M edges x 16 B ≈ 80 MB,
    # comfortably inside one task's memory; above it, pointer doubling.
    if edges_m.count() <= SMALL_GRAPH_EDGES:
        return _cc_single_task(nodes, edges_m, endpoints_within_nodes)

    # Two-level connectivity for larger graphs (r17 optimization pass,
    # guide §2.3 "aggregate before you shuffle"): ONE distributed pass
    # runs union-find per partition and emits each partition's spanning
    # FOREST (node -> local root, at most one row per touched node per
    # partition, always <= that partition's edge count) — preserving
    # connectivity classes exactly while collapsing the redundant bulk
    # of a dense edge set.  The global merge then runs over the forest
    # union: single-task when it fits (the common case — a near-dup
    # graph's 6.45M edges over 5k docs contract to <= n_partitions x
    # |touched nodes| rows), else the iterative doubling below over the
    # strictly smaller frame.  Guard parity: out-of-node endpoints must
    # be IGNORED (both existing paths do), so they are filtered BEFORE
    # contraction — a foreign endpoint may not bridge two components.
    # The repartition is a deterministic hash of the edge key (task
    # retries reproduce it); the forest SHAPE depends on the partition
    # layout but the connectivity classes — and therefore the min-id
    # labels — do not.
    import pandas as pd

    big = edges_m
    if not endpoints_within_nodes:
        big = big.join(
            nodes.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(nodes.select(F.col("id").alias("dst")), "dst", "left_semi")

    def forest_per_partition(it):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in it:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                rs, rd = find(int(s)), find(int(d))
                if rs != rd:
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        seen = set(parent)
        yield pd.DataFrame(
            {"src": list(seen), "dst": [find(x) for x in seen]}
        )

    n_par = spark.sparkContext.defaultParallelism
    forest = (
        big.repartition(n_par, F.col("src"), F.col("dst"))
        .mapInPandas(forest_per_partition, schema="src long, dst long")
        # one materialization: referenced by the size gate and the
        # chosen merge path (and twice via the single-task join-back)
        .localCheckpoint()
    )
    if forest.count() <= SMALL_GRAPH_EDGES:
        # forest endpoints ⊆ the (guarded) edge endpoints ⊆ nodes
        return _cc_single_task(nodes, forest, endpoints_within_nodes=True)
    edges_m = forest
    # static through all rounds: one localCheckpoint (no chaining — the
    # blowup above only affects iterated checkpoints of checkpoints)
    # No distinct: min-label propagation is idempotent to duplicate
    # edges (they only re-feed the same value into a min), and for the
    # common unique-(a<b)-pair input the two union directions are
    # disjoint anyway — the dedup was a pure no-op shuffle of the
    # full symmetrized edge list (12.9M rows for q_dedup_clusters at
    # sf0.1) before every run.
    sym = (
        edges_m.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges_m.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .localCheckpoint()
    )
    labels = cut(nodes.select(F.col("id"), F.col("id").alias("label")), 0)
    for r in range(1, max_rounds + 1):
        # 1) neighbor minimum
        neigh = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        # carry the previous round's label through as `old` so the
        # convergence signal rides the SAME job as the round's write
        stepped = labels.join(neigh, "id", "left").select(
            "id",
            F.col("label").alias("old"),
            F.least("label", F.coalesce("nmin", F.col("label"))).alias("label"),
        )
        # 2) pointer doubling on the CURRENT round's labels:
        # label <- stepped-label(stepped-label).  Each node's label is a
        # node id, so the self-join halves the remaining distance to the
        # component minimum — O(log diameter) rounds overall.  stepped
        # is referenced twice and recomputed (shallow plan over the
        # round-r-1 spill); doubling over the fresh labels converges in
        # fewer rounds than doubling over the previous round's.
        lab2 = stepped.select(
            F.col("id").alias("label"), F.col("label").alias("label2")
        )
        doubled = stepped.join(lab2, "label", "left").select(
            "id",
            "old",
            F.least("label", F.coalesce("label2", F.col("label"))).alias("label"),
        )
        # convergence check via observed metrics on the write itself —
        # one job per round, not write + a separate join+count job
        obs = Observation(f"cc_round_{r}")
        observed = doubled.observe(
            obs,
            F.coalesce(
                F.sum((F.col("label") != F.col("old")).cast("long")), F.lit(0)
            ).alias("changed"),
        ).select("id", "label")
        labels = cut(observed, r)
        if obs.get["changed"] == 0:
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds "
        "(doubling makes rounds ~log2(diameter): this graph would need "
        f"diameter > 2^{max_rounds})"
    )


def remove_and_relabel(
    labels: DataFrame, edges: DataFrame, removed_ids: DataFrame
) -> DataFrame:
    """Update a MAINTAINED component assignment after a TAKEDOWN —
    the removal twin of incremental_components (r9).  Merging is
    monotone (star-union handles it), but a removal can SPLIT a
    component, which no label-merge can express — yet only the
    components that CONTAINED a removed node can change.  So:

      1. affected = the component labels of the removed ids;
      2. untouched clusters keep their labels verbatim (zero work);
      3. the affected clusters' surviving members are re-clustered
         from scratch over the maintained edge set restricted to them
         (edges with removed endpoints drop in the same semi-join).

    Cost is |affected components| not |corpus|: one semi-join to find
    affected members, CC over their induced subgraph — for a takedown
    touching a handful of dup families, a few thousand edges instead
    of the whole pair graph.  Labels keep the min-id contract, so the
    result is bit-identical to a full rebuild over the surviving
    corpus (pinned by tests/test_graph.py and the driver-gated
    q_cluster_takedown).

    labels: (id, component) pre-takedown; edges: (src, dst) the
    maintained near-dup edge set (thresholded pair table);
    removed_ids: one column of ids to delete.

    Size note (r9 verdict): `affected` is broadcast — one row per
    affected COMPONENT, bounded by the takedown's scope, so fine for
    any realistic takedown (measured flat at x10 corpus in
    scripts/takedown_scale.py).  A takedown spanning a large fraction
    of all components (corpus-scale purge) should instead rebuild
    labels from scratch over the survivors — at that scope the rebuild
    is the cheaper plan anyway, and the broadcast stops being small."""
    rem = removed_ids.select(
        F.col(removed_ids.columns[0]).alias("id")
    ).distinct()
    affected = (
        labels.join(rem, "id", "left_semi")
        .select("component")
        .distinct()
    )
    keep = labels.join(rem, "id", "left_anti")
    stable = keep.join(F.broadcast(affected), "component", "left_anti")
    members = keep.join(F.broadcast(affected), "component", "left_semi").select(
        "id"
    )
    sub_edges = (
        edges.join(members.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(members.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    relabeled = connected_components(members, sub_edges, edges_cheap=True)
    return stable.select("id", "component").unionByName(
        relabeled.select("id", "component")
    )


def incremental_components(
    labels: DataFrame,
    delta_edges: DataFrame,
    new_nodes: DataFrame,
    endpoints_within_nodes: bool = False,
    nodes_disjoint: bool = False,
) -> DataFrame:
    """Update a MAINTAINED component assignment with one ingest batch's
    edges — without re-traversing the full edge set.

    labels (id, component) is the pre-batch assignment (a maintained
    artifact, like the pair tables); delta_edges (src, dst) are the
    batch's new near-dup pairs (pair_table_delta output, thresholded);
    new_nodes (id) are the batch members.  Each old component collapses
    to a STAR — one edge id -> representative, <= |V| edges total with
    diameter 1 — which preserves exactly the old connectivity classes,
    so connected_components over (stars ∪ delta) equals CC over
    (old_edges ∪ delta) on the full node set, with min-id labels
    agreeing because every node is present.  Pointer doubling then
    converges in O(log of the DELTA's chain length), not the corpus
    diameter, and the edge frame it iterates is |V| + |delta| rows
    instead of the full pair graph: the cluster twin of
    `old_pairs UNION delta` (equivalence pinned by
    tests/test_graph.py::test_incremental_components and the
    driver-gated q_cluster_delta).

    r17 optimization flags (both default off — results are identical
    when the stated precondition holds, and callers must prove it):
    `endpoints_within_nodes=True` skips the delta-edge guard
    semi-joins when every delta edge endpoint is known to be a label
    row or a batch member (true for pair_table_delta output by
    construction: each pair involves >= 1 batch doc and only corpus
    docs otherwise); `nodes_disjoint=True` skips the new-node
    `distinct`/anti-join when the batch ids are disjoint from the
    maintained labels (the chained tick's id contract; also true for
    ingest_then_audit, whose base labels are the non-batch slice).

    r17 optimization pass, second change (guide §2.3 "shuffle keys
    and metadata instead of payloads" / §8 "decide with small rows"):
    the delta edges are CONTRACTED through the maintained labels
    BEFORE any connectivity pass — each endpoint maps to its
    component representative (itself when unlabeled), self-edges
    drop, and a map-side-partial `distinct` collapses the delta to
    one edge per touched component pair.  CC then runs over
    |components| + |batch| nodes and the contracted edge set instead
    of |V| star edges ∪ the raw delta (measured at sf0.1: a 1.19M-row
    thresholded tick delta contracts to 60,696 edges in 0.87 s
    distributed, where the single-task union-find over the raw
    star ∪ delta frame took ~4 s — and at any scale the contraction
    is a pair of equi-joins on the edge keys plus a distinct whose
    partial aggregation collapses the volume before it is shuffled).
    Exactness rides the maintained-label contract this module already
    requires everywhere (labels' component IS the min MEMBER id of
    its class — connected_components' output contract): every member
    id >= its representative, so min-per-merged-class over
    {representatives} ∪ {batch ids} equals min over all member ids,
    and expanding members through their representative's final label
    reproduces the star-union result bit-for-bit (pinned by
    tests/test_graph.py and the q_cluster_delta /
    q_semantic_cluster_delta / q_tick_chain_clusters driver hashes)."""
    new_nodes = new_nodes.select("id")
    d = delta_edges.select("src", "dst")
    if not endpoints_within_nodes:
        nodes = labels.select("id").unionByName(new_nodes).distinct()
        d = d.join(
            nodes.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(nodes.withColumnRenamed("id", "dst"), "dst", "left_semi")
    if nodes_disjoint:
        new_only = new_nodes
    else:
        new_only = new_nodes.join(
            labels.select("id"), "id", "left_anti"
        ).distinct()
    contracted = (
        d.join(
            labels.select(
                F.col("id").alias("src"), F.col("component").alias("cs")
            ),
            "src",
            "left",
        )
        .join(
            labels.select(
                F.col("id").alias("dst"), F.col("component").alias("cd")
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("cs", F.col("src")).alias("a"),
            F.coalesce("cd", F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
        )
        .distinct()
        # ONE materialization of the contraction pass: the frame is
        # referenced by CC's small-graph count gate, by the union-find
        # (or the iterative rounds), and — through ccc — by BOTH
        # expansion branches below; unmaterialized, the join+distinct
        # over the raw delta would re-run once per reference (measured
        # in-chain: the whole win disappeared into triple recompute).
        # The checkpointed frame is component-level edges — tiny.
        .localCheckpoint()
    )
    # contracted node set: one row per old component plus the genuinely
    # new ids — disjoint unions by construction (representatives are
    # label members; new_only is anti-joined/contract-disjoint)
    reps = labels.select(F.col("component").alias("id")).distinct()
    ccc = connected_components(
        reps.unionByName(new_only), contracted, edges_cheap=True,
        endpoints_within_nodes=True,
    )
    # expand: every labeled node inherits its representative's final
    # label; new nodes carry their own CC rows verbatim
    out_old = labels.join(
        ccc.select(
            F.col("id").alias("component"), F.col("component").alias("f")
        ),
        "component",
    ).select("id", F.col("f").alias("component"))
    out_new = ccc.join(new_only, "id", "left_semi")
    return out_old.unionByName(out_new)
