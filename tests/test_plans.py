"""Plan-shape regression tests: the physical-plan properties the engine
relies on at scale (SURVEY §4, ARCHITECTURE.md) must not silently rot.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

import zebra_spark
from tests.conftest import SF_ORACLE

zebra_spark.load_all_queries()


def plan_of(spark, name: str) -> str:
    df = zebra_spark.QUERIES[name](spark, SF_ORACLE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(spark, "q_filter_pred")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    for frag in ("GreaterThanOrEqual(l_quantity", "In(l_returnflag",
                 "StringStartsWith(l_linestatus", "l_shipdate"):
        assert frag in pushed, pushed


def test_column_pruning(spark):
    p = plan_of(spark, "q_doc_scan")
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "embedding" not in rs  # documents scan reads only its columns
    p = plan_of(spark, "q_count_star")
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "embedding" not in rs, rs  # count+distinct needs no vector bytes


def test_dimension_joins_broadcast(spark):
    p = plan_of(spark, "q_join_inner")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_global_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q_sort_limit")


def test_rank_limit_pushed_into_shuffle(spark):
    assert "WindowGroupLimit" in plan_of(spark, "q_window_rank")


def test_knn_broadcasts_queries_no_cartesian(spark):
    p = plan_of(spark, "q_knn_exact")
    assert "CartesianProduct" not in p
    assert "Broadcast" in p


def test_partial_aggregation(spark):
    # map-side partial agg before the exchange (two HashAggregate levels)
    p = plan_of(spark, "q_agg_hash")
    assert p.count("HashAggregate") >= 2, p[:1500]


def test_neardup_cosine_pair_join_is_blocked(spark):
    # candidate pairs come from per-cell member lists (ONE groupBy over
    # the assignment, computed once), never an unbounded theta self-join
    # of the corpus; the only nested-loop is the corpus x
    # tiny-broadcast-seed assignment cross join.  Since r6 the scored
    # pairs are a derived table, so the structural assertions apply to
    # the BUILD plan (what cosine_pair_table materializes once)...
    import io as _io
    import re
    from contextlib import redirect_stdout

    from zebra_spark.queries import dedup as dd

    cand, e = dd._cosine_candidates(spark, SF_ORACLE)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        dd._score_pairs(cand, e, vectorized=False).explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    hash_joins = len(re.findall(r"(?:BroadcastHash|ShuffledHash|SortMerge)Join", p))
    assert hash_joins >= 2, p[:2000]  # the two embedding-side joins
    # ZERO window operator nodes in the scoring plan (r7): the top-R
    # cell-rank window now runs exactly once inside the materialized
    # cosine_assign_table build, so candidate generation is a parquet
    # scan of the assignment — the r2 double-evaluation cannot recur
    # structurally.  (r6 asserted ==1 when the window was inline.)
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 0, p[:2000]
    assert "Scan parquet" in p, p[:2000]  # the shared assign table
    # ...while the CONSUMER plan is a scan of that table + a
    # distributed partial top-k, nothing recomputed
    pc = plan_of(spark, "q_neardup_cosine")
    assert "CartesianProduct" not in pc
    assert "TakeOrderedAndProject" in pc
    assert "Scan parquet" in pc, pc[:1500]


def test_minhash_has_no_global_window(spark):
    # token ids are per-row hashes: the minhash plan contains NO window
    # operator at all (the r1 vocab used a single-partition global
    # row_number window — this locks its removal)
    p = plan_of(spark, "q_dedup_minhash")
    assert "Window" not in p, p[:1500]
    assert "row_number" not in p.lower()


def test_tpch_q6_predicates_reach_scan(spark):
    # Q6 is the pushdown showcase: every predicate lands in PushedFilters
    p = plan_of(spark, "q_tpch_q6")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    for frag in ("l_shipdate", "GreaterThanOrEqual(l_discount",
                 "LessThanOrEqual(l_discount", "LessThan(l_quantity"):
        assert frag in pushed, pushed


_TPCH_R2 = [f"q_tpch_q{i}" for i in [7, 8, 9, 10, 13, 15, 16, 17, 18, 19, 20, 21, 22]]


@pytest.mark.parametrize("name", _TPCH_R2)
def test_tpch_no_unbounded_joins(spark, name):
    # every round-2 TPC-H shape: no cartesian product anywhere, and the
    # only nested-loop join allowed is a 1-row broadcast scalar
    # (Q15 max-revenue, Q17 threshold, Q22 balance threshold)
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, f"{name}: cartesian product"
    if "BroadcastNestedLoopJoin" in p:
        assert name in ("q_tpch_q15", "q_tpch_q17", "q_tpch_q22"), (
            f"{name}: unexpected nested-loop join"
        )


def test_tpch_topk_queries_take_ordered(spark):
    # Q10 top-20 and Q18 top-100 must be TakeOrderedAndProject, not a
    # global sort
    for name in ("q_tpch_q10", "q_tpch_q18"):
        assert "TakeOrderedAndProject" in plan_of(spark, name), name


def test_tpch_exists_shapes_are_semi_anti(spark):
    # correlated EXISTS / NOT EXISTS compile to semi/anti hash joins,
    # never to a per-row subquery or sort-merge fallback on the
    # bounded-key sides
    p16 = plan_of(spark, "q_tpch_q16")
    assert "LeftAnti" in p16
    p20 = plan_of(spark, "q_tpch_q20")
    assert "LeftSemi" in p20 and "SortMergeJoin" not in p20, p20[:1500]
    p21 = plan_of(spark, "q_tpch_q21")
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    p22 = plan_of(spark, "q_tpch_q22")
    assert "LeftAnti" in p22


def scan_count(plan: str) -> int:
    """Number of parquet scans in the physical plan (the formatted
    explain prints every operator twice: tree + detail section)."""
    import re

    return len([l for l in plan.splitlines()
                if re.match(r"^\s*\(\d+\) Scan parquet", l)])


def test_emb_covariance_single_corpus_scan(spark):
    """The one-pass moment-stats design: exactly ONE embeddings scan.
    A self-join finish step planned 4 (idx filters pushed below the
    stats exchange defeat ReuseExchange — see _emb_moment_stats)."""
    assert scan_count(plan_of(spark, "q_emb_covariance")) == 1


def test_surprisal_two_corpus_scans_and_broadcast(spark):
    """tok + vocabulary build = 2 scans (the grand total is a plan-time
    scalar, not a third scan); the vocabulary join is a broadcast."""
    p = plan_of(spark, "q_text_surprisal")
    assert scan_count(p) == 2, p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_funnel_pushes_event_type_filters(spark):
    """Each funnel stage scans only its event type (pushdown), and the
    shrinking stage frames join by broadcast, never sort-merge."""
    p = plan_of(spark, "q_events_funnel")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("event_type" in l for l in pushed), p
    assert "SortMergeJoin" not in p


def test_incremental_dedup_no_cartesian(spark):
    p = plan_of(spark, "q_dedup_incremental")
    assert "CartesianProduct" not in p


def test_random_projection_is_shuffle_free(spark):
    """The JL projection is one corpus scan with zero Exchange: the sign
    matrix is recomputed per-cell, never joined or broadcast, so the op
    stays embarrassingly parallel at any corpus size."""
    p = plan_of(spark, "q_emb_random_projection")
    assert scan_count(p) == 1, p
    assert "Exchange" not in p, p


def test_dup_spans_two_bounded_shuffles(spark):
    """Duplicate-span detection reads the corpus, never joins it to
    itself row-by-row: shingle-keyed agg + doc rollup, no cartesian, no
    sort-merge self-join of raw documents."""
    p = plan_of(spark, "q_text_dup_spans")
    assert "CartesianProduct" not in p
    assert scan_count(p) == 2, p  # shingle side + dup-vocab side


def test_anomaly_stats_join_is_broadcast(spark):
    """The per-type stats frame (|event_types| rows) must broadcast onto
    the minute rollup — a sort-merge here would shuffle the rollup for
    a 10-row dimension."""
    p = plan_of(spark, "q_events_anomaly")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pagerank_iterations_read_cached_edges(spark):
    """Every PageRank iteration must join against the persisted edge /
    degree frames (InMemoryTableScan), not re-derive the MinHash
    candidate pipeline; no cartesian anywhere."""
    p = plan_of(spark, "q_graph_pagerank")
    assert "InMemoryTableScan" in p, p
    assert "CartesianProduct" not in p


def test_table_profile_single_scan(spark):
    """q_table_profile's claim: every column's stats come from ONE scan
    of orders (multi-distinct via Expand), never a per-column re-scan."""
    p = plan_of(spark, "q_table_profile")
    assert scan_count(p) == 1, p[:1500]
    assert "Expand" in p  # the multi-count-distinct rewrite
    assert "CartesianProduct" not in p


def test_heavy_hitters_windows_counted_vocab(spark):
    """q_heavy_hitters: the rank window runs over the (source, word)
    COUNT aggregate, raw tokens shuffle once into it; the per-source
    totals join is a broadcast."""
    import re

    p = plan_of(spark, "q_graph_triangles")
    assert "CartesianProduct" not in p
    p = plan_of(spark, "q_heavy_hitters")
    assert "BroadcastHashJoin" in p, p[:1500]
    assert "CartesianProduct" not in p
    # exactly one window operator (the per-source rank)
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p[:1500]


def test_cosine_assign_delta_broadcast_seeds(spark):
    """The unseen-batch assignment's only cross join is batch x
    broadcast seed matrix; ranking is one per-vector window; no
    cartesian product."""
    import re

    p = plan_of(spark, "q_cosine_assign_delta")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # batch x broadcast(seeds)
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p[:2000]


def test_cosine_delta_unseen_no_cartesian(spark):
    """End-to-end unseen-batch delta: the cell collision is an
    equi-join (hash or sort-merge), embedding joins are equi-joins,
    the only nested loops are the broadcast seed assignments."""
    import re

    p = plan_of(spark, "q_cosine_delta_unseen")
    assert "CartesianProduct" not in p
    equi = len(re.findall(r"(?:BroadcastHash|ShuffledHash|SortMerge)Join", p))
    assert equi >= 3, p[:2000]  # cell join + two embedding-side joins


def test_cell_drift_bounded_aggregation(spark):
    """The drift audit is per-split (min over broadcast seeds -> one
    global (n, avg)): no cartesian, seeds broadcast, and the final
    ratio join is a broadcast of a single-row aggregate."""
    p = plan_of(spark, "q_cell_drift")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # x broadcast(seeds), x 1-row base
    assert "HashAggregate" in p


def test_balance_histograms_single_scan(spark):
    """Both blocking-health histograms are one parquet scan of the
    maintained artifact -> two groupBy levels; no joins of any kind
    (the nightly cap/reseed evidence must stay this cheap)."""
    import re

    for name in ("q_band_balance", "q_cell_balance"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name
        assert re.search(r"Join", p) is None, (name, p[:1500])
        # exactly one scan node (formatted explain prints each node
        # twice: tree + detail section)
        assert p.count("Scan parquet") == 2, (name, p[:1500])
        # at least one partial+final HashAggregate pair
        assert p.count("HashAggregate") >= 4, (name, p[:1500])


def test_cluster_delta_iterates_star_union(spark):
    """Incremental clustering's iterated edge frame is star(labels) ∪
    delta — |V| + |delta| rows, old components at diameter 1 — never
    the full pair graph.  Asserted on the frame incremental_components
    actually builds (the per-round plans are localCheckpoint-cut, so
    the final plan cannot show the iteration); plus the final label
    plans carry no cartesian."""
    from pyspark.sql import functions as F

    from zebra_spark.graph import incremental_components
    from zebra_spark.queries import dedup as dd
    from zebra_spark.io import load

    docs = load(spark, SF_ORACLE, "documents").select(
        F.col("doc_id").alias("id")
    )
    labels = docs.select("id", F.col("id").alias("component"))
    delta = spark.createDataFrame(
        [(1, 2), (3, 4)], "src bigint, dst bigint"
    )
    # star edges: one per non-representative node (0 here — identity
    # labels), so the iterated frame is exactly |star| + |delta|
    star_rows = labels.filter(F.col("id") != F.col("component")).count()
    merged = incremental_components(labels, delta, docs.limit(0))
    assert merged.count() == docs.count()
    assert star_rows == 0  # identity labels collapse to zero star edges
    for name in ("q_cluster_delta", "q_semantic_cluster_delta"):
        assert "CartesianProduct" not in plan_of(spark, name), name


def test_ingest_audit_summary_shape(spark):
    """The nightly tick's surface is ten 1-row section summaries
    unioned — bounded aggregation over the maintained artifacts, no
    cartesian; the delta paths inside the tick are audited under their
    own dossier entries (q_pair_table_delta, q_cosine_table_delta,
    q_cosine_assign_delta, q_cluster_delta)."""
    from zebra_spark.queries.audit import AUDIT_SECTIONS

    p = plan_of(spark, "q_ingest_audit")
    assert "CartesianProduct" not in p
    assert "Union" in p
    n = len(AUDIT_SECTIONS)
    assert n == 10  # r14: + shard_balance (VERDICT r13 #2)
    # one (count, bit_xor) aggregate pair per section survives in the
    # final plan
    assert p.count("partial_count") >= n, p[:2000]


def _build_plan(df) -> str:
    import io as _io
    from contextlib import redirect_stdout

    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_capped_pairs_windowed_prefix_no_cartesian(spark):
    """The binding giant-cell cap: per-cell member lists sliced to the
    cap BEFORE pair fan-out — a distributed aggregate+slice, no
    cartesian, no corpus-wide window; per-cell pair explosion bounded
    at cap^2/2 by construction.  Asserted on the BUILD plan (the
    serving query q_cosine_capped_pairs reads the derived parquet)."""
    from zebra_spark.queries import dedup as dd

    cand, e = dd._cosine_candidates(spark, SF_ORACLE, max_cell=64)
    p = _build_plan(dd._score_pairs(cand, e, vectorized=False))
    assert "CartesianProduct" not in p
    assert "slice(" in p, p[:2000]        # the prefix cap in the plan
    assert "collect_list" in p, p[:2000]  # per-cell sorted member lists
    # pair generation explodes the capped lists, never a theta self-join
    assert "Generate" in p


def test_drift_baseline_two_scalars_only(spark):
    """The drift baseline's BUILD: corpus x broadcast-seed loop ->
    per-vector min -> ONE global aggregate; no cartesian of corpus x
    corpus (the serving query q_drift_baseline reads the persisted
    1-row artifact)."""
    from zebra_spark.io import embeddings_d
    from zebra_spark.queries import dedup as dd

    p = _build_plan(
        dd.cell_drift_audit(
            spark, SF_ORACLE,
            embeddings_d(spark, SF_ORACLE).select("vec_id", "emb"),
            "corpus",
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # x broadcast(seeds)
    assert p.count("HashAggregate") >= 4   # per-vector min + global pair
    # the serving plan is the 1-row artifact scan, nothing heavier
    ps = plan_of(spark, "q_drift_baseline")
    assert ps.count("Scan parquet") == 2 and "Join" not in ps


def test_train_order_window_partitioned_by_shard(spark):
    """q_train_order's window must be partitioned by shard (shuffle +
    per-partition sort, a distributed export writer's shape) — never a
    single-partition global window."""
    p = plan_of(spark, "q_train_order")
    assert "Window" in p
    # the Exchange feeding the window hashes on the shard key, so the
    # plan carries a hashpartitioning exchange (not SinglePartition)
    assert "hashpartitioning(shard" in p, p[:2000]
    assert "SinglePartition" not in p, p[:2000]


def test_quality_sweep_broadcast_grid_bounded_scans(spark):
    """q_quality_threshold_sweep: the 9-row grid and the 1-row totals
    are BROADCAST against the one per-doc feature pass — the whole
    curve costs the feature scan, not 9 corpus scans."""
    p = plan_of(spark, "q_quality_threshold_sweep")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") >= 2  # grid + totals
    assert p.count("Scan parquet") <= 4  # 2 scans (tree + detail print)


def test_cluster_hist_and_takedown_shapes(spark):
    """q_cluster_size_hist: aggregation-only over the maintained label
    parquet.  q_cluster_takedown: stable labels pass through via
    broadcast anti-join; no cartesian anywhere."""
    import re

    p = plan_of(spark, "q_cluster_size_hist")
    assert "CartesianProduct" not in p
    assert re.search(r"Join", p) is None, p[:1500]
    p = plan_of(spark, "q_cluster_takedown")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin LeftAnti" in p  # stable-cluster passthrough


def test_tick_chain_serving_is_state_scan(spark):
    """The chained-maintenance queries serve from ONE parquet scan of
    the appended state (the point of maintained artifacts); the build
    cost lives in the per-tick delta plans audited under their own
    entries."""
    for name, extra in (
        ("q_tick_chain_pairs", 0),
        ("q_tick_chain_cosine", 0),
        ("q_tick_chain_clusters", 0),
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name
        assert "Join" not in p, (name, p[:1200])
        assert p.count("Scan parquet") == 2, (name, p[:1200])  # tree+detail


def test_pack_sequences_rides_shard_window(spark):
    """q_pack_sequences: the running token sum is a window partitioned
    by the shard key (the export writer's shuffle) — one corpus scan,
    no join, never a single-partition global window."""
    p = plan_of(spark, "q_pack_sequences")
    assert "CartesianProduct" not in p
    assert "Join" not in p, p[:1500]
    assert "Window" in p
    assert "hashpartitioning(shard" in p, p[:2000]
    assert "SinglePartition" not in p, p[:2000]


def test_mix_rebalance_bucketed_rank_no_skew(spark):
    """q_mix_rebalance: the per-language rank is decomposed by hash
    bucket — the ranking window partitions on (lang, bkt), never on
    lang alone (|languages| keys = the dominant language's slice in
    one task), and the prefix/quota frames arrive broadcast."""
    p = plan_of(spark, "q_mix_rebalance")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "hashpartitioning(lang" in p
    # the corpus-sized window must carry the bucket key
    assert "windowspecdefinition(lang#" in p or "windowspecdefinition(lang" in p
    import re

    corpus_windows = re.findall(r"row_number\(\) windowspecdefinition\(([^,]+, [^,]+),", p)
    assert corpus_windows, p[:2000]
    for spec in corpus_windows:
        assert "bkt" in spec, (spec, p[:2000])


def test_token_budget_sample_bucketed_cumsum_no_skew(spark):
    """q_token_budget_sample: the per-source running token sum is
    decomposed by hash bucket — the corpus-sized window partitions on
    (source, bkt), never on source alone, with the prefix frame
    broadcast."""
    import re

    p = plan_of(spark, "q_token_budget_sample")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, p[:2000]
    corpus_windows = re.findall(
        r"sum\([^)]*\) windowspecdefinition\(([^,]+, [^,]+),", p
    )
    assert corpus_windows, p[:2000]
    # every RUNNING (two-key-partitioned) sum window carries bkt; the
    # prefix window over the tiny (source, bkt) aggregate is 1-keyed
    assert any("bkt" in spec for spec in corpus_windows), (corpus_windows,)


def test_export_dedup_order_serves_from_labels(spark):
    """q_export_dedup_order: one scan of the maintained label parquet
    -> filter representatives -> the shard-partitioned export window.
    No joins, no closure at query time, never a single-partition
    window."""
    p = plan_of(spark, "q_export_dedup_order")
    assert "CartesianProduct" not in p
    assert "Join" not in p, p[:1500]
    assert "hashpartitioning(shard" in p, p[:2000]
    assert "SinglePartition" not in p, p[:2000]


def test_export_manifest_single_filescan_aggregation(spark):
    """q_export_shards' serving frame: one scan of the WRITTEN shard
    files -> one two-level aggregation, no joins (the write itself is
    priced by executing the query, not visible in this plan)."""
    import re

    p = plan_of(spark, "q_export_shards")
    assert "CartesianProduct" not in p
    assert re.search(r"Join", p) is None, p[:1500]
    assert p.count("HashAggregate") >= 2


def _prefilter_shape_ok(plan: str) -> bool:
    """True iff the plan is the PRE-filter shape: an admissibility
    LeftSemi join sits UPSTREAM of the per-query rank window (formatted
    explain prints the tree root-first, so upstream nodes print LATER).
    A post-filter plan ranks first and semi-joins the top-k afterwards,
    which prints the LeftSemi BEFORE the Window."""
    tree = plan.split("\n\n", 1)[0]  # the tree section only
    if "LeftSemi" not in tree or "Window" not in tree:
        return False
    return tree.index("LeftSemi") > tree.index("Window")


def test_knn_filtered_is_prefilter(spark):
    """q_knn_filtered (VERDICT r16 #6): the sf0.01 hash gate can't
    distinguish pre- from post-filter (same rows either way when the
    predicate admits >= k per query), and post-filter is the classic
    silent regression — a selective predicate then empties the result
    and the distance work stops scaling with selectivity.  Pin BOTH
    load-bearing plan properties: the lang predicate reaches the
    documents parquet scan, and the semi-join precedes the distance
    projection / rank window."""
    # cold catalog: an earlier test's persisted documents frame would
    # make Spark substitute InMemoryTableScan for the parquet scan and
    # the PushedFilters/ReadSchema lines vanish — the property under
    # test is the COLD plan the optimizer builds, not whatever cache
    # state the suite happens to carry (full-suite-order flake, r17)
    spark.catalog.clearCache()
    p = plan_of(spark, "q_knn_filtered")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(lang,en)" in l for l in pushed), pushed
    # the documents scan feeding the semi-join reads only (doc_id, lang)
    rs = [l for l in p.splitlines() if "ReadSchema" in l]
    assert any("doc_id:bigint,lang:string" in l for l in rs), rs
    assert _prefilter_shape_ok(p), p[:2000]


def test_prefilter_checker_fails_on_postfilter_mutation(spark):
    """Negative control for _prefilter_shape_ok: a deliberately wrong
    post-filter formulation (rank over the WHOLE corpus, semi-join the
    winners afterwards) must be rejected — proves the checker actually
    distinguishes the two shapes rather than passing anything with a
    semi-join in it."""
    spark.catalog.clearCache()  # same cold-catalog rule as above
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql import Window, functions as F

    from zebra_spark import functions as zf
    from zebra_spark.io import embeddings_d, load

    e = embeddings_d(spark, SF_ORACLE)
    allowed = (
        load(spark, SF_ORACLE, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    post = (
        e.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            zf.l2sq(F.col("qe"), F.col("emb")).alias("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .join(
            allowed.select(F.col("vec_id").alias("neighbor_id")),
            "neighbor_id",
            "left_semi",
        )
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        post.explain("formatted")
    assert not _prefilter_shape_ok(buf.getvalue())


def _broadcast_inputs(plan: str) -> list[str]:
    """The `Input` line of every BroadcastExchange node in a formatted
    plan's node details."""
    out = []
    for section in plan.split("\n\n"):
        lines = section.strip().splitlines()
        if lines and lines[0].split(" ", 1)[-1] == "BroadcastExchange":
            out += [l for l in lines[1:] if l.startswith("Input")]
    return out


@pytest.mark.parametrize("kind,key", [("lsh", "tree_id"), ("ivf", "cell_id")])
def test_facade_ann_search_broadcasts_driver_probe_keys(spark, tmp_path, kind, key):
    """The facade's LSH/IVF search computes probe keys on the driver and
    broadcasts them, with and without a `where` filter: one path, no
    Python map node in the query plan (the ingest-with-reads benchmark
    times this path on every read)."""
    import numpy as np

    from zebra_spark.database import ZebraDatabase

    db = ZebraDatabase.create(
        spark, str(tmp_path / kind), dim=16, index_kind=kind,
        index_options={"k_coarse": 4} if kind == "ivf" else {},
    )
    db.insert_texts([f"doc {i} about topic {i % 3}" for i in range(24)])
    db.save_index()  # checkpointed index: no build-time map in the plan
    q = np.array([db.embeddings().first().embedding])
    for where in (None, "vec_id >= 0"):
        buf = io.StringIO()
        with redirect_stdout(buf):
            db.query_vectors(q, k=3, where=where).explain("formatted")
        p = buf.getvalue()
        assert "MapInPandas" not in p and "MapInArrow" not in p, (where, p)
        assert any(
            "query_id" in l and key in l for l in _broadcast_inputs(p)
        ), (where, p)
