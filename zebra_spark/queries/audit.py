"""Corpus-snapshot audit: the one entry point a 100 TB pipeline runs
nightly (VERDICT r6 #4).

A corpus snapshot's derived tables (MinHash pair table, cosine pair
table, signatures, token sets, IVF assignments) are built/refreshed
ONCE, then the full audit block — quality-rule failures, source mixture
plan, dup-graph degree histogram, eval decontamination, cross-language
contamination, embedding kNN label purity — reads those shared
artifacts.  snapshot_audit() returns the per-section frames (byte-equal
to the individually registered queries, pinned by tests);
q_snapshot_audit compresses each section to (section, n_rows, checksum)
for a single driver-checkable summary row per section and one bench
row for the whole composite.

No reference counterpart (the reference is a vector store); this is
part of the LLM-data-pipeline surface mandated by SURVEY.md §2.C.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zebra_spark.registry import query

# section -> registered query backing it.  Every entry reads a shared
# derived table (or only per-row expressions), so after the one-time
# builds the composite is pure steady-state consumption.
AUDIT_SECTIONS: dict[str, str] = {
    "gopher_quality": "q_text_gopher_filters",
    "source_mixture": "q_source_mixture_plan",
    "dup_degree_hist": "q_graph_degree_hist",
    "eval_decontamination": "q_eval_decontaminate",
    "cross_lang_contamination": "q_dedup_cross_lang",
    "knn_label_purity": "q_emb_knn_purity",
    # r8: blocking health over the maintained blocking artifacts —
    # semantic cells (the section that makes a registered 'cosassign'
    # table a first-class audited consumer, VERDICT r7 #1 wiring) and
    # their lexical twin, the MinHash band-bucket histogram
    "cell_balance": "q_cell_balance",
    "band_balance": "q_band_balance",
    # r9: cluster labels are now a maintained artifact (kind
    # 'clusters', dedup.cluster_label_table) — this section reads them
    # directly, and ingest_then_audit updates them at DELTA cost via
    # graph.incremental_components instead of re-traversing the graph
    "dup_clusters": "q_dedup_clusters",
    # r14 (VERDICT r13 #2): export-side health — the per-shard row/byte
    # balance of the published training export, the measured trigger
    # behind needs_rebalance (the reseed/retrain gates' export twin).
    # Reads a session-cached published tree; the one-time build is
    # export scaffolding, after which the section is a groupBy(shard)
    # over N_SHARDS output rows like the other blocking-health sections
    "shard_balance": "q_shard_balance",
}



def consume_sections(frames: dict[str, DataFrame]) -> None:
    """Materialize every audit section CONCURRENTLY (r17, VERDICT r16
    #1): the nightly read side is ten independent read-only plans over
    the same handful of persisted/cached artifacts, so sequential
    counts paid ten scheduling round-trips of idle executor time —
    wall cost should be the slowest section, not the sum (the read
    twin of ingest_then_audit's r16 concurrent writes).  Spark
    sessions schedule concurrent actions safely, and racing consumers
    of one persisted artifact block on the cache manager rather than
    recomputing.  This is the production shape too: an audit
    dashboard fans its sections out."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(frames)))) as ex:
        list(ex.map(lambda df: df.count(), frames.values()))


def snapshot_audit(
    spark: SparkSession, sf_dir: str, share_scans: bool = True
) -> dict[str, DataFrame]:
    """Build/refresh the snapshot's derived tables, then return every
    audit section as its own DataFrame — each bit-identical to running
    the corresponding registered query, because each IS that query over
    the same shared artifacts (the wiring the tests pin).

    share_scans (r16, VERDICT r15 #3): the ten sections collectively
    read the same handful of artifacts — the plan dossier counted 19
    file scans per audit because every section re-opened its inputs.
    Each shared input is persist()ed ONCE here (tracked, so the
    harness's release_caches() frees it after the terminal action);
    Spark's cache manager substitutes the cached relation into every
    section plan that contains an equivalent read, so the whole audit
    performs one scan per artifact with sections byte-identical by
    construction (the substitution changes the physical plan only).
    At 100 TB the cached frames are the BOUNDED derived artifacts
    (pair/assignment/label/signature tables — edges and labels, not
    the corpus); the documents read is fixture-sized here and an audit
    over a full-scale corpus would scope it to the audited columns or
    disable sharing."""
    from zebra_spark.queries.dedup import (
        cluster_label_table,
        cosine_assign_table,
        cosine_pair_table,
        pair_table,
        sig_table,
    )
    from zebra_spark.registry import QUERIES

    # one-time-per-snapshot builds (session-cached; on a cluster these
    # are the maintained tables register_maintained_table points at)
    pair_table(spark, sf_dir)
    cosine_pair_table(spark, sf_dir)
    cluster_label_table(spark, sf_dir)
    if share_scans:
        from zebra_spark.caching import tracked_persist
        from zebra_spark.io import load

        for frame in (
            load(spark, sf_dir, "documents"),
            pair_table(spark, sf_dir),
            cosine_pair_table(spark, sf_dir),
            cosine_assign_table(spark, sf_dir),
            cluster_label_table(spark, sf_dir),
            sig_table(spark, sf_dir),
        ):
            tracked_persist(frame)
    # construct the ten section frames CONCURRENTLY (r17 optimization
    # pass, guide §1.2 fixed-cost work off the critical path): frame
    # construction is driver-side Catalyst analysis — ~0.15-0.4 s per
    # section, ~2.5-3 s sequential even with every artifact warm — and
    # the py4j calls release the GIL, so threads overlap it (measured:
    # 2.8-3.0 -> 1.0-1.1 s per audit).  Construction from worker
    # threads is the parity sweep's existing, proven pattern; the
    # derived-table registry is lock-guarded and the frames returned
    # are identical objects to the sequential comprehension's.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(AUDIT_SECTIONS)) as ex:
        return dict(
            zip(
                AUDIT_SECTIONS,
                ex.map(
                    lambda qname: QUERIES[qname](spark, sf_dir),
                    AUDIT_SECTIONS.values(),
                ),
            )
        )


@query("q_snapshot_audit")
def q_snapshot_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(section, n_rows, checksum): one summary row per audit section —
    the composite's driver-checkable surface.  checksum is the
    order-insensitive bit_xor of xxhash64 over every column (sorted by
    name), so any value change in any section flips its row.  rows-only
    by design: each underlying section is individually oracle-checked
    under its own registered name; this row pins the COMPOSITE wiring.

    Scale shape: after the one-time derived-table builds, the audit is
    ten bounded aggregations over shared parquet artifacts — the
    summaries union driver-side as ten 1-row frames."""
    return _summarize(snapshot_audit(spark, sf_dir))


def _summarize(frames: dict[str, DataFrame]) -> DataFrame:
    """(section, n_rows, checksum) per frame: the order-insensitive
    bit_xor of xxhash64 over every column (sorted by name), so any
    value change in any section flips its row."""
    out = None
    for section in sorted(frames):
        df = frames[section]
        h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
        row = (
            df.select(h.alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.bit_xor("h"), F.lit(0)).alias("checksum"),
            )
            .select(F.lit(section).alias("section"), "n_rows", "checksum")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("section")


def _link_parquet_files(src: str, dst: str) -> None:
    """Hardlink every DATA file of a parquet dir into `dst` (creating
    it) — the fixture-only base slice of a maintained table becomes
    the already-on-disk prefix of the per-call work dir, so the tick
    pays only its delta APPEND (the production shape run_tick
    executes) instead of rewriting corpus-sized base ∪ delta parquet
    per call (r18 optimization pass, VERDICT r17 #1; guide §6).
    Metadata files (_SUCCESS etc.) are skipped: a later append's
    committer re-creates them, and truncating a hardlinked _SUCCESS
    would reach back into the shared base dir (same inode).  Local
    filesystems only — callers fall back to the union write."""
    import os

    os.makedirs(dst, exist_ok=True)
    with os.scandir(src) as it:
        for entry in it:
            if entry.name.startswith(("_", ".")) or not entry.is_file():
                continue
            os.link(entry.path, os.path.join(dst, entry.name))


def ingest_base_state(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached FIXTURE SCAFFOLDING for ingest_then_audit (r18
    optimization pass, VERDICT r17 #1): the pre-batch "maintained"
    tables — the non-batch (% 10 != 0) slices of the session pair /
    cosine-pair / assignment tables, plus the pre-batch cluster labels
    (base_cluster_labels) and the signature / token-set tables the
    lexical delta reads (sig_table, tokset_table) — materialized ONCE per dataset per session
    under the derived-table registry, exactly like pair_table.  In
    production these files simply EXIST (they are the maintained
    parquet the previous tick left); the fixture has no pre-existing
    state, so q_ingest_audit used to rebuild and rewrite them inside
    every call, pricing one-time scaffolding into the steady-state row
    (documented since r8; bench.py now prices this build as its own
    `ingest_base_build` row, the same split cluster_label_build got in
    r16).  Returns the state path with minhash/ cosine/ cosassign/
    subdirs."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor
    from pathlib import Path

    from zebra_spark.caching import cache_scope
    from zebra_spark.queries import dedup as dd

    key = ("ingest_base", str(Path(sf_dir).resolve()))
    path = dd._DERIVED.get(key)
    if path is None:
        with dd._DERIVED_LOCK:
            path = dd._DERIVED.get(key)
            if path is None:
                # owned: removed on registry restore or at exit
                path = f"{tempfile.mkdtemp(prefix='zebra_derived_')}/data"
                dd._OWNED_PATHS.add(path)
                new_l = (F.col("doc_a") % 10 == 0) | (
                    F.col("doc_b") % 10 == 0
                )
                new_c = (F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0)
                slices = {
                    "minhash": dd.pair_table(spark, sf_dir).filter(~new_l),
                    "cosine": dd.cosine_pair_table(spark, sf_dir).filter(
                        ~new_c
                    ),
                    "cosassign": dd.cosine_assign_table(spark, sf_dir).filter(
                        F.col("vec_id") % 10 != 0
                    ),
                }
                with cache_scope():
                    # the pre-batch labels ride this build too: they are
                    # the same scaffolding (a CC over the non-batch
                    # slice) and every isolated q_ingest_audit trial
                    # otherwise re-pays that CC after the registry
                    # restore
                    dd.base_cluster_labels(spark, sf_dir)
                    # and so do the signature and token-set tables the
                    # lexical delta joins the batch against (production
                    # appends the batch to both before the delta runs);
                    # the full pair build computes its own inline, so
                    # nothing else would materialize them before a trial
                    dd.sig_table(spark, sf_dir)
                    dd.tokset_table(spark, sf_dir)
                    with ThreadPoolExecutor(max_workers=3) as ex:
                        list(ex.map(
                            lambda kv: kv[1].write.mode("overwrite").parquet(
                                f"{path}/{kv[0]}"
                            ),
                            slices.items(),
                        ))
                dd._DERIVED[key] = path
    return path


def ingest_then_audit(
    spark: SparkSession, sf_dir: str, work_dir: str,
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """The nightly pipeline tick as ONE call (VERDICT r7 #5): apply
    the production delta paths (lexical pairs, cosine pairs +
    assignments, cluster labels) for the conventional vec_id/doc_id
    % 10 == 0 ingest batch, write the updated maintained artifacts
    under `work_dir`, then run the full audit over those artifacts —
    returning the same per-section frames as snapshot_audit, byte-equal
    to rebuild-then-audit (the delta paths are exact, pinned by
    tests/test_audit.py::test_ingest_then_audit_equals_rebuild).

    Steady-state shape at 100 TB: the batch-proportional delta joins
    (pair_table_delta, cosine_assign_delta + cosine_pair_table_delta)
    produce the only new rows; the maintained tables are appended
    (modeled here as base ∪ delta writes); every audit section then
    reads the maintained parquet — no corpus-sized rebuild anywhere in
    the steady state.  The base-table construction below exists only
    because the fixture has no pre-existing maintained state.

    Pass a dict as `timings` to get the tick's cost split back:
    'delta_s' (the three batch-proportional delta joins alone — the
    production steady-state component), 'update_s' (deltas + base
    construction + maintained-table writes; the base ∪ delta FULL
    rewrite exists only because the fixture has no maintained state —
    production appends the delta), 'audit_s' (section consumption over
    the maintained files), 'reseed_triggered' — recorded per round in
    SCALING.md (scripts/tick_scale10.py)."""
    import time
    from pyspark.sql import functions as F

    from zebra_spark.io import embeddings_d, load
    from zebra_spark.queries import dedup as dd

    t0 = time.perf_counter()
    batch_docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 0)
    )
    batch_vecs = (
        embeddings_d(spark, sf_dir)
        .select("vec_id", "emb")
        .filter(F.col("vec_id") % 10 == 0)
    )

    # drift gate (VERDICT r8 #2): needs_reseed against the PERSISTED
    # baseline (the 1-row 'driftbase' artifact kept beside 'cosseeds')
    # — one broadcast-seed pass over the BATCH, (n, mse) scalars to
    # the driver, no corpus re-score.  The conventional %10 batch is
    # same-distribution, so the nightly tick stays on the delta path;
    # a drifted batch makes the frozen blocking meaningless for its
    # vectors, so the semantic artifacts rebuild fresh below (the
    # streaming twin routes through ingest_cosine_batch /
    # reseed_cosine_state, which re-freezes seeds over the combined
    # corpus and persists a new baseline — test-pinned lifecycle).
    # r18 (VERDICT r17 #1, guide §2.6 overlap independent jobs): the
    # lexical delta needs ONE eager materialization (two consumers —
    # the maintained minhash append and the label merge) that used to
    # serialize ~2.5 s before the drift gate returned and any write
    # started; it now computes in a background thread from here, and
    # only the two branches that consume it wait on the future — the
    # drift gate and the cosine-family writes overlap it entirely.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=5)
    t_d = time.perf_counter()
    ldelta_f = pool.submit(
        lambda: dd.pair_table_delta(
            spark, sf_dir, batch_docs
        ).localCheckpoint()
    )
    try:
        return _ingest_writes_then_audit(
            spark, sf_dir, work_dir, timings, pool, ldelta_f,
            batch_docs, batch_vecs, t0, t_d,
        )
    finally:
        pool.shutdown(wait=True)


def _ingest_writes_then_audit(
    spark, sf_dir, work_dir, timings, pool, ldelta_f,
    batch_docs, batch_vecs, t0, t_d,
) -> dict[str, DataFrame]:
    """ingest_then_audit's body from the drift gate on — split out so
    the lexical-delta worker pool is shut down on EVERY exit path (a
    failed gate or delta must not leave a background Spark job racing
    the caller)."""
    import time
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    # drift gate: default args take needs_reseed's FUSED path (r17
    # optimization pass): persisted-baseline read + batch audit in one
    # collect
    drifted = dd.needs_reseed(spark, sf_dir, batch_vecs)
    if timings is not None:
        timings["reseed_triggered"] = drifted

    # production delta paths (batch-proportional, driver-hash-checked
    # under q_pair_table_delta / q_cosine_table_delta /
    # q_cosine_assign_delta / q_cluster_delta)
    cdelta = dd.cosine_pair_table_delta(
        spark, sf_dir, new_ids=batch_vecs.select("vec_id")
    )
    adelta = dd.cosine_assign_delta(spark, sf_dir, batch_vecs)
    if timings is not None:
        # price the batch-proportional delta joins alone (the two
        # single-consumer cosine deltas are materialized here for the
        # split and again inside their writes; the un-instrumented
        # path computes them once, lazily, inside the write jobs).
        # delta_s is the delta phase's WALL from the lexical delta's
        # background submit to all three materialized — the lexical
        # delta overlaps the drift gate, so the phase wall is what a
        # sequential re-measure would call gate + deltas minus the
        # overlap.
        for d in (cdelta, adelta):
            d.count()
        ldelta_f.result()
        timings["delta_s"] = round(time.perf_counter() - t_d, 3)

    # cluster labels at DELTA cost (VERDICT r8 #3): star-collapse the
    # pre-batch labels and merge only the batch's thresholded pair
    # delta — |V| + |delta| edges, O(log delta-chain) rounds — instead
    # of re-traversing the full pair graph.  The pre-batch labels are
    # dd.base_cluster_labels — the derived-cached fixture stand-in for
    # a maintained label artifact, the SAME scaffolding q_cluster_delta
    # gates (one implementation, r9 self-review); in production they
    # are the previously registered 'clusters' artifact read back from
    # parquet.
    from zebra_spark.graph import incremental_components

    # r17 optimization pass (guide §1.2 "don't compute things you
    # throw away"): ldelta is checkpointed ONCE above and both its
    # consumers — the thresholded CC edges here and the maintained
    # minhash write below — read that single materialization; the
    # previous shape checkpointed only the thresholded edges, so the
    # minhash write re-ran the whole band-join delta a second time.
    #
    # r17 continuation (guide §2.6 overlap independent jobs): the
    # label merge is CONSTRUCTED inside the concurrent write block
    # below — incremental_components runs its contraction + union-find
    # eagerly (two localCheckpoints), ~2 s that previously serialized
    # BEFORE the writes while the cosine write (whose delta computes
    # lazily inside the write job) bounded the block at 3-4.7 s
    # anyway.  Built as a thunk so the measured-timings path and the
    # write thread share one construction.
    def _merged_labels() -> DataFrame:
        return incremental_components(
            dd.base_cluster_labels(spark, sf_dir),
            dd.threshold_edges(ldelta_f.result()),
            batch_docs.select(F.col("doc_id").alias("id")),
            # endpoints are batch ∪ corpus docs ⊆ base labels ∪ batch,
            # and the base labels are the non-batch (% 10 != 0) slice,
            # so the node sets are disjoint — both fast-path guards
            # provably redundant here (see incremental_components
            # docstring)
            endpoints_within_nodes=True,
            nodes_disjoint=True,
        ).select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster")
        )

    # maintained artifacts = pre-batch base ∪ delta (the fixture's
    # "base" is the non-batch-involving slice of the session tables;
    # in production it is the already-maintained parquet).  r18
    # (VERDICT r17 #1): on a local filesystem the base slices come
    # from the session-cached ingest_base_state files — hardlinked
    # into the work dir, delta APPENDED — so the per-call cost is the
    # deltas + the |V|-row label rewrite, not a corpus-sized base
    # rewrite per table (the production append shape run_tick
    # executes; ingest_base_build prices the scaffolding in bench.py).
    # Read-side content is identical: base files ∪ delta files hold
    # exactly the rows the old single union write held (pinned by
    # test_ingest_then_audit_equals_rebuild).  Non-local work dirs
    # keep the union write — hardlinks are a local-FS shortcut.
    from zebra_spark.fsutil import _is_local

    def _align(delta: DataFrame, ref: DataFrame) -> DataFrame:
        # column order + exact types of the base files, so the parquet
        # append can never produce a mixed-schema dir (the old
        # unionByName gave the same guarantee)
        return delta.select(
            *[F.col(f.name).cast(f.dataType) for f in ref.schema.fields]
        )

    base_dir = ingest_base_state(spark, sf_dir) if _is_local(work_dir) \
        else None
    new_l = (F.col("doc_a") % 10 == 0) | (F.col("doc_b") % 10 == 0)
    new_c = (F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0)
    if base_dir is not None:
        writes = {
            "minhash": ("append", lambda: _align(
                ldelta_f.result(), dd.pair_table(spark, sf_dir)
            )),
            "cosine": ("append", _align(
                cdelta, dd.cosine_pair_table(spark, sf_dir)
            )),
            "cosassign": ("append", _align(
                adelta, dd.cosine_assign_table(spark, sf_dir)
            )),
            "clusters": ("full", _merged_labels),
        }
    else:
        writes = {
            "minhash": ("full", lambda: dd.pair_table(spark, sf_dir)
                        .filter(~new_l).unionByName(ldelta_f.result())),
            "cosine": ("full", dd.cosine_pair_table(spark, sf_dir)
                       .filter(~new_c).unionByName(cdelta)),
            "cosassign": ("full", dd.cosine_assign_table(spark, sf_dir)
                          .filter(F.col("vec_id") % 10 != 0)
                          .unionByName(adelta)),
            "clusters": ("full", _merged_labels),
        }
    if drifted:
        # reseed path: deltas against stale blocking are meaningless,
        # so the semantic artifacts ship as the full (session) build
        # instead of base ∪ delta; the real re-freeze over a GENUINELY
        # shifted corpus is streaming.reseed_cosine_state, pinned by
        # test_drift_gated_ingest_reseeds_once (the fixture's
        # same-distribution batch never takes this branch)
        writes["cosine"] = ("full", dd.cosine_pair_table(spark, sf_dir))
        writes["cosassign"] = ("full", dd.cosine_assign_table(spark, sf_dir))
    # the four maintained-table writes are independent jobs that each
    # underfill the cluster at tick scale — run them CONCURRENTLY
    # (r16, VERDICT r15 #2: sequential writes were ~9.6 s of the tick's
    # 27; the wall cost is now the slowest single write).  Spark
    # sessions schedule concurrent actions safely; the parity sweep
    # already drives 8 threads through one session.  The writes run on
    # the SAME pool the lexical delta occupies: the two branches that
    # need it block on the future, the others start immediately.

    def _write(item):
        kind, (mode, df) = item
        if callable(df):  # lazily-constructed source (label merge /
            df = df()     # lexical-delta consumers waiting the future)
        if mode == "append":
            _link_parquet_files(f"{base_dir}/{kind}", f"{work_dir}/{kind}")
            df.write.mode("append").parquet(f"{work_dir}/{kind}")
        else:
            df.write.mode("overwrite").parquet(f"{work_dir}/{kind}")

    list(pool.map(_write, writes.items()))
    if timings is not None:
        timings["update_s"] = round(time.perf_counter() - t0, 3)

    prev: dict[str, str | None] = {}
    try:
        for kind in writes:
            prev[kind] = dd.register_maintained_table(
                kind, sf_dir, f"{work_dir}/{kind}"
            )
        # every consumer below reads the maintained parquet: the
        # returned frames capture the registered paths at analysis
        # time, so they stay valid after the registry is restored
        t0 = time.perf_counter()
        frames = snapshot_audit(spark, sf_dir)
        if timings is not None:
            # materialize each section so audit_s prices consumption,
            # not just plan construction — concurrently (consume_sections)
            consume_sections(frames)
            timings["audit_s"] = round(time.perf_counter() - t0, 3)
        return frames
    finally:
        # restore prev=None by UNREGISTERING (ADVICE r8: leaving the
        # registration in place kept it pointing at work_dir — for
        # q_ingest_audit an atexit-deleted tempdir — so later
        # same-session consumers silently read the ingest-mutated copy)
        for kind, p in prev.items():
            dd.register_maintained_table(kind, sf_dir, p)


@query("q_ingest_audit")
def q_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(section, n_rows, checksum): the ingest_then_audit composite's
    driver-checkable surface — same summary shape as q_snapshot_audit
    and byte-equal to it (maintained base ∪ delta == the session
    tables when the deltas are exact), so the one bench row prices the
    whole nightly tick: three delta joins + three maintained-table
    writes + ten audit sections over the maintained files.  rows-only
    by design: each section is individually oracle-checked under its
    own name; equality to q_snapshot_audit is pinned by test."""
    import atexit
    import shutil
    import tempfile

    work_dir = tempfile.mkdtemp(prefix="zebra_ingest_audit_")
    atexit.register(shutil.rmtree, work_dir, ignore_errors=True)
    return _summarize(ingest_then_audit(spark, sf_dir, work_dir))
