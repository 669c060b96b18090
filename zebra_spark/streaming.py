"""Structured Streaming surface (SURVEY §2.B streaming rows): tumbling /
sliding / session windows with watermarks, streaming dedup.

The transformations are plain functions over DataFrames so the SAME
logic runs in batch (hash-checked queries in queries/temporal.py) and as
a stream; tests split events.parquet into micro-batch files, drive a
file-source stream to completion, and assert stream == batch.

Scale posture: event-time windows + watermarks bound state; session
windows use the native session_window (merging state per user);
streaming dedup keys on event_id with a watermark so state is GC'd.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zebra_spark.functions import rnd

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def read_events_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a directory of events parquet chunks."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Events per hour per type — streaming twin of q_window_tumbling."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
    ).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        rnd(F.col("total_value"), 4).alias("total_value"),
    )


def sliding_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour window sliding every 15 minutes."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n")).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
    )


def minute_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Per-minute counts per event type — the streaming stage of the
    rate-anomaly monitor (batch twin: queries.temporal.q_events_anomaly's
    minute rollup; the 1-minute tumbling window lands on the same
    date_trunc('minute') boundaries)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", "1 minute").alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n")).select(
        "event_type",
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "minute"
        ),
        "n",
    )


def anomaly_scores(
    counts: DataFrame, stats: DataFrame, z_threshold: float | None = None
) -> DataFrame:
    """Score (streaming or batch) minute counts against a STATIC
    per-type baseline `stats` (event_type, mu, sd) — the production
    shape of rate-anomaly detection: live minutes against historical
    statistics via a broadcast stream-static join, no global state in
    the stream.  Column-compatible with q_events_anomaly, whose batch
    run doubles as the baseline builder; the default threshold IS that
    query's ANOM_Z so the two can't silently drift apart."""
    from zebra_spark.functions import rnd
    from zebra_spark.queries.temporal import ANOM_Z

    if z_threshold is None:
        z_threshold = ANOM_Z

    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return counts.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "minute",
        "n",
        rnd(z).alias("z"),
        F.when(z > z_threshold, 1).otherwise(0).alias("is_anomaly"),
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Native session windows (streaming analogue of the lag+cumsum batch
    sessionization in q_window_session)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.session_window("ts", gap).alias("win"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        "user_id",
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on event_id — ≙ the online insert path's id-based
    upsert semantics.  Uses dropDuplicatesWithinWatermark so the dedup
    state is actually GC'd as the watermark advances (plain
    dropDuplicates on a non-event-time key retains every id forever)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a (finite file-source) streaming query until all available
    input is processed; return the memory-sink contents.  output_mode:
    'complete' for aggregations, 'append' for row-level ops (dedup)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + value sum, emitted every micro-batch ('update'
    mode).  The state schema is explicit, so state size is bounded by
    the user-id cardinality; add a timeout to GC idle users at scale."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def make_ingest_sink(db):
    """The foreachBatch body for stream_ingest_texts, EXACTLY-once (r7):

    The epoch now rides the batch MANIFEST (insert_records'
    manifest_extra), whose atomic rename is the batch's commit point —
    so epoch application is provable from disk no matter where a crash
    lands.  Replay check is two-tier: the fast path is the epoch
    stamped in db metadata; the floor is the highest stream_epoch in
    any manifest, scanned ONCE here at wiring time (a crash between
    manifest rename and metadata write previously replayed that batch
    as duplicate rows — that residual window is closed, pinned by
    tests/test_streaming.py::test_ingest_replay_after_meta_crash)."""
    floor = db.last_manifest_epoch()

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        prev = db.meta.get("last_stream_epoch", -1)
        if epoch_id <= max(prev, floor):
            return  # replayed epoch after restart — already applied
        # stamp the epoch BEFORE inserting: insert_documents persists the
        # metadata itself (one durable write covers batch counter and
        # epoch), and the same epoch rides the manifest as the
        # crash-proof record
        db.meta["last_stream_epoch"] = epoch_id
        try:
            if not batch_df.isEmpty():
                db.insert_documents(
                    batch_df, text_col="doc",
                    manifest_extra={"stream_epoch": epoch_id},
                )
            else:
                db._write_meta()
        except BaseException:
            # a failed insert (job failure, not process crash) must not
            # poison the in-memory stamp: the stream may retry or be
            # restarted on the SAME db object, and a stale stamp would
            # skip the replayed epoch and lose its rows (ADVICE r7)
            db.meta["last_stream_epoch"] = prev
            raise

    return sink


def stream_ingest_texts(
    spark: SparkSession, src_dir: str, db, checkpoint_dir: str
):
    """Streaming ingest: text documents arriving as files -> embed ->
    append to a ZebraDatabase via foreachBatch.  Exactly-once on
    restart — see make_ingest_sink."""
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
        .withColumnRenamed("value", "doc")
    )
    return (
        stream.writeStream.foreachBatch(make_ingest_sink(db))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def enrich_with_users(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-STATIC join: enrich an event stream with a slowly-changing
    dimension table.  The static side is re-read per micro-batch (so a
    refreshed snapshot is picked up), and Spark broadcasts it when small
    — no streaming state is created for stream-static joins at all."""
    return events.join(F.broadcast(users), "user_id", "left").select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.coalesce("segment", F.lit("unknown")).alias("segment"),
    )


def purchases_with_prior_click(
    events: DataFrame,
    click_watermark: str = "2 hours",
    purchase_watermark: str = "1 hour",
    join_horizon: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join: purchases matched to a click by the
    same user within `join_horizon` BEFORE the purchase (the streaming
    twin of q_join_asof's attribution shape).

    State bounds (the thing that matters at scale): both sides carry
    watermarks AND the join condition constrains the two event times to
    a bounded interval, so Spark derives state-eviction watermarks for
    both buffers — without the interval condition, stream-stream join
    state grows forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", click_watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", purchase_watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {join_horizon}")),
    ).select("purchase_id", "user_id", "p_ts", "value", "click_id", "c_ts")


# --- streaming near-dedup screen (incremental-ingest, state-free) -----------


def token_ids_expr(text_col: str = "text"):
    """Per-row distinct-token-id array (same char-hash as the batch
    dedup suite's _token_ids) as a native expression — no shuffle."""
    from zebra_spark.queries.text import word_hash_sql_spark

    return F.expr(
        f"transform(array_distinct(split({text_col}, ' ')),"
        f" w -> {word_hash_sql_spark('w')})"
    )


def minhash_band_keys(
    tids_col: str = "tids",
    n_hashes: int | None = None,
    n_bands: int | None = None,
):
    """Per-ROW banded MinHash band keys over a precomputed token-id
    array column — `array<struct<band int, key string>>`, same
    permutations and key format as queries.dedup._minhash_sigs
    (default 16 hashes / 4 bands, explicit polynomial permutations).

    Per-row means NO shuffle and NO state: the same expression works on
    a stream (this module) and in batch (queries.dedup._minhash_sigs
    IS this expression since r4 — bit-equality with the grouped
    formulation is pinned by tests).  The token-id array is
    materialized ONCE per row (token_ids_expr) so the permutation
    scans reference a column, not n_hashes copies of the hash."""
    from zebra_spark.queries.dedup import N_BANDS, N_HASHES, P

    if n_hashes is None:
        n_hashes = N_HASHES
    if n_bands is None:
        n_bands = N_BANDS
    rows = n_hashes // n_bands
    mh = [
        f"array_min(transform({tids_col},"
        f" t -> ({2 * j + 1} * t + {17 * j + 29}) % {P}))"
        for j in range(n_hashes)
    ]
    bands = ", ".join(
        f"named_struct('band', CAST({b} AS INT), 'key', concat_ws(',', "
        + ", ".join(f"CAST({mh[b * rows + r]} AS STRING)" for r in range(rows))
        + "))"
        for b in range(n_bands)
    )
    return F.expr(f"array({bands})")


def build_screen_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC corpus index for the streaming screen: one row per
    (band-key hash, corpus doc) with the doc's distinct-token array for
    in-join verification.  At 100 TB this table is the persisted,
    append-only signature index an ingest pipeline maintains
    (q_dedup_incremental recomputes it from the fixture for oracle
    parity; here it is built once and reused across micro-batches)."""
    from zebra_spark.io import load
    from zebra_spark.queries.dedup import N_BANDS, N_HASHES, _minhash_sigs
    from zebra_spark.queries.text import doc_tokens

    docs = load(spark, sf_dir, "documents")
    sigs = _minhash_sigs(docs, N_HASHES, N_BANDS).filter(
        F.col("doc_id") % 10 != 0
    )
    keyed = sigs.select(
        F.xxhash64("band", "key").alias("bk"), F.col("doc_id").alias("doc_c")
    )
    toksets = (
        doc_tokens(docs, "doc_id")
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("word").alias("words_c"))
        .withColumnRenamed("doc_id", "doc_c")
    )
    return keyed.join(toksets, "doc_c").select("bk", "doc_c", "words_c")


def screen_neardups(
    docs: DataFrame, index: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Screen a document stream against a static corpus signature index:
    emit (doc_id, dup_of, jaccard) for every corpus doc whose verified
    Jaccard >= threshold with an incoming doc.

    Entirely STATELESS streaming: band keys are per-row expressions,
    the candidate lookup is a stream-static equi-join on the hashed
    band key (no streaming state), and verification is a per-row
    array_intersect against the matched corpus doc's token set.  A pair
    colliding in multiple bands emits one row per collision (append
    mode cannot deduplicate without unbounded state) — consumers take
    DISTINCT (doc_id, dup_of) downstream, exactly as the batch twin
    q_dedup_incremental's argmax does."""
    with_bands = (
        docs.select(
            "doc_id",
            F.array_distinct(F.split("text", " ")).alias("words"),
            token_ids_expr("text").alias("tids"),
        )
        .select(
            "doc_id",
            "words",
            F.explode(minhash_band_keys("tids")).alias("bandkey"),
        )
        .select(
            "doc_id",
            "words",
            F.xxhash64("bandkey.band", "bandkey.key").alias("bk"),
        )
    )
    cand = with_bands.join(index, "bk")
    n_common = F.size(F.array_intersect("words", "words_c"))
    jac = n_common / (
        F.size("words") + F.size("words_c") - n_common
    )
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", F.col("doc_c").alias("dup_of"), "jaccard")
    )


def maintain_pair_tables(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    epoch_id: int | None = None,
    clusters: bool = False,
    label_merge_every: int = 1,
    export_dir: str | None = None,
    compact_export_every: int = 0,
) -> None:
    """Process ONE ingest batch of documents (doc_id, text) against the
    maintained near-dup state under `state_dir`:

      sigs/   (doc_id, bk)      hashed band keys of every ingested doc
      toks/   (doc_id, words)   sorted distinct-token arrays
      pairs/  (doc_a, doc_b, n_common, na, nb)  verified scored pairs

    Each batch emits exactly its pair DELTA — batch docs band-joined
    against (state + batch), so a pair appears once, when its later
    endpoint arrives — then writes its own signatures/token sets.
    This is the streaming twin of queries.dedup.pair_table_delta: after
    ingesting a corpus in any batch split, pairs/ is bit-identical to
    the batch pair_table (pinned by tests/test_streaming.py).

    Two write modes (r7 — exactly-once, VERDICT r6 #3):
    - epoch_id=None (batch backfill): plain mode("append") — the caller
      guarantees each batch is applied once.
    - epoch_id=N (foreachBatch): every output lands in hive-style
      `epoch=N` subdirs with mode("overwrite"), and the state view is
      `epoch < N`.  A replayed epoch therefore recomputes the SAME
      delta from the SAME state and overwrites ITS OWN directory —
      idempotent replay, which is exactly-once without a ledger: the
      commit marker IS the directory.  (stream_ingest_texts needs its
      epoch stamp because parquet append is not idempotent; partitioned
      overwrite is.)  Reads go through read_pair_state, which drops the
      epoch column; compact_pair_state folds the accumulated epoch dirs
      into one for file hygiene.

    clusters=True (r10, VERDICT r9 #2) additionally maintains the
    component-label artifact `clusters/` (doc_id, cluster) as a live
    snapshot: after the pair writes, the batch's thresholded delta is
    star-merged into the persisted labels via
    graph.incremental_components and the snapshot swapped in
    (crash-recovered like compaction).  This needs no epoch layout of
    its own because the merge is IDEMPOTENT — re-merging an
    already-applied delta into the merged labels changes no component
    (star(merged) ∪ delta has the same connectivity classes), so a
    replayed epoch recomputes the same delta against `epoch < N` state
    and re-merges harmlessly.  Read via read_cluster_labels; takedowns
    via remove_from_cluster_state.

    label_merge_every=K (r11, VERDICT r10 #7) bounds the snapshot's
    write amplification: each merge rewrites |V| rows, so per-epoch
    merging at 100 TB rewrites the full label table per micro-batch;
    with K > 1 (epoch mode only) merges run every K epochs over the
    committed epoch range since the persisted watermark, labels lag
    <= K-1 epochs between merges, and flush_cluster_labels publishes
    current labels on demand — final labels are bit-identical to K=1
    (pinned by test).

    export_dir (r11): the stream EXTENDS the epoch-major training
    export in the same sink call — after the epoch's state commit,
    text.export_epoch_append publishes the batch as
    `epoch={epoch_id}/shard=S/*` files under export_dir, reusing the
    STREAM'S epoch numbering, so the export inherits the sink's
    exactly-once story verbatim: a replayed epoch REPLACES its export
    dir (idempotent), and after any batch split the export is
    bit-identical to a one-shot epoch-major publish of the union
    (pinned by test).  Epoch mode only — backfill appends
    (epoch_id=None) have no epoch key to publish under.

    compact_export_every=K (r12, VERDICT r11 #3 — the export twin of
    label_merge_every): every K-th epoch, after this epoch's export
    dir is published, fold the strictly-EARLIER epoch dirs
    (export_epoch_compact up to epoch_id - 1), bounding small-files
    accretion at <= K+1 dirs.  The at-rest precondition provably
    holds at this boundary: the stream's checkpoint replays at most
    the CURRENT epoch (every earlier epoch is committed and never
    re-published), a replayed epoch re-replaces only its own dir and
    re-runs the fold as a no-op (its sources are the single folded
    dir).  Folding through the current epoch is exactly what the
    docstring of export_epoch_compact forbids — a replay would
    REPLACE the folded target.  0 disables (default); requires
    export_dir."""
    from zebra_spark.fsutil import exists as fs_exists

    if export_dir is not None and epoch_id is None:
        raise ValueError(
            "export_dir requires exactly-once epoch mode — backfill "
            "appends (epoch_id=None) have no epoch key for the "
            "epoch-major export"
        )
    if compact_export_every and export_dir is None:
        raise ValueError(
            "compact_export_every requires export_dir — the cadence "
            "folds the epoch-major export this sink extends"
        )
    # validated BEFORE any write, not inside the label merge: backfill
    # appends are non-idempotent, so raising after them would leave a
    # half-applied batch the caller's retry then double-appends (r11
    # review)
    if label_merge_every > 1 and epoch_id is None:
        raise ValueError(
            "label merge cadence (label_merge_every > 1) requires "
            "exactly-once epoch mode — backfill appends (epoch_id="
            "None) have no epoch numbering to defer merges against"
        )
    recover_state_swaps(spark, state_dir, PAIR_STATE_TABLES)
    sig_p, tok_p, pair_p = (f"{state_dir}/{n}" for n in PAIR_STATE_TABLES)
    batch = batch_df.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("words"),
        token_ids_expr("text").alias("tids"),
    ).localCheckpoint()
    bks = (
        batch.select("doc_id", F.explode(minhash_band_keys("tids")).alias("b"))
        .select("doc_id", F.xxhash64("b.band", "b.key").alias("bk"))
    )
    # Hadoop-FS-aware probe: os.path.exists on a scheme'd state_dir
    # (hdfs://, s3a:// — the deployments this path targets) is always
    # False, which would silently omit every new-vs-old pair (ADVICE r6)
    have_state = fs_exists(spark, sig_p)

    def read_state(path: str) -> DataFrame:
        df = spark.read.parquet(path)
        if "epoch" in df.columns:
            if epoch_id is not None:
                # replay determinism: state is strictly pre-this-epoch,
                # even if a crashed later write left epoch >= N dirs
                df = df.filter(F.col("epoch") < epoch_id)
            df = df.drop("epoch")
        return df

    if have_state:
        _guard_state_layout(spark, sig_p, epoch_id, state_dir)

    all_bks = bks.unionByName(read_state(sig_p)) if have_state else bks
    all_toks = batch.select("doc_id", "words")
    if have_state:
        all_toks = all_toks.unionByName(read_state(tok_p))
    nk = bks.select(F.col("doc_id").alias("doc_n"), "bk")
    ok = all_bks.select(F.col("doc_id").alias("doc_o"), F.col("bk").alias("bk_o"))
    cand = (
        nk.join(
            ok,
            (F.col("bk") == F.col("bk_o")) & (F.col("doc_n") != F.col("doc_o")),
        )
        .select(
            F.least("doc_n", "doc_o").alias("doc_a"),
            F.greatest("doc_n", "doc_o").alias("doc_b"),
        )
        .distinct()
    )
    ta = all_toks.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    tb = all_toks.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    delta = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("wa", "wb")).cast("bigint").alias("n_common"),
            F.size("wa").alias("na"),
            F.size("wb").alias("nb"),
        )
    )
    toks_out = batch.select("doc_id", "words")
    if clusters and epoch_id is None:
        # backfill only: the label merge consumes this delta directly,
        # so one materialization feeds both it and the pair write
        # (recomputing the band join per consumer would double the
        # batch's dominant cost).  In epoch mode the merge re-reads
        # the COMMITTED epoch range from pairs/ instead — a checkpoint
        # here would materialize the delta twice for one consumer
        # (r11 review)
        delta = delta.localCheckpoint()
    if epoch_id is None:
        delta.write.mode("append").parquet(pair_p)
        bks.write.mode("append").parquet(sig_p)
        toks_out.write.mode("append").parquet(tok_p)
    else:
        delta.write.mode("overwrite").parquet(f"{pair_p}/epoch={epoch_id}")
        bks.write.mode("overwrite").parquet(f"{sig_p}/epoch={epoch_id}")
        toks_out.write.mode("overwrite").parquet(f"{tok_p}/epoch={epoch_id}")
        _assert_epoch_committed(spark, tok_p, epoch_id)
    if export_dir is not None:
        # AFTER the state commit: a crash before this leaves the epoch
        # committed but unexported; the stream's replay re-runs the
        # sink and the export's per-epoch dir replace makes it right
        from zebra_spark.queries.text import export_epoch_append

        export_epoch_append(
            spark,
            export_dir,
            batch_df.select(
                "doc_id", "text", F.length("text").alias("n_chars")
            ),
            epoch_id,
        )
        if (
            compact_export_every
            and epoch_id > 0
            and epoch_id % compact_export_every == 0
        ):
            from zebra_spark.queries.text import export_epoch_compact

            # strictly-earlier epochs only — see docstring
            export_epoch_compact(spark, export_dir, epoch_id - 1)
    if clusters:
        # AFTER the pair writes: a crash before the merge leaves the
        # epoch's pairs committed and the labels one epoch stale; the
        # stream's replay overwrites the pairs (same rows) and
        # re-merges — idempotent, so the labels heal
        _merge_cluster_labels(
            spark, state_dir, delta, batch.select("doc_id"),
            epoch_id=epoch_id, merge_every=label_merge_every,
        )


def read_pair_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sigs, toks, pairs) views over a maintained state dir, epoch
    partition column stripped — what consumers (and
    dedup.register_maintained_table) should read, valid for both the
    append layout and the epoch-partitioned exactly-once layout."""
    recover_state_swaps(spark, state_dir, PAIR_STATE_TABLES)
    return tuple(_committed_frames(spark, state_dir, PAIR_STATE_TABLES))


def _guard_state_layout(
    spark: SparkSession, table_path: str, epoch_id: int | None,
    state_dir: str,
) -> None:
    """Layout guard (ADVICE r7): backfill (epoch_id=None) appends part-
    files at the table root; epoch mode writes epoch=N subdirs.  Mixing
    them in one state_dir makes every later spark.read fail with
    "Conflicting directory structures", so fail fast with the real
    story instead."""
    epoch_layout = "epoch" in spark.read.parquet(table_path).columns
    if epoch_layout and epoch_id is None:
        raise ValueError(
            f"state_dir {state_dir!r} was built in exactly-once epoch "
            "mode (epoch=N subdirs); backfill appends (epoch_id=None) "
            "would corrupt the layout — pass epoch_id or use a fresh "
            "state_dir"
        )
    if not epoch_layout and epoch_id is not None:
        raise ValueError(
            f"state_dir {state_dir!r} was built in backfill append "
            "mode (flat part- files); epoch-mode writes (epoch_id="
            f"{epoch_id}) would corrupt the layout — run "
            "compact_state first (folds to epoch=-1) or use a fresh "
            "state_dir"
        )


def recover_state_swaps(
    spark: SparkSession, state_dir: str, names: tuple[str, ...]
) -> None:
    """Roll an interrupted compact_state() swap forward (ADVICE r7,
    mirroring ZebraDatabase._recover_swaps): between `rename(p, old)`
    and `rename(tmp, p)` the live table dir is ABSENT, so a crash there
    would make the next maintain_*_tables see have_state=False and
    silently emit a no-state delta while the real state sits in __old.
    On object stores the renames are copy+delete, widening the window.

    Per table: if the live dir is missing, restore it — from __compact
    (written fully before the live dir was renamed away, so it is the
    complete post-compaction snapshot) or, failing that, from __old.
    If the live dir exists, any leftover __compact/__old is a
    pre-commit or post-commit residue carrying the same rows — discard.
    Called at every maintain/read/compact entry, so no manual repair
    step exists."""
    from zebra_spark.fsutil import exists as fs_exists
    from zebra_spark.fsutil import rename, rmtree

    for name in names:
        p = f"{state_dir}/{name}"
        tmp, old = f"{p}__compact", f"{p}__old"
        if fs_exists(spark, p):
            rmtree(spark, tmp)
            rmtree(spark, old)
        elif fs_exists(spark, tmp):
            rename(spark, tmp, p)
            rmtree(spark, old)
        elif fs_exists(spark, old):
            rename(spark, old, p)


def _epoch_dirs(spark, table_path: str) -> tuple[set, set] | None:
    """(present, committed) epoch ids of one state table from its
    `epoch=N` directory listing, or None for a flat backfill layout
    (no epoch= subdirs).  `present` is every epoch=N dir; `committed`
    is the subset whose write finished (Spark's job-commit `_SUCCESS`
    marker — written even for a ZERO-ROW delta, which is the whole
    point: ADVICE r8 found the previous row-value-based epoch sets made
    a legitimately empty pairs delta indistinguishable from a crash-
    partial epoch, so readers hid — and compaction permanently dropped
    — that epoch's sibling rows).  Two filesystem calls total (one
    subdir listing + one `epoch=*/_SUCCESS` glob), never one probe per
    epoch.

    Config guard (r9 self-review): the epoch writes are sequential, so
    at most ONE epoch per table can legitimately lack its marker (a
    crash mid-write, healed when the stream replays it).  Two or more
    unmarked epochs means the markers were never written —
    `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` or
    offline mutation — and silently treating everything as
    uncommitted would hand compaction an empty view to snapshot, so
    raise instead."""
    from zebra_spark.fsutil import glob_paths, list_subdirs

    subs = [
        d for d in list_subdirs(spark, table_path) if d.startswith("epoch=")
    ]
    if not subs:
        return None
    present = {int(d.split("=", 1)[1]) for d in subs}
    committed = {
        int(p.rstrip("/").rsplit("/", 2)[-2].split("=", 1)[1])
        for p in glob_paths(spark, table_path, "epoch=*/_SUCCESS")
    }
    if len(present - committed) > 1:
        raise ValueError(
            f"{table_path!r}: {len(present - committed)} of "
            f"{len(present)} epoch directories have no _SUCCESS "
            "marker, but a crash can leave at most one partial epoch "
            "— the job-commit markers are missing (is "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs=false?)."
            "  Refusing to treat fully-written epochs as uncommitted."
        )
    return present, committed


def _assert_epoch_committed(spark, table_path: str, epoch_id: int) -> None:
    """Fail fast AT WRITE TIME if the job-commit `_SUCCESS` marker is
    disabled (r9 self-review): the committed-epoch reader derives
    commit state from the marker, so a session writing without markers
    must error on its first epoch, not lose state at the first
    compaction.  One probe per maintain call (the last-written table —
    the committer config is session-wide)."""
    from zebra_spark.fsutil import exists as fs_exists

    if not fs_exists(spark, f"{table_path}/epoch={epoch_id}/_SUCCESS"):
        raise RuntimeError(
            f"epoch write to {table_path}/epoch={epoch_id} produced no "
            "_SUCCESS marker — the exactly-once layer derives committed "
            "epochs from it; enable "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs"
        )


def _committed_frames(
    spark: SparkSession, state_dir: str, names: tuple[str, ...]
) -> list[DataFrame]:
    """Read the state tables showing only COMMITTED epochs — epochs
    fully written in EVERY table.  One maintain call writes the tables
    as separate per-table commits, so a crash mid-call leaves a partial
    epoch in a prefix of them; the restarted stream will replay and
    overwrite it, but until then readers (and compaction, which must
    not bake the partial epoch into the snapshot — the replay would
    then append its rows a second time) must not see it.  Committed
    epochs come from the epoch=N directory listing + `_SUCCESS` marker
    (_epoch_dirs — the module's 'the commit marker IS the directory'
    invariant; pure listing, no data scan), so an epoch whose delta is
    legitimately EMPTY still counts as committed (ADVICE r8).  Flat
    backfill layouts pass through untouched."""
    dfs = [spark.read.parquet(f"{state_dir}/{n}") for n in names]
    listings = [_epoch_dirs(spark, f"{state_dir}/{n}") for n in names]
    if listings and all(ls is not None for ls in listings):
        committed = set.intersection(*(c for _, c in listings))
        present = set.union(*(p for p, _ in listings))
        if present - committed:
            dfs = [
                df.filter(F.col("epoch").isin(list(committed)))
                for df in dfs
            ]
    return [df.drop("epoch") if "epoch" in df.columns else df for df in dfs]


def compact_state(
    spark: SparkSession,
    state_dir: str,
    names: tuple[str, ...],
    n_files: int = 4,
) -> None:
    """File-count hygiene for a long-running maintained state: fold the
    accumulated per-epoch directories of each named table into a single
    `epoch=-1` snapshot of `n_files` files each, swapped in via rename.
    Rows are unchanged (idempotent — compacting twice equals once,
    pinned by tests).  Interrupted swaps are rolled forward by
    recover_state_swaps at every entry point.

    The snapshot partition is epoch=-1, NOT epoch=0: `epoch < N` keeps
    including it for every real epoch N >= 0, and a stream restarted
    from a FRESH checkpoint (whose first foreachBatch epoch is 0) can
    never overwrite the folded history.

    MUST run at rest: stop the stream and let its last epoch commit
    first.  A replay of an epoch that was folded in would re-add its
    rows — the stream's committed checkpoint is what rules that out."""
    from zebra_spark.fsutil import exists as fs_exists
    from zebra_spark.fsutil import rename, rmtree

    recover_state_swaps(spark, state_dir, names)
    existing = tuple(
        n for n in names if fs_exists(spark, f"{state_dir}/{n}")
    )
    if not existing:
        return
    # committed-epoch view: a partial epoch (crash between a maintain
    # call's per-table writes) must not fold into the snapshot — the
    # stream's replay of that epoch would then duplicate its rows
    for name, df in zip(existing, _committed_frames(spark, state_dir, existing)):
        _snapshot_and_swap(spark, f"{state_dir}/{name}", df, n_files)


def _snapshot_and_swap(
    spark, p: str, df: DataFrame, n_files: int, epoch_layout: bool = True
) -> None:
    """Write `df` as the table's new snapshot and swap it in via rename
    — the shared commit sequence of compact_state and the
    remove_from_*_state takedown path.  epoch_layout picks the on-disk
    shape: an `epoch=-1` subdir for exactly-once states (compaction
    always, takedowns on epoch-mode states), plain part- files for
    backfill states (a takedown must NOT silently convert a backfill
    dir to epoch layout — that would reject every later backfill
    append).  Interrupted swaps are repaired by recover_state_swaps at
    every entry point."""
    from zebra_spark.fsutil import rename, rmtree

    tmp = f"{p}__compact"
    target = f"{tmp}/epoch=-1" if epoch_layout else tmp
    df.coalesce(n_files).write.mode("overwrite").parquet(target)
    old = f"{p}__old"
    rmtree(spark, old)
    rename(spark, p, old)
    rename(spark, tmp, p)
    rmtree(spark, old)


# id-bearing columns per maintained table, shared by the takedown paths
_PAIR_STATE_ID_COLS = {"sigs": ["doc_id"], "toks": ["doc_id"],
                       "pairs": ["doc_a", "doc_b"]}
_COSINE_STATE_ID_COLS = {"vecs": ["vec_id"], "assign": ["vec_id"],
                         "pairs": ["id_a", "id_b"]}


def _remove_from_state(
    spark: SparkSession,
    state_dir: str,
    names: tuple[str, ...],
    id_cols: dict[str, list[str]],
    ids_df: DataFrame,
    n_files: int,
) -> None:
    from zebra_spark.fsutil import exists as fs_exists

    recover_state_swaps(spark, state_dir, names)
    ids = ids_df.select(ids_df.columns[0]).localCheckpoint()
    idcol = ids.columns[0]
    existing = tuple(
        n for n in names if fs_exists(spark, f"{state_dir}/{n}")
    )
    if not existing:
        return
    layouts = {
        n: "epoch"
        in spark.read.parquet(f"{state_dir}/{n}").columns
        for n in existing
    }
    # committed view: a crash-partial epoch must not be snapshotted
    # (the stream's replay would re-add its rows); dropping it here is
    # safe — the replay recomputes it against the post-takedown state
    for name, df in zip(existing, _committed_frames(spark, state_dir, existing)):
        for c in id_cols[name]:
            df = df.join(
                ids.withColumnRenamed(idcol, c), c, "left_anti"
            )
        _snapshot_and_swap(
            spark, f"{state_dir}/{name}", df, n_files,
            epoch_layout=layouts[name],
        )


def remove_from_pair_state(
    spark: SparkSession, state_dir: str, ids_df: DataFrame,
    n_files: int = 4,
) -> None:
    """Takedown deletes on the maintained LEXICAL state (≙
    Database::remove, extended to the derived artifacts a 100 TB
    pipeline keeps): anti-join every table against the doc ids (one
    column, any name) — signatures and token sets by doc_id, pairs by
    EITHER endpoint — and swap the filtered epoch=-1 snapshots in via
    the compaction machinery (crash-recovered like compact_state).

    The post-delete state is bit-identical to rebuilding over the
    remaining corpus: candidates depend only on surviving docs'
    signatures, and no surviving-vs-surviving pair involves the
    removed ids (pinned by tests/test_streaming.py).  MUST run at
    rest, like compaction."""
    _remove_from_state(
        spark, state_dir, PAIR_STATE_TABLES, _PAIR_STATE_ID_COLS,
        ids_df, n_files,
    )


def remove_from_cosine_state(
    spark: SparkSession, state_dir: str, ids_df: DataFrame,
    n_files: int = 4,
) -> None:
    """Takedown deletes on the maintained SEMANTIC state — vectors and
    assignments by vec_id, pairs by either endpoint; same swap
    machinery and rebuild-equivalence contract as the lexical twin
    (frozen seeds are untouched: assignment is per-vector, so the
    surviving rows are exactly the rebuild's).

    REFUSES a takedown that hits the seed set itself: seeds/ stores
    the seed vectors' verbatim embeddings (cell_id = the source
    vec_id for prefix-derived seeds), so silently keeping them would
    retain exactly the data the delete must purge — while dropping a
    seed would change the blocking for every future batch and break
    base ∪ delta composability.  A seed takedown therefore requires a
    reseed: rebuild into a fresh state_dir without the removed
    vectors (q_cell_drift / needs_reseed govern when that is due
    anyway)."""
    from zebra_spark.fsutil import exists as fs_exists

    seeds_p = f"{state_dir}/seeds"
    if fs_exists(spark, seeds_p):
        idcol = ids_df.columns[0]
        hit = (
            spark.read.parquet(seeds_p)
            .join(
                ids_df.select(
                    F.col(idcol).alias("cell_id")
                ),
                "cell_id",
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if hit:
            raise ValueError(
                "takedown ids include frozen seed vectors; their "
                "embeddings live in seeds/ and removing them changes "
                "the blocking for every future batch — reseed into a "
                "fresh state_dir (build over the surviving corpus) "
                "instead"
            )
    # the propagated-label family rides the takedown too (r13, the
    # tick_takedown posture): a removed vector loses its label row; a
    # removed LABEL SEED is refused — the frozen labelidx means every
    # propagated vote could have counted it
    if fs_exists(spark, f"{state_dir}/labelseeds"):
        idcol = ids_df.columns[0]
        lab_hit = (
            spark.read.parquet(f"{state_dir}/labelseeds")
            .join(
                ids_df.select(F.col(idcol).alias("lab_id")),
                "lab_id",
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if lab_hit:
            raise ValueError(
                "takedown ids include frozen label seeds (labelseeds/ "
                "feeds the persisted labelidx, so every propagated "
                "label could have counted them) — rebuild the label "
                "state over the surviving seed set instead"
            )
    _remove_from_state(
        spark, state_dir, COSINE_STATE_TABLES, _COSINE_STATE_ID_COLS,
        ids_df, n_files,
    )
    # proplabels is NOT in COSINE_STATE_TABLES (it is label-state,
    # present only when tick.init_label_state bootstrapped it), so the
    # recover call above never covers it — run its own recovery before
    # touching it (ADVICE r13: a crash mid-swap here left the live dir
    # absent with __compact residue nothing ever repaired)
    recover_state_swaps(spark, state_dir, ("proplabels",))
    if fs_exists(spark, f"{state_dir}/proplabels"):
        idcol = ids_df.columns[0]
        kept = spark.read.parquet(f"{state_dir}/proplabels").join(
            ids_df.select(F.col(idcol).alias("vec_id")),
            "vec_id",
            "left_anti",
        )
        _snapshot_and_swap(
            spark, f"{state_dir}/proplabels", kept, n_files,
            epoch_layout=False,
        )


PAIR_STATE_TABLES = ("sigs", "toks", "pairs")


def compact_pair_state(
    spark: SparkSession, state_dir: str, n_files: int = 4
) -> None:
    """compact_state over the lexical near-dup state tables.  The
    clusters/ snapshot (if maintained) needs no folding — it is always
    exactly one snapshot, swapped whole — but any label merges
    DEFERRED by label_merge_every are flushed FIRST: compaction folds
    the per-epoch pair dirs into one `epoch=-1` snapshot, which the
    watermark-ranged merge (`epoch > wm`) would exclude forever, so
    folding before flushing would silently drop the
    deferred-but-unmerged epochs from the labels (r11 review)."""
    from zebra_spark.fsutil import exists as fs_exists

    if fs_exists(spark, f"{state_dir}/{CLUSTER_STATE_TABLE}"):
        flush_cluster_labels(spark, state_dir, n_files=n_files)
    compact_state(spark, state_dir, PAIR_STATE_TABLES, n_files=n_files)


# --- streaming-maintained cluster labels (r10, VERDICT r9 #2) ---------------
#
# The label artifact the batch tick maintains (queries.audit /
# queries.tick 'clusters' kind), given the streaming story: maintained
# in the foreachBatch sink at delta cost, crash-safe via the
# snapshot-swap machinery, takedown via graph.remove_and_relabel.
# Unlike the append tables it needs NO epoch layout: component merging
# is idempotent (re-merging an applied delta is a no-op), so replay
# safety comes for free and the artifact is always one whole snapshot.

CLUSTER_STATE_TABLE = "clusters"
# watermark FILE (not a table): highest epoch whose pairs are merged
# into the label snapshot.  Files at the state root are invisible to
# the per-table parquet readers, and a missing watermark (legacy state)
# degrades to an idempotent over-merge, never to a dropped epoch.
_CLUSTER_WM = "clusters_merged_upto"


def _cluster_watermark(spark: SparkSession, state_dir: str) -> int | None:
    from zebra_spark.fsutil import exists as fs_exists, read_text

    p = f"{state_dir}/{_CLUSTER_WM}"
    return int(read_text(spark, p)) if fs_exists(spark, p) else None


def _merge_cluster_labels(
    spark: SparkSession,
    state_dir: str,
    pair_delta: DataFrame | None,
    batch_ids: DataFrame | None,
    n_files: int = 4,
    epoch_id: int | None = None,
    merge_every: int = 1,
) -> None:
    """Star-merge pair deltas into the persisted label snapshot
    (graph.incremental_components — |V| + |delta| edges, O(log
    delta-chain) rounds) and swap the new snapshot in.  The first
    batch writes the snapshot directly (nothing to swap).

    MERGE CADENCE (r11, VERDICT r10 #7): each merge rewrites the full
    |V|-row snapshot, so per-epoch merging write-amplifies at corpus
    scale (a 100 TB label table rewritten per micro-batch).
    `merge_every=K` (epoch mode only — backfill appends have no epoch
    numbering to defer against) merges only when the current epoch is
    >= K past the persisted watermark; deferred epochs' pairs are
    already committed in the pair state, so the merge epoch reads the
    committed epoch RANGE (watermark, epoch_id] from `pairs/` instead
    of the in-memory batch delta — which also heals a crashed prior
    merge and a missing watermark (legacy state: over-merge everything
    <= epoch_id; re-merging applied epochs is an idempotent no-op).
    Between merges read_cluster_labels lags <= K-1 epochs — call
    flush_cluster_labels to publish current labels."""
    from zebra_spark.fsutil import exists as fs_exists, write_text
    from zebra_spark.graph import incremental_components
    from zebra_spark.queries.dedup import threshold_edges

    if merge_every > 1 and epoch_id is None:
        raise ValueError(
            "label merge cadence (merge_every > 1) requires exactly-once "
            "epoch mode — backfill appends (epoch_id=None) have no epoch "
            "numbering to defer merges against"
        )
    recover_state_swaps(spark, state_dir, (CLUSTER_STATE_TABLE,))
    p = f"{state_dir}/{CLUSTER_STATE_TABLE}"
    have = fs_exists(spark, p)
    wm = _cluster_watermark(spark, state_dir) if epoch_id is not None else None
    if have and epoch_id is not None:
        if wm is not None and epoch_id - wm < merge_every:
            return  # defer — also makes a replayed merged epoch a no-op
        sig_p = f"{state_dir}/{PAIR_STATE_TABLES[0]}"
        pair_p = f"{state_dir}/{PAIR_STATE_TABLES[2]}"
        cond = F.col("epoch") <= F.lit(epoch_id)
        if wm is not None:
            cond = cond & (F.col("epoch") > F.lit(wm))
        labels = spark.read.parquet(p).select(
            F.col("doc_id").alias("id"), F.col("cluster").alias("component")
        )
        edges = threshold_edges(
            spark.read.parquet(pair_p).filter(cond).drop("epoch")
        )
        nodes = (
            spark.read.parquet(sig_p)
            .filter(cond)
            .select(F.col("doc_id").alias("id"))
            .distinct()
        )
    elif have:
        labels = spark.read.parquet(p).select(
            F.col("doc_id").alias("id"), F.col("cluster").alias("component")
        )
        edges = threshold_edges(pair_delta)
        nodes = batch_ids.select(F.col("doc_id").alias("id"))
    else:
        # BOOTSTRAP from the pair state, not from empty: clusters=True
        # may be enabled on a stream whose state already holds N epochs
        # (or after clusters=False epochs), and starting from empty
        # labels would silently drop every earlier doc and edge forever
        # (r10 review).  At merge time this epoch's pairs are already
        # committed, so the one-time full closure over the state covers
        # past epochs AND this batch; on a brand-new state it is just
        # the first batch — no extra cost.
        labels = spark.createDataFrame([], "id bigint, component bigint")
        sigs, _, pairs = read_pair_state(spark, state_dir)
        edges = threshold_edges(pairs)
        nodes = sigs.select(F.col("doc_id").alias("id")).distinct()
    merged = incremental_components(labels, edges, nodes).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )
    if have:
        _snapshot_and_swap(spark, p, merged, n_files, epoch_layout=False)
    else:
        merged.coalesce(n_files).write.mode("overwrite").parquet(p)
    if epoch_id is not None:
        # AFTER the swap: a crash in between re-merges the same closed
        # range next time (idempotent), never skips one
        write_text(spark, f"{state_dir}/{_CLUSTER_WM}", str(epoch_id))


def flush_cluster_labels(
    spark: SparkSession, state_dir: str, n_files: int = 4
) -> None:
    """Publish step for a deferred-merge label snapshot (r11, VERDICT
    r10 #7): merge every committed-but-unmerged pair epoch into
    `clusters/` so read_cluster_labels is current — call at
    end-of-window / before serving when label_merge_every > 1.  No-op
    when already current or on a backfill-layout state (those merge
    per batch).  Also BOOTSTRAPS the snapshot (full closure over the
    committed state) when labels were never enabled — enabling
    clusters at publish time costs one closure, same as the mid-stream
    enablement path."""
    pair_p = f"{state_dir}/{PAIR_STATE_TABLES[2]}"
    listing = _epoch_dirs(spark, pair_p)
    if listing is None:
        return  # backfill layout: per-batch merges, nothing deferred
    _, committed = listing
    if not committed:
        return
    maxe = max(committed)
    wm = _cluster_watermark(spark, state_dir)
    if wm is not None and wm >= maxe:
        return
    _merge_cluster_labels(
        spark, state_dir, None, None, n_files=n_files, epoch_id=maxe,
        merge_every=1,
    )


def read_cluster_labels(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, cluster): the maintained label snapshot — bit-identical
    to batch connected components over the state's pair graph after
    any batch split, replay, or compaction (pinned by
    tests/test_streaming.py).  Empty frame if no batch carried
    clusters=True yet.  Under label_merge_every=K the snapshot lags up
    to K-1 epochs between merges — flush_cluster_labels first when
    current labels are required."""
    from zebra_spark.fsutil import exists as fs_exists

    recover_state_swaps(spark, state_dir, (CLUSTER_STATE_TABLE,))
    p = f"{state_dir}/{CLUSTER_STATE_TABLE}"
    if not fs_exists(spark, p):
        return spark.createDataFrame([], "doc_id bigint, cluster bigint")
    return spark.read.parquet(p)


def remove_from_cluster_state(
    spark: SparkSession, state_dir: str, ids_df: DataFrame,
    n_files: int = 4,
) -> None:
    """Takedown on the maintained label snapshot: re-cluster ONLY the
    components that contained a removed doc (graph.remove_and_relabel —
    stable clusters keep their labels verbatim) over the maintained
    pair graph, and swap the new snapshot in.  Run it WITH
    remove_from_pair_state (either order: remove_and_relabel restricts
    edges to surviving members itself, so pre- and post-takedown pair
    states give the same relabeling) and, like every takedown, at
    rest.  Post-takedown labels are bit-identical to a from-scratch CC
    over the surviving corpus (pinned by tests)."""
    from zebra_spark.fsutil import exists as fs_exists
    from zebra_spark.graph import remove_and_relabel
    from zebra_spark.queries.dedup import threshold_edges

    recover_state_swaps(spark, state_dir, (CLUSTER_STATE_TABLE,))
    p = f"{state_dir}/{CLUSTER_STATE_TABLE}"
    if not fs_exists(spark, p):
        return
    labels = spark.read.parquet(p).select(
        F.col("doc_id").alias("id"), F.col("cluster").alias("component")
    )
    _, _, pairs = read_pair_state(spark, state_dir)
    relabeled = remove_and_relabel(
        labels, threshold_edges(pairs), ids_df
    ).select(F.col("id").alias("doc_id"), F.col("component").alias("cluster"))
    _snapshot_and_swap(spark, p, relabeled, n_files, epoch_layout=False)


def stream_maintain_pair_tables(
    spark: SparkSession, docs_stream: DataFrame, state_dir: str,
    checkpoint_dir: str, clusters: bool = False,
    label_merge_every: int = 1, export_dir: str | None = None,
    compact_export_every: int = 0,
):
    """Wire maintain_pair_tables as a foreachBatch sink over a document
    stream (doc_id, text).  EXACTLY-once on restart (r7): each epoch's
    delta/signatures/token-sets land in their own `epoch=N` dirs via
    overwrite, so the one epoch foreachBatch replays after a crash
    recomputes against the same `epoch < N` state and overwrites its
    own output — no ledger, no duplicate pairs (pinned by
    tests/test_streaming.py::test_epoch_replay_idempotent).  Read the
    result via read_pair_state; compact with compact_pair_state once
    the stream is stopped.  clusters=True additionally maintains the
    component-label snapshot per epoch (read_cluster_labels);
    label_merge_every=K defers the |V|-row snapshot rewrite to every
    K-th epoch (flush_cluster_labels to publish between merges);
    export_dir extends the epoch-major training export per epoch
    under the stream's own epoch numbering (exactly-once by the same
    replace-on-replay contract as the state commits);
    compact_export_every=K folds the strictly-earlier export epochs
    every K-th epoch (r12 — the in-stream small-files bound; see
    maintain_pair_tables)."""
    # fail at WIRING time: deferring this to maintain_pair_tables
    # would surface the contract error only mid-stream, as a
    # StreamingQueryException on the first non-empty batch
    if compact_export_every and export_dir is None:
        raise ValueError(
            "compact_export_every requires export_dir — the cadence "
            "folds the epoch-major export this sink extends"
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            maintain_pair_tables(
                spark, state_dir, batch_df, epoch_id=epoch_id,
                clusters=clusters, label_merge_every=label_merge_every,
                export_dir=export_dir,
                compact_export_every=compact_export_every,
            )

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# --- exactly-once semantic (cosine) state maintenance (VERDICT r7 #2) ------

COSINE_STATE_TABLES = ("vecs", "assign", "pairs")

# sentinel: "use queries.dedup.NDUP_MAX_CELL" — resolved at call time so
# the streaming maintainer and the batch build share ONE default and
# stream==batch stays bit-identical (the modules import each other
# lazily, so the constant cannot be imported at module top)
_DEFAULT_MAX_CELL = object()


def init_cosine_state(
    spark: SparkSession, state_dir: str, seeds: DataFrame
) -> None:
    """Freeze the seed set (cell_id, ce) under `state_dir/seeds` ONCE,
    before the first batch.  Every later batch is assigned against
    these frozen seeds (queries.dedup._assign_to_seeds — the
    IVFIndex.add kernel), which is what makes the per-epoch deltas
    composable: assignment is per-vector deterministic, so base ∪
    deltas equals the same-seed full assignment.  Seeds must NOT change
    once batches have been applied — queries.dedup.cell_drift_audit is
    the reseed signal, and a reseed means a new state_dir (full
    rebuild).  Overwrite-idempotent so a crashed init can simply
    re-run.  For prefix-derived seeds (cosine_seed_table /
    _cosine_seeds) cell_id IS the source vec_id — the contract
    remove_from_cosine_state's seed-takedown guard relies on."""
    seeds.select("cell_id", "ce").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/seeds")


def maintain_cosine_tables(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    epoch_id: int | None = None,
    max_cell=_DEFAULT_MAX_CELL,
) -> None:
    """Process ONE ingest batch of vectors (vec_id, emb) against the
    maintained semantic near-dup state under `state_dir`:

      seeds/   (cell_id, ce)        frozen at init_cosine_state
      vecs/    (vec_id, emb)        every ingested vector
      assign/  (vec_id, cell_id)    frozen-seed IVF multi-assignment
      pairs/   (id_a, id_b, dist)   exact-cosine scored cell-mate pairs

    The streaming twin of queries.dedup.cosine_pair_table_delta's
    new_vectors mode, with the same exactly-once write discipline as
    maintain_pair_tables: each batch emits exactly its pair DELTA —
    batch assignments cell-joined against (state ∪ batch) assignments,
    scored against (state ∪ batch) vectors — then writes its own
    vectors/assignments.  epoch_id=None appends (caller guarantees
    once); epoch_id=N lands everything in `epoch=N` dirs via overwrite
    with the state view `epoch < N`, so a replayed epoch recomputes the
    SAME delta from the SAME state and overwrites ITS OWN directory.
    After ingesting a corpus in any batch split, pairs/ is
    bit-identical to the batch cosine pair table built with the same
    seeds (pinned by tests/test_streaming.py).

    `max_cell` is the giant-cell guard, defaulting to the batch
    build's NDUP_MAX_CELL so stream==batch holds without coordination;
    pass the same value the consumers' cosine_pair_table uses if
    overridden.  With monotonically increasing vec_ids the admitted
    prefix of a full cell never changes, so capped maintenance stays
    bit-identical to a capped rebuild (pinned by
    tests/test_dedup.py::test_cosine_max_cell_cap)."""
    from zebra_spark.fsutil import exists as fs_exists
    from zebra_spark.queries.dedup import _assign_to_seeds, _score_pairs

    recover_state_swaps(spark, state_dir, COSINE_STATE_TABLES)
    seeds_p = f"{state_dir}/seeds"
    if not fs_exists(spark, seeds_p):
        raise ValueError(
            f"{state_dir!r} has no frozen seeds — call init_cosine_state "
            "before the first batch"
        )
    seeds = spark.read.parquet(seeds_p)
    vec_p, assign_p, pair_p = (
        f"{state_dir}/{n}" for n in COSINE_STATE_TABLES
    )
    # guard BEFORE the eager batch-encode jobs below: a rejected call
    # (mixed layout) must not pay the batch x seeds assignment first
    have_state = fs_exists(spark, assign_p)
    if have_state:
        _guard_state_layout(spark, assign_p, epoch_id, state_dir)
    batch = batch_df.select("vec_id", "emb").localCheckpoint()
    batch_assign = _assign_to_seeds(batch, seeds).localCheckpoint()

    def read_state(path: str) -> DataFrame:
        df = spark.read.parquet(path)
        if "epoch" in df.columns:
            if epoch_id is not None:
                df = df.filter(F.col("epoch") < epoch_id)
            df = df.drop("epoch")
        return df

    other_assign = (
        batch_assign.unionByName(read_state(assign_p))
        if have_state
        else batch_assign
    )
    e = (
        batch.unionByName(read_state(vec_p)) if have_state else batch
    )
    from zebra_spark.queries.dedup import _cell_collide_pairs

    from zebra_spark.queries.dedup import NDUP_MAX_CELL

    if max_cell is _DEFAULT_MAX_CELL:
        max_cell = NDUP_MAX_CELL
    if max_cell is not None and have_state:
        # the capped stream==batch contract requires monotonically
        # increasing vec_ids ONCE A CELL FILLS (the admitted prefix of
        # a full cell is the max_cell smallest ids — an out-of-order
        # backfill would evict earlier-admitted members and leave
        # stale over-cap pairs no capped rebuild contains, silently).
        # Enforce it instead of documenting it (ADVICE r9), without
        # taxing the honest path: the order probe is one min/max
        # aggregate pair per epoch answered from parquet footer stats,
        # and the cell-size scan runs only for out-of-order batches —
        # an all-cells-under-cap backfill is bit-identical to a
        # rebuild (the cap never binds), so it stays legal.
        state_max = read_state(vec_p).agg(F.max("vec_id")).first()[0]
        batch_min = batch.agg(F.min("vec_id")).first()[0]
        if (
            state_max is not None
            and batch_min is not None
            and batch_min <= state_max
        ):
            # only cells the BATCH assigns into can change an admitted
            # prefix — a historic over-cap cell the batch never touches
            # is inert, and rejecting on it would permanently brick
            # every legal backfill once any cell fills (r10 review)
            biggest = (
                other_assign.join(
                    F.broadcast(batch_assign.select("cell_id").distinct()),
                    "cell_id",
                    "left_semi",
                )
                .groupBy("cell_id")
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            if biggest is not None and biggest > max_cell:
                raise ValueError(
                    f"capped maintenance (max_cell={max_cell}) with an "
                    f"over-cap cell ({biggest} members) requires "
                    f"monotonically increasing vec_ids, but batch min "
                    f"vec_id {batch_min} <= state max vec_id "
                    f"{state_max} — an out-of-order backfill under a "
                    "binding cap diverges from a capped rebuild; "
                    "ingest in id order, or rebuild via "
                    "reseed_cosine_state, or pass max_cell=None"
                )
    cand = _cell_collide_pairs(batch_assign, other_assign, max_cell=max_cell)
    delta = _score_pairs(cand, e, vectorized=False)
    # write order: the batch's own state (vecs, assign) lands before
    # the pairs delta; readers additionally see only COMMITTED epochs
    # (present in every table — _committed_frames), so a crash between
    # these writes can neither surface a partial epoch nor let
    # compaction bake one in before the stream replays it
    if epoch_id is None:
        batch.write.mode("append").parquet(vec_p)
        batch_assign.write.mode("append").parquet(assign_p)
        delta.write.mode("append").parquet(pair_p)
    else:
        batch.write.mode("overwrite").parquet(f"{vec_p}/epoch={epoch_id}")
        batch_assign.write.mode("overwrite").parquet(
            f"{assign_p}/epoch={epoch_id}"
        )
        delta.write.mode("overwrite").parquet(f"{pair_p}/epoch={epoch_id}")
        _assert_epoch_committed(spark, pair_p, epoch_id)


def read_cosine_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(vecs, assign, pairs) views over a maintained semantic state
    dir, epoch partition column stripped — what consumers (and
    dedup.register_maintained_table('cosine'/'cosassign', ...)) should
    read, valid for both layouts."""
    recover_state_swaps(spark, state_dir, COSINE_STATE_TABLES)
    return tuple(_committed_frames(spark, state_dir, COSINE_STATE_TABLES))


def compact_cosine_state(
    spark: SparkSession, state_dir: str, n_files: int = 4
) -> None:
    """compact_state over the semantic near-dup state tables (seeds/
    is a single tiny file frozen at init — nothing to fold)."""
    compact_state(spark, state_dir, COSINE_STATE_TABLES, n_files=n_files)


def maintain_label_table(
    spark: SparkSession, state_dir: str, weighted: bool = False
) -> None:
    """Streaming twin of run_tick's label-maintenance step (r13): one
    trigger propagates labels from the frozen `labelseeds/` via the
    persisted `labelidx/` (tick.init_label_state must have bootstrapped
    both — the label state is layout-agnostic, so the SAME init serves
    the batch tick and this stream) to the BACKLOG of the maintained
    semantic state's COMMITTED vectors, appending to `proplabels/`.

    Call it from a foreachBatch sink after maintain_cosine_tables (any
    cadence — every epoch, every K-th, or from a separate nightly
    job): the backlog anti-join makes the trigger IDEMPOTENT, so a
    crash-replayed epoch re-triggers harmlessly (zero-row append) —
    the same argument that exempts the cluster-label merge from epoch
    bookkeeping, and unlike that merge this is not even a rewrite.
    In epoch mode the vecs view already excludes the in-flight epoch
    (read_cosine_state's committed frames), so a label can never
    reference a vector whose epoch later rolls back."""
    from zebra_spark.queries.tick import propagate_label_backlog

    # proplabels is swapped by the takedown path but is NOT in
    # COSINE_STATE_TABLES, so no other entry point repairs a crashed
    # swap — without this, the backlog anti-join would see no live dir
    # and silently pay a full-corpus re-propagation while the
    # __compact residue lingered forever (ADVICE r13)
    recover_state_swaps(spark, state_dir, ("proplabels",))
    vecs, _assign, _pairs = read_cosine_state(spark, state_dir)
    propagate_label_backlog(spark, state_dir, vecs, weighted=weighted)


def read_label_table(spark: SparkSession, state_dir: str) -> DataFrame:
    """The propagated-label snapshot (vec_id, label, votes|score) of a
    maintained state dir — tick- and stream-maintained alike.  Runs
    proplabels' swap recovery first (ADVICE r13), mirroring how every
    other state read fronts recover_state_swaps, so a reader landing
    in the takedown's crash window sees the repaired table instead of
    a missing-path error."""
    recover_state_swaps(spark, state_dir, ("proplabels",))
    return spark.read.parquet(f"{state_dir}/proplabels")


def stream_maintain_cosine_tables(
    spark: SparkSession, vec_stream: DataFrame, state_dir: str,
    checkpoint_dir: str,
    label_prop_every: int = 0,
    label_prop_weighted: bool = False,
):
    """Wire maintain_cosine_tables as a foreachBatch sink over a vector
    stream (vec_id, emb).  Exactly-once on restart for the same reason
    as the lexical twin: the one epoch foreachBatch replays after a
    crash recomputes against the same `epoch < N` state and overwrites
    its own `epoch=N` output.  init_cosine_state must have frozen the
    seeds first; read via read_cosine_state; compact with
    compact_cosine_state once the stream is stopped.

    label_prop_every=K (r13 — the streaming twin of run_tick's knob):
    every K-th epoch, after the epoch's state commit, run
    maintain_label_table over the now-committed vectors
    (tick.init_label_state must have bootstrapped labelseeds/ +
    labelidx/ first — validated at wiring time, not mid-stream).  The
    trigger needs no replay bookkeeping: the backlog anti-join makes a
    replayed epoch's re-trigger a zero-row append.  0 disables."""
    if label_prop_every:
        from zebra_spark.fsutil import exists as fs_exists

        if not fs_exists(spark, f"{state_dir}/labelidx/metadata.json"):
            raise ValueError(
                "label_prop_every requires a label-maintenance state — "
                "run tick.init_label_state(state_dir, label_seeds) so "
                "labelseeds/ and the trained labelidx/ exist"
            )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            maintain_cosine_tables(
                spark, state_dir, batch_df, epoch_id=epoch_id
            )
            if label_prop_every and epoch_id % label_prop_every == 0:
                maintain_label_table(
                    spark, state_dir, weighted=label_prop_weighted
                )

    return (
        vec_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


DRIFT_BASELINE_FILE = "drift_baseline.json"


def persist_drift_baseline(spark: SparkSession, state_dir: str) -> float:
    """Score the state's committed vectors against its frozen seeds and
    persist the mean nearest-seed distance as
    `{state_dir}/drift_baseline.json` — the reseed baseline
    ingest_cosine_batch reads per batch (two scalars off disk, no
    corpus re-score; VERDICT r8 #2).  Call once after the initial
    build; reseed_cosine_state refreshes it automatically."""
    import json

    from zebra_spark.fsutil import write_text
    from zebra_spark.queries.dedup import cell_drift_audit

    seeds = spark.read.parquet(f"{state_dir}/seeds")
    vecs = read_cosine_state(spark, state_dir)[0]
    row = cell_drift_audit(spark, state_dir, vecs, "corpus", seeds).collect()[0]
    if row.mse is None:
        raise ValueError(
            "cannot persist a drift baseline for an empty state"
        )
    write_text(
        spark,
        f"{state_dir}/{DRIFT_BASELINE_FILE}",
        json.dumps({"n": row.n, "baseline_mse": float(row.mse)}),
    )
    return float(row.mse)


def read_drift_baseline(spark: SparkSession, state_dir: str) -> float | None:
    """The persisted baseline_mse, or None if never persisted."""
    import json

    from zebra_spark.fsutil import exists as fs_exists
    from zebra_spark.fsutil import read_text

    p = f"{state_dir}/{DRIFT_BASELINE_FILE}"
    if not fs_exists(spark, p):
        return None
    return float(json.loads(read_text(spark, p))["baseline_mse"])


def ingest_cosine_batch(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    epoch_id: int | None = None,
    ratio_threshold: float = 5.0,
    reseed_dir: str | None = None,
    n_files: int = 4,
    max_cell=_DEFAULT_MAX_CELL,
) -> str:
    """The drift-GATED semantic ingest tick (VERDICT r8 #2 — the wiring
    needs_reseed and reseed_cosine_state previously left to the
    operator): check the batch against the PERSISTED baseline, then

    - quiet batch  -> maintain_cosine_tables into `state_dir` (the
      state is untouched beyond the batch's own epoch); returns
      state_dir;
    - drifted batch (mean nearest-seed distance > ratio_threshold x
      baseline) -> reseed_cosine_state into `reseed_dir` with the
      batch CARRIED IN, so the new state is bit-identical to a fresh
      build over (old corpus ∪ batch) with seeds re-frozen on the
      combined distribution, and a fresh baseline is persisted;
      returns reseed_dir.

    The caller re-registers consumers at the returned dir
    (dedup.register_maintained_table 'cosine'/'cosassign' pointing at
    its committed tables) and retires the old state after cutover; a
    restarted stream on the new state uses a FRESH checkpoint (the
    epoch=-1 snapshot cannot collide with its epoch 0).  The check is
    one broadcast-seed pass over the batch — (n, mse) scalars only —
    so the gate costs nothing at 100 TB relative to the maintain
    itself.  Lifecycle pinned by
    tests/test_streaming.py::test_drift_gated_ingest_reseeds_once."""
    from zebra_spark.queries.dedup import needs_reseed

    baseline = read_drift_baseline(spark, state_dir)
    if baseline is None:
        raise ValueError(
            f"{state_dir!r} has no persisted drift baseline — call "
            "persist_drift_baseline after the initial build"
        )
    seeds = spark.read.parquet(f"{state_dir}/seeds")
    if not needs_reseed(
        spark, state_dir, batch_df, ratio_threshold,
        seeds=seeds, baseline_mse=baseline,
    ):
        maintain_cosine_tables(
            spark, state_dir, batch_df, epoch_id=epoch_id,
            max_cell=max_cell,
        )
        return state_dir
    if reseed_dir is None:
        raise ValueError(
            "drift detected (batch mse > "
            f"{ratio_threshold} x baseline) but no reseed_dir given — "
            "pass a fresh state_dir to rebuild into"
        )
    reseed_cosine_state(
        spark, state_dir, reseed_dir,
        extra_vectors=batch_df, n_files=n_files,
    )
    return reseed_dir


def register_cosine_state(
    spark: SparkSession, state_dir: str, sf_dir: str,
    max_cell=_DEFAULT_MAX_CELL,
) -> dict[str, str | None]:
    """Point the session's maintained-table registry at a streaming
    semantic state — the one-call 're-register consumers' step of the
    reseed cutover (and of first bring-up): 'cosine' reads the state's
    committed pairs/, 'cosassign' its assign/, 'cosseeds' its frozen
    seeds/.  Consumers (q_semantic_clusters, q_emb_knn_purity,
    q_cell_balance, cosine_pair_table_delta, ...) then serve from the
    maintained state without rebuild.  Returns the previous
    registrations so the caller can restore them
    (register_maintained_table(kind, sf_dir, prev) — prev=None
    unregisters).

    Register AT REST (stream stopped, last epoch committed — the
    reseed cutover qualifies: reseed_cosine_state compacts before
    returning): the registry points consumers at the parquet dirs
    directly, without the committed-epoch filtering readers get from
    read_cosine_state, so the at-rest precondition is ENFORCED — any
    table with an unmarked epoch (a torn in-flight write) is refused
    with replay/compact guidance instead of leaking into consumer
    views (r9 review).

    `max_cell` must be the cap the state was MAINTAINED with
    (maintain_cosine_tables' default is the same NDUP_MAX_CELL
    default here): it keys the 'cosine' registration, so consumers
    requesting a different cap correctly miss it rather than silently
    reading a differently-capped pair set."""
    from zebra_spark.queries.dedup import (
        NDUP_MAX_CELL,
        register_maintained_table,
    )

    if max_cell is _DEFAULT_MAX_CELL:
        max_cell = NDUP_MAX_CELL
    recover_state_swaps(spark, state_dir, COSINE_STATE_TABLES)
    for name in COSINE_STATE_TABLES:
        listing = _epoch_dirs(spark, f"{state_dir}/{name}")
        if listing is not None and listing[0] - listing[1]:
            raise ValueError(
                f"{state_dir}/{name} has uncommitted epoch(s) "
                f"{sorted(listing[0] - listing[1])} — register only an "
                "at-rest state: let the stream replay them (or run "
                "compact_cosine_state) first"
            )
    return {
        "cosine": register_maintained_table(
            "cosine", sf_dir, f"{state_dir}/pairs", max_cell=max_cell
        ),
        "cosassign": register_maintained_table(
            "cosassign", sf_dir, f"{state_dir}/assign"
        ),
        "cosseeds": register_maintained_table(
            "cosseeds", sf_dir, f"{state_dir}/seeds"
        ),
    }


def reseed_cosine_state(
    spark: SparkSession,
    old_state_dir: str,
    new_state_dir: str,
    remove_ids: DataFrame | None = None,
    n_files: int = 4,
    extra_vectors: DataFrame | None = None,
) -> int:
    """The RESEED operation needs_reseed and the seed-takedown guard
    point to: build a fresh semantic state over the old state's
    surviving vectors.  Reads the committed vectors, drops
    `remove_ids` if given (this path CAN remove seed vectors — that is
    its purpose), freezes NEW prefix seeds from the surviving corpus
    (the _cosine_seeds rule, so the blocking adapts to the post-drift
    distribution), applies the survivors as one backfill batch, and
    compacts to the epoch=-1 snapshot — leaving the new state ready
    for a fresh exactly-once stream (whose first epoch 0 cannot
    collide with the snapshot).  `extra_vectors` (vec_id, emb) joins
    the rebuild — the drift-triggering batch, so reseeding equals a
    fresh build on the combined corpus — and the new state's drift
    baseline is persisted automatically.  Returns the number of
    vectors carried over.  The old state_dir is untouched; the caller
    retires it after cutover."""
    from zebra_spark.queries.dedup import _cosine_seeds

    local = "://" not in new_state_dir and "://" not in old_state_dir
    same = (
        Path(new_state_dir).resolve() == Path(old_state_dir).resolve()
        if local
        else new_state_dir == old_state_dir
    )
    if same:
        raise ValueError(
            "reseed_cosine_state rebuilds INTO a fresh dir from the "
            "old state — old and new state_dir must differ"
        )
    # replay-idempotent (r9 self-review): the rebuild below APPENDS
    # (epoch_id=None), so a re-run after a crash mid-reseed — the
    # stream replays its drifted epoch and ingest_cosine_batch reseeds
    # again into the SAME dir — must start from scratch, not append the
    # combined corpus a second time.  The target is pure scratch until
    # cutover (the old state is the source of truth), so wiping it is
    # always safe.
    from zebra_spark.fsutil import delete, rmtree

    for name in COSINE_STATE_TABLES + ("seeds",):
        rmtree(spark, f"{new_state_dir}/{name}")
        rmtree(spark, f"{new_state_dir}/{name}__compact")
        rmtree(spark, f"{new_state_dir}/{name}__old")
    # the baseline is a plain FILE — rmtree's local branch silently
    # no-ops on files (ADVICE r9), which would leave a stale baseline
    # beside empty tables if we crash before persist_drift_baseline
    delete(spark, f"{new_state_dir}/{DRIFT_BASELINE_FILE}")

    vecs = read_cosine_state(spark, old_state_dir)[0]
    if remove_ids is not None:
        ids = remove_ids.select(remove_ids.columns[0])
        vecs = vecs.join(
            ids.withColumnRenamed(ids.columns[0], "vec_id"),
            "vec_id",
            "left_anti",
        )
    if extra_vectors is not None:
        # the drift-triggering batch rides the reseed (VERDICT r8 #2):
        # seeds re-freeze over the COMBINED corpus, so the new blocking
        # fits the post-drift distribution from its first epoch
        vecs = vecs.unionByName(extra_vectors.select("vec_id", "emb"))
    vecs = vecs.localCheckpoint()
    init_cosine_state(spark, new_state_dir, _cosine_seeds(vecs))
    maintain_cosine_tables(spark, new_state_dir, vecs, epoch_id=None)
    compact_cosine_state(spark, new_state_dir, n_files=n_files)
    persist_drift_baseline(spark, new_state_dir)
    return vecs.count()
