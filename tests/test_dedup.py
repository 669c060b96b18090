"""Dedup-family invariants beyond oracle parity (which
test_oracle_parity.py sweeps): the index-blocked closest-pairs query
must still return the TRUE all-pairs top-100 at fixture scale, and the
hashed token-id path must agree between engines.
"""

from __future__ import annotations

import hashlib

import pytest

from tests.conftest import SF_ORACLE

import zebra_spark
from zebra_spark import functions as zf
from zebra_spark.registry import sql_rnd

zebra_spark.load_all_queries()


def _vhash(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        tuple(f"{v:.4f}" if isinstance(v, float) else str(v) for v in r)
        for r in pdf.itertuples(index=False)
    )
    return hashlib.md5(str(rows).encode()).hexdigest()


def test_neardup_cosine_blocking_is_lossless(spark, duck):
    """IVF multi-assign candidates (C=10, R=5) contain the true top-100
    closest pairs: blocked output == exhaustive all-pairs output."""
    sp = zebra_spark.QUERIES["q_neardup_cosine"](spark, SF_ORACLE).toPandas()
    allpairs = duck.execute(
        f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              {zf.sql_metric("cosine", dim=64)} AS dist
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, {sql_rnd("dist")} AS dist
        FROM d ORDER BY d.dist, id_a, id_b LIMIT 100
        """
    ).fetchdf()
    assert len(sp) == 100
    assert _vhash(sp) == _vhash(allpairs)


def test_neardup_cosine_np_kernel_matches(spark):
    """The Arrow/numpy verify kernel returns the same top-100 (to the
    4-decimal contract rounding) as the native sequential-fold path."""
    from zebra_spark.queries.dedup import neardup_cosine_np

    native = zebra_spark.QUERIES["q_neardup_cosine"](spark, SF_ORACLE).toPandas()
    vec = neardup_cosine_np(spark, SF_ORACLE).toPandas()
    assert _vhash(native) == _vhash(vec)


def test_jaccard_pairs_survives_hot_stopword(spark, tmp_path):
    """One stopword shared by every doc must not explode candidate
    generation: pairs are generated from rare words only, yet n_common
    still counts the stopword (exact full-set Jaccard)."""
    from zebra_spark.queries.text import JACCARD_DF_CAP

    rows = []
    for i in range(300):  # 150 twin pairs, all sharing hot word "common"
        k = i // 2
        rows.append((i, "s", f"common pair{k}a pair{k}b pair{k}c"))
    # docs overlapping ONLY on the stopword: excluded by design
    rows.append((900, "s", "common unique900"))
    rows.append((901, "s", "common unique901"))
    spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = (
        zebra_spark.QUERIES["q_text_jaccard_pairs"](spark, str(tmp_path))
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert len(out) == 150
    assert (out["n_common"] == 4).all()  # 3 rare words + the hot stopword
    assert (out["jaccard"] == 1.0).all()
    assert 900 not in set(out["doc_a"]) and 901 not in set(out["doc_b"])
    assert 300 > JACCARD_DF_CAP  # the hot list really was over the cap


def test_ngram_jaccard_survives_hot_gram(spark, tmp_path):
    """A 3-gram present in EVERY doc must not explode candidate
    generation: pairs come from posting lists <= NGRAM_DF_CAP only,
    yet n_common still counts hot grams (exact full-shingle Jaccard)."""
    from zebra_spark.queries.dedup import NGRAM_DF_CAP

    # every text starts with "ZZZ " -> grams "ZZZ" and "ZZ " appear in
    # all 302 docs (>> cap); each twin pair shares rare grams from its
    # unique 6-char word, so twins are still found via rare grams.
    import itertools

    combos = list(itertools.combinations("abcdefghijklmnopqrstuvwxyz", 2))[:150]
    rows = []
    for k, (a, b) in enumerate(combos):
        word = (a + b) * 3
        rows.append((2 * k, "s", f"ZZZ {word}"))
        rows.append((2 * k + 1, "s", f"ZZZ {word}"))
    # docs whose ENTIRE overlap is hot grams: full-set jaccard would be
    # 1.0, but no rare gram links them -> excluded by design
    rows.append((900, "s", "ZZZ"))
    rows.append((901, "s", "ZZZ"))
    spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = (
        zebra_spark.QUERIES["q_text_ngram_jaccard"](spark, str(tmp_path))
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert len(out) == 150
    # twins are identical: 6 distinct grams, 2 of them hot, all counted
    assert (out["n_common"] == 6).all()
    assert (out["jaccard"] == 1.0).all()
    assert 900 not in set(out["doc_a"]) and 901 not in set(out["doc_b"])
    assert 302 > NGRAM_DF_CAP  # the hot posting list really was over cap


def test_word_hash_cross_engine(spark, duck):
    """Per-row polynomial token ids are bit-identical across engines
    (the invariant every minhash/simhash signature rests on)."""
    from zebra_spark.queries.text import sql_word_hash, word_hash_expr

    words = ["", "a", "the", "data", "zebra", "antidisestablishment", "日本語"]
    sdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["h"]
        for r in sdf.select("word", word_hash_expr("word").alias("h")).collect()
    }
    for w in words:
        want = duck.execute(
            f"SELECT {sql_word_hash('w')} AS h FROM (SELECT ? AS w)", [w]
        ).fetchone()[0]
        assert got[w] == want, (w, got[w], want)


def test_minhash_bucket_cap(spark, tmp_path):
    """max_bucket semantics: a cap larger than every bucket leaves the
    output bit-identical; a cap below a giant bucket's size drops only
    pairs whose EVERY colliding band is oversized (pairs that also
    collide in a small bucket survive)."""
    from zebra_spark.queries.dedup import N_BANDS, N_HASHES, _minhash_pairs

    # 6 identical docs (one giant bucket per band) + 2 identical docs
    # with different text (small buckets)
    rows = [(i, "src", "alpha beta gamma delta epsilon zeta") for i in range(6)]
    rows += [(10, "src", "one two three four five six"),
             (11, "src", "one two three four five six")]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    def pairs(cap):
        df = _minhash_pairs(spark, sf, N_HASHES, N_BANDS, max_bucket=cap)
        return {(r.doc_a, r.doc_b) for r in df.collect()}

    full = pairs(None)
    assert pairs(100) == full  # cap never fires
    capped = pairs(5)  # drops the 6-member buckets, keeps the 2-member
    assert capped == {(10, 11)}
    assert full == {(a, b) for a in range(6) for b in range(6) if a < b} | {(10, 11)}


def test_pair_table_build_once_and_matches_inline(spark):
    """pair_table materializes the scored candidate frame once per
    (dataset, config) and returns exactly the inline _minhash_scored
    rows; a second call reuses the same parquet files (no rebuild)."""
    from zebra_spark.queries import dedup as dd

    key = (
        "minhash",
        str(__import__("pathlib").Path(SF_ORACLE).resolve()),
        dd.N_HASHES, dd.N_BANDS, None,
    )
    pt = dd.pair_table(spark, SF_ORACLE).toPandas()
    path_first = dd._DERIVED[key]
    inline = dd._minhash_scored(
        spark, SF_ORACLE, dd.N_HASHES, dd.N_BANDS
    ).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    assert _vhash(pt) == _vhash(inline)
    dd.pair_table(spark, SF_ORACLE)
    assert dd._DERIVED[key] == path_first


def _fresh_corpus(tmp_path) -> str:
    """A copy of the oracle documents under a path no registry key has
    seen yet."""
    import shutil
    from pathlib import Path

    src = Path(SF_ORACLE) / "documents.parquet"
    tmp_path.mkdir(parents=True, exist_ok=True)
    dst = tmp_path / "documents.parquet"
    if src.is_dir():
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    return str(tmp_path)


def _jobs_started(spark, fn) -> int:
    """Spark jobs `fn()` starts, counted by job group.  A marker job in
    a second group is awaited first: listener events arrive in order,
    so once the marker is visible every earlier job start is too."""
    import time
    import uuid

    sc = spark.sparkContext
    gid, marker = f"t-{uuid.uuid4()}", f"m-{uuid.uuid4()}"
    sc.setJobGroup(gid, "counted")
    try:
        fn()
        sc.setJobGroup(marker, "marker")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(gid))


@pytest.mark.parametrize("n_hashes", [16, 128])
def test_pair_table_build_skips_sig_and_tokset_tables(spark, tmp_path, n_hashes):
    """The full pair-table build computes signatures and token sets
    inline from one documents scan: it registers (and writes) only the
    minhash table, adds no exit handler, and its rows equal the
    formulation over the materialized sig_table + tokset_table."""
    import atexit

    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    sf = _fresh_corpus(tmp_path)
    before = dd.derived_registry_snapshot()
    try:
        handlers = atexit._ncallbacks()
        pt = dd.pair_table(spark, sf, n_hashes, dd.N_BANDS).toPandas()
        assert atexit._ncallbacks() == handlers
        added = set(dd.derived_registry_snapshot()) - set(before)
        assert [k[0] for k in added] == ["minhash"]

        keyed = dd.sig_table(spark, sf, n_hashes, dd.N_BANDS).select(
            "doc_id", F.xxhash64("band", "key").alias("bk")
        )
        a = keyed.select(F.col("doc_id").alias("doc_a"), "bk")
        b = keyed.select(
            F.col("doc_id").alias("doc_b"), F.col("bk").alias("bk_b")
        )
        cand = (
            a.join(
                b,
                (F.col("bk") == F.col("bk_b"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        old = dd._verify_scored(cand, dd.tokset_table(spark, sf)).toPandas()
        assert len(pt) > 0
        assert _vhash(pt) == _vhash(old)
    finally:
        dd.restore_derived_registry(before)


def test_derived_table_reread_runs_no_spark_job(spark, tmp_path):
    """A built derived table is re-read with the schema it was written
    with: a second pair_table / cluster_label_table call starts no
    Spark job (no schema inference).  A path registered from outside —
    here a maintained table in the epoch=N layout, re-pointing a key
    that was built — reads with inference and drops `epoch`; restoring
    the built path brings the job-free read back."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    sf = _fresh_corpus(tmp_path / "corpus")
    before = dd.derived_registry_snapshot()
    try:
        pairs = dd.pair_table(spark, sf)
        labels = dd.cluster_label_table(spark, sf)
        assert labels.count() > 0
        assert _jobs_started(spark, lambda: dd.pair_table(spark, sf)) == 0
        assert (
            _jobs_started(spark, lambda: dd.cluster_label_table(spark, sf))
            == 0
        )
        key = ("minhash", str(Path(sf).resolve()), dd.N_HASHES, dd.N_BANDS, None)
        assert pairs.schema == spark.read.parquet(dd._DERIVED[key]).schema

        maintained = str(tmp_path / "maintained")
        pairs.withColumn("epoch", F.lit(3)).write.partitionBy("epoch").parquet(
            maintained
        )
        prev = dd.register_maintained_table("minhash", sf, maintained)
        try:
            got = []
            assert _jobs_started(
                spark, lambda: got.append(dd.pair_table(spark, sf))
            ) > 0
            assert got[0].columns == pairs.columns
            assert got[0].count() == pairs.count()
        finally:
            dd.register_maintained_table("minhash", sf, prev)
        assert _jobs_started(spark, lambda: dd.pair_table(spark, sf)) == 0
    finally:
        dd.restore_derived_registry(before)


def test_cosine_pair_table_matches_inline(spark):
    """cosine_pair_table returns exactly the inline blocked+scored
    pairs (bit-exact doubles through the parquet round-trip)."""
    from zebra_spark.queries import dedup as dd

    pt = dd.cosine_pair_table(spark, SF_ORACLE).toPandas()
    cand, e = dd._cosine_candidates(spark, SF_ORACLE)
    inline = dd._score_pairs(cand, e, vectorized=False).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    assert _vhash(pt) == _vhash(inline)


def test_minhash_capped_binds_and_is_subset(spark):
    """The oracled giant-bucket twin must actually DROP buckets at the
    gate SF (a never-firing cap would pin nothing), and its output must
    be a subset of the uncapped pairs (the guard only removes
    candidates, never invents them)."""
    capped = zebra_spark.QUERIES["q_dedup_minhash_capped"](
        spark, SF_ORACLE
    ).toPandas()
    full = zebra_spark.QUERIES["q_dedup_minhash"](spark, SF_ORACLE).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    assert 0 < len(capped) < len(full)
    keys = lambda p: set(zip(p.doc_a, p.doc_b))  # noqa: E731
    assert keys(capped) <= keys(full)


def test_pair_table_delta(spark):
    """Incremental maintenance == batch rebuild: the delta for a new
    batch (doc_id % 10 == 0) must equal exactly the new-involving slice
    of the full pair table — same pairs, same scores — and contain no
    old-vs-old pair."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    full = dd.pair_table(spark, SF_ORACLE).toPandas()
    new_ids = (
        dd.sig_table(spark, SF_ORACLE)
        .select("doc_id")
        .distinct()
        .filter(F.col("doc_id") % 10 == 0)
    )
    delta = dd.pair_table_delta(spark, SF_ORACLE, new_ids).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    want = full[(full.doc_a % 10 == 0) | (full.doc_b % 10 == 0)]
    assert len(delta) > 0
    assert _vhash(delta) == _vhash(want)


def test_pair_table_delta_capped(spark):
    """The delta honours the giant-bucket guard (ADVICE r6): with a cap
    that BINDS at this SF, delta(max_bucket=c) must equal exactly the
    new-involving slice of the capped rebuild — batch docs landing in
    over-cap buckets generate no pairs, matching what a capped rebuild
    would drop — and must be a strict subset of the uncapped delta."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    cap = dd.CAPPED_BUCKET  # the oracle-pinned binding cap
    full_capped = dd.pair_table(spark, SF_ORACLE, max_bucket=cap).toPandas()
    new_ids = (
        dd.sig_table(spark, SF_ORACLE)
        .select("doc_id")
        .distinct()
        .filter(F.col("doc_id") % 10 == 0)
    )
    delta = dd.pair_table_delta(
        spark, SF_ORACLE, new_ids, max_bucket=cap
    ).toPandas()
    uncapped = dd.pair_table_delta(spark, SF_ORACLE, new_ids).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    want = full_capped[
        (full_capped.doc_a % 10 == 0) | (full_capped.doc_b % 10 == 0)
    ]
    assert 0 < len(delta) < len(uncapped)  # the cap binds
    assert _vhash(delta) == _vhash(want)


def test_incremental_screen_generic_batch(spark):
    """incremental_screen (the maintained-delta path q_dedup_incremental
    routes through since r7) must agree with an independent reference
    built from the full pair table, for an arbitrary batch predicate —
    not just the oracled doc_id % 10 split."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    full = dd.pair_table(spark, SF_ORACLE).toPandas()
    new_ids = (
        dd.sig_table(spark, SF_ORACLE)
        .select("doc_id")
        .distinct()
        .filter(F.col("doc_id") % 7 == 3)
    )
    got = dd.incremental_screen(spark, SF_ORACLE, new_ids).toPandas()
    new_set = set(new_ids.toPandas().doc_id)
    from zebra_spark.caching import release_caches

    release_caches()

    # reference: exactly-one-new pairs from the full table, threshold,
    # per-new-doc argmax (ties broken by lowest corpus id)
    best: dict[int, tuple[float, int]] = {}
    for r in full.itertuples(index=False):
        a_new, b_new = r.doc_a in new_set, r.doc_b in new_set
        if a_new == b_new:
            continue
        n, c = (r.doc_a, r.doc_b) if a_new else (r.doc_b, r.doc_a)
        j = r.n_common / (r.na + r.nb - r.n_common)
        if j < dd.MINHASH_THRESHOLD:
            continue
        cur = best.get(n)
        if cur is None or (-j, c) < (-cur[0], cur[1]):
            best[n] = (j, c)
    got = got.set_index("doc_id")
    assert set(got.index) == new_set
    dups = set(got[got.is_dup == 1].index)
    assert dups == set(best)
    for n, (j, c) in best.items():
        assert got.loc[n].dup_of == c
        assert abs(got.loc[n].jaccard - j) < 1e-3


def test_cosine_pair_table_delta(spark):
    """Embedding-space incremental maintenance == batch rebuild: the
    delta for a new batch must equal exactly the new-involving slice of
    the full cosine pair table — same pairs, bit-identical doubles —
    and contain no old-vs-old pair."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    full = dd.cosine_pair_table(spark, SF_ORACLE).toPandas()
    new_ids = (
        dd.cosine_assign_table(spark, SF_ORACLE)
        .select("vec_id")
        .distinct()
        .filter(F.col("vec_id") % 10 == 0)
    )
    delta = dd.cosine_pair_table_delta(spark, SF_ORACLE, new_ids).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    want = full[(full.id_a % 10 == 0) | (full.id_b % 10 == 0)]
    assert len(delta) > 0
    assert _vhash(delta) == _vhash(want)


def test_maintained_cosine_table_feeds_consumers(spark, tmp_path):
    """The maintained-table wiring (VERDICT r6 #2): writing base ∪ delta
    to parquet and registering it makes q_semantic_clusters and
    q_emb_knn_purity consume the maintained artifact — with output
    identical to the session-rebuilt table (the maintained union IS the
    full table when the delta is exact)."""
    from pyspark.sql import functions as F

    import zebra_spark
    from zebra_spark.queries import dedup as dd

    zebra_spark.load_all_queries()

    want_sc = zebra_spark.QUERIES["q_semantic_clusters"](
        spark, SF_ORACLE
    ).toPandas()
    want_pu = zebra_spark.QUERIES["q_emb_knn_purity"](
        spark, SF_ORACLE
    ).toPandas()

    # simulate a maintained table: the pre-batch base (old-old pairs)
    # plus the batch's delta, written where an ingest pipeline would
    full = dd.cosine_pair_table(spark, SF_ORACLE)
    base = full.filter(
        (F.col("id_a") % 10 != 0) & (F.col("id_b") % 10 != 0)
    )
    new_ids = (
        dd.cosine_assign_table(spark, SF_ORACLE)
        .select("vec_id")
        .distinct()
        .filter(F.col("vec_id") % 10 == 0)
    )
    delta = dd.cosine_pair_table_delta(spark, SF_ORACLE, new_ids)
    maintained = str(tmp_path / "cosine_pairs")
    base.unionByName(delta).write.mode("overwrite").parquet(maintained)

    prev = dd.register_maintained_table("cosine", SF_ORACLE, maintained)
    try:
        got_sc = zebra_spark.QUERIES["q_semantic_clusters"](
            spark, SF_ORACLE
        ).toPandas()
        got_pu = zebra_spark.QUERIES["q_emb_knn_purity"](
            spark, SF_ORACLE
        ).toPandas()
    finally:
        if prev is not None:
            dd.register_maintained_table("cosine", SF_ORACLE, prev)
    from zebra_spark.caching import release_caches

    release_caches()
    assert _vhash(got_sc) == _vhash(want_sc)
    assert _vhash(got_pu) == _vhash(want_pu)


def test_pair_table_empty_corpus(spark, tmp_path):
    """An empty documents table must yield empty (not crashing) derived
    tables and empty consumer output, with schemas intact."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    spark.createDataFrame(
        [], "doc_id bigint, source string, text string, lang string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    pt = dd.pair_table(spark, sf)
    assert pt.count() == 0
    assert set(pt.columns) == {"doc_a", "doc_b", "n_common", "na", "nb"}
    assert zebra_spark.QUERIES["q_dedup_minhash"](spark, sf).count() == 0
    empty_ids = spark.createDataFrame([], "doc_id bigint")
    assert dd.pair_table_delta(spark, sf, empty_ids).count() == 0


def test_cosine_assign_delta_equals_rebuild(spark):
    """VERDICT r7 #1 (held-out equivalence): assigning a batch that was
    NEVER in the corpus against the corpus-frozen seeds, then unioning
    with the base assignment, must equal assigning the whole corpus ∪
    batch against the same seeds — bit-identically.  This is what makes
    the maintained 'cosassign' artifact base ∪ delta."""
    import pandas as pd

    from zebra_spark.queries import dedup as dd

    corpus, batch = dd._heldout_split(spark, SF_ORACLE)
    seeds = dd._cosine_seeds(corpus)
    full = dd._assign_to_seeds(corpus.unionByName(batch), seeds).toPandas()
    base = dd._assign_to_seeds(corpus, seeds).toPandas()
    delta = dd.cosine_assign_delta(spark, SF_ORACLE, batch, seeds=seeds).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    assert len(delta) > 0
    assert (delta.vec_id % 10 == 0).all()  # only batch rows
    assert _vhash(pd.concat([base, delta])) == _vhash(full)

    # empty-batch robustness: no rows, schema intact
    empty = batch.limit(0)
    got = dd.cosine_assign_delta(spark, SF_ORACLE, empty, seeds=seeds)
    assert got.columns == ["vec_id", "cell_id"]
    assert got.count() == 0


def test_cosine_delta_unseen_production_path(spark, tmp_path):
    """The PRODUCTION new_vectors mode of cosine_pair_table_delta,
    driven with a corpus dir that genuinely lacks the batch, must equal
    the driver-gated q_cosine_delta_unseen formulation (same held-out
    split, same frozen seeds) — so the oracled query is pinning the
    real ingest path, not a test-only twin."""
    from pyspark.sql import functions as F

    import zebra_spark
    from zebra_spark.functions import rnd
    from zebra_spark.io import load
    from zebra_spark.queries import dedup as dd

    zebra_spark.load_all_queries()

    # a corpus snapshot the batch has never touched
    raw = load(spark, SF_ORACLE, "embeddings")
    raw.filter(F.col("vec_id") % 10 != 0).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    corpus_dir = str(tmp_path)
    _, batch = dd._heldout_split(spark, SF_ORACLE)

    got = (
        dd.cosine_pair_table_delta(spark, corpus_dir, new_vectors=batch)
        .select("id_a", "id_b", rnd(F.col("dist")).alias("dist"))
        .toPandas()
    )
    want = zebra_spark.QUERIES["q_cosine_delta_unseen"](
        spark, SF_ORACLE
    ).toPandas()
    from zebra_spark.caching import release_caches

    release_caches()
    assert len(got) > 0
    assert _vhash(got) == _vhash(want)
    # both new-old and new-new pairs are present
    assert ((got.id_a % 10 == 0) & (got.id_b % 10 == 0)).any()
    assert ((got.id_a % 10 == 0) ^ (got.id_b % 10 == 0)).any()

    # passing both/neither batch forms is a usage error
    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        dd.cosine_pair_table_delta(spark, corpus_dir)


def test_maintained_cosassign_feeds_snapshot_audit(spark, tmp_path):
    """register_maintained_table('cosassign', ...) consumption through
    snapshot_audit (VERDICT r7 #1): a maintained assignment artifact —
    base assignment ∪ cosine_assign_delta of the batch, written to
    parquet by an ingest pipeline — must feed the cosine pair table and
    every audit section with output identical to the session rebuild."""
    import pandas as pd

    import zebra_spark
    from zebra_spark.queries import dedup as dd

    zebra_spark.load_all_queries()

    want = zebra_spark.QUERIES["q_snapshot_audit"](spark, SF_ORACLE).toPandas()

    # maintained artifact: seeds frozen at snapshot build; the batch
    # rows arrive later through the delta path
    corpus, batch = dd._heldout_split(spark, SF_ORACLE)
    seeds = dd.cosine_seed_table(spark, SF_ORACLE)
    base = dd._assign_to_seeds(corpus, seeds)
    delta = dd.cosine_assign_delta(spark, SF_ORACLE, batch)
    maintained = str(tmp_path / "cosassign")
    base.unionByName(delta).write.mode("overwrite").parquet(maintained)

    resolved_key = ("cosine", str(__import__("pathlib").Path(SF_ORACLE).resolve()))
    prev = dd.register_maintained_table("cosassign", SF_ORACLE, maintained)
    with dd._DERIVED_LOCK:
        # force the cosine pair table to rebuild FROM the maintained
        # assignment (it is session-cached from earlier tests)
        prev_pairs = dd._DERIVED.pop(resolved_key, None)
    try:
        got = zebra_spark.QUERIES["q_snapshot_audit"](spark, SF_ORACLE).toPandas()
    finally:
        with dd._DERIVED_LOCK:
            if prev is not None:
                dd._DERIVED[("cosassign", resolved_key[1])] = prev
            else:
                dd._DERIVED.pop(("cosassign", resolved_key[1]), None)
            if prev_pairs is not None:
                dd._DERIVED[resolved_key] = prev_pairs
            else:
                dd._DERIVED.pop(resolved_key, None)
    from zebra_spark.caching import release_caches

    release_caches()
    pd.testing.assert_frame_equal(
        got.sort_values("section").reset_index(drop=True),
        want.sort_values("section").reset_index(drop=True),
    )


def test_cell_drift_binds(spark):
    """The seed-drift audit's contract (VERDICT r7 #3, same shape as
    scripts/pq_add_check.py): a same-distribution batch scores ratio
    near 1 under the frozen seeds; a shifted batch scores far above —
    the reseed signal."""
    import zebra_spark

    zebra_spark.load_all_queries()
    got = (
        zebra_spark.QUERIES["q_cell_drift"](spark, SF_ORACLE)
        .toPandas()
        .set_index("split")
    )
    from zebra_spark.caching import release_caches

    release_caches()
    assert got.loc["a_corpus_baseline", "ratio"] == 1.0
    assert got.loc["b_batch_same_dist", "ratio"] < 2.0
    assert got.loc["c_batch_shifted", "ratio"] > 5.0
    assert got.n.sum() == 550  # 450 corpus + 50 batch + 50 shifted


def test_needs_reseed_trigger(spark):
    """needs_reseed fires on a shifted batch, stays quiet on a
    same-distribution one (the PQ needs_retrain/drift_audit contract,
    on the cosine blocking)."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    e = dd.embeddings_d(spark, SF_ORACLE).select("vec_id", "emb")
    same = e.filter(F.col("vec_id") % 10 == 0)
    shifted = same.select(
        "vec_id", F.expr("transform(emb, x -> 3.0d * x + 1.0d)").alias("emb")
    )
    assert not dd.needs_reseed(spark, SF_ORACLE, same)
    assert dd.needs_reseed(spark, SF_ORACLE, shifted)
    # the persisted-baseline fast path agrees
    base = float(
        dd.cell_drift_audit(spark, SF_ORACLE, e, "corpus").collect()[0].mse
    )
    assert dd.needs_reseed(spark, SF_ORACLE, shifted, baseline_mse=base)
    # ADVICE r8: an EMPTY corpus baseline must raise a descriptive
    # error, not TypeError from float(None) — temp sf_dir with a
    # zero-row embeddings table, explicit seeds so only the baseline
    # side is empty
    import tempfile

    d = tempfile.mkdtemp(prefix="zebra_empty_sf_")
    e.limit(0).select(
        "vec_id",
        F.col("emb").cast("array<float>").alias("embedding"),
        F.lit(0).alias("label"),
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    seeds = dd.cosine_seed_table(spark, SF_ORACLE)
    with pytest.raises(ValueError, match="baseline"):
        dd.needs_reseed(spark, d, same, seeds=seeds)
    from zebra_spark.caching import release_caches

    release_caches()


def test_cosine_max_cell_cap(spark, tmp_path):
    """VERDICT r8 #1 — giant-cell guard, all three paths at once on a
    synthetic hot cell: the build's sliced member lists, the delta's
    windowed kernel cap, and the streaming maintainer must admit the
    SAME per-cell prefix (each cell's max_cell smallest vec_ids) and
    produce mutually bit-identical pair tables; the capped table is a
    strict subset of the uncapped one with identical distances
    (the documented recall/coverage tradeoff: a dropped pair can still
    meet in another of its NDUP_ASSIGN cells)."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd
    from zebra_spark.streaming import (
        init_cosine_state,
        maintain_cosine_tables,
        read_cosine_state,
    )

    # synthetic corpus, dim 10: vec_ids 0..9 are the one-hot prefix
    # seeds (cells = max(10, 18//50) = 10); 10..17 all sit near cells
    # {0..4}, making those cells hot (cell 0 collects every vector)
    dim, cap = 10, 4
    rows = [(i, [100.0 if j == i else 0.0 for j in range(dim)], 0)
            for i in range(10)]
    rows += [(10 + k, [50.0] * 5 + [0.0] * 5, 0) for k in range(8)]
    d = str(tmp_path / "sf_hot")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    capped = dd.cosine_pair_table(spark, d, max_cell=cap).toPandas()
    uncapped = dd.cosine_pair_table(spark, d, max_cell=None).toPandas()

    # expected admitted pairs, recomputed independently in pandas from
    # the assignment table: each cell's `cap` smallest members
    assign = dd.cosine_assign_table(spark, d).toPandas()
    expect = set()
    for _, grp in assign.groupby("cell_id"):
        m = sorted(grp.vec_id)[:cap]
        expect |= {(a, b) for i, a in enumerate(m) for b in m[i + 1:]}
    got = {(r.id_a, r.id_b) for r in capped.itertuples()}
    assert got == expect
    # strict subset of the uncapped table, distances identical
    all_pairs = {(r.id_a, r.id_b): r.dist for r in uncapped.itertuples()}
    assert len(got) < len(all_pairs)
    for r in capped.itertuples():
        assert all_pairs[(r.id_a, r.id_b)] == r.dist

    # delta path (shared kernel, windowed cap): the new-involving slice
    # of the capped build
    new_ids = spark.createDataFrame(
        [(i,) for i in range(10, 18)], "vec_id bigint"
    )
    delta = dd.cosine_pair_table_delta(
        spark, d, new_ids=new_ids, max_cell=cap
    ).toPandas()
    want_delta = capped[(capped.id_a >= 10) | (capped.id_b >= 10)]
    assert _vhash(delta) == _vhash(want_delta)

    # streaming path in two monotonic epochs == capped build; the
    # second batch lands entirely over the cap in the hot cells, so a
    # FULL cell's admitted prefix never changes after it fills
    e = dd.embeddings_d(spark, d).select("vec_id", "emb")
    state = str(tmp_path / "cstate_hot")
    init_cosine_state(spark, state, dd.cosine_seed_table(spark, d))
    maintain_cosine_tables(
        spark, state, e.filter(F.col("vec_id") < 14), epoch_id=0,
        max_cell=cap,
    )
    maintain_cosine_tables(
        spark, state, e.filter(F.col("vec_id") >= 14), epoch_id=1,
        max_cell=cap,
    )
    stream_pairs = read_cosine_state(spark, state)[2].toPandas()
    assert _vhash(stream_pairs) == _vhash(capped)
    from zebra_spark.caching import release_caches

    release_caches()


def test_cluster_consumer_reads_maintained_labels(spark, tmp_path):
    """VERDICT r8 #3: kind 'clusters' — a registered maintained label
    table is what q_dedup_clusters serves, not a recomputation."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    fake = (
        dd.cluster_label_table(spark, SF_ORACLE)
        .withColumn("cluster", F.lit(7).cast("bigint"))
    )
    p = str(tmp_path / "labels")
    fake.write.mode("overwrite").parquet(p)
    prev = dd.register_maintained_table("clusters", SF_ORACLE, p)
    try:
        got = zebra_spark.QUERIES["q_dedup_clusters"](spark, SF_ORACLE)
        assert got.select("cluster").distinct().count() == 1
    finally:
        dd.register_maintained_table("clusters", SF_ORACLE, prev)
    from zebra_spark.caching import release_caches

    release_caches()


def test_register_maintained_table_unregister(spark, tmp_path):
    """ADVICE r8: path=None unregisters, so a caller that saw prev=None
    can restore 'not registered' instead of leaking its work_dir."""
    from zebra_spark.queries import dedup as dd

    sf = str(tmp_path / "sfX")
    p = str(tmp_path / "maintained")
    assert dd.register_maintained_table("minhash", sf, p) is None
    assert dd.register_maintained_table("minhash", sf, None) == p
    # key fully gone: a fresh register sees no prev again
    assert dd.register_maintained_table("minhash", sf, p) is None
    dd.register_maintained_table("minhash", sf, None)
    # unregistering an absent key is a no-op
    assert dd.register_maintained_table("cosine", sf, None) is None


def test_closure_sql_asserts_convergence():
    """r15: the unrolled closure oracle must FAIL LOUDLY when K is too
    small for the graph's diameter, never ship a wrong fixpoint.  A
    long path graph with k=1 stage (one hook+jump round on the
    contracted graph) cannot converge; the conv CTE error()s.  The
    same SQL with enough stages returns the exact single component."""
    import duckdb
    import pytest

    from zebra_spark.queries.dedup import _closure_sql

    con = duckdb.connect()
    # path graph 0-1-2-...-63: diameter 63, one component
    frame = """
    edges AS (SELECT i AS a, i + 1 AS b FROM range(0, 63) t(i)),
    sym AS MATERIALIZED (
      SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
    ),
    """

    def run(k):
        sql = ("WITH " + frame + _closure_sql("node", k=k)
               + " SELECT count(DISTINCT cluster) FROM labels")
        return con.execute(sql).fetchone()[0]

    with pytest.raises(duckdb.Error, match="not converged"):
        run(1)
    assert run(8) == 1


def test_vocab_hash_collision_free(spark):
    """r17 (hashed verify kernel, dedup._verify_scored): n_common is
    computed by intersecting xxhash64(word) arrays; it equals the
    word-array intersection EXACTLY as long as xxhash64 is injective
    on the corpus vocabulary.  Pin that for every fixture corpus the
    driver gates run against — if a fixture ever gains a colliding
    word pair, this fails before any oracle hash can drift."""
    from pyspark.sql import functions as F

    from zebra_spark.io import load

    for sf in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        v = (
            load(spark, sf, "documents")
            .select(F.explode(F.split("text", " ")).alias("w"))
            .distinct()
        )
        r = v.agg(
            F.count("w").alias("n"),
            F.countDistinct(F.xxhash64("w")).alias("nh"),
        ).first()
        assert r["n"] == r["nh"], f"xxhash64 vocab collision in {sf}"


def test_verify_scored_hashed_equals_string_kernel(spark):
    """The hashed verify kernel must produce the exact rows of the
    string-intersect formulation on the oracle fixture (injectivity
    pinned above makes this an equality, not an approximation)."""
    from pyspark.sql import functions as F

    from zebra_spark.queries import dedup as dd

    sigs = dd.sig_table(spark, SF_ORACLE)
    keyed = sigs.select("doc_id", F.xxhash64("band", "key").alias("bk"))
    a = keyed.select(F.col("doc_id").alias("doc_a"), "bk")
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("bk").alias("bk_b")
    )
    cand = (
        a.join(
            b,
            (F.col("bk") == F.col("bk_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    toks = dd.tokset_table(spark, SF_ORACLE)
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    want = (
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
    got = dd._verify_scored(cand, toks)
    mismatched = (
        got.unionByName(want)
        .groupBy("doc_a", "doc_b", "n_common", "na", "nb")
        .count()
        .filter(F.col("count") != 2)
        .count()
    )
    assert mismatched == 0
