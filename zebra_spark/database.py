"""ZebraDatabase — the CRUD/session facade (reference Database API,
src/database/core.rs:55-380).

Layout on disk (≙ the reference's .zebra metadata + fjall partitions +
.lz4 doc files, src/database/core.rs:19-29, lsh.rs:70-85, core.rs:322):

    {path}/zebra.json            metadata: uuid, dim, metric, model,
                                 index options, batch counter
    {path}/documents/            parquet (vec_id, doc, modality)
    {path}/embeddings/           parquet (vec_id, embedding)
    {path}/index/                LSH index (built lazily; partitioned by
                                 tree_id)

Parquet page compression plays the reference's LZ4-per-doc role; the
atomic-overwrite write mode plays its fsync/SyncAll durability stance.

Scale posture: inserts are append-only parquet writes; ids are assigned
with monotonically_increasing_id offset by a per-batch base (no global
sort, no driver collect) — uniqueness without density, like UUIDv7
(lsh.rs:415).  Delete/dedup are anti-join/window rewrites.  Search is
exact brute force, or one call on the index family the metadata
records (zebra_spark.index lists the families).
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zebra_spark import functions as zf
from zebra_spark.embed import DEFAULT_DIM, hash_tf_embedding
from zebra_spark.functions import rank_top_k
from zebra_spark.index import (
    FAMILIES, check_metric, family, query_frame, search_knobs,
)

_BATCH_SHIFT = 40  # ids: (batch_no << 40) | monotonic_id
_AUTO_COMPACT_APPENDS = 8  # compact the index every N incremental adds


def _without(index, ids_df: DataFrame):
    """`index` minus the rows `ids_df` names, leaving `index` itself
    untouched: LSH's remove() returns a new index, the IVF/PQ families
    remove in place — on a shallow copy here."""
    out = copy.copy(index)
    new = out.remove(ids_df)
    return out if new is None else new


class ZebraDatabase:
    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta
        self._index = None
        # table -> the schema its first read inferred: later reads pass
        # it, which skips Spark's one-task schema-inference job
        self._schemas: dict = {}
        self._recover_swaps()

    def _recover_swaps(self) -> None:
        """Roll an interrupted remove_df() FORWARD.  The commit marker is
        written only after every table's post-delete copy is fully in
        {table}_tmp, so once it exists the delete is durable: finish any
        pending swap per table.  Without the marker a leftover _tmp is a
        pre-commit crash — discard it (the delete never happened)."""
        marker = f"{self.path}/_swap_commit"
        if os.path.exists(marker):
            with open(marker) as f:
                tables = json.load(f)
            for table in tables:
                p = f"{self.path}/{table}"
                if os.path.exists(f"{p}_tmp"):
                    self._swap_in_tmp(table)
                else:  # swap already done; clear any leftover backup
                    shutil.rmtree(f"{p}_old", ignore_errors=True)
            os.remove(marker)
        else:
            for table in ("embeddings", "documents", "proplabels"):
                shutil.rmtree(
                    f"{self.path}/{table}_tmp", ignore_errors=True
                )

    def _swap_in_tmp(self, table: str) -> None:
        p = f"{self.path}/{table}"
        shutil.rmtree(f"{p}_old", ignore_errors=True)
        if os.path.exists(p):
            os.rename(p, f"{p}_old")
        os.rename(f"{p}_tmp", p)
        shutil.rmtree(f"{p}_old", ignore_errors=True)
        # Spark matches a cached plan by the table's path, not its files:
        # without this, an index built later over the swapped-in table
        # would reuse a cached bucket table still holding deleted rows
        self.spark.catalog.refreshByPath(p)

    # -- lifecycle (≙ new/open/open_or_create/save, core.rs:92-190) -------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        dim: int = DEFAULT_DIM,
        metric: str = "l2sq",
        model: str = "hash_tf",
        num_trees: int = 15,
        max_node_size: int = 5,
        seed: int = 42,
        index_kind: str = "lsh",
        index_options: dict | None = None,
    ) -> "ZebraDatabase":
        """index_kind picks the ANN family the facade fronts (VERDICT
        r7 #4) — 'lsh' (the reference's index, the default), 'ivf',
        'pq', or 'ivfpq'; the kind is recorded in the metadata JSON
        (≙ .zebra, reference src/database/core.rs:183-190) so open()
        restores the right family.  index_options carries per-family
        knobs (from_options reads the build keys; the search knobs go
        to search_vectors) and overrides the LSH num_trees/max_node_size
        args."""
        if index_kind not in FAMILIES:
            raise ValueError(
                f"index_kind {index_kind!r} not in {sorted(FAMILIES)}"
            )
        # fail at CREATE time, not first search (ADVICE r8: the CLI
        # could mint e.g. an image database with --index pq whose
        # cosine metric then made every non-exact query raise)
        check_metric(family(index_kind), metric)
        os.makedirs(path, exist_ok=True)
        opts = {
            "num_trees": num_trees,
            "max_node_size": max_node_size,
            "seed": seed,
        }
        if index_options:
            opts.update(index_options)
        meta = {
            "uuid": str(uuid.uuid4()),
            "dim": dim,
            "metric": metric,
            "model": model,
            "index_kind": index_kind,
            "index_options": opts,
            "n_batches": 0,
        }
        db = cls(spark, path, meta)
        db._write_meta()
        return db

    # default typed databases ≙ the reference's shipped type aliases
    # (src/database/default/{text,image,audio}.rs:8-15)

    @classmethod
    def create_default_text(cls, spark: SparkSession, path: str, **kw) -> "ZebraDatabase":
        """≙ DefaultTextDatabase = Database<384, L2SquaredDistance,
        BGESmallEn1_5>; offline the embedder falls back to hash_tf at the
        same dimension."""
        kw.setdefault("dim", 384)
        kw.setdefault("metric", "l2sq")
        return cls.create(spark, path, **kw)

    @classmethod
    def create_default_image(cls, spark: SparkSession, path: str, **kw) -> "ZebraDatabase":
        """≙ DefaultImageDatabase = Database<768, CosineDistance,
        image::VitBasePatch16_224>."""
        kw.setdefault("dim", 768)
        kw.setdefault("metric", "cosine")
        return cls.create(spark, path, **kw)

    @classmethod
    def create_default_audio(cls, spark: SparkSession, path: str, **kw) -> "ZebraDatabase":
        """≙ DefaultAudioDatabase = Database<768, CosineDistance,
        audio::VitBasePatch16_224> (audio embeds via the spectrogram
        image reduction, src/model/audio.rs:86-99)."""
        kw.setdefault("dim", 768)
        kw.setdefault("metric", "cosine")
        return cls.create(spark, path, **kw)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "ZebraDatabase":
        with open(f"{path}/zebra.json") as f:
            return cls(spark, path, json.load(f))

    @classmethod
    def open_or_create(cls, spark: SparkSession, path: str, **kw) -> "ZebraDatabase":
        if os.path.exists(f"{path}/zebra.json"):
            return cls.open(spark, path)
        return cls.create(spark, path, **kw)

    def _write_meta(self) -> None:
        with open(f"{self.path}/zebra.json", "w") as f:
            json.dump(self.meta, f, indent=2)

    def clear(self) -> None:
        """≙ clear_database (core.rs:194-198).  The label-propagation
        state (labelseeds/labelidx/proplabels, r14) clears with the
        corpus it labels."""
        for sub in ("documents", "embeddings", "index", "_batches",
                    "labelseeds", "labelidx", "proplabels"):
            shutil.rmtree(f"{self.path}/{sub}", ignore_errors=True)
        for f in ("label_names.json",):
            try:
                os.remove(f"{self.path}/{f}")
            except OSError:
                pass
        self.meta["n_batches"] = 0
        self._index = None
        self._schemas.clear()
        self._write_meta()

    # -- tables -----------------------------------------------------------

    def _committed_bases(self) -> list[int] | None:
        """Batch bases with a manifest entry (exactly-once ingest), or
        None when the db predates the manifest (legacy: no filtering).
        The manifest file is renamed into place AFTER both table
        appends, so its presence proves the whole batch landed."""
        d = f"{self.path}/_batches"
        if not os.path.isdir(d):
            return None
        return [
            int(n[: -len(".json")])
            for n in os.listdir(d)
            if n.endswith(".json")
        ]

    def last_manifest_epoch(self) -> int:
        """Highest `stream_epoch` recorded in any batch manifest, -1 if
        none.  The manifest rename is the batch's atomic commit point,
        so an epoch read from here is PROVEN applied even if the crash
        happened before the metadata write — the streaming ingest sink
        consults this once at (re)start to close that replay window
        (r7; the window is gone, not merely documented)."""
        best = -1
        d = f"{self.path}/_batches"
        if not os.path.isdir(d):
            return best
        for n in os.listdir(d):
            if not n.endswith(".json"):
                continue
            try:
                with open(f"{d}/{n}") as f:
                    best = max(best, int(json.load(f).get("stream_epoch", -1)))
            except (OSError, ValueError):
                continue
        return best

    def _read(self, table: str, committed_only: bool = True) -> DataFrame | None:
        # crash recovery is _recover_swaps' job (runs at construction);
        # resurrecting a {table}_old would UNDO a delete the
        # _swap_commit marker already declared durable.  Reads see only
        # MANIFESTED batches: rows from an append that crashed before
        # its manifest rename are invisible (exactly-once), though their
        # id range stays reserved (insert_records scans unfiltered).
        p = f"{self.path}/{table}"
        if not os.path.exists(p):
            return None
        schema = self._schemas.get(table)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        df = reader.parquet(p)
        if table == "documents" and "modality" in df.columns:
            # partition discovery type-infers the modality= directory
            # value, so a numeric-looking modality ("modality=123") would
            # come back as int and break unions with the flat-layout /
            # in-memory string schema; pin it (ADVICE r4)
            df = df.withColumn("modality", F.col("modality").cast("string"))
        # cached after the cast, so later reads type modality as string
        self._schemas.setdefault(table, df.schema)
        if committed_only:
            bases = self._committed_bases()
            if bases is not None:
                # one manifest entry per ingest batch — thousands at
                # most, so an in-filter on the id's base bits beats a
                # join and still prunes at the row-group level
                df = df.filter(
                    F.shiftrightunsigned(F.col("vec_id"), _BATCH_SHIFT)
                    .isin([b >> _BATCH_SHIFT for b in bases])
                )
        return df

    def _documents_flat_layout(self) -> bool:
        """True when the documents table uses the legacy flat layout —
        parquet part- files at the documents/ root instead of modality=
        partition directories.  Appends must then stay flat: Spark's
        partition discovery rejects a directory mixing both shapes
        ('Conflicting directory structures')."""
        p = f"{self.path}/documents"
        if not os.path.isdir(p):
            return False
        return any(
            n.startswith("part-") and not n.endswith(".crc")
            for n in os.listdir(p)
        )

    def documents(self) -> DataFrame:
        df = self._read("documents")
        return df if df is not None else self.spark.createDataFrame(
            [], "vec_id bigint, doc string, modality string"
        )

    def embeddings(self) -> DataFrame:
        df = self._read("embeddings")
        return df if df is not None else self.spark.createDataFrame(
            [], "vec_id bigint, embedding array<double>"
        )

    def _corpus(self) -> DataFrame:
        """(vec_id, emb array<double>): the shape the kernels read."""
        return self.embeddings().select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )

    def count(self) -> int:
        return self.embeddings().count()

    def is_empty(self) -> bool:
        """≙ is_empty/no_vectors (lsh.rs:389-409)."""
        return self.embeddings().isEmpty()

    # -- ingest (≙ insert_documents/insert_records, core.rs:232-254) ------

    def insert_texts(self, texts: list[str]) -> DataFrame:
        df = self.spark.createDataFrame([(t,) for t in texts], "doc string")
        return self.insert_documents(df, text_col="doc")

    def insert_documents(
        self,
        df: DataFrame,
        text_col: str = "doc",
        manifest_extra: dict | None = None,
    ) -> DataFrame:
        """Embed with the configured model, then append records.
        `manifest_extra` rides the batch manifest (see insert_records)."""
        emb = self._embed_frame(df, text_col)
        return self.insert_records(
            emb.select(
                F.col(text_col).alias("doc"),
                F.col("embedding"),
                F.lit("text").alias("modality"),
            ),
            manifest_extra=manifest_extra,
        )

    def _embed_frame(self, df: DataFrame, text_col: str) -> DataFrame:
        """Embed `text_col` with the configured model: the native
        row-local hashing-TF path for 'hash_tf', else the model-backed
        pandas_udf (embed_column — factory resolved at plan time, model
        loaded lazily once per executor)."""
        if self.meta["model"] == "hash_tf":
            return hash_tf_embedding(df, text_col, None, self.meta["dim"])
        from zebra_spark.embed import embed_column

        udf = embed_column(self.meta["model"])
        return df.withColumn(
            "embedding", udf(F.col(text_col)).cast("array<double>")
        )

    def _materialize(self, df: DataFrame, reliable: bool, tag: str) -> DataFrame:
        """Pin a frame's rows for reuse within one insert.

        localCheckpoint (default) stores blocks on executors — fastest
        locally, but on a real cluster an executor loss mid-insert
        invalidates the blocks and fails the batch (which is then safely
        replayed: the manifest commit point has not landed, so the
        partial appends stay invisible).  reliable=True round-trips
        through a staging parquet dir under the store instead — the
        write-first pattern that survives executor loss — at the cost of
        one extra write+read (VERDICT r5 #6)."""
        if not reliable:
            return df.localCheckpoint()
        path = f"{self.path}/_staging/{tag}"
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def insert_records(
        self,
        df: DataFrame,
        reliable: bool = False,
        manifest_extra: dict | None = None,
    ) -> DataFrame:
        """df: (doc, embedding array<double>[, modality]).  Assigns batch-
        scoped DENSE unique ids (base + 0..n-1) and appends both tables.
        `reliable=True` swaps the two executor-memory localCheckpoints
        for staging-parquet round-trips (see _materialize) — use on a
        real cluster where executors can be lost mid-insert.

        Id assignment is zipWithIndex-style without RDDs: materialize the
        batch once (localCheckpoint — also makes the two table writes see
        identical rows), count rows per physical partition (tiny driver
        list), broadcast the cumulative offsets back, and number rows
        within each partition.  Dense ids can never spill into another
        batch's id range (a raw monotonically_increasing_id would exceed
        the 2^40 batch stride whenever partition_id >= 128).

        EXACTLY-once under crash-replay: the batch manifest entry
        (_batches/{base}.json, written via tmp + atomic rename) lands
        only AFTER both table appends; reads filter to manifested
        bases, so a crashed append's rows are invisible and a replay
        simply writes the same logical batch under a fresh base.  The
        base comes from the MAX id on an UNFILTERED scan, so an orphan
        batch's id range is never reused (its invisible rows can't be
        resurrected by a later batch landing in the same range)."""
        batch = self.meta["n_batches"]
        existing = self._read("embeddings", committed_only=False)
        if existing is None:
            cur_max = 0
        else:
            cur_max = (
                existing.agg(F.coalesce(F.max("vec_id"), F.lit(0)).alias("m"))
                .collect()[0]
                .m
            )
        base = ((cur_max >> _BATCH_SHIFT) + 1) << _BATCH_SHIFT
        # caller-supplied fields committed ATOMICALLY with the batch via
        # the manifest rename — e.g. the streaming sink's stream_epoch,
        # which makes epoch application provable even if the crash lands
        # before the metadata write (see last_manifest_epoch)
        manifest_extra = dict(manifest_extra or {})
        if "modality" not in df.columns:
            df = df.withColumn("modality", F.lit("text"))
        # capture physical provenance BEFORE materializing: _pid/_mid are
        # persisted through the materialization, so the id assignment
        # below is a pure function of the materialized rows — the
        # default and reliable paths (whose read-back may repack rows
        # into different partitions) assign identical ids
        df = df.withColumn("_pid", F.spark_partition_id()).withColumn(
            "_mid", F.monotonically_increasing_id()
        )
        # materialize once: stabilizes rows/partitions for the dimension
        # check, the id assignment, and both table writes below
        df = self._materialize(df, reliable, f"in_{base}")
        # one job: rows per source partition (one row each — small at
        # any data scale) and the dimension check ≙ Embedding<N>::try_from
        # length validation (reference src/lib.rs:31-46): schemas are
        # runtime-validated here instead of const generics (SURVEY §1.3)
        dim = self.meta["dim"]
        counts = (
            df.groupBy("_pid")
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.sum((F.size("embedding") != dim).cast("int")).alias("bad"),
            )
            .collect()
        )
        n_bad = sum(r.bad or 0 for r in counts)
        if n_bad:
            raise ValueError(
                f"{n_bad} record(s) have embedding dimension != {dim}"
            )
        offsets, acc = {}, 0
        for r in sorted(counts, key=lambda r: r._pid):
            offsets[r._pid] = acc
            acc += r["count"]
        if acc >= (1 << _BATCH_SHIFT):
            raise ValueError(f"batch of {acc} rows exceeds the id stride")
        off_df = F.broadcast(
            self.spark.createDataFrame(
                [(int(p), int(o)) for p, o in offsets.items()],
                "_pid int, _off bigint",
            )
        )
        wp = Window.partitionBy("_pid").orderBy("_mid")
        with_ids = (
            df.withColumn("_rn", F.row_number().over(wp))
            .join(off_df, "_pid")
            .withColumn(
                "vec_id", F.lit(base) + F.col("_off") + F.col("_rn") - 1
            )
            .drop("_pid", "_mid", "_rn", "_off")
        )
        with_ids = self._materialize(with_ids, reliable, f"ids_{base}")
        with_ids.select("vec_id", "embedding").write.mode("append").parquet(
            f"{self.path}/embeddings"
        )
        # documents are hive-partitioned by modality: a text-only query
        # (the common case — each CLI database is single-modality) scans
        # only its partition directories, and at lake scale the listing
        # itself is pruned.  Spark surfaces `modality` back as a normal
        # column on read, so consumers are unchanged.  Stores written
        # before the partitioned layout keep their flat layout on append:
        # mixing part- files and modality= dirs in one directory makes
        # partition discovery throw 'Conflicting directory structures'
        # (ADVICE r4).  Such stores upgrade to the partitioned layout at
        # the next full rewrite (remove/deduplicate go through _tmp).
        doc_w = with_ids.select("vec_id", "doc", "modality").write.mode("append")
        if not self._documents_flat_layout():
            doc_w = doc_w.partitionBy("modality")
        doc_w.parquet(f"{self.path}/documents")
        # commit point: manifest rename AFTER both appends (atomic on
        # POSIX; on a cluster use the object store's atomic put)
        bdir = f"{self.path}/_batches"
        os.makedirs(bdir, exist_ok=True)
        tmp = f"{bdir}/.{base}.json.tmp"
        with open(tmp, "w") as f:
            json.dump({**manifest_extra, "base": base, "rows": acc}, f)
        os.replace(tmp, f"{bdir}/{base}.json")
        self.meta["n_batches"] = batch + 1
        self._write_meta()
        if reliable:
            # the staging files served their purpose (both appends are
            # committed); re-point the returned handle at the committed
            # table, restricted to this batch's id range, and drop them.
            # Deletion goes through the Hadoop-FS-aware helper and
            # removes only THIS batch's tagged subdirs: shutil on a
            # scheme'd store path silently no-ops (leaking every
            # reliable batch's staging parquet), and removing the whole
            # _staging dir would delete a concurrent insert's staging
            # mid-write (ADVICE r6).
            inserted = (
                self.spark.read.parquet(f"{self.path}/embeddings")
                .filter(
                    (F.col("vec_id") >= base)
                    & (F.col("vec_id") < base + (1 << _BATCH_SHIFT))
                )
                .select("vec_id", "embedding")
            )
            from zebra_spark.fsutil import rmtree as _rmtree

            for tag in (f"in_{base}", f"ids_{base}"):
                _rmtree(self.spark, f"{self.path}/_staging/{tag}")
            try:
                # drop the parent only when empty: rmdir refuses a
                # non-empty dir, so a concurrent insert's staging is safe
                os.rmdir(f"{self.path}/_staging")
            except OSError:
                pass
        else:
            # return the checkpointed rows directly: no re-scan of every
            # batch's files, and the handle stays valid even if a later
            # remove()/dedup swaps the table directory
            inserted = with_ids.select("vec_id", "embedding")
        if self._index is not None:
            # incremental maintenance (≙ LSHIndex::add, lsh.rs:440-466):
            # the quantizer (hyperplanes / centroids / codebooks) is
            # frozen, so only the new rows get encoded — no rebuild.  A
            # fresh build still happens lazily if no index existed yet.
            # LSH.add returns a new index; the IVF/PQ families mutate in
            # place and return the row count.
            added = self._index.add(
                inserted.select(
                    "vec_id", F.col("embedding").cast("array<double>").alias("emb")
                )
            )
            if added is not None and not isinstance(added, int):
                self._index = added
            # each add() unions one more unpartitioned appendix onto the
            # probe path; compact once the union stack gets deep enough
            # to matter (restores the single clustered scan).  IVF has
            # no append stack (assignments union flat), hence the guard.
            if (
                getattr(self._index, "appends", 0) >= _AUTO_COMPACT_APPENDS
                and hasattr(self._index, "compact")
            ):
                self._index = self._index.compact()
        return inserted

    # -- mutation (≙ remove/deduplicate, core.rs:205-224) -----------------

    def remove(self, ids: list[int]) -> None:
        ids_df = self.spark.createDataFrame([(int(i),) for i in ids], "vec_id bigint")
        self.remove_df(F.broadcast(ids_df))

    def remove_df(self, ids_df: DataFrame) -> None:
        """Distributed delete: anti-join each table against an id
        DataFrame (never collected to the driver).

        Two-phase swap so BOTH tables commit or neither (ADVICE r1: an
        independent per-table swap could crash with embeddings deleted
        but documents rolled back).  Phase 1 writes every table's kept
        rows to {table}_tmp; the _swap_commit marker is the commit
        point; phase 2 swaps each _tmp in.  _recover_swaps() rolls an
        interrupted run forward past the marker, or discards pre-commit
        _tmp dirs.

        A live index drops the same rows through its family's remove()
        (≙ Database::remove, core.rs:205-213) instead of being rebuilt.
        The result is installed only after the swap, so a failure before
        the commit marker leaves the old index serving.

        When the label-propagation state is active (r14, the facade's
        propagate_labels lifecycle) the propagated-label table rides
        the same two-phase swap — a removed vector loses its label row
        atomically with its embedding — and a delete that hits a
        frozen LABEL SEED is refused exactly like tick_takedown /
        remove_from_cosine_state refuse it: the persisted labelidx
        means every propagated vote could have counted that seed, so
        removing it is a label-state rebuild (fresh propagate_labels
        bootstrap over the surviving seed set), not a delete."""
        from zebra_spark.streaming import recover_state_swaps

        # repair a crashed proplabels swap BEFORE the existence checks
        # (ADVICE r14): a stream/tick takedown crash can leave
        # proplabels as __compact residue with the live dir absent —
        # a raw os.path.exists would then skip the table here, and a
        # later recovery would resurrect label rows for vectors this
        # delete removed (the backlog anti-join never re-votes them)
        recover_state_swaps(self.spark, self.path, ("proplabels",))
        if os.path.exists(f"{self.path}/labelseeds"):
            hit = (
                self.spark.read.parquet(f"{self.path}/labelseeds")
                .join(
                    F.broadcast(
                        ids_df.select(F.col("vec_id").alias("lab_id"))
                    ),
                    "lab_id",
                    "left_semi",
                )
                .limit(1)
                .count()
            )
            if hit:
                raise ValueError(
                    "remove ids include frozen label seeds (labelseeds/ "
                    "feeds the persisted labelidx, so every propagated "
                    "label could have counted them) — rebuild the label "
                    "state over the surviving seed set instead"
                )
        tables = [
            t for t in ("embeddings", "documents")
            if self._read(t) is not None
        ]
        if os.path.exists(f"{self.path}/proplabels"):
            tables.append("proplabels")
        for table in tables:
            src = (
                self.spark.read.parquet(f"{self.path}/proplabels")
                if table == "proplabels"
                else self._read(table)
            )
            kept = src.join(
                ids_df.select("vec_id"), "vec_id", "left_anti"
            )
            w = kept.write.mode("overwrite")
            if table == "documents" and "modality" in kept.columns:
                # preserve the modality hive-partitioning across rewrites
                w = w.partitionBy("modality")
            w.parquet(f"{self.path}/{table}_tmp")
        index = None if self._index is None else _without(self._index, ids_df)
        # invalidate any persisted index BEFORE the commit marker: once
        # the marker exists the delete is durable, so the index-stale
        # flag must already be durable too (a crash after the marker but
        # before a later meta write would otherwise reopen with a fresh-
        # looking index still holding the deleted vectors)
        self.meta["indexed_batches"] = -1
        self._write_meta()
        self._index = None  # holds the deleted rows from here on
        marker = f"{self.path}/_swap_commit"
        with open(marker, "w") as f:
            json.dump(tables, f)
        for table in tables:
            self._swap_in_tmp(table)
        os.remove(marker)
        if index is not None:
            # the swap deleted the files the old corpus read
            index.corpus = self._corpus()
        self._index = index

    def deduplicate(self) -> int:
        """Exact dedup, first id wins (≙ core.rs:216-224, bitwise compare
        lsh.rs:279).  Returns number of removed rows.  The duplicate id
        set stays a DataFrame end-to-end (no driver collect) — only the
        scalar count comes back."""
        emb = self._read("embeddings")
        if emb is None:
            return 0
        w = Window.partitionBy("embedding").orderBy("vec_id")
        dupes = (
            emb.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") > 1)
            .select("vec_id")
            .localCheckpoint()  # don't recompute per anti-join
        )
        n = dupes.count()
        if n:
            self.remove_df(dupes)
        return n

    # -- index / search (≙ query_documents/query_vectors, core.rs:267-313)

    def index(self, rebuild: bool = False):
        """Build, load, or return the database's ANN index — whichever
        family the metadata records (index_kind).  Every family shares
        the same lifecycle: lazily built from the embeddings table
        (from_options reads the family's own index_options keys),
        persisted under {path}/index by save_index(), restored by
        load() when the persisted copy covers every batch."""
        cls_ = family(self.meta.get("index_kind", "lsh"))
        # fsutil, not os.path (review r17, completing the ADVICE r16
        # fix): save_index writes through fsutil, so a builtin probe
        # would answer "missing" on any non-local filesystem it
        # supports and silently retrain from scratch on every call
        from zebra_spark import fsutil

        persisted_fresh = (
            fsutil.exists(self.spark, f"{self.path}/index/metadata.json")
            and self.meta.get("indexed_batches") == self.meta["n_batches"]
        )
        if self._index is None and not rebuild and persisted_fresh:
            self._index = cls_.load(self.spark, f"{self.path}/index")
        if self._index is None or rebuild:
            self._index = cls_.from_options(
                self.spark, self._corpus(), self.meta["index_options"]
            )
        return self._index

    def save_index(self) -> None:
        """Persist the index (whatever family) under {path}/index (≙
        the reference's tree keyspace fsync, lsh.rs:87-89,170-172) so a
        later open() restores it without a rebuild."""
        self.index().save(f"{self.path}/index")
        self.meta["indexed_batches"] = self.meta["n_batches"]
        self._write_meta()

    def query_texts(
        self, texts: list[str], k: int = 10, exact: bool = False,
        where: str | None = None,
    ) -> DataFrame:
        """Embed query docs then search (≙ query_documents, core.rs:267).
        Returns ranked (query_id, vec_id, rank, dist, doc) — rank is KEPT
        (the reference computes then discards it, core.rs:304-305).
        `where` restricts admissible neighbours by a SQL predicate over
        the documents table (query_vectors docstring, r16)."""
        qdf = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "query_id bigint, doc string"
        )
        return self._query_embedded(
            self._embed_frame(qdf, "doc"), "query_id", k, exact, where
        )

    def query_blobs(
        self, blobs: list[bytes], modality: str = "image", k: int = 10,
        exact: bool = False, where: str | None = None,
    ) -> DataFrame:
        """Query by raw binary documents (≙ CLI image/audio query,
        src/main.rs:209-294): decode+embed via the multimodal path
        (deterministic fake offline — real models plug into the same
        mapInPandas shape), then vector search."""
        from zebra_spark.multimodal import decode_and_embed, to_multimodal

        raw = self.spark.createDataFrame(
            [(i, b) for i, b in enumerate(blobs)], "id bigint, content binary"
        )
        feats = decode_and_embed(
            to_multimodal(raw, "id", "content", modality), dim=self.meta["dim"]
        )
        return self._query_embedded(feats, "id", k, exact, where)

    def _query_embedded(self, emb: DataFrame, id_col: str, k, exact, where):
        """Search with a small embedded query batch: its (id_col,
        embedding) rows are collected, queries ordered by id."""
        got = {r[id_col]: r.embedding for r in emb.select(id_col, "embedding").collect()}
        qids = sorted(got)
        return self.query_vectors(
            np.array([got[q] for q in qids], dtype=np.float64),
            k=k, exact=exact, query_ids=qids, where=where,
        )

    def query_vectors(
        self,
        vectors: np.ndarray,
        k: int = 10,
        exact: bool = False,
        query_ids=None,
        where: str | None = None,
    ) -> DataFrame:
        """ANN via the index family's search_vectors (exact=False) or
        brute force; always exact re-rank; joins documents back (≙
        read_documents, core.rs:358).

        `vectors` is validated here, where outside input enters: a
        single vector is one query, a zero-query batch returns the
        empty result, a dimension other than the database's is refused
        like insert_records refuses it, and `query_ids` must name each
        query once — all before any Spark job runs.

        where (r16, VERDICT r15 #4): an optional SQL predicate over the
        DOCUMENTS table (columns vec_id, doc, modality) restricting the
        admissible neighbours — `label = X AND k nearest` in one call.
        PRE-filter strategy throughout: the predicate lands on the
        documents scan, the surviving ids semi-join the search path
        (exact: before the distance math; every index family: before
        candidate scoring, via search_vectors' filter_ids), so a selective
        predicate can never empty the top-k the way post-filtering a
        result would.  The reference has no filter surface (its only
        predicate is the metric, lsh.rs:544-565) — extension surface."""
        dim = self.meta["dim"]
        vectors = np.asarray(vectors, dtype=np.float64)
        if vectors.ndim < 2:  # a single vector; [] is zero queries
            vectors = vectors.reshape(1, -1) if vectors.size else vectors.reshape(0, dim)
        if vectors.ndim != 2 or vectors.shape[1] != dim:
            raise ValueError(
                f"{len(vectors)} query vector(s) have embedding dimension != {dim}"
            )
        if query_ids is not None:
            query_ids = [int(q) for q in query_ids]
            if len(query_ids) != len(vectors):
                raise ValueError(
                    f"{len(query_ids)} query_ids for {len(vectors)} query vectors"
                )
            if len(set(query_ids)) != len(query_ids):
                raise ValueError("query_ids repeat an id")
        # ≙ empty-index short-circuit core.rs:272-274.  A live index
        # answers an empty corpus itself, so only the exact path and the
        # first build (LSHIndex.build refuses an empty corpus) pay the
        # isEmpty job.
        if not len(vectors) or (
            (exact or self._index is None) and self.is_empty()
        ):
            return self.spark.createDataFrame(
                [], "query_id bigint, vec_id bigint, rank int, dist double,"
                " doc string"
            )
        filter_ids = (
            None if where is None
            else self.documents().filter(where).select("vec_id")
        )
        if exact:
            res = self._brute_force(vectors, k, query_ids, filter_ids)
        else:
            index = self.index()
            res = index.search_vectors(
                vectors, k, self.meta["metric"], query_ids=query_ids,
                filter_ids=filter_ids,
                **search_knobs(type(index), self.meta["index_options"]),
            )
        docs = self.documents().select(
            F.col("vec_id"), F.col("doc")
        )
        return (
            res.withColumnRenamed("neighbor_id", "vec_id")
            .join(docs, "vec_id", "left")
            .select("query_id", "vec_id", "rank", "dist", "doc")
        )

    def _brute_force(self, vectors, k, query_ids=None, filter_ids=None):
        corpus = self._corpus()
        if filter_ids is not None:
            # admissibility BEFORE the distance math (query_vectors
            # docstring): the semi-join prunes the corpus scan
            corpus = corpus.join(
                filter_ids.select("vec_id"), "vec_id", "left_semi"
            )
        metric = zf.METRICS[self.meta["metric"]]
        return rank_top_k(
            corpus.crossJoin(F.broadcast(query_frame(self.spark, vectors, query_ids)))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                metric(F.col("qe"), F.col("emb")).alias("dist"),
            ),
            k,
        )

    # -- semi-supervised labels (r14, VERDICT r13 #1) ----------------------
    #
    # The label-propagation lifecycle (queries/tick.py's
    # init_label_state / propagate_label_backlog / add_label_seeds —
    # first-class and driver-gated since r13) exposed through the same
    # facade that fronts the four ANN index families, so a user of the
    # CRUD surface can label a corpus without touching the tick/stream
    # maintainers.  State lives beside the tables it labels:
    # {path}/labelseeds, {path}/labelidx, {path}/proplabels — the SAME
    # layout the batch tick and the streaming maintainers use, so a
    # facade-labeled store can be adopted by either.  No new kernel
    # code: every method below is a thin adapter over those helpers.

    def _label_names(self) -> dict[str, int]:
        p = f"{self.path}/label_names.json"
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _map_label_names(self, raw_labels: list) -> list[int]:
        """Map seed labels to the bigint ids the propagation kernel
        votes over.  Integer labels pass through; string labels get
        dense ids recorded in {path}/label_names.json (tmp + atomic
        rename, like the batch manifests) so labels() can surface the
        names back.  Mixing the two styles in one database is refused —
        a string that collided with a passthrough int would silently
        merge two classes.  The style is persisted ACROSS calls too
        (ADVICE r14): an int bootstrap (labelseeds without
        label_names.json) refuses later string batches, whose dense
        ids from 0 would collide with the passthrough ints; a string
        bootstrap (label_names.json present) refuses later int
        batches, which labels() would join wrong label_names onto."""
        strs = [l for l in raw_labels if isinstance(l, str)]
        names_exist = os.path.exists(f"{self.path}/label_names.json")
        if not strs:
            if raw_labels and names_exist:
                raise ValueError(
                    "this database's label seeds use string labels "
                    "(label_names.json exists) — int labels in a later "
                    "batch would join wrong label_names; use the same "
                    "string labels, or clear the label state"
                )
            return [int(l) for l in raw_labels]
        if len(strs) != len(raw_labels):
            raise ValueError(
                "seed labels mix strings and ints — use one style per "
                "database (string labels are mapped to dense ids in "
                "label_names.json; int labels pass through unmapped)"
            )
        if not names_exist and os.path.exists(f"{self.path}/labelseeds"):
            raise ValueError(
                "this database's label seeds use int labels (no "
                "label_names.json) — string labels in a later batch "
                "would get dense ids from 0 that collide with the "
                "passthrough ints, silently merging two classes; use "
                "int labels, or clear the label state"
            )
        names = self._label_names()
        nxt = max(names.values(), default=-1) + 1
        for l in strs:
            if l not in names:
                names[l] = nxt
                nxt += 1
        tmp = f"{self.path}/.label_names.json.tmp"
        with open(tmp, "w") as f:
            json.dump(names, f, indent=2)
        os.replace(tmp, f"{self.path}/label_names.json")
        return [names[l] for l in raw_labels]

    def _seed_frame(self, seeds) -> DataFrame:
        """Normalize a seed spec to the kernel's (lab_id, label, le).

        Accepts a DataFrame already shaped (lab_id, label, le) — e.g.
        labeled corpus members — or a list of (label, example) pairs:
        `example` is a TEXT (embedded with the database's configured
        model, the query_texts path) or a ready embedding vector (the
        CLI's binary modalities decode blobs to vectors first).
        List-built seeds get NEGATIVE lab_ids, descending below any
        earlier batch's, so they can never collide with corpus vec_ids
        (always >= 0) and successive add_label_seeds batches stay
        id-disjoint, as its contract requires."""
        if isinstance(seeds, DataFrame):
            return seeds.select(
                F.col("lab_id").cast("bigint").alias("lab_id"),
                F.col("label").cast("bigint").alias("label"),
                F.col("le").cast("array<double>").alias("le"),
            )
        labels = self._map_label_names([l for l, _ in seeds])
        start = -1
        if os.path.exists(f"{self.path}/labelseeds"):
            m = (
                self.spark.read.parquet(f"{self.path}/labelseeds")
                .agg(F.min("lab_id"))
                .first()[0]
            )
            if m is not None and m < 0:
                start = m - 1
        texts = [
            (i, ex) for i, (_, ex) in enumerate(seeds) if isinstance(ex, str)
        ]
        vecs: dict[int, list[float]] = {
            i: [float(x) for x in ex]
            for i, (_, ex) in enumerate(seeds)
            if not isinstance(ex, str)
        }
        if texts:
            qdf = self.spark.createDataFrame(texts, "sid bigint, doc string")
            emb = self._embed_frame(qdf, "doc")
            for r in emb.select("sid", "embedding").collect():
                vecs[r.sid] = [float(x) for x in r.embedding]
        rows = [
            (start - i, int(labels[i]), vecs[i]) for i in range(len(seeds))
        ]
        return self.spark.createDataFrame(
            rows, "lab_id bigint, label bigint, le array<double>"
        )

    def _check_label_vote_shape(self, weighted: bool) -> None:
        """The two votes append DIFFERENT schemas ((vec_id, label,
        votes) vs (vec_id, label, score)), so the weighted flag must
        stay constant over a label state's life — detected from the
        persisted table rather than trusted from the caller."""
        if not os.path.exists(f"{self.path}/proplabels"):
            return
        cols = self.spark.read.parquet(f"{self.path}/proplabels").columns
        was = "score" in cols
        if was != weighted:
            raise ValueError(
                f"label state was propagated with weighted={was}; the "
                "vote shape is fixed at first propagation (the two "
                "votes append different schemas) — pass the same flag, "
                "or clear the label state and re-bootstrap"
            )

    def propagate_labels(self, seeds=None, weighted: bool = False) -> DataFrame:
        """Semi-supervised labeling of the whole store in one call:
        bootstrap the frozen seed set + its persisted ANN index on the
        FIRST call (pass `seeds` — see _seed_frame for the accepted
        shapes), then propagate labels to every embedding that has no
        label row yet (tick.propagate_label_backlog: ANN kNN vote via
        the persisted labelidx, BACKLOG-only, so repeat calls after new
        inserts are delta-cost and a repeat call with nothing new
        appends zero rows).  Returns labels().

        weighted=False -> majority vote (vec_id, label, votes);
        weighted=True -> confidence-scored 1/(1+dist) vote (vec_id,
        label, score).  The flag is fixed at first propagation.

        Growing the seed set later is add_label_seeds (which
        invalidates every propagated label — the next call here then
        re-propagates the corpus); a fresh bootstrap over a CHANGED
        seed set is clear-label-state + propagate_labels(seeds=...)."""
        from zebra_spark.queries.tick import (
            init_label_state,
            propagate_label_backlog,
        )
        from zebra_spark.streaming import recover_state_swaps

        recover_state_swaps(self.spark, self.path, ("proplabels",))
        from zebra_spark import fsutil

        have = fsutil.exists(
            self.spark, f"{self.path}/labelidx/metadata.json"
        )
        if seeds is None and not have:
            raise ValueError(
                "no label state yet — bootstrap with "
                "propagate_labels(seeds=...)"
            )
        if seeds is not None and have:
            raise ValueError(
                "label state already bootstrapped — grow the seed set "
                "with add_label_seeds(...) or clear it first"
            )
        self._check_label_vote_shape(weighted)
        if seeds is not None:
            sdf = self._seed_frame(seeds)
            dim = self.meta["dim"]
            n_bad = sdf.filter(F.size("le") != dim).count()
            if n_bad:
                raise ValueError(
                    f"{n_bad} seed(s) have embedding dimension != {dim}"
                )
            init_label_state(self.spark, self.path, sdf)
        propagate_label_backlog(
            self.spark,
            self.path,
            self._corpus(),
            weighted=weighted,
        )
        return self.labels()

    def add_label_seeds(self, seeds) -> int:
        """Grow the frozen label seed set (tick.add_label_seeds: assign
        to the FROZEN centroids, persist, invalidate proplabels/ so the
        next propagate_labels re-votes the corpus).  Same seed shapes
        as propagate_labels; returns seeds added."""
        from zebra_spark.queries.tick import add_label_seeds as _add
        from zebra_spark import fsutil

        if not fsutil.exists(
            self.spark, f"{self.path}/labelidx/metadata.json"
        ):
            raise ValueError(
                "no label state yet — bootstrap with "
                "propagate_labels(seeds=...)"
            )
        return _add(self.spark, self.path, self._seed_frame(seeds))

    def labels(self) -> DataFrame:
        """The propagated-label table (vec_id, label, votes|score),
        with `label_name` joined back when the seeds carried string
        labels.  Reads through streaming.read_label_table, so a
        crashed remove_df swap is repaired first."""
        from zebra_spark.streaming import read_label_table, recover_state_swaps

        # repair a crashed swap before the existence check, like every
        # other proplabels entry point — __compact residue with the
        # live dir absent must not read as "never propagated"
        recover_state_swaps(self.spark, self.path, ("proplabels",))
        names = self._label_names()
        if not os.path.exists(f"{self.path}/proplabels"):
            # never propagated: return the FULL stable schema (ADVICE
            # r14 — callers selecting the vote column must not break
            # only in the empty case).  The vote column is `votes`
            # (the unweighted shape) because the weighted/score shape
            # is only fixed at first propagation, which also creates
            # proplabels — so an empty frame always predates it.
            empty = self.spark.createDataFrame(
                [], "vec_id bigint, label bigint, votes bigint"
            )
            if names:
                empty = empty.withColumn(
                    "label_name", F.lit(None).cast("string")
                )
            return empty
        df = read_label_table(self.spark, self.path)
        if names:
            ndf = F.broadcast(
                self.spark.createDataFrame(
                    [(int(v), k) for k, v in names.items()],
                    "label bigint, label_name string",
                )
            )
            df = df.join(ndf, "label", "left")
        return df

    # -- maintenance gates (r15, VERDICT r14 #2) ---------------------------

    def _retrain_gate(self, retrain_frac: float) -> bool | None:
        """Codebook-staleness answer WITHOUT building an index (ADVICE
        r15: audit() used to call self.index(), which on a freshly
        opened database with a stale or absent persisted index TRAINED
        brand-new codebooks — n_added=0, so the gate answered False in
        exactly the stale case it should flag, and the documented
        read-only audit silently ran a k-means job).

        Resolution order:
        - a warm in-memory index answers directly (it carries any
          unsaved appends' counters);
        - a persisted index covering every batch answers from its
          metadata.json counters — one tiny file read, no build;
        - a persisted index MISSING batches is stale by definition
          (the codebooks never saw them) -> True, sized against the
          same volume threshold via the batch counters;
        - no index anywhere -> None (nothing trained, nothing stale).
        """
        from zebra_spark import fsutil
        from zebra_spark.index.pq import retrain_due

        if self._index is not None:
            return bool(self._index.needs_retrain(retrain_frac))
        meta_path = f"{self.path}/index/metadata.json"
        # fsutil, not os.path/open (ADVICE r16): save_index writes
        # through fsutil, so on any non-local filesystem it supports a
        # builtin reader would wrongly answer None ("missing") or raise
        if not fsutil.exists(self.spark, meta_path):
            return None
        indexed = self.meta.get("indexed_batches")
        if indexed is not None and indexed != self.meta["n_batches"]:
            # batches landed after the last save_index(): the persisted
            # codebooks are stale for them regardless of counters
            return True
        counters = json.loads(fsutil.read_text(self.spark, meta_path))
        # the ONE shared trigger formula (ADVICE r16) — same function
        # PQIndex/IVFPQIndex.needs_retrain evaluate on warm counters
        return retrain_due(
            int(counters.get("n_added", 0)),
            int(counters.get("n_trained", 0)),
            retrain_frac,
        )

    def audit(
        self,
        sf_dir: str | None = None,
        export_dir: str | None = None,
        batch: DataFrame | None = None,
        reseed_threshold: float = 5.0,
        rebalance_threshold: float = 1.5,
        retrain_frac: float = 0.5,
    ) -> dict:
        """The maintenance-gate family through the facade (the
        label-prop pattern one tier down): every needs_* trigger the
        engine ships, bound to whatever state THIS database carries,
        plus the ten-section corpus snapshot_audit when a
        fixture-layout `sf_dir` is passed.  Thin adapters only — no
        new kernel code.

        Returns {"gates": {...}, "sections": DataFrame | None}.
        Each gate is True/False when its target state exists, None
        when not applicable to this database:

        - index_needs_retrain: PQ/IVFPQ codebook staleness, answered
          WITHOUT building an index (_retrain_gate: warm index
          counters, else persisted metadata.json counters, else a
          stale-persisted True) — None for LSH/IVF databases (no
          trained codebooks), for empty stores, AND for PQ/IVFPQ
          stores that have never trained/persisted an index (nothing
          exists to be stale; callers must treat None as "no signal",
          not False).
        - blocking_needs_reseed: when the path carries an adopted
          cosine blocking state ({path}/seeds — the tick/stream
          maintainers' layout), queries.dedup.needs_reseed over
          `batch` (default: the state's committed vectors) against
          the persisted drift baseline, or a baseline computed over
          the committed vectors when none was persisted.
        - export_needs_rebalance: text.needs_rebalance over
          `export_dir` when given (the published training-export
          tree is external to the database path).

        `sections` is q_snapshot_audit's (section, n_rows, checksum)
        summary over `sf_dir` — None unless a corpus dir is passed
        (the audit sections read the TPC-H-ish fixture layout, not
        the database's own tables).  Read-only: nothing is persisted
        or mutated, so a nightly audit can run beside a live tick."""
        gates: dict[str, bool | None] = {}

        retrainable = hasattr(
            family(self.meta.get("index_kind", "lsh")), "needs_retrain"
        )
        if retrainable and not self.is_empty():
            gates["index_needs_retrain"] = self._retrain_gate(retrain_frac)
        else:
            gates["index_needs_retrain"] = None

        if os.path.exists(f"{self.path}/seeds"):
            from zebra_spark.queries.dedup import (
                cell_drift_audit,
                needs_reseed,
            )
            from zebra_spark.streaming import (
                read_cosine_state,
                read_drift_baseline,
            )

            seeds = self.spark.read.parquet(f"{self.path}/seeds")
            vecs = read_cosine_state(self.spark, self.path)[0]
            baseline = read_drift_baseline(self.spark, self.path)
            if baseline is None:
                # never persisted: score the committed corpus under the
                # frozen seeds (persist_drift_baseline's formula,
                # WITHOUT the side effect — audit stays read-only)
                row = cell_drift_audit(
                    self.spark, self.path, vecs, "corpus", seeds
                ).collect()[0]
                baseline = None if row.mse is None else float(row.mse)
            if baseline is None:
                gates["blocking_needs_reseed"] = None  # empty state
            else:
                gates["blocking_needs_reseed"] = bool(
                    needs_reseed(
                        self.spark,
                        self.path,
                        batch if batch is not None else vecs,
                        ratio_threshold=reseed_threshold,
                        seeds=seeds,
                        baseline_mse=baseline,
                    )
                )
        else:
            gates["blocking_needs_reseed"] = None

        if export_dir is not None:
            from zebra_spark.queries.text import needs_rebalance

            gates["export_needs_rebalance"] = bool(
                needs_rebalance(
                    self.spark, export_dir, threshold=rebalance_threshold
                )
            )
        else:
            gates["export_needs_rebalance"] = None

        sections = None
        if sf_dir is not None:
            from zebra_spark.queries.audit import _summarize, snapshot_audit

            sections = _summarize(snapshot_audit(self.spark, sf_dir))
        return {"gates": gates, "sections": sections}

    # -- streaming facade symmetry (r15, VERDICT r14 #6) -------------------

    def stream_insert(
        self,
        vec_stream: DataFrame,
        checkpoint_dir: str,
        label_prop_every: int = 0,
        label_prop_weighted: bool = False,
    ):
        """Maintain this database's semantic near-dup state from a
        vector STREAM (vec_id, emb) — the streaming twin of the batch
        insert verbs, delegating to streaming.stream_maintain_cosine_
        tables with state_dir = the database path (the same layout the
        batch tick and facade label lifecycle use, so the store stays
        adoptable by all three).  On first use the blocking seeds are
        frozen from the CURRENT embeddings table as the n_cells
        SMALLEST vec_ids — the rank form of queries.dedup._cosine_seeds'
        `vec_id < n_cells` prefix (ADVICE r15: the two rules coincide
        only on dense-from-0 id spaces; facade ids are batch-base
        offset, so the rank prefix is the rule that stays well-defined
        here).  Deterministic either way, and the seeds are PERSISTED
        under {path}/seeds — any later rebuild that adopts this state
        dir blocks identically because it reads the frozen seeds back,
        not because it re-derives them; only a from-scratch
        _cosine_seeds re-derivation assumes dense ids.  An empty store
        cannot seed and is refused.  Returns the
        StreamingQuery — caller stops it; read results via
        streaming.read_cosine_state(spark, db.path) / labels()."""
        from zebra_spark.queries.dedup import NDUP_CELLS, NDUP_PER_CELL
        from zebra_spark.streaming import (
            init_cosine_state,
            stream_maintain_cosine_tables,
        )

        if not os.path.exists(f"{self.path}/seeds"):
            if self.is_empty():
                raise ValueError(
                    "stream_insert needs frozen blocking seeds and the "
                    "embeddings table is empty — insert a seed corpus "
                    "first (batch insert), or init_cosine_state the "
                    "path with explicit seeds"
                )
            corpus = self._corpus()
            # corpus-prefix seeds BY RANK, not by raw id (_cosine_seeds'
            # `vec_id < n_cells` rule assumes the fixtures' dense ids;
            # facade ids are batch-base offset, so the n_cells SMALLEST
            # ids are the equivalent deterministic prefix).  cell_id is
            # the source vec_id, preserving the seed-takedown guard's
            # contract.  The seed table is k x dim — the driver-side
            # limit is bounded by construction.
            n_cells = max(NDUP_CELLS, corpus.count() // NDUP_PER_CELL)
            seeds = (
                corpus.orderBy("vec_id")
                .limit(n_cells)
                .select(
                    F.col("vec_id").alias("cell_id"),
                    F.col("emb").alias("ce"),
                )
            )
            init_cosine_state(self.spark, self.path, seeds)
        return stream_maintain_cosine_tables(
            self.spark,
            vec_stream,
            self.path,
            checkpoint_dir,
            label_prop_every=label_prop_every,
            label_prop_weighted=label_prop_weighted,
        )
