"""The three workloads: k-NN serving, ingest with reads, near-dup
snapshots.  Each drives the program only through its public API
(zebra_spark.session / embed / database / index.lsh / queries.dedup /
graph) with inputs from loadbench.inputs, and checks every output
against the generator's ground truth.

One client, closed loop: the next request is sent when the previous one
has returned.  A workload object holds its state: `prepare` runs once,
untimed; `setup` runs several times (the last one is kept); `op(i)` is
one request; `finish` checks the state the requests left behind.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd

import inputs

DIM = 64

SIZES = {
    "full": {
        "serve_knn": {"n_corpus": 10_000, "n_queries": 512, "n_clusters": 48,
                      "batch": 8, "exact_share": 0.1},
        "ingest_rw": {"n_base": 200, "batch": 128, "remove_n": 16},
        "dedup_snapshot": {"n_docs": 1_000, "planted_share": 0.2},
    },
    "tiny": {
        "serve_knn": {"n_corpus": 600, "n_queries": 64, "n_clusters": 8,
                      "batch": 8, "exact_share": 0.5},
        "ingest_rw": {"n_base": 200, "batch": 32, "remove_n": 4},
        "dedup_snapshot": {"n_docs": 200, "planted_share": 0.05},
    },
}


class CheckFailed(Exception):
    """An output did not match the ground truth."""


class Recorder:
    """Latency samples per request type, and the traced run's hooks:
    a span and a Spark job group around each request."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.jobs = None  # the traced run's SparkJobCounter
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced: dict[str, list[float]] = defaultdict(list)
        self.quality: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    @contextmanager
    def timed(self, kind: str):
        """Time one request of type `kind`; an exception inside counts
        it as failed and propagates."""
        self.attempted += 1
        tracing = self.tracing
        group = self.jobs.group(kind) if tracing else nullcontext()
        span = self.tracer.span(f"op.{kind}") if tracing else nullcontext()
        t0 = time.perf_counter()
        try:
            with group, span:
                yield
        except Exception:
            self.failed += 1
            raise
        (self.traced if tracing else self.samples)[kind].append(
            time.perf_counter() - t0
        )

    def action(self):
        """Span around a collect/count that runs a deferred plan."""
        return self.tracer.span("spark.action") if self.tracing else nullcontext()

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            raise CheckFailed(what)


def mean(xs: list[float]) -> float | None:
    return float(np.mean(xs)) if xs else None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""
    unit_items = ""  # what items_per_s counts
    item_kinds: tuple[str, ...] = ()  # the requests that carry the items
    cycle = 1  # requests per round of the workload's request mix

    def __init__(self, seed: int, size: dict, work: str, rec: Recorder):
        self.seed, self.size, self.work, self.rec = seed, size, work, rec
        self.items = 0  # items handled by measured requests
        self.spark = None
        self.measuring = False  # set by the runner around the timed loop

    def timed(self, kind: str):
        """`rec.timed(kind)` in the timed loop, nothing before it."""
        return self.rec.timed(kind) if self.measuring else nullcontext()

    def prepare(self, spark) -> None:
        """Once, before the set-ups, untimed: state the set-ups start from."""
        self.spark = spark

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """One unmeasured request after set-up, where the workload needs it."""

    def op(self, i: int) -> None:
        """The i-th request of the timed loop."""
        raise NotImplementedError

    def finish(self) -> None:
        """Output checks on the state the timed loop left behind."""

    def report(self) -> dict:
        """Workload-specific end-to-end figures (name -> (value, unit, n))."""
        raise NotImplementedError


# -- serve_knn ---------------------------------------------------------------


class ServeKnn(Workload):
    name = "serve_knn"
    unit_items = "query vectors"
    item_kinds = ("ann_query", "exact_query")

    def __init__(self, seed, size, work, rec):
        super().__init__(seed, size, work, rec)
        s = size
        self.v = inputs.vector_set(
            seed, s["n_corpus"], s["n_queries"], DIM, s["n_clusters"],
            s["batch"], 4096, s["exact_share"],
        )
        self.corpus_path = f"{work}/serve_corpus.parquet"
        pd.DataFrame({
            "doc": [f"v{i}" for i in range(len(self.v.corpus))],
            "embedding": list(self.v.corpus),
        }).to_parquet(self.corpus_path)
        self.db = None
        self.user_bytes = int(
            sum(len(f"v{i}") for i in range(len(self.v.corpus)))
            + self.v.corpus.nbytes
        )

    def setup(self, spark, rep):
        from zebra_spark.database import ZebraDatabase

        self.spark = spark
        path = f"{self.work}/serve_db_{rep}"
        shutil.rmtree(f"{self.work}/serve_db_{rep - 1}", ignore_errors=True)
        self.db = ZebraDatabase.create(spark, path, dim=DIM)
        self.db.insert_records(spark.read.parquet(self.corpus_path))
        self.db.index()
        self.rec.check(self.db.count() == len(self.v.corpus), "corpus row count")

    def _request(self, i: int) -> tuple[np.ndarray, bool]:
        j = i % len(self.v.batches)
        return self.v.batches[j], bool(self.v.exact[j])

    def _query(self, rows: np.ndarray, exact: bool):
        res = self.db.query_vectors(self.v.queries[rows], k=inputs.K, exact=exact)
        with self.rec.action():
            return res.select("query_id", "rank", "dist", "doc").collect()

    def warmup(self):
        self._query(self.v.batches[-1], False)

    def op(self, i):
        rows, exact = self._request(i)
        with self.rec.timed("exact_query" if exact else "ann_query"):
            got = self._query(rows, exact)
        self.items += len(rows)
        by_q = defaultdict(list)
        for r in got:
            by_q[r.query_id].append(r)
        for q, row in enumerate(rows):
            hits = sorted(by_q.get(q, []), key=lambda r: r.rank)
            if exact:
                want = self.v.truth_dist[row]
                have = np.array([r.dist for r in hits])
                self.rec.check(
                    len(have) == inputs.K
                    and np.all(np.abs(have - want) <= 1.01e-4),
                    f"exact top-{inputs.K} distances for query {row}",
                )
            else:
                truth = set(self.v.truth_ids[row].tolist())
                found = {int(r.doc[1:]) for r in hits}
                self.rec.quality["recall_at_10"].append(
                    len(truth & found) / inputs.K
                )

    def report(self):
        r = self.rec
        return {
            "recall_at_10": (mean(r.quality["recall_at_10"]), "share",
                             len(r.quality["recall_at_10"])),
            "store_bytes_per_user_byte": (dir_bytes(self.db.path) / self.user_bytes,
                                          "ratio", 1),
        }


# -- ingest_rw ---------------------------------------------------------------


class IngestRW(Workload):
    name = "ingest_rw"
    unit_items = "docs ingested"
    item_kinds = ("insert",)
    # one round: insert a batch, query for one of its docs, remove a
    # slice of the batch (never that doc)
    cycle = 3

    def __init__(self, seed, size, work, rec):
        super().__init__(seed, size, work, rec)
        self.text = inputs.TextSource(seed)
        self.base_docs = self.text.base(size["n_base"])
        self.path = f"{work}/ingest_db"
        self.db = None
        self.rows = 0
        self.user_bytes = 0
        self.batch_rows: list = []  # first rows of the last inserted batch
        self.removed: list[int] = []

    def _embed(self, docs: list[str]):
        """The embed step of insert_documents, materialized so that its
        cost lands here and not inside insert_records."""
        from zebra_spark import embed

        df = self.spark.createDataFrame(
            list(enumerate(docs)), "_tmp_id bigint, doc string"
        )
        with self.rec.tracer.span("embed") if self.rec.tracing else nullcontext():
            emb = embed.hash_tf_embedding(df, "doc", "_tmp_id", DIM).select(
                "doc", "embedding"
            ).localCheckpoint()
        if self.rec.tracing:
            self.rec.tracer.count("embed.docs", len(docs))
        return emb

    def _insert(self, docs: list[str]):
        inserted = self.db.insert_records(self._embed(docs))
        if self.rec.tracing:
            self.rec.tracer.count("database.insert.rows", len(docs))
        self.rows += len(docs)
        self.user_bytes += sum(len(d.encode()) for d in docs)
        return inserted

    def prepare(self, spark):
        """Load the base documents, make the index live and send one
        round of requests, so that set-up and the loop run warm."""
        from zebra_spark.database import ZebraDatabase

        self.spark = spark
        self.db = ZebraDatabase.create(spark, self.path, dim=DIM)
        self._insert(self.base_docs)
        self.db.index()
        for step in range(self.cycle):
            self._request(10_000, step)

    def setup(self, spark, rep):
        """Open the database and make its index live: what a server
        pays before it takes traffic."""
        from zebra_spark.database import ZebraDatabase

        self.db = ZebraDatabase.open(spark, self.path)
        self.db.index()

    def op(self, i):
        self._request(i // self.cycle, i % self.cycle)

    def _request(self, batch: int, step: int) -> None:
        rec = self.rec
        if step == 0:
            n = self.size["batch"]
            with self.timed("insert"):
                inserted = self._insert(self.text.batch(batch, n))
            self.batch_rows = inserted.limit(self.size["remove_n"]).collect()
            self.items += n if self.measuring else 0
        elif step == 1:
            probe = self.batch_rows[0]
            with self.timed("rw_query"):
                res = self.db.query_vectors(np.array([probe.embedding]), k=inputs.K)
                with rec.action():
                    top = res.filter("rank = 1").select("vec_id").collect()
            if self.measuring:
                rec.quality["rw_fresh_hit"].append(
                    float(bool(top) and top[0].vec_id == probe.vec_id)
                )
        else:
            ids = [r.vec_id for r in self.batch_rows[1:]]
            # remove() drops the in-memory index; rebuilding it is part of
            # the request, so every insert and query sees a live index
            with self.timed("remove"):
                self.db.remove(ids)
                self.db.index()
            self.rows -= len(ids)
            self.removed += ids

    def finish(self):
        self.rec.check(self.db.count() == self.rows, "row count")
        emb = self.db.embeddings()
        left = emb.filter(emb.vec_id.isin(self.removed)).count()
        self.rec.check(left == 0, "removed ids still present")

    def report(self):
        r = self.rec
        return {
            "rw_fresh_hit": (mean(r.quality["rw_fresh_hit"]), "share",
                             len(r.quality["rw_fresh_hit"])),
            "store_bytes_per_user_byte": (
                dir_bytes(self.db.path) / self.user_bytes, "ratio", 1
            ),
        }


# -- dedup_snapshot ----------------------------------------------------------


class DedupSnapshot(Workload):
    name = "dedup_snapshot"
    unit_items = "docs deduplicated"
    item_kinds = ("snapshot",)

    def __init__(self, seed, size, work, rec):
        super().__init__(seed, size, work, rec)
        self.text = inputs.TextSource(seed)

    def setup(self, spark, rep):
        # no state to load (every request brings its own snapshot):
        # set-up primes the pipeline with one snapshot of the same size
        self._snapshot(10_000 + rep, timed=False)

    def _snapshot(self, i: int, timed: bool) -> None:
        from zebra_spark.queries import dedup

        rec = self.rec
        snap = inputs.snapshot(self.text, i + 1, self.size["n_docs"],
                               self.size["planted_share"])
        # a fresh path per snapshot: the derived-table registry caches by
        # corpus path, so a reused path would time a cache hit
        d = f"{self.work}/snap_{i + 1}"
        os.makedirs(d)
        pd.DataFrame({"doc_id": snap.doc_ids, "text": snap.texts,
                      "source": "gen"}).to_parquet(f"{d}/documents.parquet")
        before = dedup.derived_registry_snapshot()
        try:
            with rec.timed("snapshot") if timed else nullcontext():
                pairs = dedup.pair_table(self.spark, d)
                with rec.action():
                    n_edges = pairs.filter(
                        dedup.jaccard_expr() >= dedup.MINHASH_THRESHOLD
                    ).count()
                labels = dedup.cluster_label_table(self.spark, d)
                with rec.action():
                    lab = labels.toPandas()
            if rec.tracing:
                rec.tracer.count("queries.dedup.candidates", pairs.count())
                rec.tracer.count("queries.dedup.edges", n_edges)
            if not timed:
                return
            rec.check(
                len(lab) == len(snap.doc_ids)
                and set(lab.doc_id) == set(snap.doc_ids.tolist()),
                "one cluster label per document",
            )
            cl = dict(zip(lab.doc_id, lab.cluster))
            rec.quality["dedup_pair_recall"].extend(
                float(cl[a] == cl[b]) for a, b in snap.planted
            )
            self.items += len(snap.doc_ids)
        finally:
            dedup.restore_derived_registry(before)
            shutil.rmtree(d, ignore_errors=True)

    def op(self, i):
        self._snapshot(i, timed=True)

    def report(self):
        hits = self.rec.quality["dedup_pair_recall"]
        return {"dedup_pair_recall": (mean(hits), "share", len(hits))}


WORKLOADS = {w.name: w for w in (ServeKnn, IngestRW, DedupSnapshot)}
