"""Seeded input generator and numpy ground truth for the load benchmark.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical vectors, texts and planted duplicates.  The program
under test only ever receives the generated inputs; the ground truth
(exact top-10 neighbours, the planted pair list) stays on this side.

Nothing in this module imports pyspark or zebra_spark.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

K = 10  # neighbours per query
VOCAB_SEED = 20_240_601
_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so that one input
    never depends on how many others were drawn before it."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# -- vectors (serve_knn) -----------------------------------------------------


@dataclass
class VectorSet:
    corpus: np.ndarray  # (n, dim) float64
    queries: np.ndarray  # (n_queries, dim) held out of the corpus
    truth_ids: np.ndarray  # (n_queries, K) corpus row numbers, nearest first
    truth_dist: np.ndarray  # (n_queries, K) squared L2, same order
    batches: np.ndarray  # (n_batches, batch) query row numbers per request
    exact: np.ndarray  # (n_batches,) bool: request asks for exact search


def vector_set(
    seed: int,
    n_corpus: int,
    n_queries: int,
    dim: int,
    n_clusters: int,
    batch: int,
    n_batches: int,
    exact_share: float,
    zipf_s: float = 1.1,
) -> VectorSet:
    """Clustered corpus; held-out queries drawn from the same clusters
    with Zipf skew over cluster rank (hot clusters, hence hot buckets,
    repeat); a fixed request schedule of `batch`-query requests, about
    `exact_share` of them exact."""
    rng = _rng(seed, 1)
    centers = rng.normal(size=(n_clusters, dim))
    spread = 0.35
    members = rng.integers(0, n_clusters, n_corpus)
    corpus = centers[members] + spread * rng.normal(size=(n_corpus, dim))
    hot = rng.choice(n_clusters, size=n_queries, p=zipf_weights(n_clusters, zipf_s))
    queries = centers[hot] + spread * rng.normal(size=(n_queries, dim))
    truth_ids, truth_dist = exact_top_k(corpus, queries, K)
    batches = np.stack(
        [rng.choice(n_queries, size=batch, replace=False) for _ in range(n_batches)]
    )
    exact = rng.random(n_batches) < exact_share
    return VectorSet(corpus, queries, truth_ids, truth_dist, batches, exact)


def exact_top_k(corpus: np.ndarray, queries: np.ndarray, k: int):
    """Exact squared-L2 top-k.  Ranks with the expanded form, then
    recomputes the kept distances as sum((q - x)^2) — the same
    arithmetic the engine's l2sq runs — and orders by (dist, row)."""
    d = (
        (queries**2).sum(1)[:, None]
        - 2.0 * queries @ corpus.T
        + (corpus**2).sum(1)[None, :]
    )
    wide = min(corpus.shape[0], 2 * k)
    cand = np.argpartition(d, wide - 1, axis=1)[:, :wide]
    exact = ((queries[:, None, :] - corpus[cand]) ** 2).sum(-1)
    order = np.lexsort((cand, exact), axis=1)[:, :k]
    ids = np.take_along_axis(cand, order, 1)
    return ids, np.take_along_axis(exact, order, 1)


# -- texts (ingest_rw, dedup_snapshot) ---------------------------------------


class TextSource:
    """A large vocabulary of random lowercase words drawn with Zipf
    frequencies; documents are 20-60 word draws.  The vocabulary is the
    same for every seed (one language); the seed picks the documents."""

    def __init__(self, seed: int, vocab: int = 50_000, zipf_s: float = 1.07):
        rng = _rng(VOCAB_SEED, 2)
        lengths = rng.integers(3, 11, vocab)
        letters = rng.integers(0, 26, (vocab, 10))
        words = {"".join(_ALPHABET[r[:n]]) for r, n in zip(letters, lengths)}
        self.words = np.array(sorted(words))
        rng.shuffle(self.words)  # frequency rank independent of spelling
        self.p = zipf_weights(len(self.words), zipf_s)
        self.seed = seed

    def docs(self, rng: np.random.Generator, n: int) -> list[str]:
        lens = rng.integers(20, 61, n)
        picks = rng.choice(len(self.words), size=int(lens.sum()), p=self.p)
        out, at = [], 0
        for n_words in lens:
            out.append(" ".join(self.words[picks[at : at + n_words]]))
            at += n_words
        return out

    def base(self, n: int) -> list[str]:
        return self.docs(_rng(self.seed, 3), n)

    def batch(self, i: int, n: int) -> list[str]:
        """The i-th ingest batch: the same for a given (seed, i) no
        matter how many batches a run reaches."""
        return self.docs(_rng(self.seed, 4, i), n)


@dataclass
class Snapshot:
    doc_ids: np.ndarray  # int64
    texts: list[str]
    planted: list[tuple[int, int]]  # (original, near-copy) doc ids


def near_copy(rng: np.random.Generator, text: str, source: TextSource) -> str:
    """Replace about one word in ten (Jaccard of the distinct-word sets
    stays well above the engine's 0.5 threshold)."""
    words = text.split(" ")
    for j in np.flatnonzero(rng.random(len(words)) < 0.1):
        words[j] = source.words[rng.integers(len(source.words))]
    return " ".join(words)


def snapshot(source: TextSource, i: int, n: int, planted_share: float) -> Snapshot:
    """The i-th corpus snapshot: n docs, of which n * planted_share are
    near-copies of another doc in the same snapshot."""
    rng = _rng(source.seed, 5, i)
    texts = source.docs(rng, n)
    n_pairs = int(round(n * planted_share))
    slots = rng.permutation(n)
    planted = []
    for a, b in zip(slots[:n_pairs], slots[n_pairs : 2 * n_pairs]):
        texts[b] = near_copy(rng, texts[a], source)
        planted.append((int(a), int(b)))
    return Snapshot(np.arange(n, dtype=np.int64), texts, planted)


def fingerprint(*parts) -> str:
    """Digest of generated inputs (arrays, strings, nested lists) —
    equal digests mean identical inputs."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, (list, tuple)):
            for y in x:
                feed(y)
        else:
            h.update(repr(x).encode())

    for p in parts:
        feed(p)
    return h.hexdigest()
