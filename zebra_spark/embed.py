"""Pluggable embedding models (reference trait DatabaseEmbeddingModel,
src/model/core.rs:12-37: batch bytes -> fixed-dim float vector).

The default embedder is a deterministic hashing-TF text embedder built
from pure DataFrame ops (no model download, no UDF, no shuffle): per
row, split on spaces -> hash words into `dim` buckets -> log(1+tf) ->
L2 normalize, all with array functions.  It plays the
role of BGE-small (src/model/text.rs:11-31) for offline testing: same
shape (text column -> array<double> column), stable across runs.

Real model hooks (BGE / ViT, src/model/image.rs:50-83) are pandas_udf
factories gated behind import-try — the container has no torch/PIL, so
they raise NotImplementedError with the integration contract documented.
Unlike the reference (which instantiates the model PER CALL,
src/model/text.rs:15-17), a real deployment loads the model once per
executor inside the pandas_udf closure.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 64


def hash_tf_embedding(
    df: DataFrame, text_col: str, id_col: str | None, dim: int = DEFAULT_DIM
) -> DataFrame:
    """Add an `embedding array<double>` column: hashing-TF + L2 norm.

    Row-local: every row embeds on its own, with no shuffle and no join,
    so rows that share an id embed independently and `id_col` is no
    longer read (kept for callers that pass it).  A null text gives the
    zero vector.

    Each step is its own projection, so Spark evaluates it once per row:
    folded into one nested expression, the bucket array and the norm
    would be recomputed for every one of the `dim` elements.  A bucket's
    count is the size drop of a native `array_remove`, not a `filter`
    lambda per word: lambdas run interpreted, and counting with them was
    about 5x slower on 10k-word documents.  A row still costs about
    `dim` x words element scans, so documents of ~100k words embed
    slower than a shuffle would (SCALING.md, "Embedding-path
    throughput").
    """
    rng = F.sequence(F.lit(0), F.lit(dim - 1)).cast("array<bigint>")
    words = F.coalesce(
        F.split(F.col(text_col), " "), F.array().cast("array<string>")
    )
    buckets = F.col("_htf_b")
    norm = F.col("_htf_n")
    return (
        df.withColumn(
            "_htf_b", F.transform(words, lambda w: F.pmod(F.xxhash64(w), F.lit(dim)))
        )
        .withColumn(
            "_htf_d",
            F.transform(
                rng,
                lambda i: F.log1p(
                    F.size(buckets) - F.size(F.array_remove(buckets, i))
                ),
            ),
        )
        .withColumn(
            "_htf_n",
            F.sqrt(F.aggregate("_htf_d", F.lit(0.0), lambda acc, x: acc + x * x)),
        )
        .withColumn(
            "embedding",
            F.transform(
                "_htf_d",
                lambda x: F.when(norm == 0.0, F.lit(0.0)).otherwise(x / norm),
            ),
        )
        .drop("_htf_b", "_htf_d", "_htf_n")
    )


# --- model-backed embedders -------------------------------------------------
#
# Contract (≙ reference trait DatabaseEmbeddingModel, src/model/core.rs:
# 12-37): a model object exposes `embed(batch) -> np.ndarray[n, dim]`
# over a list of texts or byte blobs.  A FACTORY (zero-arg callable
# returning such an object) is registered per kind; the pandas_udf below
# calls the factory lazily ONCE PER EXECUTOR PROCESS on the first Arrow
# batch — never per call, which is the reference's antipattern
# (src/model/text.rs:15-17 re-instantiates fastembed per embed call).
#
# Real-model factories (fastembed BGE, torch ViT) are import-gated: the
# wrapper code is complete and unit-tested with injected fakes; only the
# weights/libs are environment-dependent.

_MODEL_FACTORIES: dict[str, Callable[[], Any]] = {}


class CharSumModel:
    """Deterministic no-weights model honoring the embed(batch) contract:
    dim-d vector of byte-value sums by position.  The offline stand-in
    for wiring/end-to-end tests of the model-backed path (factories that
    construct it are picklable and executor-importable); real models
    replace it without touching any Spark-side code."""

    def __init__(self, dim: int = 8, init_log: str | None = None):
        self.dim = dim
        if init_log is not None:  # lets tests observe when/where init runs
            with open(init_log, "a") as f:
                f.write("init\n")

    def embed(self, batch):
        out = np.zeros((len(batch), self.dim), dtype=np.float32)
        for i, t in enumerate(batch):
            s = t if isinstance(t, str) else bytes(t).decode("utf8", "ignore")
            for j, ch in enumerate(s.encode()):
                out[i, j % self.dim] += ch
        return out


def register_model(kind: str, factory: Callable[[], Any]) -> None:
    """Register (or override) a model factory.  The factory must be
    picklable (cloudpickle ships it to executors) and cheap to hold —
    all heavy lifting belongs inside its call."""
    _MODEL_FACTORIES[kind] = factory


def _builtin_factory(kind: str) -> Callable[[], Any] | None:
    """Factories for the reference's model zoo.  Each import-gates its
    library and raises NotImplementedError (with the exact integration
    recipe) where the container lacks it — on the EXECUTOR, at first
    batch, which is also where a real model would fail to load."""
    if kind in ("bge", "bge-small-en-v1.5"):

        def make_bge():
            try:
                from fastembed import TextEmbedding  # noqa: PLC0415
            except ImportError as e:  # pragma: no cover - env-dependent
                raise NotImplementedError(
                    "kind='bge' needs the fastembed package "
                    "(BAAI/bge-small-en-v1.5, 384-d — reference "
                    "src/model/text.rs:11-31); pip install fastembed or "
                    "register_model('bge', factory) with your own loader"
                ) from e
            mdl = TextEmbedding("BAAI/bge-small-en-v1.5")

            class _Bge:
                dim = 384

                def embed(self, batch):
                    return np.array(list(mdl.embed(list(batch))), dtype=np.float32)

            return _Bge()

        return make_bge
    if kind in ("vit", "vit-base-patch16-224"):

        def make_vit():
            try:
                import torch  # noqa: F401, PLC0415
                from transformers import ViTModel  # noqa: PLC0415
            except ImportError as e:  # pragma: no cover - env-dependent
                raise NotImplementedError(
                    "kind='vit' needs torch+transformers "
                    "(google/vit-base-patch16-224, 768-d — reference "
                    "src/model/image.rs:50-83); install them or "
                    "register_model('vit', factory) with your own loader"
                ) from e
            mdl = ViTModel.from_pretrained("google/vit-base-patch16-224")
            mdl.eval()

            class _Vit:
                dim = 768

                def embed(self, batch):
                    import torch  # noqa: PLC0415

                    from zebra_spark.multimodal import decode_pixels  # noqa: PLC0415

                    px = np.stack([
                        np.broadcast_to(decode_pixels(b), (3, 224, 224))
                        for b in batch
                    ]).astype(np.float32) / 255.0
                    with torch.no_grad():
                        out = mdl(pixel_values=torch.from_numpy(px))
                    return out.pooler_output.numpy().astype(np.float32)

            return _Vit()

        return make_vit
    return None


def embed_column(kind: str):
    """Pandas UDF (text/binary column -> array<float>) backed by the
    `kind` model: Arrow batch in, matrix out, model constructed lazily
    once per executor process and reused across batches.

    Creation validates only that a factory EXISTS (registered via
    register_model or built-in); model construction — and therefore any
    missing-library NotImplementedError — happens executor-side on the
    first batch, exactly where a real weight load would fail."""
    factory = _MODEL_FACTORIES.get(kind) or _builtin_factory(kind)
    if factory is None:
        raise NotImplementedError(
            f"no embedding model registered for kind='{kind}' — "
            f"known: {sorted(_MODEL_FACTORIES) + ['bge', 'vit']}; use "
            "register_model(kind, factory) to plug one in"
        )
    state: dict[str, Any] = {}

    @F.pandas_udf("array<float>")
    def _embed(batch: pd.Series) -> pd.Series:
        mdl = state.get("m")
        if mdl is None:
            mdl = state["m"] = factory()
        vecs = np.asarray(mdl.embed(batch.tolist()), dtype=np.float32)
        return pd.Series(list(vecs))

    return _embed


def l2_normalize(col: Column) -> Column:
    norm = F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(col, lambda x: F.when(norm == 0.0, F.lit(0.0)).otherwise(x / norm))
