"""The ANN index families behind the ZebraDatabase facade, listed once.

Every family class builds itself from the facade's `index_options`
(`from_options(spark, corpus, opts)`) and serves the facade's searches
(`search(vectors, k, metric, opts, query_ids, filter_ids)`), reading
its own option keys and defaults — the facade never branches on the
kind.  Classes import on first use.
"""

from __future__ import annotations

import importlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# index_kind (as recorded in zebra.json) -> (module, class)
FAMILIES = {
    "lsh": ("zebra_spark.index.lsh", "LSHIndex"),
    "ivf": ("zebra_spark.index.ivf", "IVFIndex"),
    "pq": ("zebra_spark.index.pq", "PQIndex"),
    "ivfpq": ("zebra_spark.index.ivfpq", "IVFPQIndex"),
}


def family(kind: str) -> type:
    module, name = FAMILIES[kind]
    return getattr(importlib.import_module(module), name)


def check_metric(cls: type, metric: str) -> None:
    """A family whose class lists `metrics` serves only those (the PQ
    family's ADC tables are L2-trained); one that lists none serves
    every metric.  Checked at create time and again at search time,
    since a zebra.json on disk is outside input."""
    served = getattr(cls, "metrics", None)
    if served is not None and metric not in served:
        raise ValueError(
            f"{cls.__name__} serves {'/'.join(served)} databases only "
            f"(metric is {metric!r}); use index_kind 'lsh'/'ivf' — they "
            "serve every metric — or exact=True, which every kind offers"
        )


def query_frame(spark: SparkSession, vectors, query_ids=None) -> DataFrame:
    """(query_id, qe) rows of a driver-side query batch; ids default to
    the row positions.  Plain-Python floats: the non-Arrow
    createDataFrame path (caller-provided sessions) rejects numpy
    scalars."""
    if query_ids is None:
        query_ids = range(len(vectors))
    return spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(query_ids, vectors)],
        "query_id bigint, qe array<double>",
    )


def member_queries(corpus: DataFrame, ids_df: DataFrame) -> DataFrame:
    """Corpus members as queries: the (query_id, qe) rows of the ids in
    the one-column (vec_id) `ids_df`, resolved by a semi-join so no
    vector passes through the driver."""
    return corpus.join(ids_df.select("vec_id"), "vec_id", "left_semi").select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )


# after the helpers: lsh.py imports them from this package
from zebra_spark.index.lsh import LSHIndex, LSHIndexOptions  # noqa: E402

__all__ = ["FAMILIES", "LSHIndex", "LSHIndexOptions", "family"]
