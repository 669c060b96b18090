"""The ANN index families behind the ZebraDatabase facade, listed once,
and the one search surface they share.

Every family class builds itself from the facade's `index_options`
(`from_options(spark, corpus, opts)`) and serves searches through the
same three methods and no other:

- `search_vectors(vectors, k=10, metric="l2sq", query_ids=None,
  filter_ids=None, *, knobs)` takes a numpy batch that lives on the
  driver;
- `search_df(queries, k=10, metric="l2sq", filter_ids=None, *, knobs)`
  takes a distributed (query_id bigint, qe array<double>) frame;
- `search_ids(ids, k=10, metric="l2sq", **knobs)` takes corpus members
  as queries (a list, or a one-column `vec_id` frame); it is defined
  once, in `SearchIds` below, as `member_queries` -> `search_df`.

The rule: a driver batch gets its probe keys (LSH buckets, IVF cells)
or ADC lookup tables computed on the driver and broadcast; a frame gets
them computed on executors, so nothing batch-proportional passes
through the driver.  The PQ family keeps ONE ADC scan each: PQ's scan
closure holds every query's table, so its `search_df` collects the
(bounded) batch and runs `search_vectors`; IVF-PQ's scan joins per-cell
probe rows, so its `search_vectors` ships the batch as a frame to
`search_df`.

The search knobs (LSH `probes`; IVF `nprobe`; PQ `refine`; IVF-PQ
`nprobe`, `refine`) are keyword-only, with one default each, in the
signature.  `search_knobs` picks the ones the facade's `index_options`
set, so the facade never branches on the kind.  Classes import on
first use.
"""

from __future__ import annotations

import importlib
import inspect

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


def member_queries(corpus: DataFrame, ids) -> DataFrame:
    """Corpus members as queries: the (query_id, qe) rows of `ids` (a
    list, or a frame with a vec_id column), resolved by a semi-join so
    no vector passes through the driver."""
    if not isinstance(ids, DataFrame):
        ids = corpus.sparkSession.createDataFrame(
            [(int(i),) for i in ids], "vec_id bigint"
        )
    return corpus.join(ids.select("vec_id"), "vec_id", "left_semi").select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )


def search_knobs(cls: type, opts: dict) -> dict:
    """The search knobs `opts` sets for this family: the keyword-only
    parameters of its search_vectors.  Knobs `opts` leaves out take the
    signature's default."""
    params = inspect.signature(cls.search_vectors).parameters.values()
    return {
        p.name: opts[p.name]
        for p in params
        if p.kind is p.KEYWORD_ONLY and p.name in opts
    }


class SearchIds:
    """The corpus-member search every family shares (needs the family's
    `corpus` and `search_df`)."""

    def search_ids(self, ids, k: int = 10, metric: str = "l2sq", **knobs) -> DataFrame:
        """Search with corpus members as queries: `ids` is a list or a
        one-column vec_id frame; ids not in the corpus are skipped.  The
        vectors stay on executors (`member_queries` -> `search_df`)."""
        return self.search_df(
            member_queries(self.corpus, ids), k, metric, **knobs
        )


# after the helpers: lsh.py imports them from this package
from zebra_spark.index.lsh import LSHIndex, LSHIndexOptions  # noqa: E402

__all__ = ["FAMILIES", "LSHIndex", "LSHIndexOptions", "SearchIds", "family"]
