"""Vector-database query surface (SURVEY §2.A): document scan/fetch,
CRUD-shaped queries, exact dedup, distance metrics, exact kNN, per-label
centroid similarity.

Scale posture: the exact-kNN path broadcasts the (small) query side over
the corpus — one scan, no shuffle for the join; the per-query top-k window
shuffles only (query_id, candidate) pairs.  At 100 TB the exact path is
the oracle/re-rank primitive; bulk ANN goes through the LSH index
(zebra_spark.index) whose candidate sets are partition-pruned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zebra_spark import functions as zf
from zebra_spark.functions import rank_top_k, rnd
from zebra_spark.io import embeddings_d, load, spread_scan
from zebra_spark.registry import query, sql_rnd

DIM = 64

# --- document store ops (reference src/database/core.rs) -------------------

FETCH_IDS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377]


@query(
    "q_doc_scan",
    oracle="""
    SELECT doc_id, lang, source, n_chars,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
    FROM documents
    """,
)
def q_doc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open + scan the document store (≙ Database::open + doc dir read,
    reference src/database/core.rs:92-102)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )


@query(
    "q_doc_fetch_by_ids",
    oracle=f"""
    SELECT doc_id, text, lang
    FROM documents
    WHERE doc_id IN ({", ".join(str(i) for i in FETCH_IDS)})
    """,
)
def q_doc_fetch_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch documents by id set (≙ read_documents_from_disk, reference
    src/database/core.rs:358-380) as a broadcast semi-join."""
    ids = spark.createDataFrame([(i,) for i in FETCH_IDS], "doc_id bigint")
    return (
        load(spark, sf_dir, "documents")
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .select("doc_id", "text", "lang")
    )


@query(
    "q_count_star",
    oracle="""
    SELECT count(*) AS n_rows, count(DISTINCT label) AS n_labels
    FROM embeddings
    """,
)
def q_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emptiness/cardinality probes (≙ is_empty/no_vectors, reference
    src/database/index/lsh.rs:389-409)."""
    return load(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("label").alias("n_labels"),
    )


@query(
    "q_delete_anti_join",
    oracle="""
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0)
    """,
)
def q_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed delete = anti-join against the id set (≙
    Database::remove, reference src/database/core.rs:205-213; completes the
    reference's partial tree cleanup noted at lsh.rs:473-503)."""
    e = load(spark, sf_dir, "embeddings")
    doomed = e.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    return e.join(doomed, "vec_id", "left_anti").select("vec_id", "label")


@query(
    "q_dedup_exact",
    oracle="""
    SELECT vec_id, label FROM (
      SELECT vec_id, label,
             row_number() OVER (PARTITION BY embedding ORDER BY vec_id) AS rn
      FROM embeddings
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bitwise dedup: keep first id per identical embedding (≙
    Database::deduplicate, reference src/database/core.rs:216-224, bitwise
    compare at lsh.rs:279).  Spark hashes the raw float array natively —
    group-by the array column, no UDF; fixtures contain no NaN/-0.0 so the
    grouping is portable (FIXTURES.md)."""
    e = load(spark, sf_dir, "embeddings")
    w = Window.partitionBy("embedding").orderBy("vec_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label")
    )


# --- distance metric queries (reference src/distance.rs) --------------------


def _metric_query(metric_name: str, spark_fn):
    """Distance between consecutive-id vector pairs — one row per pair."""

    def impl(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = embeddings_d(spark, sf_dir)
        a = e.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("ea"))
        b = e.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("eb"))
        return (
            a.join(b, F.col("id_b") == F.col("id_a") + 1)
            .select(
                "id_a",
                "id_b",
                rnd(spark_fn(F.col("ea"), F.col("eb"))).alias("dist"),
            )
        )

    impl.__name__ = f"q_distance_{metric_name}"
    return impl


def _metric_oracle(sql_name: str) -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_rnd(zf.sql_metric(sql_name, dim=DIM))} AS dist
    FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    """


for _m, _sql in [
    ("cosine", "cosine"),
    ("l2sq", "l2sq"),
    ("l2", "l2"),
    ("l1", "l1"),
    ("chebyshev", "chebyshev"),
    ("canberra", "canberra"),
    ("braycurtis", "braycurtis"),
    ("l3", "l3"),
    ("l4", "l4"),
]:
    query(f"q_distance_{_m}", oracle=_metric_oracle(_sql))(
        _metric_query(_m, zf.METRICS[_m])
    )

query("q_distance_minkowski_p3", oracle=_metric_oracle("minkowski:3.0"))(
    _metric_query("minkowski_p3", lambda a, b: zf.minkowski(a, b, 3.0))
)
query("q_distance_pnorm_p3", oracle=_metric_oracle("pnorm:3.0"))(
    _metric_query("pnorm_p3", lambda a, b: zf.pnorm(a, b, 3.0))
)


# --- kNN (reference src/database/core.rs:267-313, lsh.rs:544-565) ----------


def knn_exact(
    spark: SparkSession,
    sf_dir: str,
    metric=zf.l2sq,
    n_queries: int = 10,
    k: int = 10,
) -> DataFrame:
    """Brute-force exact kNN: the semantic oracle for the ANN path.

    Plan shape: broadcast the query side (small by construction — queries
    are a user-supplied batch) against one scan of the corpus; per-query
    top-k via window with (dist, neighbor_id) tie-break.  ≙ query_vectors'
    re-rank (reference src/database/core.rs:290-313) minus the candidate
    pruning, which q_knn_lsh adds back.
    """
    e = embeddings_d(spark, sf_dir)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    return rank_top_k(
        spread_scan(e, "vec_id").crossJoin(F.broadcast(q)).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            metric(F.col("qe"), F.col("emb")).alias("dist"),
        ),
        k,
    )


@query(
    "q_knn_exact",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10),
    d AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {zf.sql_metric("l2sq", a="q.qe", b="e.emb", dim=DIM)} AS dist
      FROM q CROSS JOIN e
    ),
    r AS (
      SELECT query_id, neighbor_id, dist,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, rank, {sql_rnd("dist")} AS dist
    FROM r WHERE rank <= 10
    """,
)
def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_exact(spark, sf_dir)


def knn_filtered(
    spark: SparkSession,
    sf_dir: str,
    lang: str = "en",
    n_queries: int = 10,
    k: int = 5,
    metric=zf.l2sq,
) -> DataFrame:
    """FILTERED exact kNN (r16, VERDICT r15 #4): metadata predicate +
    top-k nearest in ONE declarative plan — the query shape every
    production vector store serves constantly (`lang = X AND k
    nearest`) and the exact oracle the filtered ANN paths
    (LSHIndex/IVFIndex search_df filter_ids) re-rank against.  The
    reference has no filter surface (its only predicate is the metric,
    lsh.rs:544-565); this is extension surface.

    Strategy is PRE-filter: the predicate lands on the documents scan
    (pushed to parquet), the surviving ids semi-join the corpus, and
    only then are distances computed — so the distance work scales
    with the filter's selectivity, not the corpus.  The semi-join
    shuffles on vec_id; on a lake where the metadata lives WITH the
    vectors (one table) it collapses to a pushed scan filter, and
    bucketing both tables by id removes the shuffle otherwise.
    POST-filtering (search first, filter the top-k) is wrong at any
    scale: a selective predicate empties the result."""
    e = embeddings_d(spark, sf_dir)
    allowed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang") == lang)
        .select(F.col("doc_id").alias("vec_id"))
    )
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    return rank_top_k(
        e.join(allowed, "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            metric(F.col("qe"), F.col("emb")).alias("dist"),
        ),
        k,
    )


# ONE oracle string for the filtered-kNN gates: q_knn_filtered (the
# exact declaration) and queries.ann.q_knn_filtered_ivf (the
# exhaustive-probe gate of the REAL IVF filter path) must stay
# bit-identical in predicate, k, query set, and tie-break — sharing
# the string makes divergence impossible (review r16).
FILTERED_KNN_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
    q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10),
    c AS (SELECT e.vec_id, e.emb FROM e JOIN allowed a ON a.vec_id = e.vec_id),
    d AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {zf.sql_metric("l2sq", a="q.qe", b="c.emb", dim=DIM)} AS dist
      FROM q CROSS JOIN c
    ),
    r AS (
      SELECT query_id, neighbor_id, dist,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, rank, {sql_rnd("dist")} AS dist
    FROM r WHERE rank <= 5
    """


@query("q_knn_filtered", oracle=FILTERED_KNN_ORACLE)
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + search in one pass: top-5 L2^2 neighbours among the
    lang='en' documents for 10 query vectors — must hash-equal the
    oracle's filter-then-rank computation (docstring: knn_filtered)."""
    return knn_filtered(spark, sf_dir)


@query(
    "q_knn_topk_per_query",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (
      SELECT label AS query_label, vec_id AS query_id, emb AS qe FROM (
        SELECT label, vec_id, emb,
               row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        FROM e
      ) WHERE rn = 1
    ),
    d AS (
      SELECT q.query_label, q.query_id, e.vec_id AS neighbor_id,
             {zf.sql_metric("cosine", a="q.qe", b="e.emb", dim=DIM)} AS dist
      FROM q CROSS JOIN e
      WHERE e.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_label, query_id, neighbor_id, dist,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
      FROM d
    )
    SELECT query_label, query_id, neighbor_id, rank, {sql_rnd("dist")} AS dist
    FROM r WHERE rank <= 5
    """,
)
def q_knn_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ranked top-k with cosine, one query per label, self
    excluded — keeps the ranked order the reference computes then discards
    (src/database/core.rs:304-305 note in SURVEY §2.A.3)."""
    e = embeddings_d(spark, sf_dir)
    wq = Window.partitionBy("label").orderBy("vec_id")
    q = (
        e.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            F.col("label").alias("query_label"),
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        spread_scan(e, "vec_id").crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_label",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            zf.cosine(F.col("qe"), F.col("emb")).alias("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_label",
            "query_id",
            "neighbor_id",
            "rank",
            rnd(F.col("dist")).alias("dist"),
        )
    )


K_PROP = 5  # neighbors per vote in label propagation

# Seed-set fixture: vec_id % 5 == 0 AND vec_id < SEED_MAX — a CONSTANT
# 100-seed set (ids are contiguous from 0 at every sf), 10 per label.
# r12, ADVICE r11: the old uncapped % 5 == 0 predicate made seeds a
# fixed 20% FRACTION of the corpus, so the broadcast side and the pair
# count grew as ~0.16*N^2 with scale; with the cap the seed side is
# classifier-sized by construction and the propagation cost is one
# linear corpus scan x a constant broadcast, matching the docstring's
# scale story.  Larger seed sets route through the ANN variant
# (q_knn_label_prop_ann) instead of widening this broadcast.
SEED_MAX = 500

_SQL_SEED = f"vec_id % 5 = 0 AND vec_id < {SEED_MAX}"


def _seed_split(spark: SparkSession, sf_dir: str):
    """(labeled seeds, unlabeled rest) under the capped fixture — the
    single Spark-side definition of the _SQL_SEED predicate, shared by
    the exact and ANN propagation paths so they can't drift."""
    e = embeddings_d(spark, sf_dir)
    seed = (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < SEED_MAX)
    lab = e.filter(seed).select(
        F.col("vec_id").alias("lab_id"), "label", F.col("emb").alias("le")
    )
    unl = e.filter(~seed).select("vec_id", "emb")
    return lab, unl

# shared CTE prefix pieces: seed/unlabeled split + ranked seed
# distances (one definition feeds q_knn_label_prop, its accuracy
# audit AND the weighted variant, so none can drift)
_SQL_PROP_BASE = f"""
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
          FROM embeddings),
    l AS (SELECT vec_id AS lab_id, label, emb AS le FROM e
          WHERE {_SQL_SEED}),
    u AS (SELECT vec_id, emb FROM e WHERE NOT ({_SQL_SEED})),
    d AS (
      SELECT u.vec_id, l.label, l.lab_id,
             {{dist}} AS dist
      FROM u CROSS JOIN l
    ),
    r AS (
      SELECT vec_id, label, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, lab_id) AS rk
      FROM d
    )
""".format(dist=zf.sql_metric("l2sq", a="u.emb", b="l.le", dim=DIM))

_SQL_PROP = f"""
    {_SQL_PROP_BASE},
    v AS (
      SELECT vec_id, label, count(*) AS votes
      FROM r WHERE rk <= {K_PROP} GROUP BY vec_id, label
    ),
    w AS (
      SELECT vec_id, label, votes,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY votes DESC, label) AS pick
      FROM v
    )
"""


@query(
    "q_knn_label_prop",
    oracle=f"""
    WITH {_SQL_PROP}
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(votes AS BIGINT) AS votes
    FROM w WHERE pick = 1
    """,
)
def q_knn_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN LABEL PROPAGATION — semi-supervised labeling over the
    embedding space, the curation move behind classifier-filtered
    corpora (label a small seed set, propagate to everything by
    nearest-neighbor majority vote): every unlabeled vector takes the
    majority label of its K_PROP nearest labeled seeds (the constant
    100-id capped fixture — see SEED_MAX — true `label` column) under
    L2^2, ties broken toward the smallest label, (dist, seed id)
    ordering exactly as q_knn_exact.  Plan shape: one corpus scan
    cross-joined against the BROADCAST seed side (CONSTANT-sized by
    the fixture cap, so cost is linear in the corpus) + a per-vector
    rank window + a vote aggregate; at larger seed sets route through
    q_knn_label_prop_ann, which feeds the vote from IVFIndex.search_df
    cell-pruned candidates instead of widening this broadcast
    (agreement vs this exact path pinned by test + SCALING.md).  No
    reference counterpart — SURVEY §2.C pipeline extension surface."""
    lab, unl = _seed_split(spark, sf_dir)
    return label_prop_exact_df(lab, unl)


def label_prop_exact_df(lab: DataFrame, unl: DataFrame) -> DataFrame:
    """The exact propagation kernel q_knn_label_prop runs — one
    corpus scan x broadcast seed cross join, rank window, majority
    vote.  Shared with tests so the ANN kernel's agreement is pinned
    against the identical vote semantics on any (lab, unl) pair."""
    rk = Window.partitionBy("vec_id").orderBy("dist", "lab_id")
    pick = Window.partitionBy("vec_id").orderBy(
        F.col("votes").desc(), "label"
    )
    return (
        spread_scan(unl, "vec_id").crossJoin(F.broadcast(lab))
        .select(
            "vec_id", "label", "lab_id",
            zf.l2sq(F.col("emb"), F.col("le")).alias("dist"),
        )
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= K_PROP)
        .groupBy("vec_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
        .withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
    )


@query(
    "q_knn_label_prop_audit",
    oracle=f"""
    WITH {_SQL_PROP},
    p AS (SELECT vec_id, label AS plabel FROM w WHERE pick = 1)
    SELECT CAST(e.label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN p.plabel = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM p JOIN e USING (vec_id)
    GROUP BY e.label
    """,
)
def q_knn_label_prop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The propagation's measure-don't-guess audit (the
    q_sketch_calibration pattern): the fixture's unlabeled vectors
    KEEP their true labels, so per true label we can score how many
    the K_PROP-NN majority vote recovered — (n, n_correct),
    all-integer so both engines agree exactly.  One extra broadcast
    join + aggregate on top of q_knn_label_prop's plan; in production
    this runs over a held-out labeled slice and gates the seed-set
    size / K the same way sketch calibration gates the permutation
    count."""
    prop = q_knn_label_prop(spark, sf_dir).select(
        "vec_id", F.col("label").alias("plabel")
    )
    truth = embeddings_d(spark, sf_dir).select("vec_id", "label")
    return (
        prop.join(truth, "vec_id")
        .groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("plabel") == F.col("label"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
        )
    )


@query(
    "q_knn_label_prop_weighted",
    oracle=f"""
    WITH {_SQL_PROP_BASE},
    v AS (
      SELECT vec_id, label, sum(1.0 / (1.0 + dist)) AS score
      FROM r WHERE rk <= {K_PROP} GROUP BY vec_id, label
    ),
    w AS (
      SELECT vec_id, label, score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {sql_rnd("score")} DESC, label)
               AS pick
      FROM v
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           {sql_rnd("score")} AS score
    FROM w WHERE pick = 1
    """,
)
def q_knn_label_prop_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTANCE-WEIGHTED (soft) label propagation — the
    confidence-scored variant classifier-filter pipelines threshold
    on: each unlabeled vector's K_PROP nearest seeds vote with weight
    1/(1 + dist) instead of one vote each, so a label backed by three
    CLOSE seeds beats one backed by three far ones, and the winning
    score doubles as a keep/route confidence (threshold it like
    q_quality_threshold_sweep's dial).  Same candidate set, rank
    window and seed fixture as q_knn_label_prop (shared CTE base —
    the two cannot drift); the pick orders by the ROUNDED score
    (functions.rnd == oracle sql_rnd, bit-identical across engines)
    with the label tie-break, so cross-engine float accumulation
    order cannot flip a winner.  Plan shape: identical to
    q_knn_label_prop — one corpus scan x constant broadcast seed
    side + rank window + weighted aggregate.  No reference
    counterpart — SURVEY §2.C pipeline extension surface."""
    lab, unl = _seed_split(spark, sf_dir)
    return label_prop_weighted_exact_df(lab, unl)


def label_prop_weighted_exact_df(lab: DataFrame, unl: DataFrame) -> DataFrame:
    """The exact weighted-propagation kernel q_knn_label_prop_weighted
    runs — the soft-vote twin of label_prop_exact_df, shared with
    tests so the ANN kernel's weighted variant (label_prop_ann_df
    weighted=True, r13) pins its agreement against the identical vote
    semantics on any (lab, unl) pair."""
    rk = Window.partitionBy("vec_id").orderBy("dist", "lab_id")
    pick = Window.partitionBy("vec_id").orderBy(
        rnd(F.col("score")).desc(), "label"
    )
    return (
        spread_scan(unl, "vec_id").crossJoin(F.broadcast(lab))
        .select(
            "vec_id", "label", "lab_id",
            zf.l2sq(F.col("emb"), F.col("le")).alias("dist"),
        )
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= K_PROP)
        .groupBy("vec_id", "label")
        .agg(F.sum(1.0 / (1.0 + F.col("dist"))).alias("score"))
        .withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            rnd(F.col("score")).alias("score"),
        )
    )


@query(
    "q_label_prop_calibration",
    oracle=f"""
    WITH {_SQL_PROP_BASE},
    v AS (
      SELECT vec_id, label, sum(1.0 / (1.0 + dist)) AS score
      FROM r WHERE rk <= {K_PROP} GROUP BY vec_id, label
    ),
    w AS (
      SELECT vec_id, label, score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {sql_rnd("score")} DESC, label)
               AS pick
      FROM v
    ),
    p AS (
      SELECT vec_id, label AS plabel, {sql_rnd("score")} AS score
      FROM w WHERE pick = 1
    )
    SELECT CAST(floor(p.score * 20.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN p.plabel = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM p JOIN e USING (vec_id)
    GROUP BY bin
    """,
)
def q_label_prop_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFIDENCE CALIBRATION of the weighted propagation (r13 — the
    q_sketch_calibration pattern applied to the labeling dial):
    bucket every vector's winning 1/(1+dist) score into 0.05-wide
    bins (floor(score * 20) over the ROUNDED score, so both engines
    bin identical doubles) and count per bin how many propagated
    labels match the fixture's kept true labels — (bin, n,
    n_correct), all-integer.  THE measured basis for choosing the
    keep/route threshold a classifier-filter pipeline applies to
    q_knn_label_prop_weighted's score: a calibrated curve (accuracy
    rising with the bin) justifies thresholding; a flat one says the
    seed set or K is wrong — measure, don't guess.  One broadcast
    join + one aggregate on top of the weighted vote's plan."""
    w = q_knn_label_prop_weighted(spark, sf_dir)
    truth = embeddings_d(spark, sf_dir).select(
        "vec_id", F.col("label").alias("tlabel")
    )
    return (
        w.join(truth, "vec_id")
        .groupBy(
            F.floor(F.col("score") * 20.0).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("label") == F.col("tlabel"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
        )
    )


@query("q_knn_label_prop_ann")
def q_knn_label_prop_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-BACKED label propagation (r12, VERDICT r11 #2 — the
    docstring claim in q_knn_label_prop, now executed): the same
    majority vote, but candidates come from IVFIndex.search_df over
    a seeded-Lloyd index built on the SEED side — per-query cost is
    nprobe cells' members instead of the full seed set, which is the
    scale path when the seed set outgrows a broadcast (millions of
    classifier labels).  Two-phase exactly as q_knn_lsh: cell-pruned
    candidate gen, exact L2^2 re-rank, identical (dist, seed id) and
    (votes desc, label) tie-breaks, so on any fixture where nprobe
    recall is perfect the output is BIT-IDENTICAL to the exact path
    (agreement >= 0.95 pinned at sf0.01 and sf0.1 by
    tests/test_ann_label_prop.py; head-to-head at a synthetic larger
    seed set in scripts/label_prop_ann_check.py + SCALING.md).
    Rows-only: the vote is over index-pruned candidates, not
    SQL-expressible.  No reference counterpart — SURVEY §2.C."""
    lab, unl = _seed_split(spark, sf_dir)
    return label_prop_ann_df(spark, lab, unl)


@query("q_knn_label_prop_ann_weighted")
def q_knn_label_prop_ann_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN-backed DISTANCE-WEIGHTED label propagation (r13, VERDICT
    r12 #2): the confidence-scored vote of q_knn_label_prop_weighted
    on q_knn_label_prop_ann's scale path — same salted cell join,
    empty-cell masking and K_PROP rank window; only the aggregate
    differs (sum 1/(1 + dist) with the rounded-score tie-break instead
    of count).  This closes the r12 gap where the weighted variant
    existed only on the exact constant-broadcast plan: at a
    million-seed classifier-label set the broadcast stops being
    constant-sized and this cell-pruned plan is the one that survives.
    Output schema == q_knn_label_prop_weighted: (vec_id, label,
    score); label agreement >= 0.95 vs the exact weighted path pinned
    at sf0.01 AND sf0.1, bit-identity on clustered seeds, by
    tests/test_ann_label_prop.py.  Rows-only: the vote is over
    index-pruned candidates, not SQL-expressible.  No reference
    counterpart — SURVEY §2.C."""
    lab, unl = _seed_split(spark, sf_dir)
    return label_prop_ann_df(spark, lab, unl, weighted=True)


@query(
    "q_label_prop_ann_exhaustive",
    oracle=f"""
    WITH {_SQL_PROP}
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(votes AS BIGINT) AS votes
    FROM w WHERE pick = 1
    """,
)
def q_label_prop_ann_exhaustive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ANN propagation kernel at the driver HASH gate (r17 — the
    q_knn_filtered_ivf trick applied to label propagation): with
    nprobe = k_cells every non-empty cell is probed, so the candidate
    set is ALL seeds regardless of where Lloyd put the centroids, and
    label_prop_ann_df's vote must bit-equal q_knn_label_prop's oracle
    — same l2sq Column builder, same (dist, lab_id) rank and (votes
    desc, label) pick windows.  This pins the salted cell join, the
    empty-cell masking, the probe expansion and the vote plumbing by
    hash, where q_knn_label_prop_ann (serving settings, rows-only)
    can only pin agreement >= 0.95.  k_cells=8 deliberately small:
    ANY k hashes identically here, and the per-call Lloyd is the
    gate's only non-plumbing cost — so it runs ONE iteration (r17,
    the q_knn_filtered_ivf gate-config trick, VERDICT r16 #3):
    centroid-independence means any (k, iters) hashes identically,
    and the 5-iteration default was ~3.7 s of the gate's ~5 s
    (measured, OPTIMIZATION_r17.md).  Scale shape: identical to
    label_prop_ann_df's documented plan (exhaustive probing is the
    test configuration; production prunes cells)."""
    lab, unl = _seed_split(spark, sf_dir)
    return label_prop_ann_df(spark, lab, unl, k_cells=8, nprobe=8, iters=1)


def label_prop_ann_df(
    spark: SparkSession,
    lab: DataFrame,
    unl: DataFrame,
    k_cells: int = 16,
    nprobe: int = 12,
    weighted: bool = False,
    index=None,
    iters: int = 5,
) -> DataFrame:
    """The reusable ANN propagation kernel: `lab` is (lab_id, label,
    le), `unl` is (vec_id, emb).  Builds the IVF index over the seeds
    (k_cells seeded-Lloyd cells), searches with every unlabeled vector
    (K_PROP nearest under L2^2 among the nprobe nearest NON-EMPTY
    cells), and votes.  Output schema == q_knn_label_prop:
    (vec_id, label, votes) — and output COVERAGE matches too: because
    probing skips empty cells, every unlabeled vector draws >= 1
    candidate and gets a row whenever any seed exists (pinned by
    test_seedless_cells_still_cover_every_query).

    `index` (r13, VERDICT r12 #4): a prebuilt `IVFIndex` trained over
    the SEED side (corpus keyed by lab_id — what IVFIndex.train
    produces from lab renamed to (vec_id, emb), or IVFIndex.load of a
    persisted one).  When given, the per-call Lloyd training is
    skipped and `k_cells` is ignored — the maintained-index path the
    tick cadence uses (train once at init, propagate every tick;
    run_tick's label_prop_every).  The caller owns the contract that
    index.assignments covers exactly the ids in `lab`: propagation
    votes over the inner join of the two, so a seed missing from the
    index silently cannot vote (incremental seed batches go through
    IVFIndex.add, which assigns them to the frozen centroids).

    `weighted=True` (r13, VERDICT r12 #2) swaps ONLY the vote
    aggregate: candidates, rank window and coverage are shared with
    the majority path, but each of the K_PROP nearest seeds votes
    with weight 1/(1 + dist) and the pick orders by the ROUNDED score
    (rnd — the cross-engine determinism rule q_knn_label_prop_weighted
    established) with the label tie-break.  Output schema then ==
    q_knn_label_prop_weighted: (vec_id, label, score) — the
    confidence-scored variant on the SAME scale path, agreement vs
    label_prop_weighted_exact_df pinned by tests/test_ann_label_prop.py.

    Default (k_cells=16, nprobe=12) is sized for the UNIFORM driver
    fixture, where labels carry no geometric signal — the adversarial
    case for cell pruning — and holds vote agreement >= 0.95 vs the
    exact path at sf0.01 AND sf0.1 (measured, deterministic: seeded
    Lloyd + seeded init).  On clustered seeds (the realistic
    label-propagation regime) a 2-of-8 probe already reproduces the
    exact vote bit-for-bit — both regimes pinned by
    tests/test_ann_label_prop.py; the larger-seed-set head-to-head
    lives in scripts/label_prop_ann_check.py + SCALING.md.

    Plan shape (the part that makes ANN actually WIN at scale): this
    is a CELL JOIN, not a fetch-by-id — seeds carry their cell_id
    from the index build, queries are expanded to their nprobe probe
    cells executor-side (mapInPandas over the tiny centroid matrix),
    and the two sides join ON cell_id with the L2^2 computed inside
    the join.  The shuffle is O(|queries| * nprobe + |seeds|) rows;
    the candidate pairs (the big intermediate) are formed and reduced
    INSIDE whole-stage codegen and never shuffled.  Measured 9.2x
    over routing through IVFIndex.search_df's (query_id, vec_id) pair
    plan, which re-fetches both embedding arrays by id and therefore
    shuffles every candidate row twice (scripts/label_prop_ann_check
    .py; same fix pattern as the repo's cosine blocking)."""
    import numpy as np
    import pandas as pd

    from zebra_spark.index.ivf import (
        IVFIndex,
        expand_probe_rows,
        probe_l2sq_scores,
        salt_buckets,
        salted_cell_side,
    )

    seeds = lab.select(
        F.col("lab_id").alias("vec_id"), F.col("le").alias("emb")
    )
    # `iters` reaches only the per-call Lloyd (ignored with a prebuilt
    # index).  The serving-config queries keep the default; the
    # exhaustive hash gate passes 1 — with every cell probed the
    # candidate set (and therefore the vote) is centroid-independent,
    # so extra Lloyd iterations are computed-then-discarded work.
    idx = (
        index
        if index is not None
        else IVFIndex.train(
            spark, sf_dir="", k=k_cells, iters=iters, corpus=seeds
        )
    )
    centroids = idx.centroids
    nprobe = min(nprobe, len(centroids))

    # SALT the hot cells (the giant-cell-cap pattern this repo applies
    # to every blocking join): Lloyd can collapse several natural
    # clusters into one mega-cell, and a popular cell is probed by
    # most queries — without salting that one join key serializes
    # ~half the candidate pairs onto one task (measured: the 5k x 20k
    # head-to-head had a 705-seed cell probed by all queries = 14M of
    # 31M pairs on one key).  Seeds split into ceil(n/_SALT_CAP) salt
    # buckets per cell; the probe side replicates each (query, cell)
    # across that cell's buckets, so pairs-per-key <= probes * CAP.
    # The bucket-count vector is k_cells driver-side ints — the same
    # scalar class as the centroid matrix itself.
    sizes = {
        r["cell_id"]: r["n"] for r in idx.cell_sizes().collect()
    }
    buckets = salt_buckets(sizes, len(centroids))
    # probe only NON-EMPTY cells: Lloyd leaves empty cells when k
    # exceeds the natural cluster count, and a query whose nprobe
    # nearest centroids were all empty would draw zero candidates and
    # silently VANISH from the output (the exact path emits a label
    # for every query).  Masking empties to +inf before the partition
    # guarantees every query's candidates come from seed-bearing
    # cells, so the output covers every unlabeled vector whenever any
    # seed exists.
    valid = np.array(
        [sizes.get(c, 0) > 0 for c in range(len(centroids))], dtype=bool
    )
    nprobe = min(nprobe, int(valid.sum()))
    penalty = np.where(valid, 0.0, np.inf)
    # driver-side read shipped in the closure — same reason as
    # IVFIndex.search_df's probe_limit (worker re-import)
    from zebra_spark.index import ivf as _ivf_mod

    probe_limit = _ivf_mod._PROBE_TENSOR_LIMIT

    def probe_op(batches):
        for pdf in batches:
            embs = pdf["emb"].tolist()
            if not embs or nprobe == 0:  # nprobe 0 == no seeds at all
                continue
            M = np.asarray(embs, dtype=np.float64)
            ids = np.asarray(pdf["vec_id"], dtype=np.int64)
            # cell ranking via the SHARED probe_l2sq_scores (ADVICE
            # r12): exact squared-difference tensor at small k — the
            # same FP path as IVFIndex.search_df, so the two plans
            # cannot disagree on an argsort boundary — switching to
            # the O(batch x k) BLAS form past _PROBE_TENSOR_LIMIT
            d2 = (
                probe_l2sq_scores(M, centroids, limit=probe_limit)
                + penalty[None, :]
            )
            if nprobe < d2.shape[1]:
                cells = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe]
            else:
                cells = np.broadcast_to(
                    np.arange(d2.shape[1]), d2.shape
                ).copy()
            row_idx, cell_ids, out_salt, _ = expand_probe_rows(
                cells, buckets
            )
            yield pd.DataFrame(
                {
                    "vec_id": ids[row_idx],
                    "cell_id": cell_ids,
                    "salt": out_salt,
                    "emb": [embs[i] for i in row_idx],
                }
            )

    probed = unl.mapInPandas(
        probe_op, "vec_id bigint, cell_id int, salt int, emb array<double>"
    )
    # salted_cell_side's repartition matters here: the trained
    # assignments frame is AQE-coalesced to ~1 partition (tiny rows),
    # and without it the join, the L2^2 on every candidate, and the
    # rank window's shuffle write all ran on ONE task (measured:
    # 365 s at 5k seeds x 20k queries)
    seed_side = salted_cell_side(
        idx.assignments.select(F.col("vec_id").alias("lab_id"), "cell_id")
        .join(lab, "lab_id"),
        buckets,
        "lab_id",
    )
    rk = Window.partitionBy("vec_id").orderBy("dist", "lab_id")
    ranked = (
        probed.join(seed_side, ["cell_id", "salt"])
        .select(
            "vec_id", "label", "lab_id",
            zf.l2sq(F.col("emb"), F.col("le")).alias("dist"),
        )
        # a seed lives in exactly one (cell, salt) bucket, so no
        # per-(query, seed) dedup is needed
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= K_PROP)
    )
    if weighted:
        pick = Window.partitionBy("vec_id").orderBy(
            rnd(F.col("score")).desc(), "label"
        )
        return (
            ranked.groupBy("vec_id", "label")
            .agg(F.sum(1.0 / (1.0 + F.col("dist"))).alias("score"))
            .withColumn("pick", F.row_number().over(pick))
            .filter(F.col("pick") == 1)
            .select(
                "vec_id",
                F.col("label").cast("bigint").alias("label"),
                rnd(F.col("score")).alias("score"),
            )
        )
    pick = Window.partitionBy("vec_id").orderBy(F.col("votes").desc(), "label")
    return (
        ranked.groupBy("vec_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
        .withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
    )


@query(
    "q_centroid_per_label",
    oracle=f"""
    WITH x AS (
      SELECT label, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, range(1, {DIM + 1}) t(i)
    ),
    c AS (SELECT label, pos, avg(val) AS cval FROM x GROUP BY label, pos),
    d AS (
      SELECT x.label, x.vec_id, sum((x.val - c.cval) * (x.val - c.cval)) AS dist
      FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
      GROUP BY x.label, x.vec_id
    ),
    r AS (
      SELECT label, vec_id, dist,
             CAST(row_number() OVER (
               PARTITION BY label ORDER BY dist, vec_id) AS INTEGER) AS rank
      FROM d
    )
    SELECT label, vec_id, rank, {sql_rnd("dist")} AS dist
    FROM r WHERE rank <= 3
    """,
)
def q_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search against per-group centroids: element-wise mean
    per label via posexplode, then L2^2 of each member to its centroid,
    top-3 nearest per label.

    Scale: posexplode multiplies rows by dim — at 100 TB you'd compute
    centroids with a single `aggregate`-based vector-sum agg instead; the
    join back is on (label,pos) which co-partitions with the groupBy, so
    AQE keeps it one shuffle round.
    """
    e = embeddings_d(spark, sf_dir)
    x = e.select(
        "label", "vec_id", F.posexplode("emb").alias("pos0", "val")
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    c = x.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    d = (
        x.join(c, ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("dist"))
    )
    w = Window.partitionBy("label").orderBy("dist", "vec_id")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("label", "vec_id", "rank", rnd(F.col("dist")).alias("dist"))
    )


QUANT_SCALE = 127.0


@query(
    "q_emb_quantize_int8",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    m AS (
      SELECT vec_id, emb,
             greatest(list_max(list_transform(emb, x -> abs(x))), 1e-12)
               AS amax
      FROM e
    )
    SELECT vec_id,
           CAST(floor(emb[1] / amax * {QUANT_SCALE} + 0.5) AS BIGINT) AS q1,
           CAST(floor(emb[2] / amax * {QUANT_SCALE} + 0.5) AS BIGINT) AS q2,
           CAST(floor(emb[3] / amax * {QUANT_SCALE} + 0.5) AS BIGINT) AS q3,
           CAST(floor(emb[4] / amax * {QUANT_SCALE} + 0.5) AS BIGINT) AS q4,
           {sql_rnd("amax")} AS scale
    FROM m
    """,
)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (symmetric int8) quantization of the embedding column —
    the storage/bandwidth path for billion-vector corpora (4x smaller
    than f32, distance error bounded by amax/127).  Per-row max-abs
    scale, floor(x+0.5) rounding on BOTH engines (native round()
    half-even/half-up semantics differ), first 4 lanes emitted for the
    hash check.  Pure per-row native expressions — embarrassingly
    parallel."""
    e = embeddings_d(spark, sf_dir).select("vec_id", "emb")
    amax = F.greatest(
        F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x))),
        F.lit(1e-12),
    )

    def lane(i: int):
        x = F.element_at("emb", i)
        return F.floor(x / F.col("amax") * QUANT_SCALE + F.lit(0.5)).cast(
            "bigint"
        ).alias(f"q{i}")

    return e.withColumn("amax", amax).select(
        "vec_id", lane(1), lane(2), lane(3), lane(4),
        rnd(F.col("amax")).alias("scale"),
    )


# --- embedding dimensionality reduction (covariance + PCA) ------------------


def _emb_moment_stats(emb: DataFrame) -> DataFrame:
    """One corpus pass -> the sufficient statistics for mean/covariance:
    a (idx, v) frame holding [n, sum(x_j)..., sum(x_j*x_k)...] laid out
    as idx 0, 1..D, D+1..D+D^2.

    mapInPandas computes per-Arrow-batch partials (count, sum vector,
    X^T X via one BLAS matmul) so the shuffle is O(batches x D^2), never
    O(rows): at 100 TB the corpus is read once, each task emits a few
    KB, and the final combine is a 4k-row aggregation.  Consumers must
    NOT branch off this frame with idx filters: Catalyst pushes each
    branch's filter below the aggregation exchange, the exchanges stop
    being identical, ReuseExchange no longer applies, and the corpus
    gets scanned once per branch (observed: a 4-branch covariance
    formulation planned 4 full scans).  Consume it linearly (a
    single-partition finisher, or one driver collect)."""
    import numpy as np
    import pandas as pd

    def partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.asarray(pdf["emb"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [np.matmul(X.T, X).ravel().tolist()],
                }
            )

    p = emb.select("emb").mapInPandas(
        partials, schema="n double, s array<double>, ss array<double>"
    )
    flat = p.select(
        F.posexplode(
            F.concat(F.array(F.col("n")), F.col("s"), F.col("ss"))
        ).alias("idx", "v")
    )
    return flat.groupBy("idx").agg(F.sum("v").alias("v"))


@query(
    "q_emb_covariance",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS j,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT CAST(a.j AS INTEGER) AS j, CAST(b.j AS INTEGER) AS k,
           {sql_rnd("covar_pop(a.v, b.v)")} AS cov
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.j <= b.j
    GROUP BY a.j, b.j
    """,
)
def q_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix of the embedding corpus (upper
    triangle, D(D+1)/2 rows) — the first stage of PCA / whitening /
    drift monitoring over an embedding column.

    Spark side is the scalable one-pass shape (_emb_moment_stats):
    per-batch X^T X partials, O(D^2) shuffle, then a single-partition
    Arrow finisher turns the 1+D+D^2 sums into the D(D+1)/2 upper
    triangle — the corpus is scanned exactly ONCE (a self-join
    formulation of the finish step planned 4 full scans; see
    _emb_moment_stats).  The oracle's quadratic unnest self-join
    (rows x D^2) is fine for DuckDB at sf scale but is exactly the
    shape the Spark plan avoids."""
    import numpy as np
    import pandas as pd

    emb = embeddings_d(spark, sf_dir)
    dim = len(emb.select("emb").first()[0])
    stats = _emb_moment_stats(emb)

    def finish(it):
        flat = np.zeros(1 + dim + dim * dim)
        for pdf in it:
            flat[pdf["idx"].to_numpy()] += pdf["v"].to_numpy()
        n, s = flat[0], flat[1 : 1 + dim]
        ss = flat[1 + dim :].reshape(dim, dim)
        mean = s / n
        cov = ss / n - np.outer(mean, mean)
        j, k = np.triu_indices(dim)
        yield pd.DataFrame(
            {"j": j.astype("int32"), "k": k.astype("int32"), "cov": cov[j, k]}
        )

    tri = stats.repartition(1).mapInPandas(
        finish, schema="j int, k int, cov double"
    )
    return tri.select("j", "k", rnd(F.col("cov")).alias("cov"))


PCA_K = 8


@query("q_emb_pca")  # rows-only: eigendecomposition is not SQL-expressible
def q_emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top-{PCA_K} principal
    components of the corpus covariance.

    Scale split: the sufficient statistics are the one-pass
    _emb_moment_stats frame; only the D x D matrix (a few thousand
    doubles) is collected to the driver for np.linalg.eigh — the same
    bounded-collect pattern as the LSH hyperplane samples.  The
    projection matrix is then broadcast back and applied with one
    Arrow-batched matmul per batch; no corpus-sized shuffle at all.
    Sign convention: each component is flipped so its largest-magnitude
    coefficient is positive (eigh's sign is otherwise arbitrary).
    Invariants (variance ordering, orthogonality, trace) are asserted
    in tests/test_pca.py.

    Output shape is exploded scalar rows (vec_id, k, pc) rather than an
    array<double> column: the driver's pandas canonicalizer sorts every
    output column, and ndarray cells are unhashable (CORRECTNESS_r04
    `err`).  All registry queries must emit scalar columns — enforced
    for the whole registry by tests/test_oracle_parity.py::
    test_driver_canon_conformance."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    emb = embeddings_d(spark, sf_dir)
    dim = len(emb.select("emb").first()[0])
    rows = _emb_moment_stats(emb).collect()
    flat = np.zeros(1 + dim + dim * dim)
    for r in rows:
        flat[r["idx"]] = r["v"]
    n, s, ss = flat[0], flat[1 : 1 + dim], flat[1 + dim :].reshape(dim, dim)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    comps = evecs[:, order]  # D x K
    signs = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(PCA_K)])
    signs[signs == 0] = 1.0
    comps = comps * signs
    bc = spark.sparkContext.broadcast((mean, comps))

    def _project(embs):
        m, c = bc.value
        X = np.asarray(embs.tolist(), dtype=np.float64) - m
        return pd.Series(list(np.matmul(X, c)))

    project = pandas_udf(_project, "array<double>")

    return emb.select(
        "vec_id", F.posexplode(project(F.col("emb"))).alias("k", "pc")
    ).select("vec_id", "k", rnd(F.col("pc")).alias("pc"))


STD_DIMS = 16  # dims emitted for the hash check (full-width in-engine)


@query(
    "q_emb_standardize",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS j,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    stats AS (
      SELECT j, avg(v) AS mu, stddev_pop(v) AS sd FROM e GROUP BY j
    )
    SELECT e.vec_id, CAST(e.j AS INTEGER) AS j,
           {sql_rnd("(e.v - s.mu) / greatest(s.sd, 1e-12)")} AS z
    FROM e JOIN stats s ON s.j = e.j
    WHERE e.j < {STD_DIMS}
    """,
)
def q_emb_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization (the feature-scaling step
    before PCA/whitening/clustering): one column-pruned corpus pass
    aggregates each dimension's mean and population stddev — a D-row
    result, broadcast back — then the z transform is pure per-row
    arithmetic.  Deliberately NOT a Window.partitionBy(dim): a window
    would shuffle the full exploded corpus (rows x D) to co-locate each
    dimension, while the agg+broadcast-join plan shuffles only the
    D-row stats frame and stays embarrassingly parallel over the
    corpus.  First {STD_DIMS} dims emitted for the hash check."""
    e = embeddings_d(spark, sf_dir).select(
        "vec_id", F.posexplode("emb").alias("j", "v")
    ).filter(F.col("j") < STD_DIMS)
    stats = e.groupBy("j").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
    )
    z = (F.col("v") - F.col("mu")) / F.greatest(F.col("sd"), F.lit(1e-12))
    return e.join(F.broadcast(stats), "j").select(
        "vec_id", F.col("j").cast("int").alias("j"), rnd(z).alias("z")
    )


OUTLIER_Z = 2.0


@query(
    "q_emb_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    mu AS (
      SELECT list(m ORDER BY j) AS ce FROM (
        SELECT j, avg(v) AS m FROM (
          SELECT generate_subscripts(embedding, 1) AS j,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings
        ) GROUP BY j
      )
    ),
    d AS (
      SELECT e.vec_id, {{dist}} AS dist FROM e CROSS JOIN mu
    ),
    s AS (
      SELECT avg(dist) AS dm, greatest(stddev_pop(dist), 1e-12) AS ds FROM d
    )
    SELECT d.vec_id, {sql_rnd('d.dist')} AS dist,
           {sql_rnd('(d.dist - s.dm) / s.ds')} AS z,
           CASE WHEN (d.dist - s.dm) / s.ds > {OUTLIER_Z} THEN 1 ELSE 0 END
             AS is_outlier
    FROM d CROSS JOIN s
    """.format(dist=zf.sql_metric("l2", a="e.emb", b="mu.ce", dim=64)),
)
def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier flagging (corpus-quality screening: far
    from the centroid usually means garbage decode, wrong language, or
    adversarial content).  Centroid = per-dimension mean via one
    column-pruned pass, collected to the driver (dim doubles — the
    bounded-collect pattern of the LSH hyperplanes); distances are then
    a pure per-row expression against the centroid literal, and the
    z-score statistics are one tiny agg broadcast back.  Three corpus
    scans, zero corpus-sized shuffles."""
    e = embeddings_d(spark, sf_dir).select("vec_id", "emb")
    mu_rows = (
        e.select(F.posexplode("emb").alias("j", "v"))
        .groupBy("j")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    ce = F.array(
        *[F.lit(float(r.m)) for r in sorted(mu_rows, key=lambda r: r.j)]
    )
    d = e.select("vec_id", zf.l2(F.col("emb"), ce).alias("dist"))
    s = d.agg(
        F.avg("dist").alias("dm"),
        F.greatest(F.stddev_pop("dist"), F.lit(1e-12)).alias("ds"),
    )
    z = (F.col("dist") - F.col("dm")) / F.col("ds")
    return d.crossJoin(F.broadcast(s)).select(
        "vec_id",
        rnd(F.col("dist")).alias("dist"),
        rnd(z).alias("z"),
        F.when(z > OUTLIER_Z, 1).otherwise(0).alias("is_outlier"),
    )


RP_OUT = 16  # random-projection output dimensionality
RP_A, RP_B = 1_103_515_245, 12_345  # LCG constants for the sign matrix
RP_P = 2_147_483_647


def _rp_sign(flat_idx: str) -> str:
    """±1 pseudo-random sign for one matrix cell, identical text both
    dialects: parity of an LCG step over the flattened (dim, k) index."""
    return (
        f"(CASE WHEN (({RP_A} * CAST({flat_idx} AS BIGINT) + {RP_B})"
        f" % {RP_P}) % 2 = 1 THEN 1.0 ELSE -1.0 END)"
    )


@query(
    "q_emb_random_projection",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT e.vec_id, CAST(t.k AS INTEGER) AS k,
           {sql_rnd(
               f"list_sum(list_transform(range(1, {DIM} + 1), j ->"
               f" emb[j] * {_rp_sign(f'(j - 1) * {RP_OUT} + t.k')}))"
               f" / sqrt({RP_OUT})"
           )} AS value
    FROM e CROSS JOIN range(0, {RP_OUT}) t(k)
    """,
)
def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection {DIM}->{RP_OUT} dims with
    an Achlioptas ±1 sign matrix.  The matrix is never materialized or
    shipped: each cell's sign is an LCG-parity expression over its
    flattened index, recomputed identically on every executor (and in
    the DuckDB oracle) — the distributed-systems trick that replaces a
    broadcast of random state with deterministic recomputation.  The
    projection itself is a pure per-row fold (no shuffle, no UDF); at
    100 TB this runs embarrassingly parallel as one corpus scan.
    Output exploded to (vec_id, k, value) scalar rows per the driver
    canonicalizer contract."""
    # Spark subscripts are 0-based (oracle's 1-based j-1 == this j)
    proj = (
        f"transform(sequence(0, {RP_OUT - 1}), k ->"
        f" aggregate(sequence(0, {DIM - 1}), CAST(0.0 AS DOUBLE),"
        f" (acc, j) -> acc + emb[j] * {_rp_sign(f'j * {RP_OUT} + k')})"
        f" / sqrt({RP_OUT}))"
    )
    return (
        embeddings_d(spark, sf_dir)
        .select("vec_id", F.posexplode(F.expr(proj)).alias("k", "value"))
        .select("vec_id", "k", rnd(F.col("value")).alias("value"))
    )


PREFIX_DIM = 16  # Matryoshka-style truncation audit width


@query(
    "q_emb_prefix_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10),
    ft AS (
      SELECT q.query_id, e.vec_id AS nid,
             row_number() OVER (PARTITION BY q.query_id ORDER BY
               {zf.sql_metric('l2sq', a='e.emb', b='q.qe', dim=64)},
               e.vec_id) AS rk
      FROM e CROSS JOIN q
    ),
    pt AS (
      SELECT q.query_id, e.vec_id AS nid,
             row_number() OVER (PARTITION BY q.query_id ORDER BY
               {zf.sql_metric('l2sq', a='e.emb', b='q.qe', dim=PREFIX_DIM)},
               e.vec_id) AS rk
      FROM e CROSS JOIN q
    ),
    f10 AS (SELECT * FROM ft WHERE rk <= 10),
    p10 AS (SELECT * FROM pt WHERE rk <= 10)
    SELECT f.query_id,
           CAST(count(p.nid) AS BIGINT) AS n_overlap,
           CAST(max(CASE WHEN f.rk = 1 AND p.nid IS NOT NULL
                    THEN 1 ELSE 0 END) AS INTEGER) AS nn_kept
    FROM f10 f LEFT JOIN p10 p
      ON p.query_id = f.query_id AND p.nid = f.nid
    GROUP BY f.query_id
    """,
)
def q_emb_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: for each query, how much of
    the full-{64}-dim top-10 survives when distances use only the first
    {PREFIX_DIM} dimensions — the measurement behind
    truncate-and-renormalize embedding compression (Kusupati et al.
    2022): n_overlap per query plus whether the true nearest neighbour
    is kept.  Pairs with q_emb_quantize_int8 (precision) as the two
    compression axes.  Same broadcast-query/one-corpus-pass shape as
    knn_exact, twice, joined on bounded (query, neighbor) sets — no
    new scale surface."""
    e = embeddings_d(spark, sf_dir).select("vec_id", "emb")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    from pyspark.sql import Window

    def topk(dist_col):
        w = Window.partitionBy("query_id").orderBy("dist", "nid")
        return (
            e.crossJoin(F.broadcast(q))
            .select(
                "query_id",
                F.col("vec_id").alias("nid"),
                dist_col.alias("dist"),
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("query_id", "nid", "rk")
        )

    f10 = topk(zf.l2sq(F.col("qe"), F.col("emb")))
    p10 = topk(
        zf.l2sq(
            F.slice(F.col("qe"), 1, PREFIX_DIM),
            F.slice(F.col("emb"), 1, PREFIX_DIM),
        )
    )
    # rename the prefix side before joining: f10/p10 share lineage (e, q),
    # so same-named Column references would resolve ambiguously
    p = p10.select(
        F.col("query_id").alias("p_qid"), F.col("nid").alias("pnid")
    )
    return (
        f10.join(
            p,
            (F.col("query_id") == F.col("p_qid"))
            & (F.col("nid") == F.col("pnid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("pnid").cast("bigint").alias("n_overlap"),
            F.max(
                F.when((F.col("rk") == 1) & F.col("pnid").isNotNull(), 1)
                .otherwise(0)
            ).cast("int").alias("nn_kept"),
        )
    )


DEAD_DIM_VAR = 1e-4  # variance below this flags a collapsed dimension


@query(
    "q_emb_dim_variance",
    oracle=f"""
    WITH x AS (
      SELECT CAST(d.i - 1 AS INTEGER) AS dim,
             e.embedding[d.i]::DOUBLE AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) d
    ),
    s AS (
      SELECT dim, count(*) AS n, sum(v) AS sv, sum(v * v) AS svv
      FROM x GROUP BY dim
    )
    SELECT dim,
           {sql_rnd('sv / n')} AS mean,
           {sql_rnd('svv / n - (sv / n) * (sv / n)')} AS variance,
           CAST(CASE WHEN svv / n - (sv / n) * (sv / n) < {DEAD_DIM_VAR}
                THEN 1 ELSE 0 END AS INTEGER) AS dead
    FROM s
    """,
)
def q_emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION variance audit: mean, biased variance, and a
    dead-dimension flag for each of the 64 lanes — the quick health
    check for collapsed/unused embedding dimensions (a lane whose
    variance ~0 carries no information and signals a training or
    truncation defect; complements q_emb_covariance's full matrix with
    a 64-row ranking view).  One posexplode + one 64-key aggregation
    with map-side partial combine — a single bounded shuffle at any
    corpus size."""
    e = embeddings_d(spark, sf_dir).select(
        F.posexplode("emb").alias("dim", "v")
    )
    s = e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    mean = F.col("sv") / F.col("n")
    var = F.col("svv") / F.col("n") - mean * mean
    return s.select(
        "dim",
        rnd(mean).alias("mean"),
        rnd(var).alias("variance"),
        F.when(var < DEAD_DIM_VAR, 1).otherwise(0).cast("int").alias("dead"),
    )
