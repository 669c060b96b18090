"""Text-analysis surface over `documents` (SURVEY §2.B + north-star
training-data ops): word count, pairwise token-set Jaccard, token
counting, quality scoring, language-ID, fingerprinting.

All are native DataFrame ops (split/explode/groupBy/window) — the
explode-join-agg pattern shuffles on (source, word)-grain keys, which is
how it stays balanced at scale (the hot key is the word, not the doc).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zebra_spark.functions import rnd
from zebra_spark.io import load
from zebra_spark.registry import QUERIES, query, sql_rnd

JACCARD_THRESHOLD = 0.2
# Posting lists longer than this are stopword-grade within their source:
# they never GENERATE candidate pairs (per-word pair fan-out is bounded
# by C(cap, 2)); they still COUNT toward n_common of pairs generated by
# rarer words, so reported Jaccard stays the exact full-token-set value.
# The fixture vocabulary maxes at 24 docs/(source,word) at sf0.01, so
# the cap is non-binding there (output identical to uncapped).
JACCARD_DF_CAP = 64


def doc_tokens(docs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, word): the whitespace tokens of a documents frame, one
    row per occurrence — the one tokenizer expression the text queries
    and the near-dup signatures share."""
    return docs.select(*keys, F.explode(F.split("text", " ")).alias("word"))


def tokens(spark: SparkSession, sf_dir: str, distinct: bool = True) -> DataFrame:
    t = doc_tokens(load(spark, sf_dir, "documents"), "doc_id", "source")
    return t.distinct() if distinct else t


@query(
    "q_text_wordcount",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT word, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM tok GROUP BY word
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize -> explode -> count: the canonical text map/reduce."""
    tok = tokens(spark, sf_dir, distinct=False)
    return tok.groupBy("word").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


ZIPF_TOP = 10_000  # head-of-distribution fit window (rank <= 10k)


@query(
    "q_text_zipf",
    oracle=f"""
    WITH tokall AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (SELECT word, count(*) AS cnt FROM tokall GROUP BY word),
    top AS (
      SELECT word, cnt FROM counts ORDER BY cnt DESC, word LIMIT {ZIPF_TOP}
    ),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, word) AS rank
      FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(cnt) AS BIGINT) AS total_tokens,
           {sql_rnd("regr_slope(ln(cnt), ln(rank))")} AS zipf_slope,
           {sql_rnd("regr_r2(ln(cnt), ln(rank))")} AS zipf_r2
    FROM ranked
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Zipf diagnostic of the corpus vocabulary: the
    log-log rank-frequency slope and fit over the top-{ZIPF_TOP}
    words.  Natural text sits near slope -1 with high r²; a corpus
    polluted by boilerplate duplication, templated spam, or synthetic
    generation bends the head of the curve — making this the cheapest
    corpus-level canary to run beside the per-doc quality rules (it
    needs only the wordcount aggregate the pipeline computes anyway).

    Scale shape: one map-side-combined groupBy over the token stream,
    then TOP-{ZIPF_TOP} BY COUNT via orderBy+limit —
    TakeOrderedAndProject, per-partition heads + one {ZIPF_TOP}-row
    merge, never a global window over the full vocabulary (at 100 TB
    the vocab is billions of rows; the fit window is the distribution
    head by construction, which is also the statistically right place
    to fit Zipf).  The ranking window and the regression run on the
    bounded {ZIPF_TOP}-row frame.  Ties rank deterministically by
    (count desc, word) on both engines."""
    tok = tokens(spark, sf_dir, distinct=False)
    counts = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), "word").limit(ZIPF_TOP)
    w = Window.orderBy(F.col("cnt").desc(), "word")
    ranked = top.withColumn("rank", F.row_number().over(w))
    lc, lr = F.log(F.col("cnt")), F.log(F.col("rank"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("cnt").alias("total_tokens"),
        rnd(F.regr_slope(lc, lr)).alias("zipf_slope"),
        rnd(F.regr_r2(lc, lr)).alias("zipf_r2"),
    )


@query(
    "q_text_jaccard_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    pl AS (
      SELECT source, word, count(*) AS n FROM tok GROUP BY source, word
    ),
    cand AS (
      SELECT DISTINCT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a
      JOIN tok b ON a.word = b.word AND a.source = b.source
                AND a.doc_id < b.doc_id
      JOIN pl ON pl.source = a.source AND pl.word = a.word
      WHERE pl.n <= {JACCARD_DF_CAP}
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT c.source, c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.word = ta.word
      GROUP BY c.source, c.doc_a, c.doc_b
    )
    SELECT i.source, i.doc_a, i.doc_b, i.n_common,
           {sql_rnd("i.n_common * 1.0 / (sa.n + sb.n - i.n_common)")} AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= {JACCARD_THRESHOLD}
    """,
)
def q_text_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup candidate scoring: token-set Jaccard for doc pairs
    within the same `source` group that share at least one INFORMATIVE
    token (within-source document frequency <= JACCARD_DF_CAP).

    Candidate generation and verification are separate stages (the
    MinHash-verify shape):
      1. candidates come only from posting lists of length <= cap, so a
         hot stopword can no longer explode one task — per-word pair
         fan-out is bounded by C(cap, 2);
      2. n_common / Jaccard are then computed EXACTLY over the full
         token sets (stopwords included) by joining candidates back to
         the token table.
    Pairs whose entire overlap is stopword-grade tokens are excluded by
    design (boilerplate matches); the full-corpus recall path for those
    is q_dedup_minhash.  The oracle mirrors both stages, so hash parity
    holds at every SF, and at sf0.01 the cap is non-binding so the
    output equals the uncapped operator's.
    """
    tok = tokens(spark, sf_dir, distinct=True)
    sz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # pair generation via per-(source,word) sorted posting lists instead
    # of a token self-join: one groupBy shuffle, each unordered pair
    # emitted exactly once (docs sorted, inner slice starts past i),
    # lists above the cap dropped BEFORE the quadratic flatten
    grp = (
        tok.groupBy("source", "word")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= JACCARD_DF_CAP)
    )
    cand = (
        grp.select(
            "source",
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) ->"
                    " transform(slice(docs, i + 2, size(docs)),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p"),
        )
        .select("source", "p.doc_a", "p.doc_b")
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), "word")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "word")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "word"])
        .groupBy("source", "doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            "source",
            "doc_a",
            "doc_b",
            "n_common",
            rnd(jac).alias("jaccard"),
        )
    )


# --- training-data text analysis (north-star ops) ---------------------------

FP_P = 1_000_000_007
FP_POWS = [pow(31, k, FP_P) for k in range(8)]


def word_hash_expr(col: str = "word"):
    """Per-token positional polynomial hash (same family as
    q_text_fingerprint): sum_i ascii(c_i) * 31^(i mod 8) mod p.

    Pure per-row native expression — no vocabulary join, no global
    window — so token-id assignment is embarrassingly parallel at any
    scale.  `sql_word_hash` is the DuckDB twin; both engines produce
    identical ids (collisions included), so hash-parity is exact.
    """
    return F.expr(word_hash_sql_spark(col))


def word_hash_sql_spark(col: str = "word") -> str:
    """The word-hash as a Spark-SQL string over any expression `col` —
    usable inside higher-order-function lambdas (e.g. `col` = a lambda
    variable), which a Column-returning builder can't reach."""
    pows = ", ".join(str(p) for p in FP_POWS)
    return (
        f"CASE WHEN length({col}) = 0 THEN CAST(0 AS BIGINT) ELSE"
        f" aggregate(sequence(1, length({col})), CAST(0 AS BIGINT),"
        f" (h, i) -> h + (CAST(ascii(substring({col}, i, 1)) AS BIGINT)"
        f" * element_at(array({pows}), ((i - 1) % 8) + 1)) % {FP_P})"
        f" % {FP_P} END"
    )


def sql_word_hash(col: str = "word") -> str:
    """DuckDB twin of word_hash_expr (see q_text_fingerprint oracle)."""
    pows = ", ".join(str(p) for p in FP_POWS)
    return (
        f"coalesce(CAST(list_sum(list_transform(range(1, length({col}) + 1),"
        f" i -> (CAST(ascii(substr({col}, i, 1)) AS BIGINT) *"
        f" ([{pows}])[(i - 1) % 8 + 1]) % {FP_P})) AS BIGINT), 0) % {FP_P}"
    )


@query(
    "q_text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
                w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_ish
    FROM documents
    """,
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate
    (ceil(len/4) subword pieces per word) via a native array fold."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bpe = F.aggregate(
        F.transform(words, lambda w: F.ceil(F.length(w) / 4.0).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(words).alias("ws_tokens"),
        bpe.alias("bpe_ish"),
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    stop AS (
      SELECT word FROM (
        SELECT word, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, word) AS rk
        FROM tok GROUP BY word
      ) WHERE rk <= 10
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           count(DISTINCT word) AS n_distinct,
           {sql_rnd("count(DISTINCT word) * 1.0 / count(*)")} AS ttr,
           {sql_rnd("avg(length(word))")} AS avg_wlen,
           {sql_rnd("sum(CASE WHEN word IN (SELECT word FROM stop) THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS stop_ratio
    FROM tok GROUP BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, type-token ratio, mean word length,
    stopword ratio (stoplist = data-derived global top-10 words,
    deterministic count-desc/word-asc tie-break)."""
    tok = tokens(spark, sf_dir, distinct=False).select("doc_id", "word")
    wc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    # orderBy+limit -> TakeOrderedAndProject (distributed partial top-k);
    # a global row_number window would drag the whole vocabulary through
    # one partition
    stop = (
        wc.orderBy(F.col("n").desc(), "word")
        .limit(10)
        .select("word", F.lit(1).alias("is_stop"))
    )
    t = tok.join(F.broadcast(stop), "word", "left")
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct"),
        rnd(F.countDistinct("word") / F.count(F.lit(1))).alias("ttr"),
        rnd(F.avg(F.length("word"))).alias("avg_wlen"),
        rnd(F.sum(F.coalesce("is_stop", F.lit(0))) / F.count(F.lit(1))).alias(
            "stop_ratio"
        ),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    lv AS (
      SELECT lang, word FROM (
        SELECT lang, word, row_number() OVER (
          PARTITION BY lang ORDER BY count(*) DESC, word) AS rk
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM documents)
        GROUP BY lang, word
      ) WHERE rk <= 20
    ),
    score AS (
      SELECT t.doc_id, lv.lang AS cand_lang, count(*) AS overlap
      FROM (SELECT DISTINCT doc_id, word FROM tok) t
      JOIN lv ON t.word = lv.word
      GROUP BY t.doc_id, lv.lang
    ),
    pick AS (
      SELECT doc_id, cand_lang AS pred_lang FROM (
        SELECT doc_id, cand_lang, row_number() OVER (
          PARTITION BY doc_id ORDER BY overlap DESC, cand_lang) AS rk
        FROM score
      ) WHERE rk = 1
    )
    SELECT d.doc_id, d.lang, p.pred_lang,
           CAST(CASE WHEN d.lang = p.pred_lang THEN 1 ELSE 0 END AS INTEGER)
             AS correct
    FROM documents d JOIN pick p ON d.doc_id = p.doc_id
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language top-20 vocabulary (derived
    from the corpus itself), predict the language with max distinct-word
    overlap.  n-gram-profile langid reduced to vocab-profile — same
    argmax-over-profiles shape, fully portable."""
    d = load(spark, sf_dir, "documents")
    tok_all = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    lv = (
        tok_all.groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("n").desc(), "word")
            ),
        )
        .filter(F.col("rk") <= 20)
        .select(F.col("lang").alias("cand_lang"), "word")
    )
    dtok = tok_all.select("doc_id", "word").distinct()
    score = (
        dtok.join(F.broadcast(lv), "word")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    pick = (
        score.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("overlap").desc(), "cand_lang"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"))
    )
    return (
        d.select("doc_id", "lang")
        .join(pick, "doc_id")
        .select(
            "doc_id",
            "lang",
            "pred_lang",
            F.when(F.col("lang") == F.col("pred_lang"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )


@query(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           coalesce(CAST(list_sum(list_transform(range(1, length(text) + 1),
                i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) *
                      ([{", ".join(str(p) for p in FP_POWS)}])[(i - 1) % 8 + 1])
                     % {FP_P}))
                AS BIGINT), 0) % {FP_P} AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: positional polynomial hash
    sum_i ascii(c_i) * 31^(i mod 8) mod p — a rolling-hash-family
    fingerprint expressible as one native array fold (no UDF)."""
    d = load(spark, sf_dir, "documents")
    pows = ", ".join(str(p) for p in FP_POWS)
    # per-term mod keeps the accumulator far from bigint overflow even
    # for huge/CJK texts (ascii() yields full codepoints); empty text ->
    # 0 on both engines (Spark's sequence(1,0) is DESCENDING, not empty,
    # so it must be guarded, and DuckDB's empty-list sum is NULL)
    fp = F.expr(
        f"CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE"
        f" aggregate(sequence(1, length(text)), CAST(0 AS BIGINT),"
        f" (h, i) -> h + (CAST(ascii(substring(text, i, 1)) AS BIGINT)"
        f" * element_at(array({pows}), ((i - 1) % 8) + 1)) % {FP_P})"
        f" % {FP_P} END"
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q_array_funcs2",
    oracle="""
    SELECT doc_id,
           CAST(list_contains(string_split(text, ' '), 'data') AS BOOLEAN)
             AS has_data,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
             AS n_distinct,
           array_to_string(list_sort(list_distinct(
             string_split(text, ' ')))[1:3], '-') AS first3
    FROM documents
    """,
)
def q_array_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery on token arrays: contains, distinct-size, sorted
    slice joined to a string."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_contains(words, "data").alias("has_data"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(words)), 1, 3), "-"
        ).alias("first3"),
    )


@query(
    "q_regex_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[aeiou]')) AS INTEGER)
             AS n_vowels,
           CAST(len(regexp_extract_all(text, '\\b[a-z]{4}\\b')) AS INTEGER)
             AS n_four_letter,
           regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word
    FROM documents
    """,
)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery: match counting and first-match extraction."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[aeiou]")).cast("int").alias("n_vowels"),
        F.regexp_count("text", F.lit(r"\b[a-z]{4}\b")).cast("int").alias(
            "n_four_letter"
        ),
        F.regexp_extract("text", "([a-z]{6,})", 1).alias("first_long_word"),
    )


TFIDF_TOP_K = 5


@query(
    "q_text_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word),
    scored AS (
      SELECT tf.doc_id, tf.word,
             {sql_rnd("tf.tf * ln(CAST((SELECT n FROM n_docs) AS DOUBLE) / df.df)")}
               AS tfidf
      FROM tf JOIN df ON tf.word = df.word
    ),
    ranked AS (
      SELECT doc_id, word, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, word) AS INTEGER) AS rank
      FROM scored
    )
    SELECT doc_id, word, rank, tfidf FROM ranked WHERE rank <= {TFIDF_TOP_K}
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-{TFIDF_TOP_K} terms per document.  The idf join is a
    broadcast (vocabulary ≪ corpus); ranking happens on the ROUNDED
    score so both engines order identically (a raw-double sort could
    flip 1-ulp near-ties), with the word as the deterministic
    tie-break.  WindowGroupLimit prunes the per-doc sort."""
    tok = tokens(spark, sf_dir, distinct=False).select("doc_id", "word")
    n_docs = tok.select("doc_id").distinct().count()
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        rnd(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "word", "rank", "tfidf")
    )


@query(
    "q_text_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    cnt AS (SELECT word, count(*) AS wn FROM tok GROUP BY word),
    tot AS (SELECT count(*) AS tot FROM tok)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           {sql_rnd("avg(-log2(c.wn * 1.0 / tot.tot))")} AS avg_surprisal
    FROM tok t JOIN cnt c ON c.word = t.word CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality score: per document, the mean token
    surprisal -log2 p(w) under the corpus's own unigram distribution —
    the cheap end of CCNet-style LM filtering (low = repetitive /
    boilerplate, high = rare-token noise; both tails get culled).

    Scale shape: token counts are one word-keyed groupBy with map-side
    partial aggregation; the frequency table (vocabulary-sized, ≪
    corpus) is broadcast back onto the token stream, so the only
    corpus-sized shuffle is the final doc_id groupBy.  The grand total
    is a driver-side scalar resolved at plan-build time (the tfidf
    n_docs pattern) — a lazy 1-row frame would re-plan the whole
    vocabulary chain as a third corpus scan (column pruning makes the
    two cnt subtrees non-identical, so ReuseExchange never fires)."""
    tok = tokens(spark, sf_dir, distinct=False).select("doc_id", "word")
    cnt = tok.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    tot = float(cnt.agg(F.sum("wn")).first()[0])
    return (
        tok.join(F.broadcast(cnt), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            rnd(F.avg(-F.log2(F.col("wn") / F.lit(tot)))).alias(
                "avg_surprisal"
            ),
        )
    )


@query(
    "q_text_bigrams",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                    i -> w[i] || ' ' || w[i + 1])) AS bigram
      FROM words
    )
    SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams: adjacent-token pairs via a native array
    zip (no UDF, no self-join), count + document frequency, global
    top-k as TakeOrderedAndProject.  Integer counts — no float parity
    surface at all."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bigrams = F.expr(
        "transform(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(split(text, ' '), i + 2)))"
    )
    bg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


SAMPLE_PER_GROUP = 20
SPLIT_A = 1_103_515_245  # LCG multiplier — same arithmetic on both engines
SPLIT_M = 2_147_483_648  # ids reduced mod 2^31 first so the product
# stays far inside int64 on BOTH engines (Spark wraps silently on
# overflow, DuckDB errors — either way a raw doc_id*A would diverge
# for ids >= ~8.4e9, e.g. the facade's (batch<<40)-style ids)


@query(
    "q_sample_per_group",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY ((doc_id % {SPLIT_M}) * {SPLIT_A} + 12345) % {SPLIT_M}, doc_id)
               AS rk
      FROM documents
    ) WHERE rk <= {SAMPLE_PER_GROUP}
    """,
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: {SAMPLE_PER_GROUP} docs per
    source, ordered by a seeded LCG hash of the id — the reproducible
    replacement for rand()-based sampling (identical on every engine and
    every run, no RNG state to synchronize).  Per-group top-k via
    WindowGroupLimit — no global sort, no collect."""
    d = load(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % SPLIT_M) * F.lit(SPLIT_A) + F.lit(12345)) % F.lit(SPLIT_M)
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_PER_GROUP)
        .select("doc_id", "source")
    )


@query(
    "q_split_assign",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, ((doc_id % {SPLIT_M}) * {SPLIT_A} + 12345) % 1000 AS h
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN h < 800 THEN 'train'
                WHEN h < 900 THEN 'valid'
                ELSE 'test' END AS split
    FROM tagged
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment (80/10/10) by seeded
    LCG hash of the id: membership is a pure function of the row — no
    shuffle, no RNG, stable under re-partitioning and re-runs, and any
    engine (or a downstream consumer in another stack) recomputes the
    same split."""
    d = load(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % SPLIT_M) * F.lit(SPLIT_A) + F.lit(12345)) % F.lit(1000)
    return d.select(
        "doc_id",
        F.when(h < 800, "train").when(h < 900, "valid").otherwise("test")
        .alias("split"),
    )


N_SHARDS = 16  # export shard count (a knob; fixture-sized default)

# THE export-shard hash — one definition feeding both engines'
# formulations of BOTH export queries (q_train_order and
# q_shard_manifest summarize the SAME assignment; a one-sided edit
# would silently desynchronize them — r9 review).
_SHARD_SEED = 54321
_SQL_SHARD_HASH = f"((doc_id % {SPLIT_M}) * {SPLIT_A} + {_SHARD_SEED}) % {SPLIT_M}"


def shard_hash_col():
    """Spark twin of _SQL_SHARD_HASH (same LCG arithmetic)."""
    return (
        (F.col("doc_id") % SPLIT_M) * F.lit(SPLIT_A) + F.lit(_SHARD_SEED)
    ) % F.lit(SPLIT_M)


@query(
    "q_train_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_SQL_SHARD_HASH} AS hv
      FROM documents
    )
    SELECT doc_id,
           CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % {N_SHARDS}
                                   ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAINING ORDER for corpus export — the terminal
    step of the curation pipeline (r9): every document gets a
    reproducible (shard, pos) via a seeded LCG hash, so any engine and
    any re-run produces the identical pseudo-random read order with no
    RNG state and no global sort.  Shard membership is a pure row
    function (hash % N_SHARDS — balanced in expectation); within-shard
    position is a per-shard window, i.e. exactly the shuffle-by-shard +
    sort-within-partition a distributed export writer performs, never a
    single-partition global window.  At 100 TB this is one shuffle on
    the shard key with per-partition sorts; shard count is the
    parallelism knob."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        d.select("doc_id", shard_hash_col().alias("hv"))
        .withColumn("shard", (F.col("hv") % N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


@query(
    "q_shard_manifest",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             length(string_split(text, ' ')) AS n_tokens,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    )
    SELECT CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM h GROUP BY shard
    """,
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard export MANIFEST (r9): the summary row a distributed
    writer publishes next to each shard — document/token/char volume
    and the id range — over the same deterministic shard assignment as
    q_train_order, so the manifest is reproducible from the corpus
    alone.  One hash expression + one groupBy; the balance check for
    the N_SHARDS knob (token skew across shards means the export's
    stragglers) costs nothing beyond the aggregation."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
            (shard_hash_col() % N_SHARDS).cast("int").alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def export_training_shards(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    removed_ids: DataFrame | None = None,
) -> DataFrame:
    """MATERIALIZE the export (r10, VERDICT r9 #3): write the corpus as
    per-shard parquet in q_train_order's deterministic training order —
    shard dirs via partitionBy, rows inside each file ascending by
    (shard, pos) — and return the manifest computed FROM THE WRITTEN
    FILES (shard_manifest_from_files), which must equal q_shard_manifest
    computed from the corpus alone (pinned by tests/test_text_export.py
    and the driver-gated q_export_shards).

    `removed_ids` (one id column) exports the post-takedown corpus:
    removed docs are absent and the SURVIVORS' relative order within
    each shard is unchanged — the ordering key (hv, doc_id) is a pure
    function of doc_id, so deleting rows cannot reorder the rest
    (re-export coherence, pinned by test).

    Scale shape: one shuffle on the shard key (the per-shard window
    and the writer's repartition share it), per-partition sorts, one
    file per (task, shard) — N_SHARDS is the parallelism/file knob.
    No global sort, no single-partition window, nothing driver-side.

    ATOMIC PUBLISH (r10): the write lands in a `__staging` sibling and
    is renamed over `out_dir` only after the job commits — a crash
    mid-export leaves either the previous complete export or an inert
    staging dir (overwritten by the next run), never partial shards
    under the published path (POSIX/HDFS rename; object stores get
    copy+delete, same caveat as every swap in this repo).

    UPDATE CONTRACT (r11, VERDICT r10 #2 — the design decision): this
    interleaved order is FULL-REWRITE-PER-PUBLISH.  The (hv, doc_id)
    ordering key deliberately interleaves new docs into existing
    shards (every export is one deterministic global pseudo-shuffle of
    the whole corpus — the training-order property), so a tick cannot
    extend it; each publish costs one corpus shuffle + write, priced
    by the q_export_shards bench row and modeled in SCALING.md.
    Exports are periodic (nightly/weekly), not per-tick, so the
    rewrite amortizes over many ticks.  When per-tick export extension
    is the requirement instead, use the EPOCH-MAJOR order
    (q_export_append_order / export_epoch_append below): new epochs
    append to the tail of each shard, earlier epochs' files and
    positions never change — at the cost of new docs never
    interleaving into old data's read order.  Composition with the
    chained tick is pinned by tests/test_text_export.py
    (tick-chain labels -> dedup takedown -> export)."""
    from zebra_spark.fsutil import rename, rmtree

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    if removed_ids is not None:
        d = d.join(
            removed_ids.select(
                F.col(removed_ids.columns[0]).alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    staged = (
        d.select("doc_id", "text", "n_chars", shard_hash_col().alias("hv"))
        .withColumn("shard", (F.col("hv") % N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("hv")
    )
    staging = f"{out_dir.rstrip('/')}__staging"
    rmtree(spark, staging)
    (
        staged.repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(staging)
    )
    rmtree(spark, out_dir)
    rename(spark, staging, out_dir)
    return shard_manifest_from_files(spark, out_dir)


def shard_manifest_from_files(spark: SparkSession, out_dir: str) -> DataFrame:
    """The export manifest derived from the WRITTEN shard files (not
    from the corpus): re-read the export dir and aggregate per shard —
    the publish-time check that what landed on disk is what the plan
    said (file-level manifest == q_shard_manifest, by test and driver
    gate)."""
    files = spark.read.parquet(out_dir)
    return (
        files.select(
            F.col("shard").cast("int").alias("shard"),
            "doc_id",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_EXPORT_DIRS: dict[str, str] = {}
_EXPORT_LOCK = threading.Lock()


def _export_scratch_dir(key: str, prefix: str) -> str:
    """Session-cached scratch dir for a file-driving export query
    (one per key, double-checked lock, atexit cleanup) — repeat
    invocations across bench/parity/sim passes reuse and REWRITE the
    same dir, so corpus-sized copies cannot stack on disk (r10
    review)."""
    import atexit
    import shutil
    import tempfile

    out = _EXPORT_DIRS.get(key)
    if out is None:
        with _EXPORT_LOCK:
            out = _EXPORT_DIRS.get(key)
            if out is None:
                out = tempfile.mkdtemp(prefix=prefix)
                atexit.register(shutil.rmtree, out, ignore_errors=True)
                _EXPORT_DIRS[key] = out
    return out


@query(
    "q_export_shards",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             length(string_split(text, ' ')) AS n_tokens,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    )
    SELECT CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM h GROUP BY shard
    """,
)
def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export WRITE at the driver hash gate (r10): actually write
    the per-shard training export to disk, re-read the files, and
    produce the manifest from them — which must equal the oracle's
    from-corpus manifest (q_shard_manifest's SQL verbatim).  The one
    bench row that prices write + read-back, and the gate that a
    dropped row, a mis-sharded doc, or a lost column in the writer
    cannot pass.  ONE export dir per dataset per session (every call
    still re-writes it — mode('overwrite') — so the row prices the
    write each time, but repeat invocations across bench/parity/sim
    passes cannot stack corpus-sized copies on disk; r10 review)."""
    from pathlib import Path

    out = _export_scratch_dir(str(Path(sf_dir).resolve()), "zebra_export_")
    return export_training_shards(spark, sf_dir, f"{out}/shards")


# ingest epochs in the append-friendly export's fixture convention —
# mirrors the tick chain's 3-batch split (queries.tick._CHAIN_TICKS:
# epoch k ingests doc_id % 3 == k), so the oracle can recompute the
# epoch of every doc from the static corpus.  Production uses the real
# ingest epoch instead; the tests pin the incremental shape.
_EXPORT_EPOCHS = 3


@query(
    "q_export_append_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, doc_id % {_EXPORT_EPOCHS} AS epoch,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    )
    SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
           CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % {N_SHARDS}
                                   ORDER BY epoch, hv, doc_id) AS BIGINT)
             AS pos
    FROM h
    """,
)
def q_export_append_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-MAJOR training order (r11, VERDICT r10 #2) — the
    append-friendly alternative to q_train_order's interleaved order:
    within each shard, docs sort by (ingest epoch, hv, doc_id), so a
    new epoch's docs land strictly AFTER every earlier epoch's and an
    incremental publisher (export_epoch_append) can extend the shards
    without touching existing files — positions of already-exported
    rows are immutable by construction.  Same scale shape as
    q_train_order (one shuffle on the shard key, per-shard window);
    the trade is that new data never interleaves into the old data's
    read order — the trainer sees epochs in arrival order, pseudo-
    shuffled within each epoch.  Epoch here is the fixture convention
    doc_id % {_EXPORT_EPOCHS} (the tick chain's batch split)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("shard").orderBy("epoch", "hv", "doc_id")
    return (
        d.select(
            "doc_id",
            (F.col("doc_id") % _EXPORT_EPOCHS).cast("int").alias("epoch"),
            shard_hash_col().alias("hv"),
        )
        .withColumn("shard", (F.col("hv") % N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "epoch", "shard", "pos")
    )


def export_epoch_append(
    spark: SparkSession,
    out_dir: str,
    epoch_docs: DataFrame,
    epoch: int,
) -> DataFrame:
    """Append ONE ingest epoch to an epoch-major export (r11, VERDICT
    r10 #2): writes `epoch_docs` (doc_id, text, n_chars) as
    `out_dir/epoch={epoch}/shard=S/*.parquet` in q_export_append_order's
    order — per-shard positions CONTINUE from max(pos) over strictly
    earlier epochs, so N successive appends produce exactly the
    one-shot epoch-major export of their union (pinned by test).
    max(pos), NOT count: after export_epoch_takedown leaves position
    holes, a count-based offset would re-issue positions already held
    by later epochs' surviving rows — max(pos) stays collision-free
    by construction (and equals the count when no takedown ran).

    Exactly-once per epoch: the epoch's files land in a sibling
    staging dir and are renamed to `epoch=K` after the job commits —
    re-running an epoch (crash replay) REPLACES its directory, and the
    offset read filters to epochs < K, so a replay is idempotent
    rather than duplicating.  A crash mid-write leaves an inert
    staging sibling outside the published tree (same contract as the
    streaming sinks' epoch dirs and export_training_shards' staging).

    Scale shape per tick: one shuffle of the BATCH on the shard key +
    a METADATA-ONLY offsets probe — every published epoch dir carries
    a 16-row `_offsets.json` (per-shard max pos, written into the
    staging dir so the epoch rename publishes data and offsets
    atomically together), and the probe is N_prior tiny file reads
    with no Spark job at all.  Epoch dirs lacking the manifest
    (legacy) fall back to a column-pruned pos scan of just those dirs.
    Cost proportional to the epoch, not the corpus, which is the
    whole point vs the full-rewrite interleaved export."""
    from zebra_spark.fsutil import list_subdirs, mkdirs, rename, rmtree

    _recover_epoch_compact(spark, out_dir)
    d = epoch_docs.select("doc_id", "text", "n_chars")
    # prior epochs by EXPLICIT dir listing (one fs call, pruned to
    # epochs < K; a bare-existence probe would also trip on a crash
    # that left out_dir present but EMPTY): per-shard max pos comes
    # from each dir's _offsets.json manifest — no Spark job — with a
    # column-pruned scan fallback for manifest-less legacy dirs
    prior = sorted(
        s for s in list_subdirs(spark, out_dir)
        if s.startswith("epoch=") and int(s.split("=", 1)[1]) < epoch
    )
    offs: dict[int, int] = {}
    fallback: list[str] = []
    for s in prior:
        m = _read_epoch_offsets(spark, f"{out_dir.rstrip('/')}/{s}")
        if m is None:
            fallback.append(f"{out_dir.rstrip('/')}/{s}")
        else:
            for sh, mx in m.items():
                offs[sh] = max(offs.get(sh, 0), mx)
    if fallback:
        for r in (
            spark.read.option("basePath", out_dir)
            .parquet(*fallback)
            .groupBy(F.col("shard").cast("int").alias("shard"))
            .agg(F.max("pos").alias("off"))
            .collect()
        ):
            offs[r["shard"]] = max(offs.get(r["shard"], 0), r["off"])
    if offs:
        offsets = spark.createDataFrame(
            [(int(sh), int(mx)) for sh, mx in offs.items()],
            "shard int, off bigint",
        )
    else:
        offsets = spark.createDataFrame([], "shard int, off bigint")
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    staged = (
        d.select("doc_id", "text", "n_chars", shard_hash_col().alias("hv"))
        .withColumn("shard", (F.col("hv") % N_SHARDS).cast("int"))
        .withColumn("local", F.row_number().over(w))
        .join(F.broadcast(offsets), "shard", "left")
        .withColumn(
            "pos",
            (F.coalesce(F.col("off"), F.lit(0)) + F.col("local")).cast(
                "bigint"
            ),
        )
        .drop("hv", "local", "off")
    )
    staging = f"{out_dir.rstrip('/')}__epoch{epoch}_staging"
    # r17 optimization pass (guide §1.2 fewer jobs on the hot path):
    # the append used to run THREE Spark jobs — an up-front emptiness
    # probe, the staged write, and a read-back of the staging dir for
    # the per-shard max(pos) offsets manifest.  _write_staged_epoch
    # folds all three into the ONE write job.  An EMPTY epoch still
    # publishes nothing (and un-publishes a replayed dir): the
    # zero-row staging dir is removed instead of renamed, representing
    # the absence of rows by the absence of the epoch dir exactly as
    # before — it merely pays one empty write job on that rare path.
    epoch_dir = f"{out_dir.rstrip('/')}/epoch={epoch}"
    if _write_staged_epoch(spark, staged, staging, range(N_SHARDS)) == 0:
        rmtree(spark, staging)
        rmtree(spark, epoch_dir)
        return spark.createDataFrame(
            [],
            "shard int, n_docs bigint, n_tokens bigint, n_chars bigint,"
            " min_doc_id bigint, max_doc_id bigint",
        )
    mkdirs(spark, out_dir)
    rmtree(spark, epoch_dir)
    rename(spark, staging, epoch_dir)
    return shard_manifest_from_files(spark, epoch_dir)


_OFFSETS_FILE = "_offsets.json"  # underscore prefix: invisible to scans


def _write_staged_epoch(
    spark: SparkSession, frame, staging: str, shards
) -> int:
    """Stage one epoch dir — (shard, pos)-sorted, partitioned by shard
    — AND its per-shard max(pos) `_offsets.json` manifest in ONE Spark
    job (r17 optimization pass, guide §1.2): the write itself carries
    the row count and one conditional max per shard via an Observation
    (the observed-write pattern graph.connected_components uses for
    its convergence signal), replacing the previous shape's separate
    emptiness probe and staging read-back.  Manifest values are
    identical by construction: max over staged rows == max over
    written rows, and the manifest lands INSIDE the staging dir so the
    publish rename still commits data and offsets atomically together.

    `shards` is the iterable of CANDIDATE shard ids — it must cover
    every shard value `frame` can hold (shards with no rows observe
    NULL and stay out of the manifest, exactly like the read-back's
    groupBy).  Callers whose shard range is data-dependent (takedown
    of a legacy manifest-less dir, compact over trees an earlier
    rebalance widened) use the _write_epoch_offsets read-back instead.
    Returns the staged row count; on 0 the caller removes the staging
    dir (an empty epoch is represented by the absence of its dir)."""
    import json as _json

    from pyspark.sql import Observation

    from zebra_spark.fsutil import write_text

    shards = sorted(set(int(s) for s in shards))
    obs = Observation()
    (
        frame.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            *[
                F.max(F.when(F.col("shard") == i, F.col("pos"))).alias(
                    f"s{i}"
                )
                for i in shards
            ],
        )
        .repartition(max(1, len(shards)), "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(staging)
    )
    try:
        got = obs.get
    except Exception:
        # Spark 4.1: when the observed input is ALL-EMPTY the planner
        # can collapse the subtree to an empty scan and the observe
        # node never records a row (Observation.get then trips a
        # toPyRow assertion — reproduced and pinned by
        # test_staged_epoch_empty_write_yields_zero).  The authoritative
        # empty signal is then the ABSENCE of shard dirs in the staging
        # tree — a filesystem listing, no Spark job.  If shard dirs DO
        # exist (metrics lost on real data — never observed), fall back
        # to the read-back path so the manifest can never be skipped
        # for a non-empty epoch.
        from zebra_spark.fsutil import list_subdirs

        if not any(
            s.startswith("shard=") for s in list_subdirs(spark, staging)
        ):
            return 0
        _write_epoch_offsets(spark, staging)
        return spark.read.parquet(staging).count()
    if got["n"]:
        write_text(
            spark,
            f"{staging.rstrip('/')}/{_OFFSETS_FILE}",
            _json.dumps(
                {
                    i: int(got[f"s{i}"])
                    for i in shards
                    if got[f"s{i}"] is not None
                }
            ),
        )
    return got["n"]


def _write_epoch_offsets(spark: SparkSession, staging_dir: str) -> None:
    """Drop a per-shard max(pos) manifest INSIDE a staged epoch dir by
    reading the staged files back — the fallback for writers whose
    shard value range is data-dependent (see _write_staged_epoch's
    `shards` contract).  One column-pruned read of the batch-sized
    staging dir; the collect is one row per present shard."""
    import json as _json

    from zebra_spark.fsutil import write_text

    rows = (
        spark.read.parquet(staging_dir)
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(F.max("pos").alias("off"))
        .collect()
    )
    write_text(
        spark,
        f"{staging_dir.rstrip('/')}/{_OFFSETS_FILE}",
        _json.dumps({int(r["shard"]): int(r["off"]) for r in rows}),
    )


def _read_epoch_offsets(
    spark: SparkSession, epoch_dir: str
) -> dict[int, int] | None:
    """The per-shard max(pos) manifest of one published epoch dir, or
    None for a manifest-less (legacy) dir — callers fall back to a
    pos-column scan."""
    import json as _json

    from zebra_spark.fsutil import exists, read_text

    p = f"{epoch_dir.rstrip('/')}/{_OFFSETS_FILE}"
    if not exists(spark, p):
        return None
    return {
        int(k): int(v) for k, v in _json.loads(read_text(spark, p)).items()
    }


def read_epoch_export(spark: SparkSession, out_dir: str) -> DataFrame:
    """THE read entry point for a published epoch-major export (r12,
    ADVICE r11): runs _recover_epoch_compact FIRST, mirroring how
    recover_state_swaps fronts every state read, so a reader that
    lands in the crash window after the _compact_commit marker is
    written but before the swap tail finishes sees the repaired tree
    (sources removed AND the folded target published) instead of a
    silently-partial one.  Consumers — trainers, the registered
    export queries, any cross-process reader — must come through
    here (or another export API, which all run the same recovery)
    rather than spark.read-ing out_dir directly.  Returns a NORMALIZED
    schema — (doc_id bigint, text string, n_chars bigint, shard int,
    pos bigint, epoch int), explicitly cast and ordered — because the
    raw tree's n_chars width varies by producer (the tick/stream
    sinks write F.length(text) = int; fixture-sourced exports carry
    the documents table's bigint) and hive partition columns land
    after the data columns; without the normalization a consumer
    unioning reads across export dirs (or against the empty branch)
    would hit position/type mismatches.  The read itself carries an
    EXPLICIT schema (ADVICE r12): within ONE tree, epoch dirs written
    by different producers can already disagree on the n_chars
    parquet width, and a plain read fails schema inference on the
    footer mismatch BEFORE the casts ever apply — mergeSchema does
    NOT fix this (Spark's parquet schema merge refuses INT vs BIGINT
    with CANNOT_MERGE_SCHEMAS; measured on 4.1); an explicit read
    schema does, because the reader upcasts each file's INT32 into
    the declared BIGINT with no merge step at all (pinned by
    test_read_epoch_export_merges_mixed_nchars_widths).  An empty or
    missing export
    yields an empty frame of the SAME schema rather than a
    schema-inference error, so retry loops and fully-scrubbed exports
    read clean."""
    from zebra_spark.fsutil import list_subdirs

    _EXPORT_SCHEMA = (
        "doc_id bigint, text string, n_chars bigint, shard int,"
        " pos bigint, epoch int"
    )
    _recover_epoch_compact(spark, out_dir)
    if not any(
        s.startswith("epoch=") for s in list_subdirs(spark, out_dir)
    ):
        return spark.createDataFrame([], _EXPORT_SCHEMA)
    return (
        spark.read.schema(
            "doc_id bigint, text string, n_chars bigint, pos bigint,"
            " shard int, epoch int"
        )
        .option("basePath", out_dir)
        .parquet(out_dir)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "text",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("shard").cast("int").alias("shard"),
            F.col("pos").cast("bigint").alias("pos"),
            F.col("epoch").cast("int").alias("epoch"),
        )
    )


def export_epoch_takedown(
    spark: SparkSession,
    out_dir: str,
    takedown_ids: DataFrame,
) -> list[int]:
    """Remove documents from a PUBLISHED epoch-major export, rewriting
    ONLY the epoch directories that contain a taken-down doc (r11, the
    export-stage twin of q_cluster_takedown's affected-components-only
    contract).  Surviving rows keep their original (shard, pos) —
    takedown leaves position HOLES rather than recomputing the order,
    because later epochs' persisted positions were derived from the
    pre-takedown offsets and a dense renumber would force a full
    rewrite of every epoch after the earliest hit (exactly the cost
    this path exists to avoid).  pos is a stable identity in the shard
    order, not a dense index; export_epoch_append's max(pos) offsets
    make subsequent appends collision-free over the holes.  Returns
    the rewritten epoch numbers.

    Scale shape: one semi-join of the export against the (small,
    broadcast) takedown set to find affected epochs, then one
    partition-pruned anti-join + rewrite PER affected epoch — cost
    proportional to the affected epochs' bytes, never the corpus.
    Each rewrite is the same staging + atomic-rename replace as an
    epoch append replay, so a crash mid-takedown leaves every epoch
    dir either fully old or fully new, and re-running the takedown is
    idempotent (anti-join of an already-clean epoch is a no-op
    rewrite; a missing or fully-scrubbed tree — e.g. a retried
    takedown whose prior run removed every epoch — returns [] instead
    of tripping schema inference on an empty dir, ADVICE r11)."""
    from zebra_spark.fsutil import rename, rmtree

    ids = takedown_ids.select("doc_id").distinct()
    exp = read_epoch_export(spark, out_dir)  # runs compact recovery
    if exp.isEmpty():
        return []
    affected = sorted(
        r["epoch"]
        for r in exp.join(F.broadcast(ids), "doc_id")
        .select("epoch")
        .distinct()
        .collect()
    )
    for e in affected:
        epoch_dir = f"{out_dir.rstrip('/')}/epoch={e}"
        kept = (
            spark.read.parquet(epoch_dir)
            .join(F.broadcast(ids), "doc_id", "left_anti")
        )
        staging = f"{out_dir.rstrip('/')}__epoch{e}_staging"
        # survivors' shard values ⊆ the epoch's pre-takedown manifest
        # keys (an anti-join only removes rows), so the fused
        # observed write covers them exactly; manifest-less legacy
        # dirs keep the read-back fallback.  Survivors' max pos may
        # shrink below the removed max — safe, later epochs carry
        # their own manifests and the probe maxes across all priors.
        old = _read_epoch_offsets(spark, epoch_dir)
        if old is not None:
            n_kept = _write_staged_epoch(spark, kept, staging, old)
        else:
            from zebra_spark.fsutil import list_subdirs

            (
                kept.repartition(N_SHARDS, "shard")
                .sortWithinPartitions("shard", "pos")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(staging)
            )
            # emptiness from the staging tree itself — a fully
            # scrubbed epoch writes no shard dirs (fs listing, no job)
            n_kept = int(
                any(
                    s.startswith("shard=")
                    for s in list_subdirs(spark, staging)
                )
            )
            if n_kept:
                _write_epoch_offsets(spark, staging)
        if n_kept == 0:
            # a fully-scrubbed epoch is represented by the ABSENCE of
            # its dir (a part-less dir would break later schema reads)
            rmtree(spark, staging)
            rmtree(spark, epoch_dir)
            continue
        rmtree(spark, epoch_dir)
        rename(spark, staging, epoch_dir)
    return affected


_COMPACT_MARKER = "_compact_commit"


def _recover_epoch_compact(spark, out_dir: str) -> None:
    """Finish a crashed export_epoch_compact swap.  The marker file
    (written BEFORE any published dir is removed) records the target
    epoch and the source epochs being folded; the staging dir holds
    the complete compacted data.  Recovery re-runs the swap's tail —
    remove any still-present source dirs, publish staging if the
    target dir is still missing, drop the marker — all steps
    idempotent, so recovery itself may crash and re-run.  A marker
    without its staging dir means the publish ALREADY happened (the
    staging was renamed away) and only cleanup remained."""
    from zebra_spark.fsutil import delete, exists, read_text, rename, rmtree

    marker = f"{out_dir.rstrip('/')}/{_COMPACT_MARKER}"
    if not exists(spark, marker):
        return
    import json as _json

    meta = _json.loads(read_text(spark, marker))
    staging = f"{out_dir.rstrip('/')}__compact_staging"
    target = f"{out_dir.rstrip('/')}/epoch={meta['target']}"
    # meta['sources'] EXCLUDES the target epoch: after a completed
    # publish (staging renamed away) the target dir holds the only
    # copy of the folded data, and removing it here would lose it
    for e in meta["sources"]:
        rmtree(spark, f"{out_dir.rstrip('/')}/epoch={e}")
    if exists(spark, staging):
        rmtree(spark, target)
        rename(spark, staging, target)
    delete(spark, marker)


def export_epoch_compact(
    spark: SparkSession,
    out_dir: str,
    upto_epoch: int,
) -> int:
    """Fold every `epoch=e` directory with e <= upto_epoch into ONE
    `epoch={upto_epoch}` directory (r11) — the small-files bound for
    the append export: a tick-per-batch cadence at 100 TB otherwise
    accretes one directory (x N_SHARDS files) per tick forever, and
    both the offsets probe and every trainer read pay the listing.
    Rows are byte-identical after compaction — (doc_id, text, n_chars,
    shard, pos) all preserved, and the trainer's read order is sort by
    (shard, pos), which the epoch-major construction made equivalent
    to the original (epoch, hv, doc_id) order — only the per-row
    epoch DIRECTORY value collapses to upto_epoch (the epoch dir is a
    storage/publish unit; pos is the order truth).  The trade:
    a later takedown of any folded doc rewrites the whole compacted
    dir instead of one small epoch — compaction cadence vs takedown
    granularity is the operator's knob.  Returns the number of source
    dirs folded (0 = nothing to do).

    Crash safety (multi-dir swap, so a single rename can't cover it —
    same marker protocol as ZebraDatabase._recover_swaps): write the
    full compacted tree to a staging sibling, commit by writing a
    marker that names target + sources, then remove sources and
    publish staging.  Any crash after the marker lands is repaired by
    _recover_epoch_compact, which every export entry point runs
    first; a crash BEFORE the marker leaves the published tree
    untouched (staging is inert).

    The fold TARGET is the highest epoch actually PRESENT (<=
    upto_epoch), never upto_epoch verbatim: folding into a phantom
    higher number would sit above later appends' epoch keys, and
    their `epoch < K` offsets probe would skip it — silently
    re-issuing occupied positions.

    MUST run at rest, like compact_pair_state: an exactly-once
    producer (the streaming sink / a tick replay) re-publishing the
    target epoch would REPLACE the folded dir — the producer's
    committed checkpoint is what rules that replay out."""
    from zebra_spark.fsutil import (
        delete, list_subdirs, rename, rmtree, write_text,
    )

    _recover_epoch_compact(spark, out_dir)
    sources = sorted(
        int(s.split("=", 1)[1])
        for s in list_subdirs(spark, out_dir)
        if s.startswith("epoch=") and int(s.split("=", 1)[1]) <= upto_epoch
    )
    if len(sources) <= 1:
        return 0
    # fold into the highest PRESENT epoch, never upto_epoch verbatim
    target_epoch = sources[-1]
    staging = f"{out_dir.rstrip('/')}__compact_staging"
    rmtree(spark, staging)
    (
        spark.read.option("basePath", out_dir)
        .parquet(*[f"{out_dir.rstrip('/')}/epoch={e}" for e in sources])
        .drop("epoch")
        .repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(staging)
    )
    _write_epoch_offsets(spark, staging)
    import json as _json

    marker = f"{out_dir.rstrip('/')}/{_COMPACT_MARKER}"
    write_text(
        spark, marker,
        _json.dumps({
            "target": target_epoch,
            # the target epoch stays OUT of the removal list — see
            # _recover_epoch_compact
            "sources": [e for e in sources if e != target_epoch],
        }),
    )
    # swap tail — identical to _recover_epoch_compact's replay
    target = f"{out_dir.rstrip('/')}/epoch={target_epoch}"
    for e in sources:
        if e != target_epoch:
            rmtree(spark, f"{out_dir.rstrip('/')}/epoch={e}")
    rmtree(spark, target)
    rename(spark, staging, target)
    delete(spark, marker)
    return len(sources)


def rebalance_export(
    spark: SparkSession,
    out_dir: str,
    target_rows: int,
) -> int:
    """BALANCED RESHARD for trainer consumption (r13, VERDICT r12 #6):
    rewrite the whole published epoch-major tree into ONE epoch dir
    of ceil(total / ceil(total / target_rows)) rows per shard — i.e.
    the fewest shards that keep every shard AT OR UNDER target_rows,
    sized evenly rather than filled-to-target with a runt remainder
    (the last shard alone absorbs the sub-row rounding).  The
    antidote to long-lived export drift, where
    compaction folds epochs but keeps N_SHARDS fixed and takedowns
    leave position holes, so shard BYTES wander away from uniform and
    the trainer's slowest-shard straggler grows.  `needs_rebalance`
    (r14) is the measured trigger — run it over the published tree on
    the audit cadence and call this only when it fires.  Returns the
    new shard count (0 = empty tree, nothing to rewrite).

    Semantics: rows are totally ordered by their published identity
    (epoch, shard, pos) — the exact order a trainer consuming the
    tree epoch-by-epoch, shard-by-shard sees — then cut into
    CONTIGUOUS ranges of target_rows: shard s holds global ranks
    (s*rps, (s+1)*rps], pos is DENSE within the new shard.  Unlike
    takedown (which must preserve positions because later epochs'
    offsets were derived from them), rebalance rewrites every epoch
    anyway, so fresh dense positions are safe — and later
    export_epoch_append calls stay collision-free via the same
    max(pos)-per-shard offsets probe (shards >= the new count simply
    start at 1).  target_bytes is deliberately NOT a parameter: rows
    x the corpus' mean row bytes is the operator's conversion, and a
    row-count contract is what the downstream packing/length-histogram
    gates consume.

    Scale shape: NO global window.  Per-(epoch, shard) counts collect
    driver-side (dirs x N_SHARDS ints — the scalar class), cumulative
    offsets broadcast back, and the global rank is offset +
    row_number over the (epoch, shard) partition — fully parallel;
    then one shuffle into the new shard key.  Crash safety: the SAME
    marker/staging protocol as export_epoch_compact (rebalance IS a
    compact with a reshuffled (shard, pos)), so _recover_epoch_compact
    — which every export entry point runs first — repairs a crashed
    swap with no new recovery code path."""
    import json as _json
    import math

    from zebra_spark.fsutil import (
        delete, list_subdirs, rename, rmtree, write_text,
    )

    if target_rows <= 0:
        raise ValueError("target_rows must be positive")
    exp = read_epoch_export(spark, out_dir)  # runs compact recovery
    counts = exp.groupBy("epoch", "shard").count().collect()
    if not counts:
        return 0
    counts = sorted((r["epoch"], r["shard"], r["count"]) for r in counts)
    total = sum(c for _, _, c in counts)
    n_new = max(1, math.ceil(total / target_rows))
    rps = math.ceil(total / n_new)
    offs, acc = [], 0
    for e, s, c in counts:
        offs.append((e, s, acc))
        acc += c
    odf = spark.createDataFrame(offs, "epoch int, shard int, off bigint")
    w = Window.partitionBy("epoch", "shard").orderBy("pos")
    staged = (
        exp.join(F.broadcast(odf), ["epoch", "shard"])
        .withColumn(
            "rank", (F.col("off") + F.row_number().over(w)).cast("bigint")
        )
        .select(
            "doc_id", "text", "n_chars",
            # DIV: exact integer division — float `/` then cast would
            # round past 2^53 total rows
            F.expr(f"CAST((rank - 1) DIV {rps} AS INT)").alias("shard"),
            F.expr(
                f"CAST(rank - ((rank - 1) DIV {rps}) * {rps} AS BIGINT)"
            ).alias("pos"),
        )
    )
    sources = sorted(
        int(s.split("=", 1)[1])
        for s in list_subdirs(spark, out_dir)
        if s.startswith("epoch=")
    )
    target_epoch = sources[-1]
    staging = f"{out_dir.rstrip('/')}__compact_staging"
    rmtree(spark, staging)
    # fused observed write (see _write_staged_epoch): the new shard
    # range is exactly 0..n_new-1 by the contiguous-cut construction
    _write_staged_epoch(spark, staged, staging, range(n_new))
    marker = f"{out_dir.rstrip('/')}/{_COMPACT_MARKER}"
    write_text(
        spark, marker,
        _json.dumps({
            "target": target_epoch,
            "sources": [e for e in sources if e != target_epoch],
        }),
    )
    # swap tail — identical to _recover_epoch_compact's replay
    target = f"{out_dir.rstrip('/')}/epoch={target_epoch}"
    for e in sources:
        if e != target_epoch:
            rmtree(spark, f"{out_dir.rstrip('/')}/epoch={e}")
    rmtree(spark, target)
    rename(spark, staging, target)
    delete(spark, marker)
    return n_new


# rows-per-shard fixture for the rebalance driver gate — sized so the
# sf0.01 corpus reshards into MORE than N_SHARDS pieces (the drifted
# direction an operator actually rebalances toward smaller uniform
# shards for) while staying >1 row per shard at sf0.001
_REBALANCE_TARGET = 300


@query(
    "q_export_rebalance",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, doc_id % {_EXPORT_EPOCHS} AS epoch,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    ),
    o AS (
      SELECT doc_id, epoch, hv % {N_SHARDS} AS shard,
             row_number() OVER (PARTITION BY hv % {N_SHARDS}
                                ORDER BY epoch, hv, doc_id) AS pos
      FROM h
    ),
    g AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY epoch, shard, pos) AS rank,
             count(*) OVER () AS total
      FROM o
    ),
    p AS (
      SELECT doc_id, rank,
             CAST(ceil(total * 1.0 / CAST(ceil(
               total * 1.0 / {_REBALANCE_TARGET}) AS BIGINT)) AS BIGINT)
               AS rps
      FROM g
    )
    SELECT doc_id,
           CAST((rank - 1) // rps AS INTEGER) AS shard,
           CAST(rank - ((rank - 1) // rps) * rps AS BIGINT) AS pos
    FROM p
    """,
)
def q_export_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BALANCED RESHARD gated through real files (r13, VERDICT r12
    #6): builds the 3-epoch append export on disk, rebalances it to
    _REBALANCE_TARGET-row shards, re-reads the published tree, and
    must hash-equal the oracle's from-scratch computation — the
    published (epoch, shard, pos) total order cut into contiguous
    target_rows ranges with dense per-shard positions.  Every shard
    except the last must hold exactly target_rows rows, which the
    oracle asserts implicitly (any drift breaks the hash)."""
    from pathlib import Path

    out = _export_scratch_dir(
        str(Path(sf_dir).resolve()) + ":rebalance", "zebra_rebalance_"
    )
    out_dir = f"{out}/inc"
    from zebra_spark.fsutil import rmtree as _rmtree

    _rmtree(spark, out_dir)  # rebuild per call — the row prices the write
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    for k in range(_EXPORT_EPOCHS):
        export_epoch_append(
            spark, out_dir, d.filter(F.col("doc_id") % _EXPORT_EPOCHS == k), k
        )
    rebalance_export(spark, out_dir, _REBALANCE_TARGET)
    return read_epoch_export(spark, out_dir).select(
        "doc_id", F.col("shard").cast("int").alias("shard"), "pos"
    )


def shard_balance_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-shard balance histogram of a published epoch-major export
    (r14, VERDICT r13 #2 — the measured trigger rebalance_export
    lacked): one row per shard with its row count, byte proxy
    (sum of n_chars — the same contract unit the packing/length gates
    consume), and each dimension's imbalance ratio n/mean(n) across
    shards.  Long-lived trees drift: compaction folds epochs but keeps
    the shard count fixed, and takedowns leave position holes wherever
    the removed docs hashed — so shard bytes wander from uniform and
    the trainer's slowest-shard straggler grows.  This is the
    export-side twin of the reseed/retrain gates' audits
    (q_cell_drift / q_index_drift).

    Scale shape: one partition-pruned scan of the published tree into
    a groupBy(shard) — the result is N_SHARDS rows (the scalar class),
    so the imbalance windows over it are free."""
    exp = read_epoch_export(spark, out_dir)
    per = exp.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w = Window.partitionBy()  # N_SHARDS rows — driver-scalar class
    return per.select(
        "shard",
        "n_rows",
        "n_chars",
        rnd(
            F.col("n_rows")
            * F.count(F.lit(1)).over(w)
            / F.sum("n_rows").over(w)
        ).alias("row_imbalance"),
        rnd(
            F.col("n_chars")
            * F.count(F.lit(1)).over(w)
            / F.sum("n_chars").over(w)
        ).alias("char_imbalance"),
    )


def needs_rebalance(
    spark: SparkSession, out_dir: str, threshold: float = 1.5
) -> bool:
    """The rebalance_export trigger (r14, VERDICT r13 #2), sibling of
    needs_reseed/needs_retrain: True when the published export tree
    has drifted far enough from uniform shards that the full rewrite
    pays for itself.  Fires when any shard's ROW count deviates from
    the median by more than `threshold` in either direction
    (max/median or median/min), or when a shard id below max(shard)
    has vanished entirely (a fully-scrubbed shard — an infinite
    ratio).  The HIGHEST shard id is excluded from the
    underfull-side check: it is the remainder absorber by
    rebalance_export's contiguous-cut construction (legitimately up
    to n_new-1 rows short), so a fresh rebalance can never
    self-report as drift — while a takedown-hollowed interior shard
    still trips it.  ROWS only, because rows are the contract
    rebalance_export restores (target_rows); char_imbalance stays in
    the histogram for the operator's byte-level judgment, but gating
    on it would re-trigger forever on a corpus whose doc lengths vary
    — the tool cannot fix what bytes-per-row skews.  An empty or
    missing tree is trivially balanced (False).  Cost: the
    shard_balance_df scan; the decision reads N_SHARDS scalar rows."""
    import statistics

    if threshold <= 1.0:
        raise ValueError("threshold is a deviation ratio — must be > 1")
    rows = shard_balance_df(spark, out_dir).collect()
    if not rows:
        return False
    present = {r["shard"] for r in rows}
    if present != set(range(max(present) + 1)):
        return True  # a hole: some shard was scrubbed to zero rows
    vals = [r["n_rows"] for r in rows]
    med = statistics.median(vals)
    if max(vals) > med * threshold:
        return True
    interior = [
        r["n_rows"] for r in rows if r["shard"] != max(present)
    ]
    return bool(interior) and min(interior) * threshold < med


# the balance audit reads a SESSION-CACHED 3-epoch append tree (built
# once per dataset, under a lock — snapshot-audit sections may run
# concurrently in the parity/bench sweeps), unlike q_export_rebalance's
# per-call rebuild: the audit is a steady-state READ gate, so pricing a
# tree rebuild into every nightly audit would be scaffolding cost, not
# the operator's cost (the tick/stream sinks maintain the real tree).
_BALANCE_BUILT: set[str] = set()


def _balance_export_dir(spark: SparkSession, sf_dir: str) -> str:
    import os
    from pathlib import Path

    # key by the RESOLVED documents table, not the corpus dir: the tick
    # chain audits run against per-build symlink mirrors of one corpus
    # (tick._mirror_sf_dir), and a dir-keyed cache would rebuild the
    # identical tree per mirror — inflating every chain trial's audit_s
    # with scaffolding cost the steady-state number must not carry
    docs = f"{sf_dir.rstrip('/')}/documents.parquet"
    key = (
        os.path.realpath(docs) if os.path.exists(docs)
        else str(Path(sf_dir).resolve())
    ) + ":balance"
    out = _export_scratch_dir(key, "zebra_balance_")
    out_dir = f"{out}/inc"
    with _EXPORT_LOCK:
        if key not in _BALANCE_BUILT:
            d = load(spark, sf_dir, "documents").select(
                "doc_id", "text", "n_chars"
            )
            for k in range(_EXPORT_EPOCHS):
                export_epoch_append(
                    spark, out_dir,
                    d.filter(F.col("doc_id") % _EXPORT_EPOCHS == k), k,
                )
            _BALANCE_BUILT.add(key)
    return out_dir


@query(
    "q_shard_balance",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars, {_SQL_SHARD_HASH} AS hv FROM documents
    ),
    s AS (
      SELECT CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM h GROUP BY shard
    )
    SELECT shard, n_rows, n_chars,
           {sql_rnd("n_rows * (count(*) OVER ()) * 1.0"
                    " / (sum(n_rows) OVER ())")} AS row_imbalance,
           {sql_rnd("n_chars * (count(*) OVER ()) * 1.0"
                    " / (sum(n_chars) OVER ())")} AS char_imbalance
    FROM s
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard-balance audit at the driver hash gate (r14, VERDICT
    r13 #2): the per-shard row/byte histogram + imbalance ratios read
    from a REAL published 3-epoch append tree (session-cached; the
    write is priced by the export rows, this row prices the nightly
    read gate) must equal the oracle's from-corpus computation —
    appends preserve per-shard totals by construction, so any lost or
    double-published row breaks the hash."""
    return shard_balance_df(spark, _balance_export_dir(spark, sf_dir))


# takedown fixture for the driver gate: a deterministic ~1/7 slice
_TAKEDOWN_MOD, _TAKEDOWN_RESIDUE = 7, 3


@query(
    "q_export_append_takedown",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, doc_id % {_EXPORT_EPOCHS} AS epoch,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    ),
    o AS (
      SELECT doc_id, epoch, hv % {N_SHARDS} AS shard,
             row_number() OVER (PARTITION BY hv % {N_SHARDS}
                                ORDER BY epoch, hv, doc_id) AS pos
      FROM h
    )
    SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
           CAST(shard AS INTEGER) AS shard, CAST(pos AS BIGINT) AS pos
    FROM o
    WHERE doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RESIDUE}
    """,
)
def q_export_append_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STABLE-POSITION TAKEDOWN over the epoch-major export, gated
    end-to-end through REAL FILES (r11): builds the 3-epoch append
    export on disk, runs export_epoch_takedown for the fixture slice
    doc_id % 7 == 3, re-reads the published tree, and must
    hash-equal the oracle's from-scratch order-over-the-full-corpus
    MINUS the takedown set — i.e. survivors keep the exact positions
    they were first published with (holes where the removed docs
    were), which is the contract that lets the takedown rewrite only
    the affected epoch dirs and later appends continue over max(pos).
    Oracle note: positions are computed over the FULL corpus, then
    filtered — computing row_number after the filter would assert a
    dense renumber, the semantics this operator deliberately
    rejects."""
    from pathlib import Path

    out = _export_scratch_dir(
        f"append_takedown::{Path(sf_dir).resolve()}", "zebra_export_td_"
    )
    exp = f"{out}/epochs"
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    # ascending replay REPLACES each epoch dir, so repeat invocations
    # (bench trials, parity sweeps) rebuild the pre-takedown tree
    # deterministically before removing the fixture slice again
    for k in range(_EXPORT_EPOCHS):
        export_epoch_append(
            spark, exp, d.filter(F.col("doc_id") % _EXPORT_EPOCHS == k), k
        )
    export_epoch_takedown(
        spark,
        exp,
        d.filter(
            F.col("doc_id") % _TAKEDOWN_MOD == _TAKEDOWN_RESIDUE
        ).select("doc_id"),
    )
    return read_epoch_export(spark, exp).select(
        "doc_id",
        F.col("epoch").cast("int").alias("epoch"),
        F.col("shard").cast("int").alias("shard"),
        F.col("pos").cast("bigint").alias("pos"),
    )


@query(
    "q_export_append_manifest",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars, doc_id % {_EXPORT_EPOCHS} AS epoch,
             length(string_split(text, ' ')) AS n_tokens,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    )
    SELECT CAST(epoch AS INTEGER) AS epoch,
           CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM h GROUP BY epoch, shard
    """,
)
def q_export_append_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, shard) FILE-LEVEL manifest of the epoch-major
    export (r11) — the append twin of q_export_shards' publish-time
    check: build the 3-epoch export on disk via export_epoch_append,
    re-read the PUBLISHED FILES, and aggregate per epoch dir and
    shard.  Must hash-equal the oracle's from-corpus aggregation
    under the fixture epoch convention (doc_id % 3), so a publish
    that dropped, duplicated, or mis-sharded one row in any epoch
    breaks a driver hash.  Scale shape: one scan of the (already
    shard-partitioned) export files + a two-level aggregation."""
    from pathlib import Path

    out = _export_scratch_dir(
        f"append_manifest::{Path(sf_dir).resolve()}", "zebra_export_am_"
    )
    exp = f"{out}/epochs"
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    for k in range(_EXPORT_EPOCHS):
        export_epoch_append(
            spark, exp, d.filter(F.col("doc_id") % _EXPORT_EPOCHS == k), k
        )
    return (
        read_epoch_export(spark, exp)
        .select(
            F.col("epoch").cast("int").alias("epoch"),
            F.col("shard").cast("int").alias("shard"),
            "doc_id",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "q_export_lifecycle_tick",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             length(string_split(text, ' ')) AS n_tokens,
             doc_id % {_EXPORT_EPOCHS} AS epoch,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_chars, n_tokens, epoch, hv % {N_SHARDS} AS shard,
             row_number() OVER (PARTITION BY hv % {N_SHARDS}
                                ORDER BY epoch, hv, doc_id) AS pos
      FROM h
    ),
    s AS (
      SELECT * FROM o WHERE doc_id % {_TAKEDOWN_MOD} <> {_TAKEDOWN_RESIDUE}
    ),
    g AS (
      SELECT doc_id, n_chars, n_tokens,
             row_number() OVER (ORDER BY epoch, shard, pos) AS rank,
             count(*) OVER () AS total
      FROM s
    ),
    p AS (
      SELECT doc_id, n_chars, n_tokens, rank,
             CAST(ceil(total * 1.0 / CAST(ceil(
               total * 1.0 / {_REBALANCE_TARGET}) AS BIGINT)) AS BIGINT)
               AS rps
      FROM g
    ),
    r AS (SELECT doc_id, n_chars, n_tokens,
                 CAST((rank - 1) // rps AS INTEGER) AS shard
          FROM p)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM r GROUP BY shard
    """,
)
def q_export_lifecycle_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED export-lifecycle tick, gated end-to-end through real
    files (r16, VERDICT r15 #6): the lifecycle verbs existed and were
    gated SEPARATELY, so nothing pinned their composition ORDER —
    takedown first (survivors keep their published positions), THEN
    rebalance (fresh dense positions over the survivors' published
    (epoch, shard, pos) order), then the shard manifest of the
    published tree.  An operator mis-ordering the two (rebalance
    before takedown) renumbers rows the takedown was about to select
    by position-stable identity AND leaves the removed docs' mass in
    the shard-size math — the oracle's order (positions over the full
    corpus -> takedown filter -> rebalance rank over survivors) breaks
    the hash for either mis-order.

    Per call: 3 real epoch appends, one export_epoch_takedown of the
    doc_id % {_TAKEDOWN_MOD} == {_TAKEDOWN_RESIDUE} slice, one
    rebalance_export to {_REBALANCE_TARGET}-row shards, one manifest
    read of the published files — the whole nightly
    takedown-then-rebalance maintenance pass priced as one row.
    Scale shape: each verb's own (documented) shape; the composition
    adds no new shuffle."""
    from pathlib import Path

    from zebra_spark.fsutil import rmtree as _rmtree

    out = _export_scratch_dir(
        str(Path(sf_dir).resolve()) + ":lifecycle", "zebra_lifecycle_"
    )
    out_dir = f"{out}/inc"
    _rmtree(spark, out_dir)  # rebuild per call — the row prices the verbs
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    for k in range(_EXPORT_EPOCHS):
        export_epoch_append(
            spark, out_dir, d.filter(F.col("doc_id") % _EXPORT_EPOCHS == k), k
        )
    export_epoch_takedown(
        spark,
        out_dir,
        d.filter(
            F.col("doc_id") % _TAKEDOWN_MOD == _TAKEDOWN_RESIDUE
        ).select("doc_id"),
    )
    rebalance_export(spark, out_dir, _REBALANCE_TARGET)
    return (
        read_epoch_export(spark, out_dir)
        .select(
            F.col("shard").cast("int").alias("shard"),
            "doc_id",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SEQ_BUDGET = 512  # tokens per packed training sequence (a knob)


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, length(string_split(text, ' ')) AS n_tokens,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_tokens, CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY hv % {N_SHARDS}
                 ORDER BY hv, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
      FROM h
    )
    SELECT doc_id, shard,
           CAST(cum_before // {SEQ_BUDGET} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_BUDGET} AS BIGINT) AS seq_offset,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM o
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING (r10) — the step between export order and the
    trainer: concatenate documents in q_train_order's deterministic
    order and chunk the token stream into fixed SEQ_BUDGET-token
    training sequences (GPT-style concat-and-chunk; a document whose
    tokens straddle a boundary belongs to the sequence holding its
    FIRST token).  Each doc's (seq_id, seq_offset) is a running token
    sum over the per-shard training order — one shuffle on the shard
    key + a per-partition cumulative window, the same partitioning the
    export writer already uses, so at 100 TB packing rides the export
    shuffle for free.  No UDF, no global window, no collect: sequence
    assignment is pure window arithmetic both engines reproduce
    exactly (integer token counts, integer division)."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("shard")
        .orderBy("hv", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tokens"),
            shard_hash_col().alias("hv"),
        )
        .withColumn("shard", (F.col("hv") % N_SHARDS).cast("int"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "shard",
            F.expr(f"cum_before div {SEQ_BUDGET}").cast("bigint")
            .alias("seq_id"),
            (F.col("cum_before") % SEQ_BUDGET).cast("bigint")
            .alias("seq_offset"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "q_pack_sequences_epoch",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, doc_id % {_EXPORT_EPOCHS} AS epoch,
             length(string_split(text, ' ')) AS n_tokens,
             {_SQL_SHARD_HASH} AS hv
      FROM documents
    ),
    o AS (
      SELECT doc_id, n_tokens, CAST(hv % {N_SHARDS} AS INTEGER) AS shard,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY hv % {N_SHARDS}
                 ORDER BY epoch, hv, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
      FROM h
    )
    SELECT doc_id, shard,
           CAST(cum_before // {SEQ_BUDGET} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_BUDGET} AS BIGINT) AS seq_offset,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM o
    """,
)
def q_pack_sequences_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING over the EPOCH-MAJOR order (r11) — the packing
    a trainer actually uses with the append export: the running token
    sum follows q_export_append_order's (epoch, hv, doc_id) order, so
    an appended epoch's documents pack strictly AFTER every earlier
    epoch's tokens and the already-published epochs' sequence
    assignments are immutable — packing becomes per-epoch extendable
    exactly like the export itself (a new epoch's cum_before starts
    from the prior epochs' per-shard token totals, which the export's
    shard manifests already carry).  Same scale shape as
    q_pack_sequences: one shuffle on the shard key + per-partition
    window arithmetic, no UDF, no global window."""
    return pack_sequences_epoch_df(load(spark, sf_dir, "documents"))


def pack_sequences_epoch_df(docs: DataFrame) -> DataFrame:
    """Epoch-major packing over an arbitrary (doc_id, text) frame —
    one implementation feeds the registered query AND the
    append-stability test's prefix recomputation, so the two cannot
    drift."""
    w = (
        Window.partitionBy("shard")
        .orderBy("epoch", "hv", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            "doc_id",
            (F.col("doc_id") % _EXPORT_EPOCHS).cast("int").alias("epoch"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            shard_hash_col().alias("hv"),
        )
        .withColumn("shard", (F.col("hv") % N_SHARDS).cast("int"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "shard",
            F.expr(f"cum_before div {SEQ_BUDGET}").cast("bigint")
            .alias("seq_id"),
            (F.col("cum_before") % SEQ_BUDGET).cast("bigint")
            .alias("seq_offset"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


# Target language mixture for q_mix_rebalance, in basis points (sums to
# 10000).  ALL-INTEGER arithmetic end to end: quotas derive from counts
# and basis points via integer division only, so Spark and any SQL
# engine agree bit-for-bit — no float weight ever touches a boundary.
MIX_BP = {"en": 5000, "de": 1500, "es": 1500, "fr": 1000, "zh": 1000}
_SQL_MIX_BP = " UNION ALL ".join(
    f"SELECT '{l}' AS lang, {bp} AS bp" for l, bp in sorted(MIX_BP.items())
)

N_MIX_BUCKETS = 1024  # hash-range buckets for the distributed rank
_MIX_BUCKET_DIV = SPLIT_M // N_MIX_BUCKETS


@query(
    "q_mix_rebalance",
    oracle=f"""
    WITH w AS ({_SQL_MIX_BP}),
    cnt AS (
      SELECT d.lang, w.bp, count(*) AS n
      FROM documents d JOIN w ON w.lang = d.lang
      GROUP BY d.lang, w.bp
    ),
    scale AS (SELECT min(n * 10000 // bp) AS s FROM cnt),
    quota AS (
      SELECT lang, bp * (SELECT s FROM scale) // 10000 AS q FROM cnt
    ),
    ranked AS (
      SELECT d.doc_id, d.lang,
             row_number() OVER (PARTITION BY d.lang
               ORDER BY ((d.doc_id % {SPLIT_M}) * {SPLIT_A} + 98765)
                          % {SPLIT_M}, d.doc_id) AS rk
      FROM documents d
    )
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN quota q ON q.lang = r.lang
    WHERE r.rk <= q.q
    """,
)
def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE REBALANCING (r10): select the LARGEST corpus
    subset whose language proportions hit the MIX_BP target exactly
    (DoReMi-style fixed weights applied at data-prep time).  The
    binding language sets the scale — quota_l = bp_l x min_m(count_m x
    10000 // bp_m) // 10000 — and each language keeps its quota_l docs
    with the smallest seeded-LCG hash, so membership is deterministic,
    engine-independent, and stable under re-partitioning (no rand(),
    no RNG state).

    Scale shape: a window partitioned by language alone would have
    |languages| active partitions — the dominant language's whole
    corpus slice in ONE task.  Instead the global per-language rank is
    decomposed by hash RANGE: bucket = hash div (2^31/1024) is
    monotone in hash, so rank = (broadcast per-bucket prefix count) +
    rank within (lang, bucket) — a window over |languages| x 1024
    well-distributed keys, exactly equal to the single-window rank by
    (hash, doc_id).  The prefix/quota frames are |languages| x 1024
    rows, broadcast; no full-corpus single-key sort anywhere."""
    d = load(spark, sf_dir, "documents")
    w_df = spark.createDataFrame(
        sorted(MIX_BP.items()), "lang string, bp int"
    )
    cnt = (
        d.join(F.broadcast(w_df), "lang")
        .groupBy("lang", "bp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scale = cnt.select(
        F.min(F.expr("n * 10000 div bp")).alias("s")
    )  # 1 row
    quota = cnt.crossJoin(F.broadcast(scale)).select(
        "lang", F.expr("bp * s div 10000").alias("q")
    )
    h = (
        (F.col("doc_id") % SPLIT_M) * F.lit(SPLIT_A) + F.lit(98765)
    ) % F.lit(SPLIT_M)
    d2 = d.select("doc_id", "lang", h.alias("h")).withColumn(
        "bkt", F.expr(f"h div {_MIX_BUCKET_DIV}")
    )
    # per-(lang, bucket) counts -> per-language prefix sums over the
    # bucket spine (tiny frame: |languages| x N_MIX_BUCKETS rows)
    wpre = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = (
        d2.groupBy("lang", "bkt")
        .agg(F.count(F.lit(1)).alias("nb"))
        .withColumn("before", F.coalesce(F.sum("nb").over(wpre), F.lit(0)))
        .select("lang", "bkt", "before")
    )
    wrk = Window.partitionBy("lang", "bkt").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    return (
        d2.withColumn("rkb", F.row_number().over(wrk))
        .join(F.broadcast(pre), ["lang", "bkt"])
        .join(F.broadcast(quota), "lang")
        .filter(F.col("before") + F.col("rkb") <= F.col("q"))
        .select("doc_id", "lang")
    )


TOKEN_BUDGET_PER_SOURCE = 600  # tokens kept per source (a knob)


@query(
    "q_token_budget_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             length(string_split(text, ' ')) AS n_tokens,
             ((doc_id % {SPLIT_M}) * {SPLIT_A} + 24680) % {SPLIT_M} AS hv
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY hv, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c WHERE cum <= {TOKEN_BUDGET_PER_SOURCE}
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET SAMPLING (r10): keep each source's docs in
    seeded-hash order while the running TOKEN total stays within
    TOKEN_BUDGET_PER_SOURCE — the token-denominated sibling of
    q_mix_rebalance (training mixtures are specified in tokens, not
    documents; a source of long docs must contribute fewer of them).
    Membership is deterministic (no rand(), engine-independent).

    Scale shape: same skew-free decomposition as q_mix_rebalance — the
    per-source running sum would put the dominant source's slice in
    one task if the window partitioned on source alone, so the hash
    range is bucketed: broadcast per-(source, bucket) token prefix
    sums + a running sum within (source, bucket), exactly equal to the
    single-window cumulative sum because the bucket is monotone in the
    hash."""
    d = load(spark, sf_dir, "documents")
    h = (
        (F.col("doc_id") % SPLIT_M) * F.lit(SPLIT_A) + F.lit(24680)
    ) % F.lit(SPLIT_M)
    d2 = (
        d.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
            h.alias("h"),
        )
        .withColumn("bkt", F.expr(f"h div {_MIX_BUCKET_DIV}"))
    )
    wpre = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = (
        d2.groupBy("source", "bkt")
        .agg(F.sum("n_tokens").alias("tb"))
        .withColumn("before", F.coalesce(F.sum("tb").over(wpre), F.lit(0)))
        .select("source", "bkt", "before")
    )
    win = (
        Window.partitionBy("source", "bkt")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d2.withColumn("cum_in", F.sum("n_tokens").over(win))
        .join(F.broadcast(pre), ["source", "bkt"])
        .filter(
            F.col("before") + F.col("cum_in") <= TOKEN_BUDGET_PER_SOURCE
        )
        .select(
            "doc_id", "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "q_quality_threshold_sweep",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    feat AS (
      SELECT doc_id, count(*) AS n_tokens,
             count(DISTINCT word) * 1.0 / count(*) AS ttr
      FROM tok GROUP BY doc_id
    ),
    total AS (SELECT count(*) AS docs, sum(n_tokens) AS toks FROM feat),
    grid AS (SELECT t / 10.0 AS threshold FROM range(1, 10) r(t))
    SELECT {sql_rnd('g.threshold')} AS threshold,
           CAST(count(*) FILTER (WHERE f.ttr >= g.threshold) AS BIGINT)
             AS n_kept,
           CAST(coalesce(sum(f.n_tokens)
                  FILTER (WHERE f.ttr >= g.threshold), 0) AS BIGINT)
             AS tokens_kept,
           {sql_rnd("count(*) FILTER (WHERE f.ttr >= g.threshold) * 1.0 "
                    "/ (SELECT docs FROM total)")} AS frac_docs
    FROM grid g CROSS JOIN feat f
    GROUP BY g.threshold
    """,
)
def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DIAL (r9): for a 0.1..0.9 grid of type-token-ratio
    thresholds, how many documents and tokens survive — the
    kept-volume-vs-quality tradeoff curve every filtering run tunes
    before committing a threshold.  Per-doc features are computed once
    (one token aggregation), the 9-row threshold spine is broadcast,
    and the sweep is one grouped aggregation — cost is the feature pass
    regardless of grid size, so at 100 TB the whole curve costs the
    same one corpus scan a single-threshold filter would."""
    tok = tokens(spark, sf_dir, distinct=False).select("doc_id", "word")
    feat = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.countDistinct("word") / F.count(F.lit(1))).alias("ttr"),
    )
    grid = spark.range(1, 10).select(
        (F.col("id") / 10.0).alias("threshold")
    )
    total = feat.agg(F.count(F.lit(1)).alias("docs"))  # 1-row, broadcast
    kept = F.col("ttr") >= F.col("threshold")
    return (
        feat.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0)
            ).cast("bigint").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            rnd(F.col("threshold")).alias("threshold"),
            "n_kept", "tokens_kept",
            rnd(F.col("n_kept") / F.col("docs")).alias("frac_docs"),
        )
    )


# --- training-data pipeline: corpus curation ops ----------------------------

DOMAIN_CAP = 15


@query(
    "q_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE rk <= {DOMAIN_CAP}) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rk > {DOMAIN_CAP}) AS BIGINT) AS n_dropped,
           CAST(sum(n_chars) FILTER (WHERE rk <= {DOMAIN_CAP}) AS BIGINT)
             AS chars_kept
    FROM ranked GROUP BY source
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (web-scrape curation): keep at most
    DOMAIN_CAP docs per source, preferring longer docs, and report
    kept/dropped volume per source.  Rank is a per-source window with
    WindowGroupLimit-style bounded state — the cap is data-local to the
    source partition, no global ordering anywhere."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    keep = F.col("rk") <= DOMAIN_CAP
    return (
        d.withColumn("rk", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~keep, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(keep, F.col("n_chars"))).alias("chars_kept"),
        )
    )


REDACT_PATTERN = r"\b(customer|order|part)\b"


@query(
    "q_text_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{REDACT_PATTERN}')) AS BIGINT)
             AS n_hits,
           length(regexp_replace(text, '{REDACT_PATTERN}', '<TERM>', 'g'))
             AS redacted_len
    FROM documents
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrubbing (the PII-redaction op shape): count pattern
    hits per doc and the post-redaction length.  Pure per-row regex —
    embarrassingly parallel, no shuffle; the same operator handles
    email/phone/SSN patterns on real corpora (the fixture corpus has no
    digits, so the demo pattern is term-level)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(REDACT_PATTERN)))
        .cast("bigint").alias("n_hits"),
        F.length(F.regexp_replace("text", REDACT_PATTERN, "<TERM>"))
        .cast("bigint").alias("redacted_len"),
    )


@query(
    "q_text_repetition",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
    )
    SELECT doc_id,
           {sql_rnd("1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")}
             AS dup_word_frac,
           {sql_rnd("CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")}
             AS top_word_frac
    FROM wc GROUP BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Gopher-style filters):
    duplicate-word fraction and most-frequent-word dominance per doc.
    Explode -> (doc, word) count -> per-doc aggregate; both ratios are
    integer-over-integer doubles, bit-identical across engines.  The
    shuffle key is (doc_id, word) — doc-grain, skew-free."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = F.sum("c").cast("double")
    return wc.groupBy("doc_id").agg(
        rnd(F.lit(1.0) - F.count(F.lit(1)).cast("double") / tot)
        .alias("dup_word_frac"),
        rnd(F.max("c").cast("double") / tot).alias("top_word_frac"),
    )


SHINGLE_K = 8
BENCH_SOURCE = "src0"


@query(
    "q_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id, source,
             array_to_string(list_slice(ws, i, i + {SHINGLE_K - 1}), ' ')
               AS shingle
      FROM tok, unnest(generate_series(1, len(ws) - {SHINGLE_K - 1})) AS t(i)
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE source = '{BENCH_SOURCE}'
    )
    SELECT DISTINCT doc_id, source FROM sh
    WHERE source <> '{BENCH_SOURCE}'
      AND shingle IN (SELECT shingle FROM bench)
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag corpus docs sharing any
    {SHINGLE_K}-gram with a held-out set (here: source '{BENCH_SOURCE}').
    Shingle both sides, distinct the benchmark side, LEFT SEMI join on
    the shingle.  The benchmark side is the small side by construction
    (eval sets are tiny next to a 100 TB corpus) -> broadcast; at real
    scale you'd join on xxhash64(shingle) to shrink shuffle/broadcast
    bytes — string keys kept here for engine-neutral parity."""
    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(split(text, ' ')) - {SHINGLE_K - 1}),"
                f" i -> concat_ws(' ', slice(split(text, ' '), i, {SHINGLE_K})))"
            )
        ).alias("shingle"),
    )
    bench = (
        sh.filter(F.col("source") == BENCH_SOURCE).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("source") != BENCH_SOURCE)
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )


CHUNK_SIZE = 32
CHUNK_STRIDE = 24
PACK_CAPACITY = 512


@query(
    "q_text_chunk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    )
    SELECT doc_id,
           CAST((i - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           array_to_string(list_slice(ws, i, i + {CHUNK_SIZE - 1}), ' ')
             AS chunk,
           CAST(least(len(ws) - i + 1, {CHUNK_SIZE}) AS BIGINT) AS n_tokens
    FROM tok, unnest(generate_series(1, len(ws), {CHUNK_STRIDE})) AS t(i)
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training-sequence prep: overlapping
    {CHUNK_SIZE}-token windows at stride {CHUNK_STRIDE}.  Pure per-row
    explode (sequence -> slice -> concat) — no shuffle, output grain is
    (doc, chunk), and a 100 TB corpus chunks at scan speed.  chunk_id
    is derivable from the offset, so chunks are addressable without a
    global counter."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.split("text", " ").alias("ws"),
            F.explode(
                F.expr(f"sequence(1, size(split(text, ' ')), {CHUNK_STRIDE})")
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"CAST((i - 1) DIV {CHUNK_STRIDE} AS INT)").alias("chunk_id"),
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), CHUNK_SIZE))
            .alias("chunk"),
            F.least(
                F.size("ws") - F.col("i") + 1, F.lit(CHUNK_SIZE)
            ).cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "q_seq_packing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, source, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    )
    SELECT source, CAST((cum - 1) // {PACK_CAPACITY} AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, bin_id
    """,
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed-token-budget bins
    ({PACK_CAPACITY} tokens) by running token count within each source,
    and report per-bin fill.  The cumulative sum is a per-source window
    (bounded running-sum state, no global ordering); bin membership is
    then a pure function of the prefix sum — the distributed stand-in
    for the inherently-sequential greedy packer, reproducible across
    engines and runs."""
    d = load(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "source", n.alias("n"))
        .withColumn("cum", F.sum("n").over(w))
        .select(
            "source",
            F.expr(f"CAST((cum - 1) DIV {PACK_CAPACITY} AS BIGINT)")
            .alias("bin_id"),
            "n",
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("bin_tokens"),
        )
    )


@query(
    "q_text_entropy",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cnt AS (
      SELECT doc_id, c, count(*) AS k
      FROM ch WHERE c <> '' GROUP BY doc_id, c
    ),
    tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id)
    SELECT cnt.doc_id,
           CAST(max(t.n) AS BIGINT) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           {sql_rnd("-sum((k * 1.0 / t.n) * log2(k * 1.0 / t.n))")} AS entropy
    FROM cnt JOIN tot t ON t.doc_id = cnt.doc_id
    GROUP BY cnt.doc_id
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate quality signal (low entropy = repeated
    filler, high = random bytes; natural text sits ~4 bits/char).

    Scale shape: explode to (doc, char) -> count by (doc_id, char) —
    the shuffle grain is doc x alphabet, bounded by ~doc x 100 keys,
    perfectly balanced (the hot key is a char WITHIN one doc's group,
    never across docs).  One window for the per-doc total, one agg.
    """
    d = load(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("c")
    ).filter(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    w = Window.partitionBy("doc_id")
    p = F.col("k") / F.col("n")
    return (
        cnt.withColumn("n", F.sum("k").over(w))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_chars_counted"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            rnd(-F.sum(p * F.log2(p))).alias("entropy"),
        )
    )


@query(
    "q_pack_efficiency",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, source, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    ), bins AS (
      SELECT source, CAST((cum - 1) // {PACK_CAPACITY} AS BIGINT) AS bin_id,
             sum(n) AS bin_tokens
      FROM c GROUP BY source, bin_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
           {sql_rnd(f"sum(bin_tokens) * 1.0 / (count(*) * {PACK_CAPACITY})")}
             AS utilization
    FROM bins GROUP BY source
    """,
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over q_seq_packing's bins: bins used,
    token totals, and utilization (fraction of the token budget
    actually filled) per source — the metric a training pipeline
    watches to tune PACK_CAPACITY.  Pure rollup of the packing query
    (one extra groupBy on its output grain)."""
    bins = QUERIES["q_seq_packing"](spark, sf_dir)
    return bins.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
        F.max("bin_tokens").cast("bigint").alias("max_bin_tokens"),
        rnd(
            F.sum("bin_tokens")
            / (F.count(F.lit(1)) * F.lit(float(PACK_CAPACITY)))
        ).alias("utilization"),
    )


REBAL_RES = 1_000_000  # keep-hash resolution


@query(
    "q_source_rebalance",
    oracle=f"""
    WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    m AS (SELECT min(cnt) AS mincnt FROM c)
    SELECT d.doc_id, d.source
    FROM documents d JOIN c ON c.source = d.source CROSS JOIN m
    WHERE (((d.doc_id % {SPLIT_M}) * {SPLIT_A} + 999331) % {REBAL_RES}) * c.cnt
          < m.mincnt * {REBAL_RES}
    """,
)
def q_source_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every source to the smallest
    source's share (uniform target mixture), the data-driven
    generalization of q_domain_cap's fixed cap.  Keep decision is a
    pure integer comparison — h(doc_id) * cnt_source < min_cnt * 1e6 —
    so membership is exactly reproducible on any engine (no float keep
    probability, no RNG), stable under re-partitioning, and each row
    needs only its source's count: one tiny per-source count frame
    broadcast against the corpus scan, nothing else shuffles."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    mincnt = c.agg(F.min("cnt").alias("mincnt"))
    h = ((F.col("doc_id") % SPLIT_M) * F.lit(SPLIT_A) + F.lit(999331)) % F.lit(
        REBAL_RES
    )
    return (
        d.join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(mincnt))
        .filter(h * F.col("cnt") < F.col("mincnt") * F.lit(REBAL_RES))
        .select("doc_id", "source")
    )


@query(
    "q_ngram_novelty",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                    i -> w[i] || ' ' || w[i + 1])) AS bigram
      FROM words
    ),
    first AS (SELECT bigram, min(doc_id) AS first_doc FROM bg GROUP BY bigram)
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN f.first_doc = bg.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM bg JOIN first f ON f.bigram = bg.bigram
    GROUP BY bg.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-corpus novelty: for each document, how many of its
    distinct bigrams appear in NO earlier document (doc_id order) — the
    n-gram-level "what does this doc add" curation signal, the streaming
    complement of contamination screening.  One shuffle keyed on the
    bigram computes each bigram's first-seen doc (an agg, bounded by
    vocabulary size, never by corpus pairs); the per-doc rollup is a
    second bounded-key agg.  Nothing quadratic, no corpus self-join."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bigrams = F.expr(
        "transform(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(split(text, ' '), i + 2)))"
    )
    bg = d.select(
        "doc_id", F.explode(F.array_distinct(bigrams)).alias("bigram")
    )
    first = bg.groupBy("bigram").agg(F.min("doc_id").alias("first_doc"))
    return (
        bg.join(first, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )


SPAN_N = 5  # duplicate-span shingle width (words)


def _span_shingle(terms: list[str]) -> str:
    """Rolling polynomial over SPAN_N word-hash terms, identical text in
    both dialects: ((...((t0*31 + t1) % p)*31 + t2) % p ...)."""
    e = terms[0]
    for t in terms[1:]:
        e = f"(({e}) * 31 + {t}) % {FP_P}"
    return e


@query(
    "q_text_dup_spans",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            w -> {sql_word_hash('w')}) AS hs
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(hs) - {SPAN_N - 2}, 1)),
               i -> {_span_shingle([f"hs[i + {o}]" for o in range(SPAN_N)])}
             )) AS sid
      FROM h
    ),
    dup AS (SELECT sid, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY sid)
    SELECT s.doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           {sql_rnd("sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END)"
                    " * 1.0 / count(*)")} AS dup_frac
    FROM sh s JOIN dup d ON d.sid = s.sid
    GROUP BY s.doc_id
    """,
)
def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every word {SPAN_N}-gram
    is fingerprinted with a rolling polynomial over the per-word hash;
    a shingle occurring in >= 2 distinct documents marks each of its
    occurrences as a duplicated span, and each document reports how much
    of it is verbatim-shared text (n_dup / n_shingles).  Complements
    MinHash (whole-doc near-dup) by catching boilerplate and quotes
    embedded in otherwise-unique documents.

    Scale posture: shingle ids are pure per-row expressions (no
    vocabulary join); the only shuffles are the shingle-keyed agg
    (bounded by distinct-shingle count, like a wordcount) and the
    doc-keyed rollup.  Nothing quadratic, no self-join — the suffix-array
    formulation of the paper is replaced by the shingle-grained
    equivalent that distributes."""
    # Spark array subscripts are 0-based (DuckDB's are 1-based): i runs
    # 0..size-SPAN_N here vs 1..len-SPAN_N+1 in the oracle — same terms.
    shingle = _span_shingle([f"hs[i + {o}]" for o in range(SPAN_N)])
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"transform(split(text, ' '), w -> {word_hash_sql_spark('w')})"
        ).alias("hs"),
    )
    # Spark sequence() is inclusive and descends for a negative span, so
    # short docs must short-circuit to an empty array explicitly.
    sh = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(hs) >= {SPAN_N} THEN"
                f" transform(sequence(0, size(hs) - {SPAN_N}), i -> {shingle})"
                " ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("sid"),
    )
    dup = sh.groupBy("sid").agg(F.countDistinct("doc_id").alias("n_docs"))
    agg = sh.join(dup, "sid").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        rnd(F.col("n_dup") * 1.0 / F.col("n_shingles")).alias("dup_frac"),
    )


@query(
    "q_seq_length_hist",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT CAST(length(format('{:b}', n_tokens)) AS INTEGER) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY bucket
    """,
)
def q_seq_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets (bucket =
    bit-length of the whitespace token count — exact integer arithmetic
    via the base-2 string, no float log2 whose rounding differs at exact
    powers of two).  The length-distribution monitor every packing /
    truncation decision upstream of training reads; pure per-row bucket
    assignment plus one agg over ~10 distinct buckets."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    return (
        t.groupBy(F.length(F.bin("n")).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
    )


# Gopher-style rule thresholds (Rae et al. 2021, "Scaling Language
# Models" App. A; same family as Dolma/C4 heuristics).  MIN_WORDS and
# STOP and REP all BIND on the fixture (223 / 112 / 33 docs fail at
# sf0.01); the word-length and alpha rules never fire there but carry
# the standard published thresholds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WL = 3.0
GOPHER_MAX_WL = 10.0
GOPHER_MIN_ALPHA = 0.8
GOPHER_MIN_STOP = 2
GOPHER_MAX_TOP_BIGRAM = 0.08
_GOPHER_STOPS = ("the", "a", "of", "to", "and", "in")


@query(
    "q_text_gopher_filters",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
    base AS (
      SELECT doc_id,
             len(ws) AS n_words,
             (length(text) - len(ws) + 1.0) / len(ws) AS mean_wl,
             len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
               * 1.0 / len(ws) AS alpha_frac,
             len(list_filter(ws, x -> x IN
               {_GOPHER_STOPS!r})) AS n_stop
      FROM d
    ),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM d WHERE len(ws) >= 2
    ),
    per AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
    rep AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top_share
            FROM per GROUP BY doc_id),
    j AS (
      SELECT b.*, coalesce(r.top_share, 0.0) AS top_share
      FROM base b LEFT JOIN rep r ON r.doc_id = b.doc_id
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           {sql_rnd('mean_wl')} AS mean_wl,
           {sql_rnd('alpha_frac')} AS alpha_frac,
           CAST(n_stop AS BIGINT) AS n_stop,
           {sql_rnd('top_share')} AS top_bigram_share,
           CASE WHEN n_words < {GOPHER_MIN_WORDS} THEN 'too_short'
                WHEN n_words > {GOPHER_MAX_WORDS} THEN 'too_long'
                WHEN mean_wl < {GOPHER_MIN_WL}
                  OR mean_wl > {GOPHER_MAX_WL} THEN 'word_length'
                WHEN alpha_frac < {GOPHER_MIN_ALPHA} THEN 'non_alpha'
                WHEN n_stop < {GOPHER_MIN_STOP} THEN 'no_stopwords'
                WHEN top_share > {GOPHER_MAX_TOP_BIGRAM} THEN 'repetitive'
                ELSE 'ok' END AS reason,
           CAST(CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                      AND n_words <= {GOPHER_MAX_WORDS}
                      AND mean_wl >= {GOPHER_MIN_WL}
                      AND mean_wl <= {GOPHER_MAX_WL}
                      AND alpha_frac >= {GOPHER_MIN_ALPHA}
                      AND n_stop >= {GOPHER_MIN_STOP}
                      AND top_share <= {GOPHER_MAX_TOP_BIGRAM}
                THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM j
    """,
)
def q_text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021; the
    Dolma/C4 heuristic family): word-count bounds, mean word length
    bounds, alphabetic-word fraction, stop-word presence, and top-
    bigram repetition share, emitting every doc's measured stats, its
    FIRST failing rule, and the kept flag — the standard pre-dedup
    curation pass of a web-scale corpus.

    Scale posture: all rules but repetition are per-row native
    expressions over the split array (zero shuffle); the repetition
    stat is one (doc, bigram) count + one per-doc max/sum — two
    bounded shuffles keyed by doc, the textbook map-reduce.  Thresholds
    are module constants; swap per corpus policy."""
    ws = F.split("text", " ")
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws).alias("n_words"),
        ((F.length("text") - F.size(ws) + 1.0) / F.size(ws)).alias("mean_wl"),
        (
            F.size(F.filter(ws, lambda x: x.rlike("[a-z]"))) / F.size(ws)
        ).alias("alpha_frac"),
        F.size(
            F.filter(ws, lambda x: F.array_contains(stops, x))
        ).alias("n_stop"),
        ws.alias("ws"),
    )
    bg = base.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(ws[i-1], ' ', ws[i]))"
            )
        ).alias("bigram"),
    )
    rep = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c") / F.sum("c")).alias("top_share"))
    )
    j = base.drop("ws").join(rep, "doc_id", "left").withColumn(
        "top_share", F.coalesce("top_share", F.lit(0.0))
    )
    ok = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_wl") >= GOPHER_MIN_WL)
        & (F.col("mean_wl") <= GOPHER_MAX_WL)
        & (F.col("alpha_frac") >= GOPHER_MIN_ALPHA)
        & (F.col("n_stop") >= GOPHER_MIN_STOP)
        & (F.col("top_share") <= GOPHER_MAX_TOP_BIGRAM)
    )
    reason = (
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, "too_short")
        .when(F.col("n_words") > GOPHER_MAX_WORDS, "too_long")
        .when(
            (F.col("mean_wl") < GOPHER_MIN_WL)
            | (F.col("mean_wl") > GOPHER_MAX_WL),
            "word_length",
        )
        .when(F.col("alpha_frac") < GOPHER_MIN_ALPHA, "non_alpha")
        .when(F.col("n_stop") < GOPHER_MIN_STOP, "no_stopwords")
        .when(F.col("top_share") > GOPHER_MAX_TOP_BIGRAM, "repetitive")
        .otherwise("ok")
    )
    return j.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        rnd(F.col("mean_wl")).alias("mean_wl"),
        rnd(F.col("alpha_frac")).alias("alpha_frac"),
        F.col("n_stop").cast("bigint").alias("n_stop"),
        rnd(F.col("top_share")).alias("top_bigram_share"),
        reason.alias("reason"),
        F.when(ok, 1).otherwise(0).cast("int").alias("kept"),
    )


MIX_ALPHA = 0.5  # temperature exponent for source reweighting


@query(
    "q_source_mixture_plan",
    oracle=f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT source, n_docs, n_tokens,
             n_tokens * 1.0 / sum(n_tokens) OVER () AS nat,
             pow(n_tokens, {MIX_ALPHA})
               / sum(pow(n_tokens, {MIX_ALPHA})) OVER () AS tgt,
             sum(n_tokens) OVER () AS total
      FROM s
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {sql_rnd('nat')} AS natural_share,
           {sql_rnd('tgt')} AS target_share,
           {sql_rnd('tgt / nat')} AS sample_rate,
           {sql_rnd('tgt * total')} AS expected_tokens
    FROM t
    """,
)
def q_source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source MIXTURE plan (p_i ∝ n_i^{MIX_ALPHA},
    the α-reweighting used for multilingual/source balancing in
    mBERT/XLM-R-style training): per source, the natural token share,
    the α-flattened target share, the sampling rate to hit it
    (rate > 1 ⇒ the source repeats for multiple epochs), and the
    expected token budget.  One aggregation over the corpus plus a
    window over ≤|sources| rows — the plan every weighted-mixture data
    loader consumes; downstream, q_sample_per_group materializes the
    per-source samples."""
    ws = F.split("text", " ")
    s = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(ws)).alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    t = s.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w)).alias("nat"),
        (
            F.pow("n_tokens", F.lit(MIX_ALPHA))
            / F.sum(F.pow("n_tokens", F.lit(MIX_ALPHA))).over(w)
        ).alias("tgt"),
        F.sum("n_tokens").over(w).alias("total"),
    )
    return t.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        rnd(F.col("nat")).alias("natural_share"),
        rnd(F.col("tgt")).alias("target_share"),
        rnd(F.col("tgt") / F.col("nat")).alias("sample_rate"),
        rnd(F.col("tgt") * F.col("total")).alias("expected_tokens"),
    )


HH_TOP_K = 5


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (
      SELECT source, word, count(*) AS n FROM tok GROUP BY source, word
    ),
    totals AS (SELECT source, count(*) AS tot FROM tok GROUP BY source),
    ranked AS (
      SELECT c.source, c.word, c.n, t.tot,
             row_number() OVER (PARTITION BY c.source
                                ORDER BY c.n DESC, c.word) AS rk
      FROM counts c JOIN totals t ON t.source = c.source
    )
    SELECT source, word, n, CAST(rk AS INTEGER) AS rk,
           {sql_rnd("n * 1.0 / tot")} AS share
    FROM ranked WHERE rk <= {HH_TOP_K}
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy hitters: the {HH_TOP_K} most frequent tokens in
    each source with count, rank, and share of the source's token mass
    — the frequency audit behind stopword lists, boilerplate
    detection, and per-source vocabulary drift.

    Scale shape: one (source, word) count aggregation (map-side
    partial), a broadcast join to per-source totals (|sources| rows),
    and a per-source window over the counted vocabulary — never over
    raw tokens.  Exact counts; at extreme vocabularies swap the final
    window for a per-partition partial top-k (the TakeOrdered pattern),
    or count-min sketches if approximation is acceptable."""
    tok = tokens(spark, sf_dir, distinct=False).select("source", "word")
    counts = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    totals = tok.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.join(F.broadcast(totals), "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HH_TOP_K)
        .select(
            "source", "word", "n", "rk", rnd(F.col("n") / F.col("tot")).alias("share")
        )
    )


@query(
    "q_source_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (
      SELECT source, word, count(*) AS n FROM tok GROUP BY source, word
    ),
    totals AS (SELECT source, sum(n) AS tot, count(*) AS n_types
               FROM counts GROUP BY source)
    SELECT c.source,
           CAST(t.tot AS BIGINT) AS n_tokens,
           t.n_types,
           {sql_rnd("t.n_types * 1.0 / t.tot")} AS type_token_ratio,
           {sql_rnd("-sum((c.n * 1.0 / t.tot) * log2(c.n * 1.0 / t.tot))")}
             AS entropy_bits
    FROM counts c JOIN totals t ON t.source = c.source
    GROUP BY c.source, t.tot, t.n_types
    """,
)
def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diversity per source: token count, type count,
    type-token ratio, and Shannon entropy (bits) of the source's word
    distribution — the corpus-diversity audit that pairs with
    q_heavy_hitters (a source with low entropy + a dominant heavy
    hitter is template spam; high entropy with flat hitters is diverse
    prose).  Feeds mixture planning: entropy is a standard proxy for
    how much a source actually contributes beyond its token count.

    Scale shape: the (source, word) count aggregation (map-side
    partial) is the only vocabulary-sized frame; entropy is one more
    agg over it.  Raw tokens are never shuffled twice."""
    tok = tokens(spark, sf_dir, distinct=False).select("source", "word")
    counts = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_types")
    )
    share = F.col("n") / F.col("tot")
    return (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source", "tot", "n_types")
        .agg((-F.sum(share * F.log2(share))).alias("h"))
        .select(
            "source",
            F.col("tot").cast("bigint").alias("n_tokens"),
            "n_types",
            rnd(F.col("n_types") / F.col("tot")).alias("type_token_ratio"),
            rnd(F.col("h")).alias("entropy_bits"),
        )
    )
