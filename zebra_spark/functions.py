"""Distance metrics and vector helpers as native Spark Column builders.

Parity surface for the reference's metric library (reference
src/distance.rs:15-190, 12 metrics).  Every metric is a composition of
`zip_with` / `aggregate` / `array_max` higher-order functions — JVM-side,
Catalyst-optimizable, whole-stage-codegen friendly.  No UDFs in the hot
path; the only Python-side metric is `hamming_bits` (needs f32 bit
reinterpretation, reference src/distance.rs:140-158) which is vectorized
via pandas_udf.

The reference totally-orders distances through the u64 bit pattern of the
float (src/distance.rs:13); in Spark we order by the double directly and
break ties by id (SURVEY §1.3) — same order for non-negative distances.

All builders expect `array<double>` columns (cast at load,
io.embeddings_d); accumulation is float64 left-to-right, matching the
DuckDB oracle's `list_sum(list_transform(...))` on `DOUBLE[]`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rnd(c: Column, nd: int = 4) -> Column:
    """Engine-portable rounding: floor(x * 10^nd + 0.5) / 10^nd in pure
    IEEE double ops, which Spark and DuckDB evaluate bit-identically.

    Native round() is NOT portable: Spark rounds via BigDecimal HALF_UP
    on the decimal expansion while DuckDB goes through a float multiply —
    they disagree on ~1 in 2000 continuous doubles at the 4th decimal
    (found by multiset-hashing q_project_expr).  Also collapses -0.0 to
    0.0.  |x|*10^nd must stay below 2^53 — true for every engine value
    (all < 1e10)."""
    s = float(10 ** nd)
    r = F.floor(c.cast("double") * s + F.lit(0.5)) / s
    return F.when(r == 0.0, F.lit(0.0)).otherwise(r)


def rank_top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a scored (query_id, neighbor_id, dist) frame:
    row_number over (dist, neighbor_id) — the id breaks distance ties —
    kept while rank <= k, distances rounded by rnd.  Returns (query_id,
    neighbor_id, rank, dist), the shape every kNN path emits."""
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", rnd(F.col("dist")).alias("dist"))
    )


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _unrolled_sum(term, dim: int) -> Column:
    """0.0 + term(0) + term(1) + ... — the SAME left-to-right IEEE
    double fold as `aggregate(zip_with(...), 0.0, acc + x)`, expressed
    as a flat expression chain.

    r17 optimization pass (guide §1.2 per-task work): Spark's
    higher-order functions (ArrayAggregate / ZipWith) are
    CodegenFallback — every row pays an interpreted lambda call per
    element with boxing — while this chain compiles into straight-line
    whole-stage-codegen arithmetic.  Bit-identical results by
    construction (identical operations in identical order on identical
    doubles; elements are read with F.get, whose out-of-range NULL
    matches zip_with's null-padding — ANSI `col[i]` would THROW
    there), so every oracle hash is unchanged — pinned by
    tests/test_metrics.py::test_unrolled_matches_hof_fold.

    MEASURED NET-NEGATIVE IN SITU — kept available but NO query or
    index call site passes `dim` (r17 full-bench A/B, recorded in
    OPTIMIZATION_r17.md): the kernel wins exactly where its premise
    holds — a long-running executor stage whose per-row cost
    dominates (isolated fan-out microbench: 1.1 s unrolled vs 2.7 s
    HOF at 32-way over 6.4M evals; 3.2x on the single-task kNN
    scoring stage before the _spread fixes existed) — but inside the
    real queries it is a 2.5-3.8x LOSS (q_cell_drift 1.5 -> 3.6 s,
    q_knn_filtered 0.52 -> 1.35 s, q_ann_ivf 1.0 -> 3.1 s; the
    sf0.01 suite 69 -> 169 s).  The flat chain is a ~400-node
    expression tree per kernel (x3 in cosine, doubled again by the
    width guard carrying the HOF fallback branch), and every Catalyst
    analysis/optimization pass re-walks it on the DRIVER for every
    action — per-plan seconds that repeat on each run and dwarf the
    per-row win once _spread parallelizes the scoring stages.  Same
    failure class as the plan-time getNumPartitions probe rejected in
    io.spread_scan."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + term(i)
    return acc


def _dim_guarded(a: Column, b: Column, unrolled: Column, hof: Column,
                 dim: int) -> Column:
    """Width guard for the unrolled kernels: rows whose arrays match
    `dim` take the codegen chain; any other width (shorter, longer,
    NULL — e.g. a caller-supplied store of a different dimension)
    falls back to the higher-order-function fold, so the dim hint can
    NEVER change a result — it only picks the faster plan for the
    declared common case.  The guard predicate codegens; the fallback
    branch is evaluated lazily only for mismatched rows."""
    return F.when((F.size(a) == dim) & (F.size(b) == dim), unrolled).otherwise(
        hof
    )


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    hof = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    if dim is not None:
        ca, cb = _as_col(a), _as_col(b)
        return _dim_guarded(
            ca, cb,
            _unrolled_sum(lambda i: F.get(ca, i) * F.get(cb, i), dim),
            hof, dim,
        )
    return hof


def _agg_sum(pair_col: Column) -> Column:
    return F.aggregate(pair_col, F.lit(0.0), lambda acc, x: acc + x)


def l2sq(a, b, dim: int | None = None) -> Column:
    """Squared Euclidean — the reference's default text metric
    (src/distance.rs:34-49, src/database/default/text.rs:8).
    `dim` (r17): known-width inputs take the unrolled codegen chain
    (see _unrolled_sum); identical IEEE results either way."""
    hof = _agg_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))
    if dim is not None:
        ca, cb = _as_col(a), _as_col(b)
        return _dim_guarded(
            ca, cb,
            _unrolled_sum(
                lambda i: (F.get(ca, i) - F.get(cb, i))
                * (F.get(ca, i) - F.get(cb, i)),
                dim,
            ),
            hof, dim,
        )
    return hof


def l2(a, b) -> Column:
    """Euclidean (src/distance.rs:99-114)."""
    return F.sqrt(l2sq(a, b))


def l1(a, b) -> Column:
    """Manhattan (src/distance.rs:87-97)."""
    return _agg_sum(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def chebyshev(a, b) -> Column:
    """max |a_i - b_i| (src/distance.rs:51-61)."""
    return F.array_max(F.zip_with(a, b, lambda x, y: F.abs(x - y)))


def canberra(a, b) -> Column:
    """sum |a_i-b_i| / (|a_i|+|b_i|), 0/0 -> 0 (src/distance.rs:63-73)."""
    return _agg_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: F.when(F.abs(x) + F.abs(y) == 0.0, F.lit(0.0)).otherwise(
                F.abs(x - y) / (F.abs(x) + F.abs(y))
            ),
        )
    )


def braycurtis(a, b) -> Column:
    """sum|a-b| / sum|a+b|, zero denominator -> 0 (src/distance.rs:75-85)."""
    num = _agg_sum(F.zip_with(a, b, lambda x, y: F.abs(x - y)))
    den = _agg_sum(F.zip_with(a, b, lambda x, y: F.abs(x + y)))
    return F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)


def cosine(a, b, dim: int | None = None) -> Column:
    """1 - cos(a,b); zero-norm input -> 1.0 (src/distance.rs:15-32).
    `dim` (r17): unrolled codegen chain for known-width inputs."""
    num = dot(a, b, dim)
    na = F.sqrt(dot(a, a, dim))
    nb = F.sqrt(dot(b, b, dim))
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - num / (na * nb)
    )


def pnorm(a, b, p: float) -> Column:
    """sum |a_i-b_i|^p, no root (src/distance.rs:176-190)."""
    return _agg_sum(F.zip_with(a, b, lambda x, y: F.pow(F.abs(x - y), F.lit(p))))


def minkowski(a, b, p: float) -> Column:
    """(sum |a_i-b_i|^p)^(1/p), runtime p (src/distance.rs:160-174)."""
    return F.pow(pnorm(a, b, p), F.lit(1.0 / p))


def l3(a, b) -> Column:
    """Minkowski p=3 (src/distance.rs:116-126)."""
    return minkowski(a, b, 3.0)


def l4(a, b) -> Column:
    """Minkowski p=4 (src/distance.rs:128-138)."""
    return minkowski(a, b, 4.0)


METRICS = {
    "cosine": cosine,
    "l2sq": l2sq,
    "l2": l2,
    "l1": l1,
    "chebyshev": chebyshev,
    "canberra": canberra,
    "braycurtis": braycurtis,
    "l3": l3,
    "l4": l4,
}


def cosine_np_udf():
    """Arrow-vectorized cosine distance (1 - cos) over two array<double>
    columns — the HIGH-VOLUME pair-scoring kernel: one numpy einsum per
    Arrow batch instead of one interpreted higher-order expression per
    row (~10x on million-pair verify stages, measured in SCALING.md).

    Not hash-parity-safe vs the SQL oracle: numpy's pairwise/SIMD
    summation differs from sequential fold in the last ulps, so the
    oracle-checked queries keep the native `cosine` expression and this
    kernel serves bulk dedup/scoring paths where 4-decimal float
    identity across engines is not contractual."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        zero = (na == 0.0) | (nb == 0.0)
        den = np.where(zero, 1.0, na * nb)
        return pd.Series(np.where(zero, 1.0, 1.0 - num / den))

    return _cos


def hamming_bits_udf():
    """Reference Hamming: popcount of XOR over the low byte of each f32's
    bit pattern (src/distance.rs:140-158, `x.to_bits() as u8`).  Needs
    float->bits reinterpretation, so this is the one pandas_udf metric
    (Arrow-vectorized; not on any hot path — parity/testing only)."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _hamming(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a), dtype=np.int64)
        for i, (va, vb) in enumerate(zip(a, b)):
            ba = np.asarray(va, dtype=np.float32).view(np.uint32).astype(np.uint8)
            bb = np.asarray(vb, dtype=np.float32).view(np.uint32).astype(np.uint8)
            n = min(len(ba), len(bb))
            out[i] = int(np.unpackbits(ba[:n] ^ bb[:n]).sum())
        return pd.Series(out)

    return _hamming


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL fragments for the same metrics, over a.emb/b.emb
# DOUBLE[] columns of dimension `dim`.  Kept beside the Spark builders so
# the two definitions are reviewed together.
# ---------------------------------------------------------------------------


def sql_metric(name: str, a: str = "a.emb", b: str = "b.emb", dim: int = 64) -> str:
    r = f"range(1, {dim + 1})"
    diffs = f"list_transform({r}, i -> abs({a}[i] - {b}[i]))"
    if name == "l2sq":
        # multiplication, not ^2: DuckDB ^ is pow() and may differ from
        # Spark's (x-y)*(x-y) in the last ulp
        return f"list_sum(list_transform({r}, i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    if name == "l2":
        return f"sqrt({sql_metric('l2sq', a, b, dim)})"
    if name == "l1":
        return f"list_sum({diffs})"
    if name == "chebyshev":
        return f"list_max({diffs})"
    if name == "canberra":
        return (
            f"list_sum(list_transform({r}, i -> CASE WHEN abs({a}[i]) + abs({b}[i]) = 0"
            f" THEN 0.0 ELSE abs({a}[i] - {b}[i]) / (abs({a}[i]) + abs({b}[i])) END))"
        )
    if name == "braycurtis":
        den = f"list_sum(list_transform({r}, i -> abs({a}[i] + {b}[i])))"
        return f"(CASE WHEN {den} = 0 THEN 0.0 ELSE list_sum({diffs}) / {den} END)"
    if name == "cosine":
        d = f"list_sum(list_transform({r}, i -> {a}[i] * {b}[i]))"
        na = f"sqrt(list_sum(list_transform({r}, i -> {a}[i] * {a}[i])))"
        nb = f"sqrt(list_sum(list_transform({r}, i -> {b}[i] * {b}[i])))"
        return (
            f"(CASE WHEN {na} = 0 OR {nb} = 0 THEN 1.0"
            f" ELSE 1.0 - {d} / ({na} * {nb}) END)"
        )
    if name.startswith("pnorm:"):
        p = float(name.split(":")[1])
        return f"list_sum(list_transform({r}, i -> abs({a}[i] - {b}[i])^{p}))"
    if name.startswith("minkowski:"):
        p = float(name.split(":")[1])
        return f"(list_sum(list_transform({r}, i -> abs({a}[i] - {b}[i])^{p})))^{1.0 / p}"
    if name == "l3":
        return sql_metric("minkowski:3.0", a, b, dim)
    if name == "l4":
        return sql_metric("minkowski:4.0", a, b, dim)
    raise KeyError(name)
