"""Pairwise Pearson correlation matrix from ONE exact-moment aggregation.

For k numeric columns, every pairwise correlation derives from the k(k+3)/2
moments {n, S_i, S_ii, S_ij}; all of them accumulate in a SINGLE map-side-
combinable aggregation over exact micro-unit DECIMAL(38,0) integers, so one
pass over the fact table yields the whole matrix — the shape a 100 TB
profiling job needs (k passes, or anything windowed, would not survive).

Cross-engine exactness: the moments are exact integers; each pairwise
statistic combines them as (n*S_ij - S_i*S_j) / (sqrt(n*S_ii - S_i^2) *
sqrt(n*S_jj - S_j^2)) with the integer numerator/radicands computed
EXACTLY in 38-digit decimals, converted to double once, and finished with
IEEE sqrt (correctly rounded by spec) and one division — the identical
float sequence in any engine, so round(.,6) is hash-stable. Headroom
contract: exact while n * max|x_i * x_j| < 10^38 in micro-units (~10^12
rows of ~10^13-micro values); beyond that, pre-scale the inputs.
"""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark import hybrid
from olake_spark.exact import round_half_up6

__all__ = ["corr_matrix", "kendall_tau_b", "ols2", "spearman_matrix"]

_D38 = "decimal(38,0)"

# driver-path headroom: with |x| < 2^42 and n <= 2^20 rows, every hi/lo
# partial sum (hh<<42, hl/lh<<21, ll) stays under 2^63 — see
# _pearson_driver. Both bounds gate the fast path, whatever the row cap.
_DRIVER_ABS_MAX = 1 << 42
_DRIVER_MAX_ROWS = 1 << 20


def _pearson_driver(got, cols: list, xnames: list, by: list) -> list:
    """Driver mirror of the exact-moment dataflow over the SPARK-quantized
    long values (the ``x`` expressions cast to long — the input
    quantization never leaves Spark), accumulated in numpy int64 via
    hi/lo splitting:

        x = h·2^21 + l  (floor split, negatives included) →
        Σ x·y = (Σ h_x h_y)·2^42 + (Σ h_x l_y + Σ l_x h_y)·2^21 + Σ l_x l_y

    with every partial sum < 2^63 under the n ≤ 2^20 row bound and the
    |x| < 2^42 value bound; the three partials recombine in arbitrary-
    precision Python ints, so the moments are IDENTICAL to the
    DECIMAL(38,0) dataflow's. The finish replicates the dataflow's float
    sequence exactly: one decimal→double cast (float(int): same
    round-to-nearest), IEEE sqrt/multiply/divide, and the HALF_UP
    round-6."""
    import numpy as np

    X_all = got.pdf[xnames].to_numpy(dtype=np.int64)
    if ((X_all >= _DRIVER_ABS_MAX) | (X_all <= -_DRIVER_ABS_MAX)).any():
        raise hybrid.Fallback("|x| >= 2^42 micro-units")
    rows = []
    # an empty keyless input still aggregates to one row (n=0, NULL sums →
    # NULL stats), which the explode fans into one row per pair
    for kt, g in got.groups(by):
        X = g[xnames].to_numpy(dtype=np.int64)
        n = len(X)
        H = X >> 21  # arithmetic shift == floor division for negatives
        L = X - (H << 21)
        s = [int(X[:, i].sum()) for i in range(len(cols))]

        def moment(i: int, j: int) -> int:
            hh = int(H[:, i] @ H[:, j])
            hl = int(H[:, i] @ L[:, j]) + int(L[:, i] @ H[:, j])
            ll = int(L[:, i] @ L[:, j])
            return (hh << 42) + (hl << 21) + ll

        for i, j in combinations(range(len(cols)), 2):
            num = n * moment(i, j) - s[i] * s[j]
            ra = n * moment(i, i) - s[i] * s[i]
            rb = n * moment(j, j) - s[j] * s[j]
            val = None
            if ra > 0 and rb > 0:
                val = round_half_up6(
                    float(num) / (math.sqrt(float(ra)) * math.sqrt(float(rb)))
                )
            rows.append([*kt, cols[i], cols[j], n, val])
    return rows


def _pairwise_pearson(
    df: DataFrame,
    x: dict,
    out_col: str,
    by: list[str] | None = None,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """Shared exact-moment core: ``x`` maps column name → an exact
    integer Column (already D38-castable); emits (col_a, col_b, n,
    <out_col>) for every unordered pair from ONE aggregation pass.
    With ``by``, the same single pass produces one matrix PER GROUP
    (the 100 TB fleet shape — per-nation, per-SKU, per-cohort): the
    moments groupBy the keys instead of a global agg, still map-side
    combinable, still one scan."""
    cols = list(x)
    by = list(by or [])
    xnames = [f"_x_{i}" for i in range(len(cols))]
    proj = df.select(
        *by, *[x[c].cast("long").alias(nm) for c, nm in zip(cols, xnames)]
    )
    by_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in proj.select(*by).schema.fields
    )
    out_schema = (by_schema + ", " if by_schema else "") + (
        f"col_a string, col_b string, n long, {out_col} double"
    )
    fast = hybrid.run(
        f"correlation.{out_col}", proj, driver_collect_max,
        lambda got: _pearson_driver(got, cols, xnames, by), out_schema,
        # a NULL moment input keeps the dataflow's skip-null sums
        non_null=xnames, integer=xnames, max_rows=_DRIVER_MAX_ROWS,
    )
    if fast is not None:
        return fast
    aggs = [F.count(F.lit(1)).cast(_D38).alias("_n")]
    for c in cols:
        aggs.append(F.sum(x[c]).alias(f"_s_{c}"))
        aggs.append(F.sum(x[c] * x[c]).alias(f"_q_{c}"))
    for a, b in combinations(cols, 2):
        aggs.append(F.sum(x[a] * x[b]).alias(f"_p_{a}_{b}"))
    m = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)

    def _corr(a: str, b: str):
        n = F.col("_n")
        num = (n * F.col(f"_p_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}")).cast(
            "double"
        )
        ra = (n * F.col(f"_q_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}")).cast(
            "double"
        )
        rb = (n * F.col(f"_q_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}")).cast(
            "double"
        )
        val = F.round(num / (F.sqrt(ra) * F.sqrt(rb)), 6)
        return F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.when((ra > 0) & (rb > 0), val).alias(out_col),
        )

    pairs = F.array(*[_corr(a, b) for a, b in combinations(cols, 2)])
    return m.select(
        *by, F.col("_n").cast("long").alias("n"), F.explode(pairs).alias("_c")
    ).select(*by, "_c.col_a", "_c.col_b", "n", f"_c.{out_col}")


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    by: list[str] | None = None,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """(col_a, col_b, n, corr) for every unordered column pair, from one
    aggregation pass. ``corr`` is NULL for a zero-variance column (the
    radicand is 0), mirroring SQL semantics of 0/0. With ``by``, one
    matrix per group key from the SAME single pass (the moments simply
    groupBy the keys — per-group cost is a handful of integer adds).

    NULL contract: ``n`` is count(*) over ALL rows while the moment sums
    skip NULLs — so a column with NULLs biases its pairs (the standard
    one-pass trade-off; pairwise-complete would need a pass per pair).
    Callers with NULLs should filter first; the audit family's
    completeness checks exist to catch exactly this upstream. Hybrid
    execution: README "Hybrid execution"."""
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {cols!r}")
    x = {
        c: F.round(F.col(c) * 1_000_000).cast("long").cast(_D38)
        for c in cols
    }
    return _pairwise_pearson(
        df, x, "corr", by=by, driver_collect_max=driver_collect_max
    )


def spearman_matrix(
    df: DataFrame, cols: list[str], driver_collect_max: int = 1_000_000
) -> DataFrame:
    """Pairwise Spearman rank correlation = Pearson over average ranks,
    kept exact by ranking in DOUBLED ranks (a tie group's average rank
    is half-integer; twice it is always the integer 2m + t − 1 for min
    rank m and tie count t, and correlation is scale-invariant so the
    doubling cancels).

    Distributed rank assignment — the part a naive ROW_NUMBER-over-
    everything gets wrong at scale: each column's ranks derive from its
    DISTINCT-VALUE relation (per-value counts → one cumulative window
    over values, not rows) and join back to the fact rows on the value.
    For the low-cardinality columns this is built for (quantities,
    discount/tax grids, bucketed metrics) the rank map broadcasts;
    high-cardinality doubles should be quantized upstream — the same
    contract as ks_two_sample. Rows with a NULL in ANY ranked column
    are dropped first (listwise completeness, so every column ranks the
    identical row set — rank maps built per column would otherwise
    disagree with the pairwise moments).

    After join-back the whole matrix is the same single-pass exact-
    moment aggregation as :func:`corr_matrix` (rank2 values are already
    integers — no micro-scaling; headroom n·(2n)² < 10^38 → exact to
    ~10^12 rows)."""
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {cols!r}")
    base = df.dropna(subset=cols).select(*cols)
    for c in cols:
        per_val = base.groupBy(F.col(c).alias("_v")).agg(
            F.count(F.lit(1)).alias("_t")
        )
        w = W.orderBy("_v").rowsBetween(W.unboundedPreceding, W.currentRow)
        rank_map = per_val.select(
            F.col("_v").alias(c),
            (
                F.lit(2) * (F.sum("_t").over(w) - F.col("_t"))
                + F.col("_t") + F.lit(1)
            ).cast("long").alias(f"_r2_{c}"),
        )
        base = base.join(F.broadcast(rank_map), on=c, how="inner")
    x = {c: F.col(f"_r2_{c}").cast(_D38) for c in cols}
    return _pairwise_pearson(
        base, x, "rho", driver_collect_max=driver_collect_max
    )


def ols2(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Two-regressor least squares y ~ b1·x1 + b2·x2 + c from ONE
    exact-moment aggregation — the normal-equations closed form, the
    multivariate sibling of timeseries.trend_slope and the regression
    face of :func:`corr_matrix`'s moment discipline:

        S11 = n·Σx1² − (Σx1)²     S12 = n·Σx1x2 − Σx1·Σx2   (…S22, Syy)
        S1y = n·Σx1y − Σx1·Σy     S2y = n·Σx2y − Σx2·Σy
        det = S11·S22 − S12²
        b1 = (S22·S1y − S12·S2y)/det    b2 = (S11·S2y − S12·S1y)/det
        c  = (Σy − b1·Σx1 − b2·Σx2)/n   R² = (b1·S1y + b2·S2y)/Syy

    The nine raw moments accumulate as exact micro-unit DECIMAL(38,0)
    integers in one map-side-combinable pass (k passes or a gram-matrix
    shuffle would not survive 100 TB); each centered S is computed
    exactly in 38 digits, cast to double ONCE, and the 2×2 solve is a
    fixed IEEE sequence — identical in any engine, hash-stable at
    round 6. Headroom: n·max|x·y| in micro² < 10^38 (~10^5-unit values
    to ~10^12 rows; pre-scale above). With ``by``, one fit per group
    from the same single pass.

    Degenerate guards: det = 0 (collinear or constant regressors) →
    NULL coefficients; Syy = 0 (constant y) → NULL R².

    NULL contract (the corr_matrix trade-off): ``n`` counts all rows
    while the moment sums skip NULLs, so NULLs in any column bias the
    fit — filter or impute upstream (listwise deletion is one
    ``dropna`` before calling).

    Returns (by..., n, b1, b2, intercept, r2).
    """
    by = list(by or [])
    mx = {
        c: F.round(F.col(c) * 1_000_000).cast("long").cast(_D38)
        for c in (y_col, x1_col, x2_col)
    }
    y, x1, x2 = mx[y_col], mx[x1_col], mx[x2_col]
    agg_df = df.groupBy(*by) if by else df
    m = (agg_df.agg if by else df.agg)(
        F.count(F.lit(1)).cast(_D38).alias("_n"),
        F.sum(x1).alias("_sx1"),
        F.sum(x2).alias("_sx2"),
        F.sum(y).alias("_sy"),
        F.sum(x1 * x1).alias("_sx1x1"),
        F.sum(x2 * x2).alias("_sx2x2"),
        F.sum(x1 * x2).alias("_sx1x2"),
        F.sum(x1 * y).alias("_sx1y"),
        F.sum(x2 * y).alias("_sx2y"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("_n")
    s11 = (n * F.col("_sx1x1") - F.col("_sx1") * F.col("_sx1")).cast("double")
    s22 = (n * F.col("_sx2x2") - F.col("_sx2") * F.col("_sx2")).cast("double")
    s12 = (n * F.col("_sx1x2") - F.col("_sx1") * F.col("_sx2")).cast("double")
    s1y = (n * F.col("_sx1y") - F.col("_sx1") * F.col("_sy")).cast("double")
    s2y = (n * F.col("_sx2y") - F.col("_sx2") * F.col("_sy")).cast("double")
    syy = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    det = s11 * s22 - s12 * s12
    b1 = (s22 * s1y - s12 * s2y) / det
    b2 = (s11 * s2y - s12 * s1y) / det
    icept = (
        F.col("_sy").cast("double")
        - b1 * F.col("_sx1").cast("double")
        - b2 * F.col("_sx2").cast("double")
    ) / n.cast("double") / 1_000_000.0
    r2 = (b1 * s1y + b2 * s2y) / syy
    ok = det != 0.0
    return m.select(
        *by,
        n.cast("long").alias("n"),
        F.when(ok, F.round(b1, 6)).alias("b1"),
        F.when(ok, F.round(b2, 6)).alias("b2"),
        F.when(ok, F.round(icept, 6)).alias("intercept"),
        F.when(ok & (syy > 0.0), F.round(r2, 6)).alias("r2"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact Kendall's tau-b between two QUANTIZED-DOMAIN columns — the
    rank-correlation that handles ties properly (tau-a undercounts when
    either margin is discrete):

        tau_b = (C − D) / sqrt((n0 − n1)(n0 − n2)),
        n0 = n(n−1)/2,  n1 = Σ_x t(t−1)/2,  n2 = Σ_y t(t−1)/2

    Contract: NEVER the O(n²) pair walk over rows. Values quantize to
    round(v·scale) integers and the whole computation runs on the
    (x, y) CELL HISTOGRAM: concordant/discordant counts are a cell×cell
    theta-join (|cells|² work — cells is domain-sized, broadcastable;
    e.g. a 50×11 domain is 302k cell pairs regardless of row count),
    and every count product stays an exact DECIMAL(38,0). The only
    doubles are one cast per factor and the final divide/sqrt, so
    round(·, 6) hashes identically in any engine. NULL rows drop.

    Returns one row (n, concordant, discordant, ties_x_pairs,
    ties_y_pairs, tau_b).
    """
    xq = F.round(F.col(x_col) * scale).cast("long")
    yq = F.round(F.col(y_col) * scale).cast("long")
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(xq.alias("_x"), yq.alias("_y"))
        .groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).cast(_D38).alias("_c"))
    )
    a = cells.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_c").alias("_ca"),
    )
    b = cells.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_c").alias("_cb"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("_xa") < F.col("_xb")) & (F.col("_ya") != F.col("_yb")),
    ).agg(
        F.sum(
            F.when(
                F.col("_ya") < F.col("_yb"), F.col("_ca") * F.col("_cb")
            ).otherwise(F.lit(0).cast(_D38))
        ).alias("_conc"),
        F.sum(
            F.when(
                F.col("_ya") > F.col("_yb"), F.col("_ca") * F.col("_cb")
            ).otherwise(F.lit(0).cast(_D38))
        ).alias("_disc"),
    )
    tx = cells.groupBy("_x").agg(F.sum("_c").alias("_t")).agg(
        F.sum(F.col("_t") * (F.col("_t") - 1)).alias("_tx2"),
        F.sum("_t").alias("_n"),
    )
    ty = cells.groupBy("_y").agg(F.sum("_c").alias("_t")).agg(
        F.sum(F.col("_t") * (F.col("_t") - 1)).alias("_ty2")
    )
    j = pairs.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    # Empty input: every sum above is NULL; coalesce ALL of them to 0 so
    # the degenerate report is (0, 0, 0, 0, 0, NULL), matching the
    # brute-force oracle's count(*) = 0.
    n = F.coalesce(F.col("_n"), F.lit(0).cast(_D38))
    tx2 = F.coalesce(F.col("_tx2"), F.lit(0).cast(_D38))
    ty2 = F.coalesce(F.col("_ty2"), F.lit(0).cast(_D38))
    conc = F.coalesce(F.col("_conc"), F.lit(0).cast(_D38))
    disc = F.coalesce(F.col("_disc"), F.lit(0).cast(_D38))
    n0x2 = n * (n - 1)  # 2·n0 — keep everything doubled to stay integral
    denom = (n0x2 - tx2).cast("double") * ((n0x2 - ty2).cast("double"))
    tau = F.when(
        (n0x2 - tx2 > 0) & (n0x2 - ty2 > 0),
        (F.lit(2) * (conc - disc)).cast("double") / F.sqrt(denom),
    )
    return j.select(
        n.cast("long").alias("n"),
        conc.cast("long").alias("concordant"),
        disc.cast("long").alias("discordant"),
        (tx2 / 2).cast("long").alias("ties_x_pairs"),
        (ty2 / 2).cast("long").alias("ties_y_pairs"),
        F.round(tau, 6).alias("tau_b"),
    )
