"""Relational data-quality audit — the checks a sync pipeline runs on its
own output before anyone trains or queries on it.

The reference trusts the source database to enforce keys (its PK metadata
drives chunking and upserts — SURVEY §2.2/§2.9); once data lands in an open
lake table nothing enforces them anymore, so the engine provides the audit
as an operator. Each check is a single declarative plan:

- ``audit_keys``          : rows / distinct keys / null keys / duplicate
                            groups for a would-be primary key — one
                            aggregation pass.
- ``audit_referential``   : orphaned foreign keys via LEFT ANTI join — at
                            scale this is one shuffle join on the key (or a
                            broadcast when the parent is a dim table).
- ``audit_summary``       : the above for a whole (child, parent) spec list,
                            unioned into one small report frame.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark import hybrid
from olake_spark.exact import round_half_up6, spark_median_np
from olake_spark.materialize import materialize

__all__ = [
    "audit_keys",
    "chi_square_gof",
    "cohens_kappa",
    "js_divergence",
    "top_share",
    "audit_referential",
    "audit_summary",
    "benford_first_digit",
    "chi_square_independence",
    "cramers_v",
    "mutual_information",
    "hhi_concentration",
    "theil_index",
    "corpus_diff",
    "corpus_diff_summary",
    "gini_concentration",
    "numeric_outlier_stats",
]


def audit_keys(df: DataFrame, key_cols: list[str], name: str = "table") -> DataFrame:
    """One-row PK health report: total rows, distinct / null / duplicated
    keys. Single aggregation (count_distinct is map-side partial)."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    any_null = F.col(key_cols[0]).isNull()
    for c in key_cols[1:]:
        any_null = any_null | F.col(c).isNull()
    # null-keyed rows are excluded from the distinct count (SQL
    # count(DISTINCT ...) semantics — a struct would count null as a value)
    key = F.when(~any_null, F.struct(*[F.col(c) for c in key_cols]))
    n_valid = F.sum((~any_null).cast("long"))
    return df.agg(
        F.lit(name).alias("relation"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(key).alias("n_distinct_keys"),
        F.sum(any_null.cast("long")).alias("n_null_keys"),
        (n_valid - F.count_distinct(key)).alias("n_excess_rows"),
    )


def audit_referential(
    child: DataFrame,
    parent: DataFrame,
    fk_cols: list[str],
    pk_cols: list[str],
) -> DataFrame:
    """Rows of ``child`` whose non-null FK has no match in ``parent``
    (LEFT ANTI join on the key columns). Null FKs are excluded — SQL
    semantics treat them as 'no reference', not a violation."""
    if not fk_cols or not pk_cols:
        raise ValueError("key_cols must be non-empty")
    on = [child[f] == parent[p] for f, p in zip(fk_cols, pk_cols)]
    not_null = child[fk_cols[0]].isNotNull()
    for c in fk_cols[1:]:
        not_null = not_null & child[c].isNotNull()
    return child.filter(not_null).join(parent.select(*pk_cols), on, "left_anti")


def audit_summary(
    specs: list[tuple[str, DataFrame, DataFrame, list[str], list[str]]],
) -> DataFrame:
    """(name, child, parent, fk, pk) specs → one report row per relation:
    child rows, non-null FK rows, orphans. Independent plans unioned; Spark
    runs them as separate stages of one job."""
    reports = []
    for name, child, parent, fk, pk in specs:
        not_null = child[fk[0]].isNotNull()
        for c in fk[1:]:
            not_null = not_null & child[c].isNotNull()
        orphans = audit_referential(child, parent, fk, pk)
        reports.append(
            child.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(not_null.cast("long")).alias("n_fk_set"),
            ).crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-governance
    view a training-data pipeline publishes with every release: per id,
    whether the document was ``added``, ``removed``, ``changed`` (same id,
    different normalized-content fingerprint) or ``unchanged``.

    One full-outer equi-join on the id; content equality compares md5
    fingerprints computed scan-side, so wide text never crosses the
    shuffle — each side contributes (id, 32-byte fingerprint). Output:
    (id, status, old_fingerprint, new_fingerprint).

    Presence is carried as explicit per-side flags, NOT inferred from
    fingerprint nullness — an id present in both versions with NULL text
    (md5 of NULL is NULL) is ``unchanged``/``changed`` by the null-safe
    fingerprint comparison, never mislabeled ``added``.
    """
    from olake_spark.operators.dedup import normalize_text

    def fp(df: DataFrame, out: str, flag: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(normalize_text(F.col(text_col))).alias(out),
            F.lit(True).alias(flag),
        )

    o = fp(old, "old_fingerprint", "_in_old")
    n = fp(new, "new_fingerprint", "_in_new")
    status = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(~F.col("old_fingerprint").eqNullSafe(F.col("new_fingerprint")), "changed")
        .otherwise("unchanged")
    )
    return o.join(n, id_col, "full_outer").select(
        F.col(id_col), status.alias("status"), "old_fingerprint", "new_fingerprint"
    )


def corpus_diff_summary(diff: DataFrame) -> DataFrame:
    """(status, n) rollup of ``corpus_diff`` — the release-note line."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def _outlier_stats_driver(got, k: float) -> list:
    """Driver mirror of the outlier dataflow below: the median follows
    Spark's Percentile interpolation op for op (``spark_median_np``), the
    deviation/cut/flag comparisons are the same IEEE sequence
    ((k·1.4826)·mad, abs(v−med) >), and the output rounds via the HALF_UP
    round-6 mirror. NULL values ride an explicit ``_isnull`` flag (Arrow
    folds NULL and NaN together in pandas); a REAL NaN value falls back to
    the dataflow, whose NaN ordering (greater than everything) numpy does
    not share."""
    import numpy as np

    valid = got.pdf["_isnull"].to_numpy() == 0
    if np.isnan(got.pdf["_v"].to_numpy(dtype=np.float64)[valid]).any():
        raise hybrid.Fallback("NaN value")
    rows = []
    for (key,), g in got.groups(["_g"]):
        x = np.sort(g["_v"].to_numpy(dtype=np.float64)[g["_isnull"].to_numpy() == 0])
        n = len(x)
        if n == 0:
            rows.append([key, 0, len(g), None, None, 0, None])
            continue
        med = spark_median_np(x)
        ad = np.abs(x - med)
        mad = spark_median_np(np.sort(ad))
        n_out = int((ad > k * 1.4826 * mad).sum())
        rows.append([
            key, n, len(g) - n, round_half_up6(med), round_half_up6(mad),
            n_out, round_half_up6(n_out / float(n)),
        ])
    return rows


def numeric_outlier_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """Robust per-group outlier profile for a numeric column: exact median,
    MAD (median absolute deviation), and the count/fraction of rows beyond
    ``k`` scaled MADs — the data-quality check that survives the skewed,
    heavy-tailed distributions where mean/stddev z-scores drown (a handful
    of corrupt values drag the mean toward themselves; the median doesn't
    move).

    Output: (group, n, n_nulls, median, mad, n_outliers, outlier_frac).
    Exact medians (Spark ``median`` = exact interpolated percentile,
    identical to the SQL oracle's), scale factor 1.4826 (the normal-
    consistency constant) applied to the MAD for the familiar ~k-sigma
    reading. A group whose MAD is 0 (over half its values identical) flags
    every value differing from the median at all.

    NULL semantics (this is a data-quality operator — NULLs are a signal,
    not noise to average away): ``n`` counts NON-NULL values only,
    ``n_nulls`` reports the NULLs explicitly, and ``outlier_frac`` is over
    the non-null values — NULL rows neither dilute the denominator nor
    hide an all-NULL group (which surfaces as n=0, n_nulls=k, NULL
    median/mad rather than vanishing or reporting a NULL verdict). A NULL
    *group key* is a real group here: all internal joins run on a
    null-safe string key (NULL → a ``\\x00`` sentinel no real value
    carries), so the NULL group reports its true median/MAD/outlier
    counts instead of the n=0/NULL row a plain equi-join (which never
    matches NULL keys) would silently produce.

    Scale shape: two grouped exact-median aggregates (each a per-group
    sort — unavoidable for exact medians; groups are processed
    independently so skew is bounded by the largest group) + one counting
    aggregate, joined on the (few) group keys. Internal columns are
    ``_``-prefixed so input frames carrying columns named n/median/mad
    cannot collide. Hybrid execution: README "Hybrid execution".
    """
    v = F.col(value_col).cast("double")
    proj = df.select(
        F.col(group_col).alias("_g"),
        v.alias("_v"),
        v.isNull().cast("int").alias("_isnull"),
    )
    gtype = proj.schema["_g"].dataType.simpleString()
    fast = hybrid.run(
        "audit.numeric_outlier_stats", proj, driver_collect_max,
        lambda got: _outlier_stats_driver(got, k),
        f"{group_col} {gtype}, n long, n_nulls long, median double, "
        "mad double, n_outliers long, outlier_frac double",
    )
    if fast is not None:
        return fast
    # null-safe join key: NULL group → sentinel (\x00-prefixed so no real
    # value collides); every internal join runs on this, never the raw key
    gk = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00<null>"))
    nulls = df.groupBy(group_col).agg(
        F.sum(v.isNull().cast("long")).alias("n_nulls")
    ).withColumn("_gk", gk)
    vals = df.filter(v.isNotNull()).select(gk.alias("_gk"), v.alias("_v"))
    med = vals.groupBy("_gk").agg(
        F.count(F.lit(1)).alias("_n"), F.median("_v").alias("_med")
    )
    dev = vals.join(med, "_gk").select(
        "_gk", "_n", "_med", F.abs(F.col("_v") - F.col("_med")).alias("_ad")
    )
    # dev feeds BOTH the MAD aggregate and the outlier count; unmaterialized,
    # each consumer re-runs the value scan AND the exact-median per-group
    # sort (the r11 plan audit counted 14 scans in this query's plan).
    # One lazy checkpoint runs that pipeline once (guide §2.1).
    dev = dev.transform(materialize)
    mad = dev.groupBy("_gk", "_n", "_med").agg(F.median("_ad").alias("_mad"))
    cut = F.lit(float(k)) * F.lit(1.4826) * F.col("_mad")
    flagged = (
        dev.join(mad.select("_gk", "_mad"), "_gk")
        .select("_gk", (F.col("_ad") > cut).cast("long").alias("_o"))
        .groupBy("_gk")
        .agg(F.sum("_o").alias("_n_out"))
    )
    return (
        nulls.join(mad, "_gk", "left")
        .join(flagged, "_gk", "left")
        .select(
            group_col,
            F.coalesce(F.col("_n"), F.lit(0)).alias("n"),
            F.col("n_nulls"),
            F.round("_med", 6).alias("median"),
            F.round("_mad", 6).alias("mad"),
            F.coalesce(F.col("_n_out"), F.lit(0)).alias("n_outliers"),
            F.when(
                F.col("_n") > 0,
                F.round(F.col("_n_out") / F.col("_n").cast("double"), 6),
            ).alias("outlier_frac"),
        )
    )


def benford_first_digit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fabricated-data
    screen for financial columns. Returns one row per leading digit
    1-9: observed count, observed share, Benford's expected share
    log10(1 + 1/d), and the absolute deviation.

    The first SIGNIFICANT digit extracts EXACTLY for any finite nonzero
    numeric: the first [1-9] character of the value's own string
    rendering. Any round-tripping decimal rendering of a value has the
    same leading significant digit (the string parses back to the exact
    value, and the first significant digit is a property of the value),
    so Spark's and the oracle engine's repr differences cannot diverge
    — and no fixed 10^6 scaling misbuckets near-power-of-10 doubles
    (9.9999996 stays digit 9) or drops sub-micro values (1e-7 is digit
    1). NULL / zero / NaN / ±Infinity rows are dropped (their rendering
    has no [1-9]). No float log touches the bucketing (log10 only
    produces the REFERENCE column, a per-digit literal). One
    map-side-combinable aggregation; shares are integer ratios divided
    once."""
    import math

    s = F.regexp_extract(F.col(value_col).cast("string"), "[1-9]", 0)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(s.alias("_d"))
        .filter(F.col("_d") != "")
        .select(F.col("_d").cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = W.partitionBy()
    expected = F.element_at(
        F.array(*[F.lit(round(math.log10(1 + 1 / d), 6)) for d in range(1, 10)]),
        F.col("digit"),
    )
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(total), 6).alias("share"),
        expected.alias("benford_share"),
        F.round(
            F.abs(F.col("n") / F.sum("n").over(total) - expected), 6
        ).alias("abs_dev"),
    )


def gini_concentration(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Gini coefficient of per-key value concentration (revenue
    concentration / long-tail audit). Exact micro-unit arithmetic via
    the sorted-cumulative formula
        G = (2·Σ i·x_i) / (n·Σ x_i) − (n+1)/n
    over x sorted ascending (ties broken by key for a total order). One
    shuffle to aggregate per key, one global-window pass for ranks (the
    per-key relation is keys-sized, not rows-sized), one final division.
    Returns a single row (n_keys, total_micro, gini).

    PRECONDITION: per-key totals must be non-negative — the sorted-
    cumulative formula is meaningless over mixed-sign values (refunds /
    chargebacks must be netted out or filtered by the caller first).
    Violations fail LOUDLY at action time (min(x) is computed inside
    the same final aggregation — zero extra stages), never a silent
    nonsense coefficient."""
    per = df.groupBy(key_col).agg(
        F.sum(F.round(F.col(value_col) * 1_000_000).cast("long")).alias("_xm")
    )
    w = W.orderBy(F.col("_xm").asc(), F.col(key_col).asc())
    ranked = per.select(
        F.col("_xm"), F.row_number().over(w).cast("long").alias("_i")
    )
    # Σ i·x in DECIMAL(38,0): i up to 10^6 keys × micro values up to 10^13
    # overflows BIGINT long before the data is big
    ixm = F.sum(
        (F.col("_i").cast("decimal(38,0)") * F.col("_xm").cast("decimal(38,0)"))
    )
    total = F.sum(F.col("_xm").cast("decimal(38,0)"))
    return (
        ranked.agg(
            F.count(F.lit(1)).alias("n_keys"),
            # BIGINT output (the fixture totals fit comfortably; a true
            # 100 TB caller should read the decimal internals instead) —
            # HUGEINT/decimal render differently across engine->pandas paths
            total.cast("long").alias("total_micro"),
            F.round(
                (2.0 * ixm.cast("double"))
                / (F.count(F.lit(1)).cast("double") * total.cast("double"))
                - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
                6,
            ).alias("gini"),
            F.min("_xm").alias("_min_xm"),
        )
        # loud non-negativity guard, BPE-style: same agg row, fires at
        # action time instead of returning a meaningless coefficient
        .filter(
            F.assert_true(
                F.col("_min_xm") >= 0,
                F.lit(
                    "gini_concentration: negative per-key total — the "
                    "sorted-cumulative Gini formula requires non-negative "
                    "values; net out refunds/chargebacks first"
                ),
            ).isNull()
        )
        .select("n_keys", "total_micro", "gini")
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Pearson chi-square contingency audit for two categorical columns
    (is the row attribute independent of the column attribute?).

    All-integer core: with o = cell count, r/c = row/col totals, g =
    grand total, the cell statistic (o−e)²/e with e = r·c/g rewrites as
    (o·g − r·c)² / (g·r·c); each cell contributes the exact FLOOR-micro
    BIGINT ((o·g − r·c)²·10⁶) div (g·r·c) computed in DECIMAL(38,0) —
    so the chi2 total is a sum of integers (partition-order-free; a
    float cell sum would not be), losing at most 10⁻⁶ per cell to the
    floor, documented. Returns the per-cell table (observed, expected
    rounded for humans, exact cell micro) plus the chi2 total on every
    row — the report is the COMPLETE |rows|·|cols| grid: unobserved
    (row, col) combinations are materialized with o=0 (their cell
    statistic is e itself), because omitting them biases chi2 low on
    any sparse contingency table. The grid is built from the two
    distinct value sets (categorical by contract, so both are tiny and
    the col side broadcasts — a 9-ish-row nested-loop, not a cartesian
    over data)."""
    d38 = "decimal(38,0)"
    observed = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("n"))
    grid = df.select(row_col).distinct().crossJoin(
        F.broadcast(df.select(col_col).distinct())
    )
    cells = grid.join(observed, [row_col, col_col], "left").select(
        row_col, col_col, F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    rt = W.partitionBy(row_col)
    ct = W.partitionBy(col_col)
    gt = W.partitionBy()
    o = F.col("n").cast(d38)
    r = F.sum("n").over(rt).cast(d38)
    c = F.sum("n").over(ct).cast(d38)
    g = F.sum("n").over(gt).cast(d38)
    num = o * g - r * c
    with_e = cells.select(
        row_col,
        col_col,
        "n",
        F.round((r * c).cast("double") / g.cast("double"), 4).alias(
            "expected"
        ),
        (num * num * F.lit(1_000_000).cast(d38)).cast(d38).alias("_num2m"),
        (g * r * c).cast(d38).alias("_den"),
    )
    out = with_e.select(
        row_col,
        col_col,
        "n",
        "expected",
        F.expr("CAST(_num2m div _den AS LONG)").alias("cell_chi2_micro"),
    )
    total = out.agg(F.sum("cell_chi2_micro").alias("chi2_total_micro"))
    return out.crossJoin(F.broadcast(total))


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information (and normalized MI) between two categorical
    columns — the model-agnostic feature-relevance / redundancy screen
    chi-square complements: MI is in nats, comparable across pairs.

        MI  = Σ_cells (c_xy/n) · ln(c_xy·n / (c_x·c_y))
        H_x = −Σ_x (c_x/n) · ln(c_x/n)        (same for H_y)
        NMI = MI / sqrt(H_x · H_y)

    Zero cells contribute exactly 0 (lim p·ln(p) = 0), so unlike the
    chi-square statistic NO spine materialization is needed — observed
    cells suffice. One map-side-combinable shuffle builds the cell
    relation; marginals are windows OVER CELLS (cells-sized, never
    rows-sized); every count product stays an exact DECIMAL(38,0).
    Each cell's double term is one identical IEEE sequence, and the
    SUMS accumulate nano-floored BIGINTs (the chi2 floor-micro
    pattern) — order-free, bias ≤ |cells|·1e-9 and documented, so the
    statistic hashes identically in any engine.

    Returns one row: (n, n_cells, mi, h_x, h_y, nmi), round 6.
    """
    cells = (
        df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .groupBy(F.col(col_x).alias("_x"), F.col(col_y).alias("_y"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wx = W.partitionBy("_x")
    wy = W.partitionBy("_y")
    wall = W.partitionBy()
    d38 = "decimal(38,0)"
    m = cells.select(
        "_x",
        "_y",
        F.col("_c").cast(d38).alias("_c"),
        F.sum("_c").over(wx).cast(d38).alias("_cx"),
        F.sum("_c").over(wy).cast(d38).alias("_cy"),
        F.sum("_c").over(wall).cast(d38).alias("_n"),
        # entropy terms must count each x (resp. y) marginal ONCE — pick
        # the lexicographically-first partner cell as the representative
        # (materialized here: window functions can't live inside the agg)
        (F.row_number().over(wx.orderBy("_y")) == 1).alias("_fx"),
        (F.row_number().over(wy.orderBy("_x")) == 1).alias("_fy"),
    )
    nano = 1_000_000_000
    c, cx, cy, n = F.col("_c"), F.col("_cx"), F.col("_cy"), F.col("_n")
    mi_term = (c.cast("double") / n.cast("double")) * F.log(
        (c * n).cast("double") / (cx * cy).cast("double")
    )
    first_in_x = F.col("_fx")
    first_in_y = F.col("_fy")
    hx_term = F.when(
        first_in_x,
        -(cx.cast("double") / n.cast("double"))
        * F.log(cx.cast("double") / n.cast("double")),
    ).otherwise(F.lit(0.0))
    hy_term = F.when(
        first_in_y,
        -(cy.cast("double") / n.cast("double"))
        * F.log(cy.cast("double") / n.cast("double")),
    ).otherwise(F.lit(0.0))
    agg = m.agg(
        F.first(n).cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.floor(mi_term * nano).cast("long")).alias("_mi_nano"),
        F.sum(F.floor(hx_term * nano).cast("long")).alias("_hx_nano"),
        F.sum(F.floor(hy_term * nano).cast("long")).alias("_hy_nano"),
    )
    mi = F.col("_mi_nano") / float(nano)
    hx = F.col("_hx_nano") / float(nano)
    hy = F.col("_hy_nano") / float(nano)
    return agg.select(
        "n",
        "n_cells",
        F.round(mi, 6).alias("mi"),
        F.round(hx, 6).alias("h_x"),
        F.round(hy, 6).alias("h_y"),
        F.when(
            (F.col("_hx_nano") > 0) & (F.col("_hy_nano") > 0),
            F.round(mi / F.sqrt(hx * hy), 6),
        ).alias("nmi"),
    )


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: with per-key
    totals x_i and group total X,

        HHI = Σ (x_i / X)² = Σ x_i² / X²   ∈ (1/n, 1]

    — the antitrust-grade "is this market/tenant/shard dominated by a
    few keys" number, sharper than top-k share when the tail matters.
    Also emits the normalized form (HHI − 1/n)/(1 − 1/n) ∈ [0, 1]
    (NULL for single-key groups where it is undefined).

    Both numerator and denominator are exact DECIMAL(38,0) sums of
    micro-unit BIGINTs — ONE divide at the end, hash-stable at round 6.
    Two map-side-combinable shuffles ((group, key) then group); nothing
    is sorted. Precondition: non-negative values (shares lose meaning
    below zero — the gini_concentration contract; filter refunds
    upstream).

    Returns (group_col, n_keys, hhi, hhi_normalized).
    """
    vm = F.round(F.col(value_col) * 1_000_000).cast("long")
    per_key = (
        df.select(
            F.col(group_col).alias("_g"), F.col(key_col).alias("_k"),
            vm.alias("_vm"),
        )
        .filter(F.col("_vm").isNotNull())
        .groupBy("_g", "_k")
        .agg(F.sum("_vm").cast("decimal(38,0)").alias("_x"))
    )
    agg = per_key.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("_x") * F.col("_x")).alias("_num"),
        F.sum("_x").alias("_tot"),
    )
    hhi = F.col("_num").cast("double") / (
        F.col("_tot") * F.col("_tot")
    ).cast("double")
    n = F.col("n_keys").cast("double")
    return agg.select(
        F.col("_g").alias(group_col),
        "n_keys",
        F.round(hhi, 6).alias("hhi"),
        F.when(
            F.col("n_keys") > 1,
            F.round((hhi - 1.0 / n) / (1.0 - 1.0 / n), 6),
        ).alias("hhi_normalized"),
    )


def theil_index(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index per group — the entropy-based
    concentration measure that, unlike Gini/HHI, decomposes additively
    across sub-populations:

        T = Σ_i (x_i / X) · ln( (x_i / X) · n )   ∈ [0, ln n]

    (0 = perfect equality, ln n = one key owns everything). Emits the
    normalized T / ln(n) ∈ [0, 1] alongside (NULL for single-key
    groups).

    Per-key shares come from exact DECIMAL(38,0) micro sums; each key's
    double term is one identical IEEE divide·ln sequence, and the sum
    accumulates nano-floored BIGINTs (order-free — the repo's float-sum
    discipline). Keys with zero value contribute exactly 0 (p·ln(p·n)
    → 0) and are skipped by the same rule in the oracle. Two map-side-
    combinable shuffles, nothing sorted. Precondition: non-negative
    values (the gini/HHI contract).

    Returns (group_col, n_keys, theil, theil_normalized).
    """
    vm = F.round(F.col(value_col) * 1_000_000).cast("long")
    per_key = (
        df.select(
            F.col(group_col).alias("_g"), F.col(key_col).alias("_k"),
            vm.alias("_vm"),
        )
        .filter(F.col("_vm").isNotNull())
        .groupBy("_g", "_k")
        .agg(F.sum("_vm").cast("decimal(38,0)").alias("_x"))
    )
    wg = W.partitionBy("_g")
    m = per_key.select(
        "_g",
        F.col("_x"),
        F.sum("_x").over(wg).alias("_tot"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )
    p = F.col("_x").cast("double") / F.col("_tot").cast("double")
    term = p * F.log(p * F.col("_n").cast("double"))
    nano = 1_000_000_000
    agg = m.groupBy("_g").agg(
        F.first("_n").cast("long").alias("n_keys"),
        F.sum(
            F.when(F.col("_x") > 0, F.floor(term * nano).cast("long"))
            .otherwise(F.lit(0))
        ).alias("_t_nano"),
    )
    t = F.col("_t_nano") / float(nano)
    n = F.col("n_keys").cast("double")
    return agg.select(
        F.col("_g").alias(group_col),
        "n_keys",
        F.round(t, 6).alias("theil"),
        F.when(F.col("n_keys") > 1, F.round(t / F.log(n), 6)).alias(
            "theil_normalized"
        ),
    )


def cramers_v(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Cramér's V — the [0, 1]-normalized effect size of the
    :func:`chi_square_independence` statistic (chi2 grows with n and
    table size; V is comparable across tables):

        V = sqrt( (chi2/n) / (min(r, c) − 1) )

    Reuses the chi-square operator's exact floor-micro cell integers
    (so V inherits its order-free accumulation); r/c are the DISTINCT
    level counts of each attribute, computed on the same tiny grid.
    One-row report (n, n_rows_levels, n_cols_levels,
    chi2_total_micro, v) — V NULL on a degenerate 1-level attribute.
    """
    cells = chi_square_independence(df, row_col, col_col)
    agg = cells.agg(
        F.sum("n").alias("_n"),
        F.countDistinct(row_col).alias("_r"),
        F.countDistinct(col_col).alias("_c"),
        F.first("chi2_total_micro").alias("_chi2m"),
    )
    dof = F.least(F.col("_r"), F.col("_c")) - 1
    v = F.sqrt(
        F.try_divide(
            F.col("_chi2m").cast("double") / 1e6 / F.col("_n").cast("double"),
            dof.cast("double"),
        )
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_r").cast("long").alias("n_row_levels"),
        F.col("_c").cast("long").alias("n_col_levels"),
        F.col("_chi2m").cast("long").alias("chi2_total_micro"),
        F.round(F.when(dof > 0, v), 6).alias("v"),
    )


def cohens_kappa(df: DataFrame, rater_a_col: str, rater_b_col: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical "raters" over the same items (label-vs-heuristic audits,
    model-vs-model judge agreement, duplicate annotation QA):

        κ = (p_o − p_e) / (1 − p_e),
        p_o = Σ_i n_ii / n,   p_e = Σ_i (r_i · c_i) / n²

    over the shared label space. Everything before the final divides is
    exact: cell counts shuffle once onto the (a, b) grid (cells-sized);
    the diagonal mass and the Σ r_i·c_i cross product accumulate as
    DECIMAL(38,0) integers (marginals from label-relation groupBys,
    products joined on the label), so
    p_o, p_e and κ are each one cast + one IEEE divide, hash-stable at
    round 6. Rows with a NULL on either side drop (an unlabeled item
    measures nothing). κ is NULL when p_e = 1 (both raters constant —
    agreement is undefined, not perfect).

    Returns one row (n, n_labels_a, n_labels_b, p_observed, p_expected,
    kappa).
    """
    d38 = "decimal(38,0)"
    cells = (
        df.filter(
            F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
        )
        .select(
            F.col(rater_a_col).cast("string").alias("_a"),
            F.col(rater_b_col).cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).cast(d38).alias("_c"))
    )
    # Σ r_i·c_i needs one product per shared label i — labels missing a
    # diagonal cell (never co-assigned) still contribute r_i·c_i, so
    # build the marginals on an explicit label relation (labels-sized,
    # broadcastable) rather than per-cell windows
    la = cells.groupBy(F.col("_a").alias("_l")).agg(
        F.sum("_c").alias("_r")
    )
    lb = cells.groupBy(F.col("_b").alias("_l")).agg(
        F.sum("_c").alias("_s")
    )
    cross = la.join(lb, "_l").agg(
        F.coalesce(F.sum(F.col("_r") * F.col("_s")), F.lit(0).cast(d38))
        .alias("_rc")
    )
    agg = cells.agg(
        F.sum("_c").alias("_n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(
            F.lit(0).cast(d38)
        )).alias("_diag"),
        F.count_distinct("_a").alias("_ka"),
        F.count_distinct("_b").alias("_kb"),
    ).crossJoin(F.broadcast(cross))
    n = F.col("_n")
    po = F.try_divide(F.col("_diag").cast("double"), n.cast("double"))
    pe = F.try_divide(F.col("_rc").cast("double"), (n * n).cast("double"))
    kappa = F.when(
        n * n > F.col("_rc"),  # p_e < 1, exact integer comparison
        (po - pe) / (F.lit(1.0) - pe),
    )
    return agg.select(
        n.cast("long").alias("n"),
        F.col("_ka").cast("long").alias("n_labels_a"),
        F.col("_kb").cast("long").alias("n_labels_b"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(kappa, 6).alias("kappa"),
    )


def chi_square_gof(
    df: DataFrame,
    cat_col: str,
    expected_weights: dict | None = None,
) -> DataFrame:
    """Chi-square goodness-of-fit of a categorical column against an
    EXPECTED distribution — uniform by default, or explicit weights
    (Benford digits, a contract mix, last year's traffic shares). The
    independence test (:func:`chi_square_independence`) asks "are these
    two columns related?"; this asks "does ONE column match the
    distribution it is supposed to have?".

    Exactness (the floor-micro cell discipline): with integer weights
    w_i summing to W, expected_i = n·w_i/W, and each cell's
    χ²-contribution (o_i·W − n·w_i)² / (n·w_i·W) is a ratio of exact
    DECIMAL(38,0) integers floored at micro precision —
    cell_chi2_micro = (num² · 10⁶) div den — so the total is an
    order-free integer sum, identical in any engine. Categories absent
    from the data contribute (n·w_i)²-mass (o = 0); categories absent
    from the weights FAIL loudly via a raise_error guard rather than
    silently skewing the fit.

    Float weights are snapped to micro-integers (round(w·10⁶)) so the
    exact-arithmetic contract holds regardless of how the caller writes
    1/3. Returns (n, k_categories, chi2_total_micro, chi2).
    """
    d38 = "decimal(38,0)"
    observed = (
        df.filter(F.col(cat_col).isNotNull())
        .select(F.col(cat_col).cast("string").alias("_cat"))
        .groupBy("_cat")
        .agg(F.count(F.lit(1)).cast(d38).alias("_o"))
    )
    if expected_weights is None:
        # uniform over the OBSERVED categories
        spine = observed.select("_cat", F.lit(1_000_000).cast(d38).alias("_w"))
    else:
        spark = df.sparkSession
        rows = [
            (str(k), int(round(float(v) * 1_000_000)))
            for k, v in expected_weights.items()
        ]
        spine = spark.createDataFrame(rows, "_cat string, _w long").select(
            "_cat", F.col("_w").cast(d38)
        )
        # any observed category outside the expected support is a
        # contract violation — fail in-plan, loudly. The raise_error
        # must live INSIDE the consumed _o column: a separate guard
        # column that is projected then dropped gets pruned by Catalyst
        # and the violation silently vanishes into the spine left-join
        # (review-confirmed live).
        observed = observed.join(
            F.broadcast(spine.select("_cat", F.lit(1).alias("_ok"))),
            "_cat",
            "left",
        ).select(
            "_cat",
            F.when(
                F.col("_ok").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("chi_square_gof: observed category not in "
                              "expected weights: "),
                        F.col("_cat"),
                    )
                ).cast(d38),
            ).otherwise(F.col("_o")).alias("_o"),
        )
    cells = spine.join(observed, "_cat", "left").select(
        "_cat",
        F.coalesce(F.col("_o"), F.lit(0).cast(d38)).alias("_o"),
        "_w",
    )
    wtot = W.partitionBy()
    m = cells.select(
        "_o",
        "_w",
        F.sum("_o").over(wtot).alias("_n"),
        F.sum("_w").over(wtot).alias("_wt"),
    )
    num = F.col("_o") * F.col("_wt") - F.col("_n") * F.col("_w")
    den = F.col("_n") * F.col("_w") * F.col("_wt")
    cell_micro = F.expr(
        "CAST((_num2 * 1000000) div _den AS DECIMAL(38,0))"
    )
    scored = m.select(
        (num * num).alias("_num2"), den.alias("_den"), "_n"
    ).select(F.col("_n"), cell_micro.alias("_cm"))
    agg = scored.agg(
        F.first("_n").alias("_nn"),
        F.count(F.lit(1)).alias("_k"),
        F.coalesce(F.sum("_cm"), F.lit(0).cast(d38)).alias("_chi2m"),
    )
    return agg.select(
        F.col("_nn").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_categories"),
        F.col("_chi2m").cast("long").alias("chi2_total_micro"),
        F.round(F.col("_chi2m").cast("double") / 1e6, 6).alias("chi2"),
    )


def js_divergence(
    df: DataFrame,
    side_col: str,
    cat_col: str,
    side_a,
    side_b,
) -> DataFrame:
    """Jensen–Shannon divergence between two empirical categorical
    distributions (cohort A vs cohort B of ``cat_col``) — the symmetric,
    bounded drift measure (0 ≤ JSD ≤ ln 2 nats) that behaves where KL
    blows up on unseen categories:

        m_i  = (p_i + q_i)/2
        JSD  = ½ Σ p_i ln(p_i/m_i) + ½ Σ q_i ln(q_i/m_i)

    Cells shuffle once onto the category (cells-sized); each side's
    total is a window over cells; every term's double is nano-floored
    before the integer sum (the chi2/MI/PSI discipline — order-free,
    bias ≤ |cells|·1e-9, identical in any engine). Categories on one
    side only contribute p·ln(2) exactly through the same formula
    (q = 0 ⇒ m = p/2). Returns one row (n_a, n_b, k_categories,
    jsd_nats, jsd_bits).
    """
    d38 = "decimal(38,0)"
    s = F.col(side_col)
    cells = (
        df.filter(s.isin([side_a, side_b]) & F.col(cat_col).isNotNull())
        .select(
            F.when(s == side_a, F.lit("a")).otherwise(F.lit("b")).alias("_s"),
            F.col(cat_col).cast("string").alias("_cat"),
        )
        .groupBy("_cat")
        .agg(
            F.sum(F.when(F.col("_s") == "a", 1).otherwise(0))
            .cast(d38)
            .alias("_ca"),
            F.sum(F.when(F.col("_s") == "b", 1).otherwise(0))
            .cast(d38)
            .alias("_cb"),
        )
    )
    wtot = W.partitionBy()
    m = cells.select(
        "_ca",
        "_cb",
        F.sum("_ca").over(wtot).alias("_na"),
        F.sum("_cb").over(wtot).alias("_nb"),
    )
    p = F.col("_ca").cast("double") / F.col("_na").cast("double")
    q = F.col("_cb").cast("double") / F.col("_nb").cast("double")
    mid = (p + q) / F.lit(2.0)
    nano = 1_000_000_000
    term_p = F.when(
        F.col("_ca") > 0, F.floor(p * F.log(p / mid) * nano).cast("long")
    ).otherwise(F.lit(0))
    term_q = F.when(
        F.col("_cb") > 0, F.floor(q * F.log(q / mid) * nano).cast("long")
    ).otherwise(F.lit(0))
    agg = m.agg(
        F.first("_na").alias("_fa"),
        F.first("_nb").alias("_fb"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(term_p).alias("_tp"),
        F.sum(term_q).alias("_tq"),
    )
    jsd = (
        (F.col("_tp") + F.col("_tq")).cast("double") / F.lit(2.0) / nano
    )
    return agg.select(
        F.col("_fa").cast("long").alias("n_a"),
        F.col("_fb").cast("long").alias("n_b"),
        F.col("_k").cast("long").alias("k_categories"),
        F.round(jsd, 6).alias("jsd_nats"),
        F.round(jsd / float(math.log(2)), 6).alias("jsd_bits"),
    )


def top_share(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: float = 0.01,
) -> DataFrame:
    """Per-group share of total value held by the TOP ⌈p·n⌉ rows — the
    "top 1% of customers drive X% of revenue" concentration read, the
    point-estimate sibling of :func:`gini_concentration` (Gini sums the
    whole Lorenz curve; this reads one operating point a business
    question actually names).

    Shares quantiles.value_rank_cum (trimmed_mean's core) on the
    DESCENDING value order: per-(key, value) counts shuffle once; a
    cumulative window over each group's distinct-value relation assigns
    every value run its rank interval, and the top mass is the exact
    integer overlap with [1, k], k = ⌈p·n⌉ = n − (n·(1−p)·10⁶) div 10⁶
    … computed exactly as k = n − ((n·(10⁶−p_micro)) div 10⁶) so no
    float boundary can flip it. Ties straddling the cut contribute
    exactly the surviving copies. All sums DECIMAL(38,0); two divides
    at the end. Negative values participate by rank like any other
    (callers wanting nonneg-only filter upstream).

    Returns (keys..., n, k_top, total, top_sum, top_share).
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"p must be in (0, 1], got {p}")
    from olake_spark.operators.quantiles import value_rank_cum

    p_micro = int(round(p * 1_000_000))
    d38 = "decimal(38,0)"
    cum = value_rank_cum(df, keys, value_col, descending=True)
    n = F.col("_n")
    # k = ceil(p·n) exactly: n − floor(n·(1−p))
    k = n - F.expr(
        f"CAST((_n * {1_000_000 - p_micro}) div 1000000 AS DECIMAL(38,0))"
    )
    prev = F.col("_cum") - F.col("_c")
    kept = F.greatest(
        F.lit(0).cast(d38),
        F.least(F.col("_cum"), k) - F.greatest(prev + 1, F.lit(1).cast(d38))
        + 1,
    )
    agg = cum.select(
        *keys,
        n.alias("_n"),
        k.alias("_k"),
        F.col("_tot").alias("_tot"),
        (F.col("_vm").cast(d38) * kept).alias("_vk"),
    ).groupBy(*keys).agg(
        F.first("_n").alias("_n"),
        F.first("_k").alias("_k"),
        F.first("_tot").alias("_tot"),
        F.sum("_vk").alias("_top"),
    )
    return agg.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_top"),
        F.round(F.col("_tot").cast("double") / 1e6, 6).alias("total"),
        F.round(F.col("_top").cast("double") / 1e6, 6).alias("top_sum"),
        F.round(
            F.try_divide(
                F.col("_top").cast("double"), F.col("_tot").cast("double")
            ),
            6,
        ).alias("top_share"),
    )
