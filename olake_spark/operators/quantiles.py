"""Exact distributed order statistics — iterative histogram bisection,
no global sort, no per-group sort buffer.

Spark's own exact ``percentile`` aggregate materializes every group's
values in an executor buffer (OOM at 100 TB groups) and
``approx_percentile`` is, by contract, approximate. The scale-correct
exact path is the classic selection-by-bisection: the k-th order
statistic of a bounded integer domain is found by repeatedly
histogramming the candidate range into B bins and descending into the
bin that contains rank k — log_B(domain) passes, each a map-side
combinable aggregation, never a shuffle of raw rows, never a sort.

Shape per round (all (group, p) searches advance TOGETHER in one job):
  data ⋈ broadcast(states) on group → filter v ∈ [lo, hi] (plus a
  LITERAL global bound derived on the driver, so parquet min/max row
  groups prune) → bin = (v − lo)·B/(hi − lo + 1) → count by
  (group, p, bin) → collect ≤ |states|·B tiny rows → narrow each state.

Values are exact round(v·10^6) BIGINT micro-units, so ranks and ties
are well-defined and the result is bit-equal to the oracle's
row_number-at-rank-k. NULL values are excluded (SQL order-statistic
semantics). Driver state is |groups|·|ps| rows — the operator targets
FEW groups over HUGE data (the window/row_number path covers the
many-tiny-groups regime instead).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark import hybrid

__all__ = [
    "exact_quantiles",
    "trimmed_mean",
    "value_rank_cum",
    "tukey_fences",
    "median_mad",
    "percentile_cont",
    "winsorized_stats",
    "weighted_median",
]

MICROS = 1_000_000

# seed/histogram collects are bounded by the FEW-GROUPS driver-state
# contract; this cap turns a violated contract (a million-group keyset at
# 100 TB) into a loud error instead of a melted driver (the dedup.py
# driver_collect_max pattern)
DRIVER_STATE_MAX_ROWS = 1_000_000


def _collect_bounded(df: DataFrame, what: str, limit: int = DRIVER_STATE_MAX_ROWS):
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise RuntimeError(
            f"{what}: driver seed exceeded {limit} rows — this operator's "
            "contract is FEW groups over huge data (driver state is "
            "groups x probes); aggregate by the window/row_number path for "
            "many-tiny-groups shapes, or raise DRIVER_STATE_MAX_ROWS"
        )
    return rows


def _join_groups(base: DataFrame, per_group: DataFrame, keys: list[str]) -> DataFrame:
    """Broadcast-join one row per group onto ``base``; keyless (one global
    group) it is a cross join against the single row."""
    if not keys:
        return base.crossJoin(F.broadcast(per_group))
    return base.join(F.broadcast(per_group), keys)


def _ddl(key_schema: str, rest: str) -> str:
    """Join a (possibly empty — global, keyless search) key schema with
    the fixed output columns without a leading-comma parse error."""
    return f"{key_schema}, {rest}" if key_schema else rest


def exact_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ps: list[float],
    bins: int = 1024,
    max_rounds: int = 12,
) -> DataFrame:
    """Exact per-group quantiles of ``value_col`` at probabilities ``ps``.

    Returns (keys..., p, q, q_micros): ``q_micros`` is the EXACT
    micro-unit BIGINT order statistic at 1-indexed rank ``ceil(p·n)`` of
    the group's non-null values; ``q`` = round(q_micros/10^6, 4) is the
    human-readable double (lossy past 4 decimals — downstream exact
    arithmetic must use ``q_micros``, mirroring view_finalize's
    late-divide pattern). Group keys must be non-null (filter/bucket
    NULLs upstream).

    Each bisection round aggregates per-bin (count, min, max); the
    narrowed bounds are the ACTUAL min/max inside the chosen bin, not
    its arithmetic boundaries — sparse or clustered domains collapse in
    one round instead of log_B(domain) rounds, and a single-value bin
    closes the search immediately.
    """
    spark: SparkSession = df.sparkSession
    v = F.round(F.col(value_col) * MICROS).cast("long")
    base = df.select(*keys, v.alias("_vm")).filter(F.col("_vm").isNotNull())

    seed = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_vm").alias("_lo"),
        F.max("_vm").alias("_hi"),
    )
    # states: one (group, p) search — tiny by contract (few groups)
    states = []
    for row in _collect_bounded(seed, "exact_quantiles"):
        key_vals = tuple(row[k] for k in keys)
        for p in ps:
            k_rank = max(1, math.ceil(p * row["_n"]))
            states.append([*key_vals, float(p), int(k_rank), row["_lo"], row["_hi"]])

    state_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in seed.select(*keys).schema.fields
    )
    _run_bisection(spark, base, keys, states, state_schema, bins, max_rounds)
    out = [
        [*s[: len(keys)], s[len(keys)], round(s[-2] / MICROS, 4), int(s[-2])]
        for s in states
    ]
    return spark.createDataFrame(
        out, _ddl(state_schema, "p double, q double, q_micros long")
    )


def _run_bisection(
    spark: SparkSession,
    base: DataFrame,
    keys: list[str],
    states: list[list],
    state_schema: str,
    bins: int,
    max_rounds: int,
) -> None:
    """Shared bisection core: narrows every state ``[keys..., p, k, lo,
    hi]`` IN PLACE until lo == hi (the exact rank-k micro value).
    ``base`` must expose the group keys plus a ``_vm`` BIGINT column;
    each round is one filter + histogram aggregation job over it —
    never a sort, never a single-partition exchange. Raises if any
    search is still open after ``max_rounds``.

    Bin schedule: the caller's ``bins`` applies to round 0 (where the
    full domain means most bins are populated and the histogram's
    partial-agg exchange scales with them); later rounds widen to
    ≥65536 bins for free — the populated-bin count is bounded by the
    distinct values inside the already-narrowed span — which closes
    quantized domains (prices, micro-units) a round earlier."""
    for rnd in range(max_rounds):
        rbins = bins if rnd == 0 else max(bins, 65536)
        open_states = [s for s in states if s[-2] < s[-1]]
        if not open_states:
            break
        glo = min(s[-2] for s in open_states)
        ghi = max(s[-1] for s in open_states)
        # overflow guard: the bin expression computes (v − lo)·rbins in
        # BIGINT; clamp rbins so the widest open span cannot push it past
        # 2^62 (costs extra rounds only on astronomically wide domains)
        span_max = max(s[-1] - s[-2] for s in open_states)
        rbins = max(2, min(rbins, (1 << 62) // max(span_max, 1)))
        scoped = base.filter(F.col("_vm").between(F.lit(glo), F.lit(ghi)))
        if len(open_states) <= 64:
            # few-states fast path (the operator's contract regime): inline
            # the search bounds as a literal CASE → array<struct> and
            # explode — pure whole-stage codegen, no per-round broadcast
            # exchange or createDataFrame job
            by_group: dict[tuple, list] = {}
            for s in open_states:
                by_group.setdefault(tuple(s[: len(keys)]), []).append(s)
            branch = None
            for gk, group_states in by_group.items():
                cond = None
                for k, kv in zip(keys, gk):
                    c = F.col(k) == F.lit(kv)
                    cond = c if cond is None else cond & c
                if cond is None:  # keyless (global) search
                    cond = F.lit(True)
                arr = F.array(
                    *[
                        F.struct(
                            F.lit(float(s[len(keys)])).alias("p"),
                            # cast("long"): a bound that happens to fit
                            # int32 becomes an INT literal, and the bin
                            # expression's (hi − lo + 1) then overflows
                            # int32 under ANSI on spans ≥ 2^31 even
                            # though both endpoints fit (fuzz-found)
                            F.lit(int(s[-2])).cast("long").alias("lo"),
                            F.lit(int(s[-1])).cast("long").alias("hi"),
                        )
                        for s in group_states
                    ]
                )
                branch = (
                    F.when(cond, arr) if branch is None else branch.when(cond, arr)
                )
            matched = (
                scoped.withColumn("_st", F.explode(branch))
                .filter(F.col("_vm").between(F.col("_st.lo"), F.col("_st.hi")))
                .select(
                    *keys,
                    F.col("_st.p").alias("p"),
                    "_vm",
                    F.col("_st.lo").alias("_lo"),
                    F.col("_st.hi").alias("_hi"),
                )
            )
        else:
            sdf = spark.createDataFrame(
                open_states,
                _ddl(state_schema, "p double, k long, lo long, hi long"),
            )
            matched = (
                scoped.join(F.broadcast(sdf), keys)
                .filter(F.col("_vm").between(F.col("lo"), F.col("hi")))
                .select(
                    *keys,
                    "p",
                    "_vm",
                    F.col("lo").alias("_lo"),
                    F.col("hi").alias("_hi"),
                )
            )
        binned = (
            matched.select(
                *keys,
                "p",
                "_vm",
                # integer div, NOT /: double division could misplace a
                # boundary value into the neighboring bin, breaking the
                # driver's exact inverse bin-bound arithmetic
                F.expr(f"((_vm - _lo) * {rbins}) div (_hi - _lo + 1)").alias("_bin"),
            )
            .groupBy(*keys, "p", "_bin")
            .agg(
                F.count(F.lit(1)).alias("_c"),
                F.min("_vm").alias("_bmin"),
                F.max("_vm").alias("_bmax"),
            )
        )
        hist: dict[tuple, dict[int, tuple[int, int, int]]] = {}
        for r in binned.collect():
            hist.setdefault(tuple(r[c] for c in keys) + (r["p"],), {})[
                r["_bin"]
            ] = (r["_c"], r["_bmin"], r["_bmax"])
        for s in states:
            sk, k_rank, lo, hi = tuple(s[: len(keys)]) + (s[len(keys)],), s[-3], s[-2], s[-1]
            if lo >= hi:
                continue
            acc = 0
            for b in range(rbins):
                c, bmin, bmax = hist.get(sk, {}).get(b, (0, None, None))
                if acc + c >= k_rank:
                    # narrow to the values ACTUALLY present in the bin —
                    # exact (the rank-k value is one of them) and far
                    # tighter than the arithmetic bin boundaries
                    s[-3] = k_rank - acc
                    s[-2] = bmin
                    s[-1] = bmax
                    break
                acc += c
    bad = [s for s in states if s[-2] < s[-1]]
    if bad:
        raise RuntimeError(
            f"exact_quantiles: {len(bad)} searches unconverged after "
            f"{max_rounds} rounds — raise max_rounds or bins"
        )


def median_mad(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bins: int = 8192,
    max_rounds: int = 12,
    report_k: float | None = None,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """Per-group exact (median, MAD) in one fused search — the robust-
    outlier primitive (median/MAD shrug off the outliers being hunted,
    unlike mean/stddev). Returns (keys..., n, med_micros, mad_micros),
    plus ``n_outliers`` (count of |v − med| > report_k·MAD, the
    comparison on exact integers) when ``report_k`` is given.

    Fusion is the point versus two :func:`exact_quantiles` calls:

    - the narrow (keys, _vm) projection is CACHED once, so every
      bisection round of BOTH searches — and the optional outlier
      report — reads the in-memory columnar cache; the fact table is
      scanned exactly once, at cache build;
    - the seed and the median's first narrowing fuse into ONE job: an
      exact string-digit magnitude histogram (monotone, bound-free)
      yields n/lo/hi AND a first bin descent simultaneously;
    - the MAD search needs NO seed aggregation either — its bounds
      derive from the median seed's per-group (lo, hi, med): deviations
      live in [0, max(hi − med, med − lo)] and its rank is the same
      ceil(n/2);
    - the deviation column |v − med| is computed on the fly from the
      cached base (the per-group median enters as a broadcast map), so
      no second cached materialization exists either.

    Same exactness contract as exact_quantiles: micro-unit BIGINTs,
    rank = ceil(0.5·n), bit-equal to a rank-based oracle. Same
    few-groups driver-state contract; the result materializes
    driver-side (createDataFrame), releasing the cache before return.

    **Hybrid execution** (README "Hybrid execution"): up to
    ``driver_collect_max`` projected rows (0 disables) with non-null keys
    select the identical ranks in numpy instead of ~9 bisection jobs.
    """
    spark: SparkSession = df.sparkSession
    v = F.round(F.col(value_col) * MICROS).cast("long")
    proj = df.select(*keys, v.alias("_vm")).filter(F.col("_vm").isNotNull())
    state_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in proj.select(*keys).schema.fields
    )
    out_schema = _ddl(state_schema, "n long, med_micros long, mad_micros long")
    if report_k is not None:
        out_schema += ", n_outliers long"

    def driver(got):
        # rank-k selection over the same micro-unit longs; the outlier
        # comparison promotes int64 > float64 exactly as Spark's long > double
        import numpy as np

        rows = []
        for kt, g in got.groups(keys):
            vm = g["_vm"].to_numpy(dtype=np.int64)
            n = len(vm)
            if not n:
                continue  # a keyless empty input has no group
            k_rank = max(1, math.ceil(0.5 * n))
            med = int(np.partition(vm, k_rank - 1)[k_rank - 1])
            dev = np.abs(vm - med)
            mad = int(np.partition(dev, k_rank - 1)[k_rank - 1])
            row = [*kt, n, med, mad]
            if report_k is not None:
                row.append(int((dev > report_k * mad).sum()))
            rows.append(row)
        return rows

    # a NULL key never matches the bisection's state joins; the mirror
    # does not model that, so such inputs keep the dataflow's answer
    fast = hybrid.run(
        "quantiles.median_mad", proj, driver_collect_max, driver, out_schema,
        non_null=keys,
    )
    if fast is not None:
        return fast
    base = proj.cache()
    try:
        # fused seed + median round 0: ONE aggregation, binned by the
        # EXACT string-digit magnitude of the value (sign, digit count,
        # top-2 digits — all integer/string ops, no float log). The key
        # partitions the value axis into ordered disjoint intervals
        # without needing bounds, so this single job yields n/lo/hi per
        # group AND a first ~1%-wide narrowing; the range bisection then
        # continues from there (wide bins — the span is already small).
        a = F.abs(F.col("_vm"))
        astr = a.cast("string")
        seed = base.groupBy(
            *keys,
            F.when(F.col("_vm") < 0, F.lit(-1)).otherwise(F.lit(1)).alias("_sg"),
            F.length(astr).alias("_d"),
            F.substring(astr, 1, 2).cast("int").alias("_f2"),
        ).agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("_vm").alias("_bmin"),
            F.max("_vm").alias("_bmax"),
        )
        by_key: dict[tuple, list] = {}
        for r in _collect_bounded(seed, "median_mad"):
            by_key.setdefault(tuple(r[k] for k in keys), []).append(
                (r["_bmin"], r["_bmax"], r["_c"])
            )
        n_by_key: dict[tuple, int] = {}
        lo_by_key: dict[tuple, int] = {}
        hi_by_key: dict[tuple, int] = {}
        med_states = []
        for kv, blist in by_key.items():
            blist.sort()  # value-disjoint intervals: bmin order IS value order
            n = sum(c for _, _, c in blist)
            n_by_key[kv] = n
            lo_by_key[kv] = blist[0][0]
            hi_by_key[kv] = blist[-1][1]
            k_rank = max(1, math.ceil(0.5 * n))
            acc = 0
            for bmin, bmax, c in blist:
                if acc + c >= k_rank:
                    med_states.append([*kv, 0.5, k_rank - acc, bmin, bmax])
                    break
                acc += c
        _run_bisection(
            spark, base, keys, med_states, state_schema,
            max(bins, 65536), max_rounds,
        )
        med_by_key = {tuple(s[: len(keys)]): s[-2] for s in med_states}
        med_df = spark.createDataFrame(
            [[*k, m] for k, m in med_by_key.items()],
            _ddl(state_schema, "_medm long"),
        )
        dev = _join_groups(base, med_df, keys).select(
            *keys, F.abs(F.col("_vm") - F.col("_medm")).alias("_vm")
        )
        mad_states = []
        for kv, med in med_by_key.items():
            k_rank = max(1, math.ceil(0.5 * n_by_key[kv]))
            hi = max(hi_by_key[kv] - med, med - lo_by_key[kv])
            mad_states.append([*kv, 0.5, int(k_rank), 0, hi])
        _run_bisection(
            spark, dev, keys, mad_states, state_schema, bins, max_rounds
        )
        mad_by_key = {tuple(s[: len(keys)]): s[-2] for s in mad_states}
        out_by_key = {
            k: [*k, n_by_key[k], int(med_by_key[k]), int(mad_by_key[k])]
            for k in med_by_key
        }
        schema = _ddl(state_schema, "n long, med_micros long, mad_micros long")
        if report_k is not None:
            mm_df = spark.createDataFrame(
                [[*k, med_by_key[k], mad_by_key[k]] for k in med_by_key],
                _ddl(state_schema, "_medm long, _madm long"),
            )
            rep = (
                _join_groups(base, mm_df, keys)
                .groupBy(*keys)
                .agg(
                    F.sum(
                        F.when(
                            F.abs(F.col("_vm") - F.col("_medm"))
                            > report_k * F.col("_madm"),
                            1,
                        ).otherwise(0)
                    ).alias("_out")
                )
            )
            for r in rep.collect():
                key_vals = tuple(r[k] for k in keys)
                out_by_key[key_vals].append(int(r["_out"]))
            schema += ", n_outliers long"
    finally:
        base.unpersist()
    return spark.createDataFrame(list(out_by_key.values()), schema)


def winsorized_stats(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    bins: int = 1024,
) -> DataFrame:
    """Per-group winsorized mean and population stddev: values below the
    exact p_lo order statistic (rank ceil(p·n)) clamp up to it, values
    above the p_hi one clamp down — the robust-mean recipe that, unlike
    trimming, keeps n stable and unlike a raw mean is immune to fat
    tails (price glitches, refund spikes).

    Both cutoffs come from :func:`exact_quantiles` (histogram-bisection
    order statistics — never a per-group sort), broadcast back onto the
    fact rows, and the clamped micro-unit values fold through ONE
    map-side-combinable aggregation of exact DECIMAL(38,0) sums; the
    mean/sd divide-and-sqrt happens once at the end (round 6). The
    few-groups driver-state contract of exact_quantiles applies.

    Returns (keys..., n, n_clipped_lo, n_clipped_hi, win_mean, win_sd).
    """
    if not 0.0 < p_lo < p_hi < 1.0:
        raise ValueError(f"need 0 < p_lo < p_hi < 1, got {p_lo}, {p_hi}")
    qs = exact_quantiles(df, keys, value_col, [p_lo, p_hi], bins=bins)
    cuts = qs.groupBy(*keys).agg(
        F.max(F.when(F.col("p") == p_lo, F.col("q_micros"))).alias("_qlo"),
        F.max(F.when(F.col("p") == p_hi, F.col("q_micros"))).alias("_qhi"),
    )
    vm = F.round(F.col(value_col) * MICROS).cast("long")
    base = df.select(*keys, vm.alias("_vm")).filter(F.col("_vm").isNotNull())
    j = base.join(F.broadcast(cuts), keys)
    w = F.greatest(
        F.col("_qlo"), F.least(F.col("_qhi"), F.col("_vm"))
    ).cast("decimal(38,0)")
    agg = j.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("_vm") < F.col("_qlo")).cast("long")).alias("n_clipped_lo"),
        F.sum((F.col("_vm") > F.col("_qhi")).cast("long")).alias("n_clipped_hi"),
        F.sum(w).alias("_s"),
        F.sum(w * w).alias("_q"),
    )
    n_d38 = F.col("n").cast("decimal(38,0)")
    mean = F.col("_s").cast("double") / (F.col("n").cast("double") * float(MICROS))
    # population sd in value units: sqrt(n·Σw² − (Σw)²) / (n · 10^6)
    sd = F.sqrt((n_d38 * F.col("_q") - F.col("_s") * F.col("_s")).cast("double")) / (
        F.col("n").cast("double") * float(MICROS)
    )
    return agg.select(
        *keys,
        "n",
        "n_clipped_lo",
        "n_clipped_hi",
        F.round(mean, 6).alias("win_mean"),
        F.round(sd, 6).alias("win_sd"),
    )


def weighted_median(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group weighted median: the smallest value whose cumulative
    weight reaches half the group's total — "the price at which half
    the QUANTITY trades", which an unweighted median misstates whenever
    weight correlates with value.

    Lower-weighted-median semantics pinned exactly: with W = Σw and
    cum(v) = Σ_{x≤v} w, the median is min{v : 2·cum(v) ≥ W} — all
    integer comparisons (weights quantized to micro-units), no ½·W
    float. Plan: one map-side-combinable shuffle onto (keys, value),
    then the cumulative window runs over the per-group DISTINCT-VALUE
    relation (values-sized); the winner is a min_by over that relation.
    Never a per-group sort of raw rows.

    Returns (keys..., w_total_micro, wmedian_micro, wmedian).
    """
    vm = F.round(F.col(value_col) * MICROS).cast("long")
    wm = F.round(F.col(weight_col) * MICROS).cast("long")
    per_val = (
        df.select(*keys, vm.alias("_vm"), wm.alias("_wm"))
        .filter(F.col("_vm").isNotNull() & F.col("_wm").isNotNull())
        .groupBy(*keys, "_vm")
        .agg(F.sum("_wm").cast("decimal(38,0)").alias("_w"))
    )
    wcum = W.partitionBy(*keys).orderBy("_vm").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy(*keys).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = per_val.select(
        *keys,
        "_vm",
        F.sum("_w").over(wcum).alias("_cum"),
        F.sum("_w").over(wall).alias("_wtot"),
    )
    hit = cum.filter(F.lit(2) * F.col("_cum") >= F.col("_wtot"))
    return hit.groupBy(*keys).agg(
        F.first(F.col("_wtot")).cast("long").alias("w_total_micro"),
        F.min("_vm").alias("wmedian_micro"),
        F.round(F.min("_vm") / 1_000_000.0, 4).alias("wmedian"),
    )


def percentile_cont(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ps: list[float],
    bins: int = 1024,
    max_rounds: int = 12,
) -> DataFrame:
    """SQL-standard PERCENTILE_CONT — the INTERPOLATED quantile, the
    semantics BI tools and ANSI SQL mean by "median" (exact_quantiles
    covers the discrete rank-ceil(p·n) reading): with h = (n−1)·p + 1,

        q = v_⌊h⌋ + (h − ⌊h⌋) · (v_⌈h⌉ − v_⌊h⌋)

    over the group's ordered non-null values. Both order statistics
    come from the SAME histogram-bisection machinery (never a per-group
    sort buffer): each (group, p) contributes its ⌊h⌋ and ⌈h⌉ rank
    searches to one shared _run_bisection sweep — all searches advance
    together, one filter+histogram job per round over the whole fleet.

    Exactness: v_⌊h⌋ / v_⌈h⌉ are exact micro BIGINTs; h and the single
    interpolation expression evaluate INSIDE Spark as the identical
    double sequence an oracle writes textually ((n−1)·p + 1 with exact
    int→double n), so round(·, 6) is engine-stable (Python's banker's
    rounding never touches the result — the final round is Spark's).

    Returns (keys..., p, q_cont, lo_micros, hi_micros); same few-groups
    driver-state contract as exact_quantiles.
    """
    spark: SparkSession = df.sparkSession
    # validate up front, not inside the per-seed-row loop — an
    # out-of-range p must fail even when the input has zero groups
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"p must be in [0, 1], got {p}")
    v = F.round(F.col(value_col) * MICROS).cast("long")
    base = df.select(*keys, v.alias("_vm")).filter(F.col("_vm").isNotNull())
    seed = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_vm").alias("_lo"),
        F.max("_vm").alias("_hi"),
    )
    state_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in seed.select(*keys).schema.fields
    )
    # two bisection states per (group, p): the ⌊h⌋ rank tagged p, the
    # ⌈h⌉ rank tagged p+2 (ps live in (0,1), so tags never collide in
    # the histogram's (group, p) state key); a whole-number h needs one
    searches = []  # (key_vals, p, h, k_lo, k_hi)
    states = []
    for row in _collect_bounded(seed, "percentile_cont"):
        key_vals = tuple(row[k] for k in keys)
        n = int(row["_n"])
        for p in ps:
            h = (n - 1) * p + 1
            k_lo = int(math.floor(h))
            k_hi = min(int(math.ceil(h)), n)
            searches.append((key_vals, p, h, k_lo, k_hi))
            states.append([*key_vals, float(p), k_lo, row["_lo"], row["_hi"]])
            if k_hi != k_lo:
                states.append(
                    [*key_vals, float(p) + 2.0, k_hi, row["_lo"], row["_hi"]]
                )
    _run_bisection(spark, base, keys, states, state_schema, bins, max_rounds)
    got = {
        (tuple(s[: len(keys)]), s[len(keys)]): s[-2] for s in states
    }
    rows = []
    for key_vals, p, h, k_lo, k_hi in searches:
        vlo = got[(key_vals, float(p))]
        vhi = vlo if k_hi == k_lo else got[(key_vals, float(p) + 2.0)]
        rows.append([*key_vals, float(p), float(h), int(vlo), int(vhi)])
    out = spark.createDataFrame(
        rows,
        _ddl(
            state_schema,
            "p double, _h double, lo_micros long, hi_micros long",
        ),
    )
    q = (
        F.col("lo_micros")
        + (F.col("_h") - F.floor(F.col("_h")))
        * (F.col("hi_micros") - F.col("lo_micros"))
    ) / 1_000_000.0
    return out.select(
        *keys, "p", F.round(q, 6).alias("q_cont"), "lo_micros", "hi_micros"
    )


def tukey_fences(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bins: int = 1024,
) -> DataFrame:
    """Per-group Tukey boxplot fences and outlier census — the IQR
    outlier rule (the robust sibling of z-score screens; complements
    median_mad's MAD rule):

        IQR = Q3 − Q1,  lo = Q1 − 1.5·IQR,  hi = Q3 + 1.5·IQR

    Q1/Q3 are the exact discrete rank-⌈p·n⌉ micro BIGINTs from the
    shared histogram-bisection sweep (:func:`exact_quantiles` — never a
    per-group sort buffer); 1.5·IQR computes as (3·IQR) div 2 on the
    non-negative integer IQR (identical truncation in Spark ``div`` and
    DuckDB ``//``), so the fences are exact integers and the outlier
    census (count + min/max outlier) is deterministic. One extra
    map-side-combinable pass over the rows joins the broadcast fences.

    Returns (keys..., n, q1_micros, q3_micros, lo_fence_micros,
    hi_fence_micros, n_outliers, min_outlier_micros,
    max_outlier_micros).
    """
    q = exact_quantiles(df, keys, value_col, [0.25, 0.75], bins=bins)
    fences = (
        q.groupBy(*keys)
        .agg(
            F.max(F.when(F.col("p") == 0.25, F.col("q_micros"))).alias("_q1"),
            F.max(F.when(F.col("p") == 0.75, F.col("q_micros"))).alias("_q3"),
        )
        .select(
            *keys,
            "_q1",
            "_q3",
            (F.col("_q1") - F.expr("(3 * (_q3 - _q1)) div 2")).alias("_lo"),
            (F.col("_q3") + F.expr("(3 * (_q3 - _q1)) div 2")).alias("_hi"),
        )
    )
    vm = F.round(F.col(value_col) * MICROS).cast("long")
    base = df.select(*keys, vm.alias("_vm")).filter(F.col("_vm").isNotNull())
    out = F.col("_vm").isNotNull() & (
        (F.col("_vm") < F.col("_lo")) | (F.col("_vm") > F.col("_hi"))
    )
    joined = (
        base.join(F.broadcast(fences), keys)
        if keys
        else base.crossJoin(F.broadcast(fences))
    )
    return joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("_q1").alias("q1_micros"),
        F.first("_q3").alias("q3_micros"),
        F.first("_lo").alias("lo_fence_micros"),
        F.first("_hi").alias("hi_fence_micros"),
        F.sum(F.when(out, 1).otherwise(0)).alias("n_outliers"),
        F.min(F.when(out, F.col("_vm"))).alias("min_outlier_micros"),
        F.max(F.when(out, F.col("_vm"))).alias("max_outlier_micros"),
    )


def value_rank_cum(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    descending: bool = False,
) -> DataFrame:
    """Shared rank-interval core for order-statistic mass operators
    (:func:`trimmed_mean` here, ``audit.top_share``): per-(key, value)
    counts from one shuffle, then a cumulative window over each group's
    DISTINCT-VALUE relation. Every value run's 1-based rank interval is
    [_cum − _c + 1, _cum] in the chosen direction; ``_n`` is the group
    size and ``_tot`` the exact micro value total, so callers compute
    kept mass as exact DECIMAL(38,0) interval overlaps — never a
    per-group row sort. NULL values drop."""
    d38 = "decimal(38,0)"
    vm = F.round(F.col(value_col) * MICROS).cast("long")
    per_v = (
        df.select(*keys, vm.alias("_vm"))
        .filter(F.col("_vm").isNotNull())
        .groupBy(*keys, "_vm")
        .agg(F.count(F.lit(1)).cast(d38).alias("_c"))
    )
    order = F.col("_vm").desc() if descending else F.col("_vm").asc()
    wv = W.partitionBy(*keys).orderBy(order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wk = W.partitionBy(*keys)
    return per_v.select(
        *keys,
        "_vm",
        "_c",
        F.sum("_c").over(wv).alias("_cum"),
        F.sum("_c").over(wk).alias("_n"),
        F.sum(F.col("_vm").cast(d38) * F.col("_c")).over(wk).alias("_tot"),
    )


def trimmed_mean(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Per-group trimmed mean: DROP the k = floor(trim·n) smallest and k
    largest values, average the rest — the robust-location sibling of
    :func:`winsorized_stats` (which clamps instead of dropping; use the
    trimmed mean when outliers are garbage, the winsorized one when they
    are real-but-extreme).

    Unlike the bisection family this is fully IN-PLAN — no driver rank
    search: per-(key, value) counts shuffle once; a cumulative window
    over each group's DISTINCT-VALUE relation (values-sized, the
    ks/mann_whitney contract) assigns every value run its rank interval
    [c_prev+1, c], and the kept mass is the exact integer overlap with
    [k+1, n−k]:

        kept(v) = max(0, min(c, n−k) − max(c_prev+1, k+1) + 1)
        mean    = Σ v·kept(v) / (n − 2k)

    k itself is exact: k = (n · round(trim·10⁶)) div 10⁶ — no float
    boundary can flip it. All sums are DECIMAL(38,0); one cast + one
    divide at the end (round 6). Ties straddling a cut contribute
    exactly the surviving copies. Groups where the trim devours
    everything (n ≤ 2k) report NULL. NULL values drop.

    Returns (keys..., n, k_each_side, trimmed_mean).
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    trim_micro = int(round(trim * 1_000_000))
    d38 = "decimal(38,0)"
    cum = value_rank_cum(df, keys, value_col)
    n = F.col("_n")
    k = F.expr(f"CAST((_n * {trim_micro}) div 1000000 AS DECIMAL(38,0))")
    lo_rank = k + 1  # first kept rank
    hi_rank = n - k  # last kept rank
    prev = F.col("_cum") - F.col("_c")
    kept = F.greatest(
        F.lit(0).cast(d38),
        F.least(F.col("_cum"), hi_rank)
        - F.greatest(prev + 1, lo_rank)
        + 1,
    )
    agg = cum.select(
        *keys,
        n.alias("_n"),
        k.alias("_k"),
        (F.col("_vm").cast(d38) * kept).alias("_vk"),
        kept.alias("_kept"),
    ).groupBy(*keys).agg(
        F.first("_n").alias("_n"),
        F.first("_k").alias("_k"),
        F.sum("_vk").alias("_s"),
        F.sum("_kept").alias("_m"),
    )
    mean = F.try_divide(
        F.col("_s").cast("double"),
        F.col("_m").cast("double") * float(MICROS),
    )
    return agg.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_each_side"),
        F.when(F.col("_m") > 0, F.round(mean, 6)).alias("trimmed_mean"),
    )
