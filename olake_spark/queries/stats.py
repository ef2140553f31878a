"""Registry entries for the statistics and analytics operators: sessions,
time series, forecasting, anomaly, quantiles, correlation, A/B tests,
audits, features and survival."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark.queries.core import register, table
from olake_spark.queries.fragments import AR_PRICE_MOMENTS_CTE, _NORM, _TOKS


# ---------------------------------------------------------------------------
# Sessionization (beyond parity): gap-based sessions per user
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH lagged AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM lagged
), numbered AS (
  SELECT user_id, ts,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       epoch_ms(min(ts)) AS start_ms,
       epoch_ms(max(ts)) AS end_ms,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM numbered GROUP BY user_id, session_id
"""


@register("events_sessionize", _SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) per user:
    lag → new-session flag → running-sum ordinal, one shuffle on user_id
    (operators/sessions.py; streaming variant uses native session_window)."""
    from olake_spark.operators.sessions import session_stats

    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    return session_stats(ev, "ts", ["user_id"], gap="30 minutes")


# ---------------------------------------------------------------------------
# Ordered funnel (beyond parity): per-user A→B→C within a gap, one shuffle
# ---------------------------------------------------------------------------

_FUNNEL_GAP_US = 7 * 24 * 3600 * 1_000_000  # 7 days

_FUNNEL_ORACLE = f"""
WITH s0 AS (
  SELECT user_id, min(epoch_us(ts)) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s0 ON s0.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s0.t
    AND epoch_us(e.ts) <= s0.t + {_FUNNEL_GAP_US}
  GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t
    AND epoch_us(e.ts) <= s1.t + {_FUNNEL_GAP_US}
  GROUP BY 1
),
n AS (
  SELECT (SELECT count(*) FROM s0) AS n0,
         (SELECT count(*) FROM s1) AS n1,
         (SELECT count(*) FROM s2) AS n2
)
SELECT 1::INT AS step, 'view' AS event_type, n0::BIGINT AS n_users,
       CASE WHEN n0 > 0 THEN round(n0 / n0, 6) END AS conv_from_first,
       1.0 AS conv_from_prev FROM n
UNION ALL
SELECT 2::INT, 'click', n1::BIGINT,
       CASE WHEN n0 > 0 THEN round(n1 / n0, 6) END,
       CASE WHEN n0 > 0 THEN round(n1 / n0, 6) END FROM n
UNION ALL
SELECT 3::INT, 'purchase', n2::BIGINT,
       CASE WHEN n0 > 0 THEN round(n2 / n0, 6) END,
       CASE WHEN n1 > 0 THEN round(n2 / n1, 6) END FROM n
"""


@register("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel view→click→purchase within a 7-day
    per-step gap, first-match semantics (operators/sessions.py
    funnel_users/funnel_report): k chained Window passes over ONE hash
    shuffle on user_id — each step's earliest-qualifying timestamp
    references the previous step's materialized column, so Catalyst plans
    a single exchange, no joins, no per-step re-shuffle. The report pins
    exact per-step user counts and late-rounded conversion rates."""
    from olake_spark.operators.sessions import funnel_report

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return funnel_report(
        ev, "user_id", "event_type", "ts",
        ["view", "click", "purchase"], max_gap="7 days",
    )


_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
  FROM events
),
t AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, sum(n) AS tn FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, t.n,
       round(t.n::DOUBLE / tot.tn::DOUBLE, 6) AS p
FROM t JOIN tot USING (from_type)
"""


@register("events_transition_matrix", _TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: one lead() window pass on the user_id shuffle, then a
    map-side-combinable pair count; the per-source normalizer is a tiny
    |types|-row aggregate joined back (broadcast at any scale). All
    codegen — the path-analysis staple next to funnel/sessionize."""
    w = W.partitionBy("user_id").orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
    seq = (
        table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("tn"))
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("tn").cast("double"), 6).alias("p"),
    )


_WEEK_US = 7 * 86_400 * 1_000_000

_RETENTION_ORACLE = f"""
WITH up AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS p FROM events
),
first AS (SELECT user_id, min(p) AS cohort FROM up GROUP BY 1),
grid AS (
  SELECT f.cohort AS cohort_period, up.p - f.cohort AS periods_since,
         count(*)::BIGINT AS n_users
  FROM up JOIN first f ON up.user_id = f.user_id
  GROUP BY 1, 2
),
base AS (
  SELECT cohort_period, n_users AS cohort_size FROM grid WHERE periods_since = 0
)
SELECT g.cohort_period, g.periods_since, g.n_users,
       round(g.n_users / base.cohort_size::DOUBLE, 6) AS retention
FROM grid g JOIN base ON g.cohort_period = base.cohort_period
"""


@register("events_retention_cohort", _RETENTION_ORACLE)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention grid (operators/timeseries.retention_cohorts):
    users bucketed by first-seen week, distinct-active counts per
    (cohort, weeks_since) with late-rounded retention rates. One hash
    shuffle on user_id feeds both the first-seen min and the per-(user,
    week) distinct; the final grid groupBy is map-side-combinable and the
    cohort-size self-join broadcasts — raw events never shuffle twice."""
    from olake_spark.operators.timeseries import retention_cohorts

    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    return retention_cohorts(ev, "user_id", "ts", period_us=_WEEK_US)


# ---------------------------------------------------------------------------
# Time-series gap fill (beyond parity): fixed-step resample + LOCF
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH b AS (
  SELECT user_id, (epoch_us(ts) // 3600000000) AS bucket,
         count(*) AS n_events,
         sum(round(value * 1000000)::BIGINT) AS vmic
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM span),
j AS (
  SELECT g.user_id, g.bucket, b.n_events, b.vmic
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
)
SELECT user_id, bucket * 3600000 AS bucket_start_ms,
       coalesce(n_events, 0) AS n_events,
       round(last_value(vmic IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS UNBOUNDED PRECEDING) / 1000000, 4) AS sum_value,
       (n_events IS NULL) AS filled
FROM j
"""


@register("events_gapfill_locf", _GAPFILL_ORACLE)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-step resample + LOCF gap fill per user (operators/
    timeseries.py gapfill_locf): bucketize → ONE window stage computing
    lead(_bucket) (each observed bucket owns its gap) and
    last(_v_micros, ignorenulls=True) (the LOCF value — all-NULL
    buckets inherit, matching the oracle's last_value IGNORE NULLS) →
    sequence/explode materializes gap rows already carrying the value.
    No join at all; bucketize's hash exchange is reused by the window,
    so a 100 TB event table fills gaps with raw events shuffled once."""
    from olake_spark.operators.timeseries import gapfill_locf

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return gapfill_locf(ev, "ts", ["user_id"], "value", step="1 hour")


# ---------------------------------------------------------------------------
# Anomaly detection (beyond parity): rolling z-score + CUSUM change points
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value,
         round(value * 100)::BIGINT AS v
  FROM events
),
w AS (
  SELECT user_id, ts_us, value, v,
    count(*) OVER win AS n,
    sum(v::HUGEINT) OVER win AS s,
    sum((v::HUGEINT) * (v::HUGEINT)) OVER win AS q
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, value
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, ts_us, value,
  n AS n_window,
  CASE WHEN (n * q - s * s) > 0 THEN
    round((n * v - s)::DOUBLE / sqrt((n * q - s * s)::DOUBLE), 4)
  END AS zscore,
  (n >= 8 AND (n * q - s * s) > 0
   AND (n * v - s) * (n * v - s) > 9 * (n * q - s * s)) AS is_anomaly
FROM w
"""


@register("events_rolling_zscore", _ZSCORE_ORACLE)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score outlier flags per user (operators/
    anomaly.py rolling_zscore): the flag test (n·x − s)² > k²·(n·q − s²)
    runs on exact DECIMAL(38,0) scaled integers, so the anomaly boolean
    is partition-order-free and the DuckDB oracle reproduces it
    bit-for-bit — no float ever decides a flag. One hash shuffle on
    user_id, one ordered window pass, all codegen."""
    from olake_spark.operators.anomaly import rolling_zscore

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "value"
    )
    return rolling_zscore(
        ev, "ts_us", ["user_id"], "value", window=20, k=3, min_n=8, scale=100
    )


_CUSUM_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value,
         round(value * 100)::BIGINT - 6000 - 500 AS d
  FROM events
),
c AS (
  SELECT user_id, ts_us, value, sum(d) OVER win AS cum
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, value
                 ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, ts_us, value,
  (cum - least(0, min(cum) OVER win)) / 100.0 AS cusum,
  (cum - least(0, min(cum) OVER win)) > 20000 AS alarm
FROM c
WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, value
               ROWS UNBOUNDED PRECEDING)
"""


@register("events_cusum", _CUSUM_ORACLE)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift alarms per user (operators/anomaly.py
    cusum_changepoints): the max(0, S+d) recurrence is rewritten to its
    closed form S_i = C_i − min(0, min_{j≤i} C_j) over BIGINT prefix
    sums — two cumulative window aggregates instead of a sequential
    Python fold, exact integers end to end. Oracle recomputes the same
    closed form."""
    from olake_spark.operators.anomaly import cusum_changepoints

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "value"
    )
    return cusum_changepoints(
        ev, "ts_us", ["user_id"], "value",
        target=60.0, slack=5.0, threshold=200.0, scale=100,
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot / rollup / JSON extraction: core analytics surface
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(
         f"round(sum(CASE WHEN event_type = '{t}' THEN value END), 4) AS {t}"
         for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
"""


@register("events_pivot_by_type", _PIVOT_ORACLE)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot (native DataFrame.pivot with an EXPLICIT value list —
    at 100 TB never let pivot run its implicit distinct-scan job): one
    hash aggregation producing per-user columns per event type. Absent
    cells stay NULL, matching the conditional-sum oracle."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.round(F.sum("value"), 4))
    )


_UNPIVOT_ORACLE = """
WITH u AS (
  SELECT 'l_quantity' AS metric, l_quantity::DOUBLE AS value FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount::DOUBLE FROM lineitem
  UNION ALL
  SELECT 'l_tax', l_tax::DOUBLE FROM lineitem
)
SELECT metric, count(value) AS n, round(sum(value), 2) AS sum_value
FROM u GROUP BY metric
"""


@register("lineitem_unpivot_metrics", _UNPIVOT_ORACLE)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (DataFrame.unpivot / SQL stack): four measure columns
    melt into (metric, value) rows in one scan — no self-union of the
    fact table — then a tiny 4-group aggregate."""
    li = table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return melted.groupBy("metric").agg(
        F.count("value").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_ROLLUP_ORACLE = """
SELECT grouping(l_returnflag, l_linestatus)::INT AS gid,
       l_returnflag, l_linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register("lineitem_rollup", _ROLLUP_ORACLE)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (native rollup — one pass, Spark expands the
    grouping sets inside the aggregate, no re-scan per level) with the
    bitmask grouping_id disambiguating real NULL keys from subtotal
    rows."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    ).select("gid", "l_returnflag", "l_linestatus", "n", "sum_qty")


_JSON_ORACLE = """
SELECT event_type,
       count(k) AS n,
       sum(k)::BIGINT AS sum_k,
       min(k)::BIGINT AS min_k,
       max(k)::BIGINT AS max_k
FROM (
  SELECT event_type,
         json_extract_string(props, '$.k')::BIGINT AS k
  FROM events
) GROUP BY event_type
"""


@register("events_json_extract", _JSON_ORACLE)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (get_json_object — JVM-side JsonPath,
    no Python): pull a typed field out of a JSON properties column and
    aggregate. The 100 TB form of 'my events have a JSON blob': extract
    stays in the scan stage, codegen end-to-end."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# Column profiling (stats-based planning, SURVEY §4 + dataset QA)
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
WITH stats AS (
  SELECT 'l_quantity' AS col, count(l_quantity) AS n,
         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         min(l_quantity)::DOUBLE AS min_v, max(l_quantity)::DOUBLE AS max_v,
         round(avg(l_quantity) * 10000, 0)::BIGINT AS mean_v,
         round(quantile_cont(l_quantity, 0.5) * 10000, 0)::BIGINT AS median_v
  FROM lineitem
  UNION ALL
  SELECT 'l_discount', count(l_discount),
         sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT,
         min(l_discount)::DOUBLE, max(l_discount)::DOUBLE,
         round(avg(l_discount) * 10000, 0)::BIGINT,
         round(quantile_cont(l_discount, 0.5) * 10000, 0)::BIGINT
  FROM lineitem
)
SELECT * FROM stats
"""


@register("profile_numeric_stats", _PROFILE_ORACLE)
def profile_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass numeric profiling (operators/profile.py): count / nulls /
    min / max / mean / exact median per column — the engine-side version of
    the reference's catalog-stats planning inputs, doubling as dataset QA."""
    from olake_spark.operators.profile import profile_numeric

    li = table(spark, sf_dir, "lineitem")
    return profile_numeric(li, ["l_quantity", "l_discount"], scale_to_int=True)


_TOPV_ORACLE = """
WITH counted AS (
  SELECT event_type AS value, count(*) AS n FROM events GROUP BY 1
)
SELECT value, n,
       row_number() OVER (ORDER BY n DESC, value ASC) AS rnk
FROM counted
QUALIFY rnk <= 3
"""


@register("profile_top_values", _TOPV_ORACLE)
def profile_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k frequent values (hot-key detector feeding operators/skew)."""
    from olake_spark.operators.profile import top_values

    ev = table(spark, sf_dir, "events")
    return top_values(ev, "event_type", k=3)


# ---------------------------------------------------------------------------
# Interval sweep-line: concurrent-session curve via two-level prefix sum
# ---------------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
WITH lagged AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS is_new
  FROM lagged
), numbered AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id, epoch_ms(min(ts)) AS start_ms,
         epoch_ms(max(ts)) AS end_ms
  FROM numbered GROUP BY 1, 2
), d AS (
  SELECT start_ms AS ts_ms, 1 AS dd FROM sess
  UNION ALL
  SELECT end_ms + 1, -1 FROM sess
), net AS (
  SELECT ts_ms, sum(dd) AS net FROM d GROUP BY 1
)
SELECT ts_ms,
       (sum(net) OVER (ORDER BY ts_ms ROWS UNBOUNDED PRECEDING))::BIGINT
         AS concurrency
FROM net
"""


@register("events_concurrency", _CONCURRENCY_ORACLE)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-sessions curve (operators/timeseries.
    sweepline_concurrency): sessionized intervals become +1/-1 boundary
    deltas and the running net is the number of simultaneously open
    sessions after each boundary. The naive form is a single-partition
    global window; this is the two-level prefix-sum decomposition —
    per-hour-bucket totals (tiny), an exclusive running sum over ONLY
    the bucket frame, and a fully parallel within-bucket window — so no
    task ever scans more than one bucket of boundaries."""
    from olake_spark.operators.sessions import session_stats
    from olake_spark.operators.timeseries import sweepline_concurrency

    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    sess = session_stats(ev, "ts", ["user_id"], gap="30 minutes")
    out = sweepline_concurrency(
        sess, "start_ms", "end_ms", bucket_us=3_600_000
    )
    return out.select(F.col("ts_us").alias("ts_ms"), "concurrency")


# ---------------------------------------------------------------------------
# Market-basket pair co-occurrence with lift (Apriori 2-itemset stage)
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
),
tot AS (SELECT count(DISTINCT b)::DOUBLE AS n FROM bi),
sup AS (SELECT i, count(*) AS ni FROM bi GROUP BY 1),
p AS (
  SELECT a.i AS item_a, b2.i AS item_b, count(*)::BIGINT AS n_baskets
  FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.item_a, p.item_b, p.n_baskets,
       round(p.n_baskets * tot.n / (sa.ni * sb.ni), 6) AS lift
FROM p
JOIN sup sa ON sa.i = p.item_a
JOIN sup sb ON sb.i = p.item_b
CROSS JOIN tot
"""


@register("basket_pair_lift", _BASKET_ORACLE)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts co-ordered in the same order, with lift vs independence
    (operators/basket.pair_counts_with_lift): the within-basket self-join
    is co-partitioned on the order key (no second shuffle) and fan-out is
    bounded by C(order size, 2) — TPC-H orders carry ≤ 7 lines, so the
    pair stage is a small constant factor over the scan, never
    catalog-quadratic. Support counts broadcast back; the basket total is
    a lazy 1-row broadcast."""
    from olake_spark.operators.basket import pair_counts_with_lift

    li = table(spark, sf_dir, "lineitem")
    return pair_counts_with_lift(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=2
    )


# ---------------------------------------------------------------------------
# Exact per-key EWMA via ordered higher-order-function fold
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH s AS (
  SELECT user_id,
         list(value::DOUBLE ORDER BY epoch_us(ts), event_id) AS vs,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
)
SELECT user_id, n,
       round(list_reduce(vs, (a, b) -> a * 0.75 + b * 0.25), 6) AS ewma
FROM s
"""


@register("events_ewma", _EWMA_ORACLE)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exact EWMA (operators/timeseries.ewma_last): the
    recursion ewma_t = 0.75·ewma_{t-1} + 0.25·v_t is inherently
    sequential per key, so each key's ordered values fold through the
    ``aggregate`` higher-order function — whole-stage codegen, no
    Python, one hash shuffle, per-key cost linear in the key's own rows.
    α = 1/4 is an exact binary fraction, so the fold runs the identical
    IEEE-754 sequence in any engine and the oracle's ``list_reduce``
    reproduces it bit-for-bit."""
    from olake_spark.operators.timeseries import ewma_last

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return ewma_last(
        ev, "ts", ["user_id"], "value", alpha=0.25, order_cols=["event_id"]
    )


# ---------------------------------------------------------------------------
# Top-k per group — Spark 4 WindowGroupLimit (map-side partial top-k)
# ---------------------------------------------------------------------------

_TOPK_GROUP_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) t
WHERE rk <= 3
"""


@register("orders_topk_per_customer", _TOPK_GROUP_ORACLE)
def orders_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (deterministic orderkey
    tie-break) — the arg-max staple. Spark 4 rewrites the rank-filter
    window into WindowGroupLimit and pushes a PARTIAL group limit to the
    map side (tests/test_plans.py pins it), so each scan task forwards at
    most k rows per key into the shuffle — at 100 TB the exchange carries
    ~k·|customers| rows, not the order table."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD on exact micro-units (no mean/stddev
# contamination by the outliers themselves)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g,
         round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem
), med AS (
  SELECT g, vm AS medm FROM (
    SELECT g, vm,
           row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM v) t
  WHERE rn = greatest(1, ceil(0.5 * n))
), d AS (
  SELECT v.g, v.vm, med.medm, abs(v.vm - med.medm) AS am
  FROM v JOIN med USING (g)
), mad AS (
  SELECT g, am AS madm FROM (
    SELECT g, am,
           row_number() OVER (PARTITION BY g ORDER BY am) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM d) t
  WHERE rn = greatest(1, ceil(0.5 * n))
)
SELECT d.g AS l_returnflag,
       round(any_value(d.medm) / 1000000.0, 4) AS med,
       round(any_value(mad.madm) / 1000000.0, 4) AS mad,
       count(*)::BIGINT AS n,
       sum(CASE WHEN d.am > 3 * mad.madm THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM d JOIN mad USING (g)
GROUP BY d.g
"""


@register("lineitem_mad_outliers", _MAD_ORACLE)
def lineitem_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / MAD robust outlier report per return flag: unlike the
    mean±3σ audit (audit_numeric_outliers), the median and MAD are not
    dragged by the outliers being hunted. Both order statistics come
    from ONE fused operators/quantiles.median_mad search — the narrow
    (flag, price) projection caches once and every bisection round of
    both searches reads that in-memory cache; the MAD search seeds its
    bounds from the median seed (deviations ∈ [0, max(hi−med, med−lo)])
    so no second seed aggregation or cached deviation frame exists, and
    the 3·MAD outlier count runs against the live cache too (report_k=3)
    — the fact table is scanned exactly once. The deviation flag
    compares exact integers, so the oracle's rank-based median
    reproduces every count bit-for-bit."""
    from olake_spark.operators.quantiles import median_mad

    li = table(spark, sf_dir, "lineitem")
    mm = median_mad(
        li, ["l_returnflag"], "l_extendedprice", bins=512, report_k=3
    )
    return mm.select(
        "l_returnflag",
        F.round(F.col("med_micros") / 1_000_000.0, 4).alias("med"),
        F.round(F.col("mad_micros") / 1_000_000.0, 4).alias("mad"),
        "n",
        "n_outliers",
    )


# ---------------------------------------------------------------------------
# GROUPING SETS — multi-granularity aggregate in one pass (beyond rollup)
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT AS n,
       sum(round(l_quantity * 100)::BIGINT)::BIGINT AS qty_cents,
       grouping(l_returnflag)::INT * 2 + grouping(l_linestatus)::INT AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("lineitem_grouping_sets", _GROUPING_SETS_ORACLE)
def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS at three granularities in ONE logical pass: Spark
    plans an Expand (each row replicated once per set) feeding a single
    map-side-combinable hash aggregate — one shuffle for all
    granularities, versus three scans for three GROUP BYs.
    ``grouping_id`` disambiguates a real NULL key from a rolled-up one
    (the reason warehouse cubes can't just COALESCE). Quantities sum as
    exact integer cents."""
    li = table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(qc).alias("qty_cents"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


# ---------------------------------------------------------------------------
# RANGE-frame trailing window — time-based moving aggregate
# ---------------------------------------------------------------------------

_RANGE_WINDOW_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         round(value * 1000000)::BIGINT AS vm
  FROM events
)
SELECT user_id, event_id, ts_us,
       (sum(vm) OVER (
          PARTITION BY user_id ORDER BY ts_us
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))::BIGINT
         AS trailing_1h_micros,
       (count(*) OVER (
          PARTITION BY user_id ORDER BY ts_us
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))::BIGINT
         AS trailing_1h_n
FROM e
"""


@register("events_range_window_sum", _RANGE_WINDOW_ORACLE)
def events_range_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving sum/count per user with a RANGE frame —
    the frame boundary is the TIME AXIS (everything within 3600s), not a
    row count, which is what "requests in the last hour" actually means
    when events arrive unevenly. One hash shuffle on the key, per-key
    frames advance with a sliding two-pointer inside the sort — no
    self-join, no explode. Values sum as exact micro-unit BIGINTs, so
    the moving sum is partition-order-free."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.sum(vm).over(w).alias("trailing_1h_micros"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


# ---------------------------------------------------------------------------
# Exact mode per group (deterministic tie-break)
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH c AS (
  SELECT l_returnflag, round(l_quantity * 100)::BIGINT AS q_cents,
         count(*)::BIGINT AS n
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY l_returnflag ORDER BY n DESC, q_cents ASC) AS rk
  FROM c
)
SELECT l_returnflag, q_cents AS mode_q_cents, n AS mode_n FROM r WHERE rk = 1
"""


@register("lineitem_mode_per_flag", _MODE_ORACLE)
def lineitem_mode_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent value, smallest-value tie-break) per
    group: two map-side-combinable aggregations sharing one hash family
    — count per (group, value), then max_by over a (count, -value)
    struct. No window, no sort buffer; ties break deterministically so
    the oracle reproduces the exact row. Spark's own ``mode()`` is
    tie-nondeterministic, which is why warehouses hand-roll exactly
    this shape."""
    li = table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    c = li.groupBy("l_returnflag", qc.alias("q_cents")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # max_by over (n, -value): highest count wins, smallest value on ties
    pick = F.max_by(
        F.struct(F.col("q_cents"), F.col("n")),
        F.struct(F.col("n"), (-F.col("q_cents")).alias("_nv")),
    )
    return c.groupBy("l_returnflag").agg(pick.alias("_m")).select(
        "l_returnflag",
        F.col("_m.q_cents").alias("mode_q_cents"),
        F.col("_m.n").alias("mode_n"),
    )


# ---------------------------------------------------------------------------
# Sequence pattern match (MATCH_RECOGNIZE-lite) over per-user event strings
# ---------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(left(event_type, 1), '' ORDER BY epoch_us(ts), event_id)
           AS s
  FROM events GROUP BY 1
)
SELECT user_id, length(s)::BIGINT AS n_events,
       (s LIKE '%vc%') AS has_view_click,
       regexp_matches(s, 'v[^e]*p') AS purchase_after_view_no_error
FROM seq
"""


@register("events_pattern_match", _PATTERN_ORACLE)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching, the MATCH_RECOGNIZE-lite form:
    each user's ordered event-type initials collapse to ONE string (sort
    inside ``array_sort`` on a (ts, id, initial) struct — no window), and
    the patterns become regexes over it: adjacent view→click, and
    view…purchase with no error between. One hash shuffle; regex cost is
    per-user-string, bounded by the user's own event count — the
    sessionless way to ask ordered-sequence questions at 100 TB."""
    ev = table(spark, sf_dir, "events")
    item = F.struct(
        F.unix_micros(F.col("ts")).alias("_t"),
        F.col("event_id").alias("_i"),
        F.substring("event_type", 1, 1).alias("_c"),
    )
    seq = table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(item)), lambda s: s["_c"]
            ),
            "",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.col("s").contains("vc").alias("has_view_click"),
        (F.regexp_count(F.col("s"), F.lit("v[^e]*p")) > 0).alias(
            "purchase_after_view_no_error"
        ),
    )


# ---------------------------------------------------------------------------
# Period-over-period report (week totals + lag + % change)
# ---------------------------------------------------------------------------

_WOW_ORACLE = """
WITH w AS (
  SELECT epoch_us(ts) // 604800000000 AS week,
         count(*)::BIGINT AS n,
         sum(round(value * 1000000)::BIGINT)::BIGINT AS v_micros
  FROM events GROUP BY 1
)
SELECT week, n, v_micros,
       lag(n) OVER (ORDER BY week) AS prev_n,
       CASE WHEN lag(n) OVER (ORDER BY week) > 0
            THEN round((n - lag(n) OVER (ORDER BY week))
                       / lag(n) OVER (ORDER BY week)::DOUBLE, 6)
       END AS n_wow
FROM w
"""


@register("events_week_over_week", _WOW_ORACLE)
def events_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week dashboard staple: weekly totals (map-side
    combinable, exact micro-unit sums), then lag + late-rounded percent
    change over the tiny |weeks|-row frame — the single-partition window
    runs over dozens of rows, never raw events."""
    ev = table(spark, sf_dir, "events")
    # integer div, not double /: a double quotient can land an ulp under
    # an exact week boundary and truncate into the wrong bucket
    week = F.expr("unix_micros(ts) div 604800000000")
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    w = ev.groupBy(week.alias("week")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(vm).alias("v_micros")
    )
    win = W.orderBy("week")
    prev = F.lag("n").over(win)
    return w.select(
        "week",
        "n",
        "v_micros",
        prev.alias("prev_n"),
        F.when(
            prev > 0,
            F.round((F.col("n") - prev) / prev.cast("double"), 6),
        ).alias("n_wow"),
    )


# ---------------------------------------------------------------------------
# Column-level encryption round trip (AES-GCM, JVM-side)
# ---------------------------------------------------------------------------

_ENCRYPT_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_custkey % 7 = 0
"""


@register("pii_column_encrypt_roundtrip", _ENCRYPT_ORACLE)
def pii_column_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption at rest: sensitive columns encrypt with
    AES-GCM (`aes_encrypt`, JVM codegen — the engine never sees plaintext
    off-heap) under a per-dataset key, and authorized readers invert it
    with `aes_decrypt`. GCM nonces make ciphertext non-deterministic, so
    the GATE pins the round trip: decrypt(encrypt(x)) must equal the
    oracle's plaintext bit-for-bit — a wrong key/mode/padding fails the
    hash, not just a unit test. Complements functions/secrets.py (config
    secrets) with data-plane crypto."""
    key = F.lit("0123456789abcdef0123456789abcdef")  # 32-byte demo key
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    enc = cust.select(
        "c_custkey",
        F.aes_encrypt(F.col("c_name").cast("binary"), key).alias("_name_ct"),
        F.aes_encrypt(
            F.col("c_acctbal").cast("string").cast("binary"), key
        ).alias("_bal_ct"),
    )
    return enc.select(
        "c_custkey",
        F.aes_decrypt(F.col("_name_ct"), key).cast("string").alias("c_name"),
        F.aes_decrypt(F.col("_bal_ct"), key)
        .cast("string")
        .cast("double")
        .alias("c_acctbal"),
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution (operators/attribution.py): first/last/linear
# conversion credit in one window pass
# ---------------------------------------------------------------------------

_ATTR_CHANNELS = ["click", "error", "signup", "view"]
_ATTR_CH_SQL = "('click', 'error', 'signup', 'view')"
_ATTR_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
),
w AS (
  SELECT user_id, event_type,
    first_value(CASE WHEN event_type IN {_ATTR_CH_SQL} THEN event_type END
                IGNORE NULLS) OVER win AS f,
    last_value(CASE WHEN event_type IN {_ATTR_CH_SQL} THEN event_type END
               IGNORE NULLS) OVER win AS l,
    sum(CASE WHEN event_type IN {_ATTR_CH_SQL} THEN 1 ELSE 0 END)
      OVER win AS nt,
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER win AS n0,
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER win AS n1,
    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER win AS n2,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER win AS n3
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
conv AS (SELECT * FROM w WHERE event_type = 'purchase' AND nt > 0),
lin AS (
  SELECT s.channel AS channel, sum(s.lin)::BIGINT AS linear_micro FROM (
    SELECT unnest([
      struct_pack(channel := 'click',  lin := (n0 * 1000000) // nt),
      struct_pack(channel := 'error',  lin := (n1 * 1000000) // nt),
      struct_pack(channel := 'signup', lin := (n2 * 1000000) // nt),
      struct_pack(channel := 'view',   lin := (n3 * 1000000) // nt)
    ]) AS s FROM conv
  ) GROUP BY 1
),
ft AS (SELECT f AS channel, count(*) AS first_touch FROM conv GROUP BY 1),
lt AS (SELECT l AS channel, count(*) AS last_touch FROM conv GROUP BY 1)
SELECT lin.channel,
       coalesce(ft.first_touch, 0)::BIGINT AS first_touch,
       coalesce(lt.last_touch, 0)::BIGINT AS last_touch,
       lin.linear_micro
FROM lin LEFT JOIN ft USING (channel) LEFT JOIN lt USING (channel)
"""


@register("events_attribution", _ATTR_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear multi-touch attribution (operators/
    attribution.py) for 'purchase' conversions over the four touch
    channels: ONE hash shuffle on the user, cumulative windows find each
    conversion's prior-touch first/last/per-channel counts (no self-join,
    no fan-out beyond the fixed |channels| credit explode), and linear
    credit accumulates exact floor-micro BIGINTs — a float ratio sum
    would be partition-order-dependent."""
    from olake_spark.operators.attribution import multi_touch_attribution

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "event_type",
    )
    return multi_touch_attribution(
        ev, "user_id", "ts_us", "event_type",
        channels=_ATTR_CHANNELS, conversion="purchase",
        tiebreak_col="event_id",
    )


# ---------------------------------------------------------------------------
# Distribution analytics: ntile deciles, tumbling-window top-k, DAU/MAU
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment, o.o_totalprice AS price, o.o_orderkey
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
t AS (
  SELECT segment, price,
         ntile(10) OVER (PARTITION BY segment
                         ORDER BY price, o_orderkey) AS decile
  FROM j
)
SELECT segment, decile,
       count(*)::BIGINT AS n_orders,
       min(price) AS min_price,
       max(price) AS max_price
FROM t GROUP BY 1, 2
"""


@register("orders_price_deciles", _DECILE_ORACLE)
def orders_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment price decile table (ntile over a TOTAL order — price
    then orderkey — so bucket boundaries are deterministic): count +
    min/max per decile. One shuffle for the customer join (customer
    broadcasts), one window pass per segment; the report is
    |segments|·10 rows."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
    )
    w = W.partitionBy("segment").orderBy("price", "o_orderkey")
    return (
        j.withColumn("decile", F.ntile(10).over(w))
        .groupBy("segment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
    )


_DAILY_TOPK_ORACLE = """
WITH d AS (
  SELECT (epoch_us(ts) // 86400000000) AS day, user_id FROM events
),
cnt AS (SELECT day, user_id, count(*) AS n_events FROM d GROUP BY 1, 2),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY day
            ORDER BY n_events DESC, user_id) AS rk
  FROM cnt
)
SELECT day * 86400000 AS day_start_ms, user_id, n_events, rk::INT AS rk
FROM rk WHERE rk <= 3
"""


@register("events_daily_topk_users", _DAILY_TOPK_ORACLE)
def events_daily_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most active users per tumbling day: map-side-combinable
    (day, user) count, then a per-day rank that compiles to Spark 4's
    map-side WindowGroupLimit — the shuffle after the count carries at
    most k rows per day per map task, not the whole per-user table."""
    ev = table(spark, sf_dir, "events").select(
        F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).alias(
            "day"
        ),
        "user_id",
    )
    cnt = ev.groupBy("day", "user_id").agg(F.count(F.lit(1)).alias("n_events"))
    w = W.partitionBy("day").orderBy(F.col("n_events").desc(), "user_id")
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            (F.col("day") * 86_400_000).alias("day_start_ms"),
            "user_id",
            "n_events",
            "rk",
        )
    )


_STICKINESS_ORACLE = """
WITH d AS (
  SELECT (epoch_us(ts) // 86400000000) AS day,
         (year(ts) * 100 + month(ts)) AS ym,
         user_id
  FROM events
),
dau AS (SELECT day, any_value(ym) AS ym,
               count(DISTINCT user_id) AS dau FROM d GROUP BY 1),
mau AS (SELECT ym, count(DISTINCT user_id) AS mau FROM d GROUP BY 1)
SELECT dau.day * 86400000 AS day_start_ms,
       dau.dau, mau.mau,
       round(dau.dau / mau.mau, 6) AS stickiness
FROM dau JOIN mau USING (ym)
"""


@register("events_dau_mau_stickiness", _STICKINESS_ORACLE)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: two distinct-count aggregations that
    SHARE the (day, ym, user) pre-distinct shuffle, then a broadcast join
    of the |months|-row MAU side; the ratio divides exact integers once
    (same IEEE double in any engine)."""
    ev = table(spark, sf_dir, "events").select(
        F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).alias(
            "day"
        ),
        (F.year("ts") * 100 + F.month("ts")).alias("ym"),
        "user_id",
    )
    per_day = ev.select("day", "ym", "user_id").distinct()
    dau = per_day.groupBy("day").agg(
        F.first("ym").alias("ym"), F.count(F.lit(1)).alias("dau")
    )
    mau = (
        ev.select("ym", "user_id")
        .distinct()
        .groupBy("ym")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    return dau.join(F.broadcast(mau), "ym").select(
        (F.col("day") * 86_400_000).alias("day_start_ms"),
        "dau",
        "mau",
        F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Data-quality audits: Benford first-digit, Gini concentration, chi-square
# independence, seasonal-baseline outliers (operators/audit.py, anomaly.py)
# ---------------------------------------------------------------------------

# round(log10(1 + 1/d), 6) literals, shared verbatim by both engines
_BENFORD = [0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
            0.066947, 0.057992, 0.051153, 0.045757]

_BENFORD_ORACLE = f"""
WITH v AS (
  SELECT regexp_extract(o_totalprice::VARCHAR, '[1-9]') AS d FROM orders
  WHERE o_totalprice IS NOT NULL
),
c AS (
  SELECT d::INT AS digit, count(*) AS n
  FROM v WHERE d <> '' GROUP BY 1
),
t AS (SELECT sum(n) AS tot FROM c)
SELECT digit, n,
       round(n / tot, 6) AS share,
       list_value({", ".join(str(x) for x in _BENFORD)})[digit]
         AS benford_share,
       round(abs(n / tot -
         list_value({", ".join(str(x) for x in _BENFORD)})[digit]), 6)
         AS abs_dev
FROM c, t
"""


@register("orders_benford_audit", _BENFORD_ORACLE)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order prices (operators/
    audit.benford_first_digit) — the classic fabricated-data audit. The
    first SIGNIFICANT digit extracts exactly as the first [1-9] of the
    value's own string rendering — engine-independent because any
    round-tripping rendering shares its leading significant digit (no
    float log buckets anything; log10 only produces the per-digit
    REFERENCE literal, shared verbatim with the oracle). One map-side
    aggregation; 9-row report."""
    from olake_spark.operators.audit import benford_first_digit

    return benford_first_digit(
        table(spark, sf_dir, "orders"), "o_totalprice"
    )


_GINI_ORACLE = """
WITH per AS (
  SELECT o_custkey, sum(round(o_totalprice * 1000000)::BIGINT) AS xm
  FROM orders GROUP BY 1
),
r AS (
  SELECT xm, row_number() OVER (ORDER BY xm, o_custkey) AS i FROM per
)
SELECT count(*)::BIGINT AS n_keys,
       sum(xm::HUGEINT)::BIGINT AS total_micro,
       round((2.0 * sum(i::HUGEINT * xm::HUGEINT)::DOUBLE)
             / (count(*)::DOUBLE * sum(xm)::DOUBLE)
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM r
"""


@register("orders_revenue_gini", _GINI_ORACLE)
def orders_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue concentration
    (operators/audit.gini_concentration) — the long-tail audit behind
    every 'top-N% of customers drive X%' claim. Sorted-cumulative
    formula on exact micro-unit integers (Σ i·x in DECIMAL(38,0) — the
    BIGINT product overflows long before the data is big), ONE division
    at the end. The global rank window runs over the keys-sized
    aggregate, never raw orders."""
    from olake_spark.operators.audit import gini_concentration

    return gini_concentration(
        table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


_CHI2_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
obs AS (SELECT segment, priority, count(*) AS n FROM j GROUP BY 1, 2),
cells AS (
  -- COMPLETE grid: unobserved (segment, priority) combos appear with n=0
  -- (their cell statistic is e itself); omitting them biases chi2 low on
  -- sparse tables (the Spark side materializes the same grid)
  SELECT g.segment, g.priority, coalesce(o.n, 0) AS n
  FROM (SELECT s.segment, p.priority
        FROM (SELECT DISTINCT segment FROM j) s
        CROSS JOIN (SELECT DISTINCT priority FROM j) p) g
  LEFT JOIN obs o ON o.segment = g.segment AND o.priority = g.priority
),
w AS (
  SELECT segment, priority, n,
         sum(n) OVER (PARTITION BY segment) AS r,
         sum(n) OVER (PARTITION BY priority) AS c,
         sum(n) OVER () AS g
  FROM cells
),
cell AS (
  SELECT segment, priority, n,
         round((r * c)::DOUBLE / g, 4) AS expected,
         (((n::HUGEINT * g - r::HUGEINT * c)
           * (n::HUGEINT * g - r::HUGEINT * c) * 1000000)
          // (g::HUGEINT * r * c))::BIGINT AS cell_chi2_micro
  FROM w
),
tot AS (SELECT sum(cell_chi2_micro)::BIGINT AS chi2_total_micro FROM cell)
SELECT segment, priority, n, expected, cell_chi2_micro, chi2_total_micro
FROM cell, tot
"""


@register("orders_chi2_independence", _CHI2_ORACLE)
def orders_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square contingency audit: is order priority
    independent of customer segment? (operators/
    audit.chi_square_independence). The cell statistic (o−e)²/e
    rewrites as (o·g − r·c)²/(g·r·c), accumulated as exact FLOOR-micro
    DECIMAL(38,0) integers — a float cell sum would be partition-order-
    dependent. Report is the COMPLETE |segments|·|priorities| grid:
    unobserved combos carry o=0 (statistic = e) so sparse tables are
    not biased low; both engines build the same grid."""
    from olake_spark.operators.audit import chi_square_independence

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    )
    return chi_square_independence(j, "segment", "priority")


_SEASONAL_ORACLE = """
WITH e AS (
  SELECT epoch_us(ts) AS ts_us, value,
         (epoch_us(ts) % 86400000000) // 3600000000 AS hod,
         round(value * 100)::BIGINT AS v
  FROM events
),
p AS (
  SELECT hod, count(*) AS n, sum(v::HUGEINT) AS s,
         sum((v::HUGEINT) * (v::HUGEINT)) AS q
  FROM e GROUP BY 1
)
SELECT e.ts_us, e.value, e.hod::INT AS hod,
       round(s::DOUBLE / n / 100, 4) AS slot_mean,
       (n >= 12 AND (n * q - s * s) > 0
        AND (n * e.v - s) * (n * e.v - s) > 9 * (n * q - s * s))
         AS is_anomaly
FROM e JOIN p USING (hod)
"""


@register("events_seasonal_baseline", _SEASONAL_ORACLE)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal-baseline outliers (operators/
    anomaly.seasonal_baseline_outliers): a 3am spike is judged against
    3am traffic, not the daily mean. The 24-row slot profile aggregates
    map-side and BROADCASTS back — raw events never shuffle (the
    trailing-window z-score must); the flag is the exact-integer
    (n·x − s)² > k²·(n·q − s²) identity on DECIMAL(38,0)."""
    from olake_spark.operators.anomaly import seasonal_baseline_outliers

    ev = table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts")).alias("ts_us"), "value"
    )
    return seasonal_baseline_outliers(ev, "ts_us", [], "value", k=3, min_n=12)


# ---------------------------------------------------------------------------
# Data contracts + A/B distribution test + profile histogram
# ---------------------------------------------------------------------------

_EXPECT_ORACLE = """
WITH t AS (
  SELECT count(*) AS n,
    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS p_qty,
    sum(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS p_ship,
    sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS p_rf,
    sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS p_disc,
    sum(CASE WHEN regexp_matches(l_linestatus, '^[OF]$')
        THEN 1 ELSE 0 END) AS p_instr
  FROM lineitem
)
SELECT e.expectation, t.n AS n_rows, e.p::BIGINT AS n_pass,
       (t.n - e.p)::BIGINT AS n_fail, round(e.p / t.n, 6) AS pass_rate
FROM t, (
  SELECT unnest([
    struct_pack(expectation := 'l_quantity_between',    p := (SELECT p_qty  FROM t)),
    struct_pack(expectation := 'l_shipdate_not_null',   p := (SELECT p_ship FROM t)),
    struct_pack(expectation := 'l_returnflag_in_set',   p := (SELECT p_rf   FROM t)),
    struct_pack(expectation := 'l_discount_between',    p := (SELECT p_disc FROM t)),
    struct_pack(expectation := 'l_linestatus_matches', p := (SELECT p_instr FROM t))
  ]) AS e
)
"""


@register("lineitem_expectations", _EXPECT_ORACLE)
def lineitem_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract suite (operators/expectations.py): five
    expectations over lineitem evaluate in ONE aggregation scan — each
    predicate is a conditional count with map-side partial aggregation,
    so a 100-expectation suite over 100 TB costs one pass, not 100
    queries. NULL predicate results count as FAILURES (three-valued
    logic would silently pass NULL rows through a between check)."""
    from olake_spark.operators import expectations as ex

    li = table(spark, sf_dir, "lineitem")
    suite = [
        ("l_quantity_between", F.col("l_quantity").between(1, 50)),
        ex.expect_not_null("l_shipdate"),
        ("l_returnflag_in_set", F.col("l_returnflag").isin(["A", "N", "R"])),
        ("l_discount_between", F.col("l_discount").between(0.0, 0.1)),
        ex.expect_matches("l_linestatus", "^[OF]$"),
    ]
    # rename helper outputs to match the oracle's stable names
    suite[1] = ("l_shipdate_not_null", suite[1][1])
    return ex.expectations_report(li, suite)


_KS_ORACLE = """
WITH pv AS (
  SELECT round(value * 1000000)::BIGINT AS v,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
  FROM events WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT sum(a) OVER w AS ca, sum(b) OVER w AS cb,
         sum(a) OVER () AS na, sum(b) OVER () AS nb
  FROM pv
  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
)
SELECT any_value(na)::BIGINT AS n_a, any_value(nb)::BIGINT AS n_b,
       max(abs(ca::HUGEINT * nb - cb::HUGEINT * na))::BIGINT AS d_num,
       (any_value(na)::HUGEINT * any_value(nb))::BIGINT AS d_den,
       round(max(abs(ca::HUGEINT * nb - cb::HUGEINT * na))::DOUBLE
             / (any_value(na)::DOUBLE * any_value(nb)::DOUBLE), 6) AS ks
FROM cum
"""


@register("events_ks_test", _KS_ORACLE)
def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the value
    distributions of purchase vs view events (operators/abtest.py): the
    ECDF difference maximizes over exact DECIMAL(38,0) cross-products
    |c_a·n_b − c_b·n_a| — no float ECDF subtraction whose rounding could
    flip the argmax — divided once at the end. Per-value counts shuffle
    map-side-combined; the cumulative window runs over the
    DISTINCT-VALUE relation (values-sized, not rows-sized)."""
    from olake_spark.operators.abtest import ks_two_sample

    return ks_two_sample(
        table(spark, sf_dir, "events"), "event_type", "value",
        "purchase", "view",
    )


_HIST_ORACLE = """
WITH x AS (
  SELECT l_extendedprice AS v FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
)
SELECT least(19, greatest(0,
         floor((v - 900.0) / 104100.0 * 20)))::INT AS bin,
       count(*)::BIGINT AS n
FROM x GROUP BY 1
"""


@register("lineitem_price_histogram", _HIST_ORACLE)
def lineitem_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range equi-width price histogram (operators/
    profile.histogram): one groupBy over a closed-form bin expression —
    no sort, no sketch, bit-reproducible (approx_percentile-style
    profile sketches differ per engine). Out-of-range rows clamp into
    the edge bins; 20-row output at any scale."""
    from olake_spark.operators.profile import histogram

    return histogram(
        table(spark, sf_dir, "lineitem"), "l_extendedprice",
        lo=900.0, hi=105_000.0, nbins=20,
    )


_SHARE_ROLLUP_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(round(o.o_totalprice * 1000000)::BIGINT) AS revm
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       round(revm / 1000000.0, 2) AS revenue,
       round(revm / sum(revm) OVER (PARTITION BY region), 6)
         AS share_of_region,
       round(revm / sum(revm) OVER (), 6) AS share_of_total
FROM rev
"""


@register("revenue_share_rollup", _SHARE_ROLLUP_ORACLE)
def revenue_share_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchical rollup: nation revenue with its
    share of region and of total. Exact micro-unit BIGINT sums through
    the one raw-row shuffle (customer/nation/region all broadcast); the
    two share windows run over the |nations|-row aggregate. Ratios
    divide exact integers once."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 1_000_000).cast("long")
            ).alias("revm")
        )
    )
    wr = W.partitionBy("region")
    wt = W.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.round(F.col("revm") / 1_000_000.0, 2).alias("revenue"),
        F.round(F.col("revm") / F.sum("revm").over(wr), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("revm") / F.sum("revm").over(wt), 6).alias(
            "share_of_total"
        ),
    )


_TREND_ORACLE = """
WITH e AS (
  SELECT user_id,
         (epoch_us(ts) // 3600000000)::HUGEINT AS x,
         (round(value * 100)::BIGINT)::HUGEINT AS y
  FROM events
),
m AS (
  SELECT user_id, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM e GROUP BY 1
)
SELECT user_id, n::BIGINT AS n,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0 THEN
         round((n * sxy - sx * sy)::DOUBLE
               / (n * sxx - sx * sx)::DOUBLE / 100, 6)
       END AS slope
FROM m
"""


@register("events_trend_slope", _TREND_ORACLE)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend slope (operators/
    timeseries.trend_slope) — "is this metric drifting, how fast" — in
    ONE map-side-combinable aggregation: the five moments (n, Σx, Σy,
    Σxy, Σx²) are exact DECIMAL(38,0) integers and the slope divides
    once at the end. Absolute-time x is safe: the slope is
    translation-invariant, the decimals absorb the magnitude."""
    from olake_spark.operators.timeseries import trend_slope

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "value"
    )
    return trend_slope(ev, "ts_us", ["user_id"], "value")


# ---------------------------------------------------------------------------
# Survival analysis: exact-integer Kaplan-Meier over user lifetimes
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH subj AS (
  SELECT user_id,
         (epoch_us(max(ts)) // 3600000000)
           - (epoch_us(min(ts)) // 3600000000) AS dur,
         epoch_us(max(ts)) AS last_us
  FROM events GROUP BY 1
),
cut AS (SELECT max(epoch_us(ts)) - 86400000000 AS cut_us FROM events),
per AS (
  SELECT dur,
         sum(CASE WHEN last_us < (SELECT cut_us FROM cut)
                  THEN 1 ELSE 0 END)::BIGINT AS d,
         count(*)::BIGINT AS c
  FROM subj GROUP BY 1
),
w1 AS (
  SELECT dur, d,
         (sum(c) OVER ()
          - coalesce(sum(c) OVER (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         )::BIGINT AS n_at_risk
  FROM per
),
w2 AS (
  SELECT dur, d, n_at_risk,
         list(struct_pack(s := 0::BIGINT, n := n_at_risk, dd := d))
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS pre
  FROM w1
)
SELECT dur AS duration, n_at_risk, d AS n_events,
       list_reduce(
         list_prepend(
           struct_pack(s := 1000000::BIGINT, n := 1::BIGINT, dd := 0::BIGINT),
           pre),
         (acc, x) -> struct_pack(s := (acc.s * (x.n - x.dd)) // x.n,
                                 n := x.n, dd := x.dd)
       ).s AS survival_micro
FROM w2
"""


@register("events_survival_km", _KM_ORACLE)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curve over user lifetimes (operators/
    survival.kaplan_meier): subjects are users, duration is hours
    between first and last event, the churn event is observed when the
    last event predates the corpus horizon minus 24h (later = censored).
    The product-limit estimator is iterated exact-integer floor
    division folded over the ordered period relation — the EWMA
    recipe — so survival_micro is bit-identical to the oracle's
    ``list_reduce``. Subjects aggregate in one shuffle; every window
    runs on the tiny period grid. The corpus horizon enters as a 1-row
    broadcast, never an eager action."""
    from olake_spark.operators.survival import kaplan_meier

    HOUR = 3_600_000_000
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("_us")
    )
    subj = ev.groupBy("user_id").agg(
        F.min("_us").alias("_first_us"), F.max("_us").alias("_last_us")
    )
    cut = ev.groupBy().agg(
        (F.max("_us") - F.lit(24 * HOUR)).alias("_cut_us")
    )
    subjects = subj.crossJoin(F.broadcast(cut)).select(
        (
            F.expr(f"_last_us div {HOUR}") - F.expr(f"_first_us div {HOUR}")
        ).alias("dur"),
        (F.col("_last_us") < F.col("_cut_us")).alias("observed"),
    )
    return kaplan_meier(subjects, "dur", "observed")


# ---------------------------------------------------------------------------
# Leakage-safe leave-one-out target encoding (ML feature engineering)
# ---------------------------------------------------------------------------

_TE_LOO_ORACLE = """
WITH f AS (
  SELECT o_orderkey, o_orderpriority AS category,
         round(o_totalprice * 1000000)::BIGINT AS own
  FROM orders
),
cat AS (
  SELECT category, sum(own)::BIGINT AS csum, count(own)::BIGINT AS ccnt
  FROM f GROUP BY 1
),
tot AS (SELECT sum(own)::BIGINT AS gsum, count(own)::BIGINT AS gcnt FROM f)
SELECT o_orderkey, category,
       CASE WHEN ccnt > 1 THEN (csum - own) // (ccnt - 1)
            WHEN gcnt > 1 THEN (gsum - own) // (gcnt - 1)
       END AS te_micro
FROM f JOIN cat USING (category), tot
"""


@register("orders_target_encoding_loo", _TE_LOO_ORACLE)
def orders_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value (operators/features.target_encode_loo) — the leakage-safe
    categorical encoding (each row's feature excludes its own label;
    singleton categories fall back to the global LOO mean). Exact
    BIGINT micro floor division. Plan: the category stats broadcast
    onto the facts and the global stats are a 1-row broadcast — the
    fact table NEVER shuffles and never meets a window, the shape that
    survives any fact size."""
    from olake_spark.operators.features import target_encode_loo

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return target_encode_loo(o, "o_orderpriority", "o_totalprice").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("category"),
        "te_micro",
    )


# ---------------------------------------------------------------------------
# Per-key lag/rolling feature matrix (time-series training rows)
# ---------------------------------------------------------------------------

_LAG_FEATURES_ORACLE = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       round(value * 1000000)::BIGINT AS v_micro,
       lag(round(value * 1000000)::BIGINT, 1) OVER w AS lag1_micro,
       lag(round(value * 1000000)::BIGINT, 2) OVER w AS lag2_micro,
       sum(round(value * 1000000)::BIGINT) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS roll3_sum_micro,
       count(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)::BIGINT AS roll3_n,
       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS dt_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


@register("events_lag_features", _LAG_FEATURES_ORACLE)
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/rolling feature matrix (operators/
    features.lag_features) — the classic training-row builder: previous
    two values, rolling sum/count of the preceding three, gap to the
    previous event, all exact BIGINT micro-units with NULL where
    history is short. Every feature is a window over the SAME
    (user, time, event_id) spec: one exchange, one sort, all columns.
    """
    from olake_spark.operators.features import lag_features

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    return lag_features(
        ev, ["user_id"], "ts", "value", order_cols=["event_id"]
    )


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing — exact per-key struct fold
# ---------------------------------------------------------------------------

# state is a 2-element LIST [level, trend], NOT a struct: DuckDB 1.0.0's
# list_reduce evaluates struct_pack fields sequentially and mutates the
# accumulator in place (field 2 would read field 1's NEW value); a list
# accumulator folds correctly. The flat update form is the operator's
# pinned contract (see operators/forecast.py).
_HOLT_ORACLE = """
WITH s AS (
  SELECT user_id,
         list([value::DOUBLE, 0.0::DOUBLE]
              ORDER BY epoch_us(ts), event_id) AS vs,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
),
f AS (
  SELECT user_id, n,
         list_reduce(vs, (acc, x) ->
           [(0.25::DOUBLE * x[1] + 0.75::DOUBLE * acc[1])
              + 0.75::DOUBLE * acc[2],
            0.0625::DOUBLE * (x[1] - acc[1]) + 0.9375::DOUBLE * acc[2]]
         ) AS st
  FROM s
)
SELECT user_id, n, round(st[1], 6) AS level, round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast_1
FROM f
"""


@register("events_holt_forecast", _HOLT_ORACLE)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear smoothing + 1-step forecast (operators/
    forecast.holt_linear): the level/trend double-recursion folds each
    key's ordered values through ``aggregate`` with a struct(l, b)
    accumulator — the EWMA recipe extended to 2-dimensional state.
    alpha = beta = 1/4 are exact binary fractions, so the fold runs the
    identical IEEE-754 sequence in any engine and the oracle's
    struct-state ``list_reduce`` reproduces it bit-for-bit (the first
    element IS the init state (v_0, 0) on both sides). One hash
    shuffle; per-key cost linear in the key's own rows."""
    from olake_spark.operators.forecast import holt_linear

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return holt_linear(
        ev, "ts", ["user_id"], "value",
        alpha=0.25, beta=0.25, order_cols=["event_id"],
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix from one exact-moment aggregation
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH v AS (
  SELECT round(l_quantity * 1000000)::HUGEINT AS x0,
         round(l_extendedprice * 1000000)::HUGEINT AS x1,
         round(l_discount * 1000000)::HUGEINT AS x2,
         round(l_tax * 1000000)::HUGEINT AS x3
  FROM lineitem
),
m AS (
  SELECT count(*)::HUGEINT AS n,
         sum(x0) s0, sum(x1) s1, sum(x2) s2, sum(x3) s3,
         sum(x0*x0) q0, sum(x1*x1) q1, sum(x2*x2) q2, sum(x3*x3) q3,
         sum(x0*x1) p01, sum(x0*x2) p02, sum(x0*x3) p03,
         sum(x1*x2) p12, sum(x1*x3) p13, sum(x2*x3) p23
  FROM v
)
SELECT col_a, col_b, n::BIGINT AS n,
       CASE WHEN ra > 0 AND rb > 0
            THEN round(num::DOUBLE / (sqrt(ra::DOUBLE) * sqrt(rb::DOUBLE)), 6)
       END AS corr
FROM m, LATERAL (VALUES
  ('l_quantity', 'l_extendedprice', n*p01 - s0*s1, n*q0 - s0*s0, n*q1 - s1*s1),
  ('l_quantity', 'l_discount',      n*p02 - s0*s2, n*q0 - s0*s0, n*q2 - s2*s2),
  ('l_quantity', 'l_tax',           n*p03 - s0*s3, n*q0 - s0*s0, n*q3 - s3*s3),
  ('l_extendedprice', 'l_discount', n*p12 - s1*s2, n*q1 - s1*s1, n*q2 - s2*s2),
  ('l_extendedprice', 'l_tax',      n*p13 - s1*s3, n*q1 - s1*s1, n*q3 - s3*s3),
  ('l_discount', 'l_tax',           n*p23 - s2*s3, n*q2 - s2*s2, n*q3 - s3*s3)
) t(col_a, col_b, num, ra, rb)
"""


@register("lineitem_correlation_matrix", _CORR_ORACLE)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix of the four lineitem
    measures from ONE map-side-combinable aggregation (operators/
    correlation.corr_matrix): all k(k+3)/2 exact DECIMAL(38,0)
    micro-unit moments accumulate in a single pass — never k passes,
    never a window — then each pair combines exactly and finishes with
    IEEE sqrt (correctly rounded by spec) + one division, the identical
    float sequence in any engine. The 100 TB profiling shape."""
    from olake_spark.operators.correlation import corr_matrix

    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


_CORR_BYGROUP_ORACLE = """
WITH v AS (
  SELECT l_returnflag,
         round(l_quantity * 1000000)::HUGEINT AS x0,
         round(l_extendedprice * 1000000)::HUGEINT AS x1,
         round(l_discount * 1000000)::HUGEINT AS x2
  FROM lineitem
),
m AS (
  SELECT l_returnflag, count(*)::HUGEINT AS n,
         sum(x0) s0, sum(x1) s1, sum(x2) s2,
         sum(x0*x0) q0, sum(x1*x1) q1, sum(x2*x2) q2,
         sum(x0*x1) p01, sum(x0*x2) p02, sum(x1*x2) p12
  FROM v GROUP BY 1
)
SELECT l_returnflag, col_a, col_b, n::BIGINT AS n,
       CASE WHEN ra > 0 AND rb > 0
            THEN round(num::DOUBLE / (sqrt(ra::DOUBLE) * sqrt(rb::DOUBLE)), 6)
       END AS corr
FROM m, LATERAL (VALUES
  ('l_quantity', 'l_extendedprice', n*p01 - s0*s1, n*q0 - s0*s0, n*q1 - s1*s1),
  ('l_quantity', 'l_discount',      n*p02 - s0*s2, n*q0 - s0*s0, n*q2 - s2*s2),
  ('l_extendedprice', 'l_discount', n*p12 - s1*s2, n*q1 - s1*s1, n*q2 - s2*s2)
) t(col_a, col_b, num, ra, rb)
"""


@register("lineitem_corr_by_returnflag", _CORR_BYGROUP_ORACLE)
def lineitem_corr_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED correlation matrices — one Pearson matrix PER RETURN
    FLAG from the same single exact-moment pass as the global matrix
    (operators/correlation.corr_matrix with by=['l_returnflag']): the
    k(k+3)/2 DECIMAL(38,0) moments simply groupBy the key, staying
    map-side combinable and one-scan. This is the fleet shape real
    100 TB profiling runs — per-nation / per-SKU / per-cohort
    correlation — where a per-group loop of global aggregations
    would be |groups| scans."""
    from olake_spark.operators.correlation import corr_matrix

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        by=["l_returnflag"],
    )


_ACF_BYTYPE_ORACLE = """
WITH daily AS (
  SELECT event_type, floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT)::HUGEINT AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*)::HUGEINT AS n, sum(x) AS s
  FROM daily GROUP BY 1
),
c AS (
  SELECT d.event_type, d.t, st.n * d.x - st.s AS dev
  FROM daily d JOIN stats st USING (event_type)
),
den AS (SELECT event_type, sum(dev*dev) AS den FROM c GROUP BY 1)
SELECT a.event_type, l.lag AS lag, count(*)::BIGINT AS n_pairs,
       CASE WHEN any_value(dn.den) > 0
            THEN round(sum(a.dev * b.dev)::DOUBLE
                       / any_value(dn.den)::DOUBLE, 6)
       END AS r
FROM (SELECT unnest([1, 2, 3]) AS lag) l
JOIN c a ON TRUE
JOIN c b ON b.event_type = a.event_type AND b.t = a.t + l.lag
JOIN den dn ON dn.event_type = a.event_type
GROUP BY 1, 2
"""


@register("events_acf_by_type", _ACF_BYTYPE_ORACLE)
def events_acf_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED autocorrelation — one ACF per event type from the same
    plan as the global probe (operators/forecast.acf with by=
    ['event_type']): per-type daily micro-sums, per-type n-scaled
    centering over key-partitioned windows (never a single-partition
    exchange), and the lag self-join keyed on (type, bucket+k). The
    per-metric seasonality sweep a 100 TB observability stack runs as
    one job, not |metrics| jobs."""
    from olake_spark.operators.forecast import acf

    return acf(
        table(spark, sf_dir, "events"), "ts", "value",
        step="1 day", max_lag=3, by=["event_type"],
    )


_MK_BYTYPE_ORACLE = """
WITH daily AS (
  SELECT event_type, floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.t AS ta, b.t AS tb,
         sign((b.y - a.y)::DOUBLE)::BIGINT AS sgn,
         (b.y - a.y)::DOUBLE / (b.t - a.t)::DOUBLE AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.t < b.t
),
r AS (
  SELECT event_type, sgn, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, ta, tb) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
),
st AS (
  SELECT event_type, sum(sgn) AS s,
         max(CASE WHEN rn = ceil(m / 2.0) THEN slope END) AS sen
  FROM r GROUP BY 1
),
tt AS (
  SELECT event_type, sum(t*(t-1)*(2*t+5))::HUGEINT AS tie_term,
         sum(t)::HUGEINT AS n
  FROM (SELECT event_type, count(*)::HUGEINT AS t
        FROM daily GROUP BY event_type, y)
  GROUP BY 1
),
f AS (
  SELECT tt.event_type, st.s, st.sen, tt.n,
         (tt.n*(tt.n-1)*(2*tt.n+5) - tt.tie_term)::DOUBLE / 18.0 AS var_s
  FROM tt LEFT JOIN st ON st.event_type = tt.event_type
)
SELECT event_type, n::BIGINT AS n_buckets,
       coalesce(s, 0)::BIGINT AS s_stat,
       round(var_s, 6) AS var_s,
       CASE WHEN var_s > 0 THEN
         round(CASE WHEN s > 0 THEN (s::DOUBLE - 1.0) / sqrt(var_s)
                    WHEN s < 0 THEN (s::DOUBLE + 1.0) / sqrt(var_s)
                    ELSE 0.0 END, 6)
       END AS z,
       round(sen, 4) AS sen_slope_micro,
       round(sen / 1000000.0, 6) AS sen_slope
FROM f
"""


@register("events_trend_by_type", _MK_BYTYPE_ORACLE)
def events_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Mann-Kendall + Theil-Sen FLEET (operators/robust_trend.
    mann_kendall_by_key): one robust trend test per event type from one
    plan — the many-small-groups regime, where each key's C(n,2) pair
    relation is bounded by its own series length, so the rank window
    partitions on the key (the global operator's bisection covers the
    one-huge-series regime instead). Same exact integer S / tie
    variance / rank-⌈m/2⌉ lower-median slope per key."""
    from olake_spark.operators.robust_trend import mann_kendall_by_key

    return mann_kendall_by_key(
        table(spark, sf_dir, "events"), "ts", ["event_type"], "value",
        step="1 day",
    )


_WILSON_ORACLE = """
WITH s AS (
  SELECT c.c_nationkey,
         coalesce(max(o.o_orderdate) >= TIMESTAMP '2000-01-01', FALSE)
           AS succ
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey
),
a AS (
  SELECT c_nationkey, count(*)::BIGINT AS n,
         sum(CASE WHEN succ THEN 1 ELSE 0 END)::BIGINT AS k
  FROM s GROUP BY 1
)
SELECT c_nationkey, n, k,
  round(k::DOUBLE / n::DOUBLE, 6) AS p_hat,
  round(((k::DOUBLE / n::DOUBLE) + (1.96*1.96) / (2.0*n::DOUBLE))
          / (1.0 + (1.96*1.96) / n::DOUBLE)
        - 1.96 * sqrt((k::DOUBLE / n::DOUBLE) * (1.0 - k::DOUBLE / n::DOUBLE)
                        / n::DOUBLE
                      + (1.96*1.96) / (4.0 * n::DOUBLE * n::DOUBLE))
          / (1.0 + (1.96*1.96) / n::DOUBLE), 6) AS ci_lo,
  round(((k::DOUBLE / n::DOUBLE) + (1.96*1.96) / (2.0*n::DOUBLE))
          / (1.0 + (1.96*1.96) / n::DOUBLE)
        + 1.96 * sqrt((k::DOUBLE / n::DOUBLE) * (1.0 - k::DOUBLE / n::DOUBLE)
                        / n::DOUBLE
                      + (1.96*1.96) / (4.0 * n::DOUBLE * n::DOUBLE))
          / (1.0 + (1.96*1.96) / n::DOUBLE), 6) AS ci_hi
FROM a
"""


@register("customer_recent_buyer_wilson", _WILSON_ORACLE)
def customer_recent_buyer_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation share of customers whose latest order falls in the
    final fixture window, with the WILSON score interval (operators/
    abtest.proportion_wilson_ci) — the edge-safe confidence interval
    conversion dashboards need (Wald collapses at p near 0/1). k and n
    are exact integers from a per-customer max-date rollup + one census
    aggregation; the interval is one fixed IEEE sequence per nation,
    hash-stable at round 6. Both shuffles hash on keys; nothing sorts."""
    from olake_spark.operators.abtest import proportion_wilson_ci

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey")
    ).agg(F.max("o_orderdate").alias("_last"))
    j = c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_nationkey",
        F.coalesce(
            F.col("_last") >= F.lit("2000-01-01").cast("timestamp"),
            F.lit(False),
        ).alias("_succ"),
    )
    return proportion_wilson_ci(j, ["c_nationkey"], "_succ", z=1.96)


_OLS2_ORACLE = """
WITH v AS (
  SELECT round(l_extendedprice * 1000000)::HUGEINT AS y,
         round(l_quantity * 1000000)::HUGEINT AS x1,
         round(l_discount * 1000000)::HUGEINT AS x2
  FROM lineitem
),
m AS (
  SELECT count(*)::HUGEINT AS n, sum(x1) AS sx1, sum(x2) AS sx2,
         sum(y) AS sy, sum(x1*x1) AS sx1x1, sum(x2*x2) AS sx2x2,
         sum(x1*x2) AS sx1x2, sum(x1*y) AS sx1y, sum(x2*y) AS sx2y,
         sum(y*y) AS syy_
  FROM v
),
c AS (
  SELECT n,
    (n*sx1x1 - sx1*sx1)::DOUBLE AS s11, (n*sx2x2 - sx2*sx2)::DOUBLE AS s22,
    (n*sx1x2 - sx1*sx2)::DOUBLE AS s12, (n*sx1y - sx1*sy)::DOUBLE AS s1y,
    (n*sx2y - sx2*sy)::DOUBLE AS s2y, (n*syy_ - sy*sy)::DOUBLE AS syy,
    sx1::DOUBLE AS dx1, sx2::DOUBLE AS dx2, sy::DOUBLE AS dy
  FROM m
),
sol AS (SELECT *, s11*s22 - s12*s12 AS det FROM c)
SELECT n::BIGINT AS n,
  CASE WHEN det != 0.0
       THEN round((s22*s1y - s12*s2y) / det, 6) END AS b1,
  CASE WHEN det != 0.0
       THEN round((s11*s2y - s12*s1y) / det, 6) END AS b2,
  CASE WHEN det != 0.0
       THEN round((dy - (s22*s1y - s12*s2y) / det * dx1
                      - (s11*s2y - s12*s1y) / det * dx2)
                  / n::DOUBLE / 1000000.0, 6) END AS intercept,
  CASE WHEN det != 0.0 AND syy > 0.0
       THEN round(((s22*s1y - s12*s2y) / det * s1y
                   + (s11*s2y - s12*s1y) / det * s2y) / syy, 6) END AS r2
FROM sol
"""


@register("lineitem_ols2_price_model", _OLS2_ORACLE)
def lineitem_ols2_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor least squares price ~ quantity + discount from ONE
    exact-moment pass (operators/correlation.ols2): nine micro-unit
    DECIMAL(38,0) moments accumulate map-side-combinably, each centered
    normal-equation term is computed exactly in 38 digits and cast to
    double once, and the 2×2 solve + R² is a fixed IEEE sequence — the
    multivariate regression a 100 TB feature pipeline fits without a
    gram-matrix shuffle or k passes."""
    from olake_spark.operators.correlation import ols2

    return ols2(
        table(spark, sf_dir, "lineitem"),
        "l_extendedprice", "l_quantity", "l_discount",
    )


# ---------------------------------------------------------------------------
# Calendar analytics: exact integer day-of-week revenue profile
# ---------------------------------------------------------------------------

_DOW_ORACLE = """
WITH o AS (
  SELECT (date_diff('day', DATE '1970-01-01', o_orderdate) + 3) % 7 AS dow,
         round(o_totalprice * 1000000)::BIGINT AS vm
  FROM orders
)
SELECT dow::INT AS dow, count(*)::BIGINT AS n_orders,
       sum(vm)::BIGINT AS revenue_micro,
       (sum(vm)::BIGINT // count(*)) AS avg_order_micro
FROM o GROUP BY 1
"""


@register("orders_dow_revenue", _DOW_ORACLE)
def orders_dow_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week order/revenue profile with ENGINE-INDEPENDENT day
    arithmetic: dow = (epoch_days + 3) mod 7 with 0 = Monday, computed
    from the raw day count since 1970-01-01 — never from dayofweek()/
    strftime(), whose 0-vs-1-based and Sunday-vs-Monday conventions
    differ per engine and have burned every calendar pipeline ever.
    Exact micro-unit sums, floor-div average; one map-side-combinable
    aggregation, 7-row report."""
    o = table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    dow = F.pmod(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        + F.lit(3),
        F.lit(7),
    ).cast("int")
    vm = F.round(F.col("o_totalprice") * 1_000_000).cast("long")
    return (
        o.select(dow.alias("dow"), vm.alias("_vm"))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_vm").alias("revenue_micro"),
            F.expr("sum(_vm) div count(1)").alias("avg_order_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto / Lorenz concentration: revenue share held by the top-k% of parts
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH per AS (
  SELECT l_partkey, sum(round(l_extendedprice * 1000000)::BIGINT) AS rm
  FROM lineitem GROUP BY 1
),
r AS (
  SELECT rm,
         row_number() OVER (ORDER BY rm DESC, l_partkey) AS rk,
         count(*) OVER () AS nk,
         sum(rm) OVER () AS tot,
         sum(rm) OVER (ORDER BY rm DESC, l_partkey
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM per
)
SELECT pct, n_parts, revenue_share FROM (
  SELECT p.pct,
         max(CASE WHEN rk <= (p.pct * nk) // 100 THEN rk ELSE 0 END)
           ::BIGINT AS n_parts,
         round(max(CASE WHEN rk <= (p.pct * nk) // 100 THEN cum
                        ELSE 0 END)::DOUBLE / max(tot), 6) AS revenue_share
  FROM r, (VALUES (1), (5), (10), (20)) p(pct)
  GROUP BY p.pct
) WHERE n_parts > 0
"""


@register("lineitem_pareto_concentration", _PARETO_ORACLE)
def lineitem_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/Lorenz concentration audit: what share of total revenue do
    the top 1/5/10/20% of parts hold — the "is this an 80/20 catalog"
    complement to the single-number Gini. Exact micro-unit per-part
    totals (one hash shuffle over facts, map-side combined to the PART
    dimension); the ranking windows run on the parts relation, which is
    DIMENSION-sized by contract (the same tiny-relation window license
    as Gini/KM — a facts-sized caller should use dense_ids' two-phase
    ranking instead). Cutoff = floor(pct·n/100) parts, ties broken by
    part key for a total order; share = cumulative micro over total,
    identically divided in both engines."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    per = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 1_000_000).cast("long")
        ).alias("_rm")
    )
    w = W.orderBy(F.col("_rm").desc(), F.col("l_partkey"))
    r = per.select(
        "_rm",
        F.row_number().over(w).cast("long").alias("_rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("_nk"),
        F.sum("_rm").over(W.partitionBy()).alias("_tot"),
        F.sum("_rm").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("_cum"),
    )
    pcts = F.array(*[F.lit(p) for p in (1, 5, 10, 20)])
    return (
        r.select("_rk", "_nk", "_tot", "_cum", F.explode(pcts).alias("pct"))
        .groupBy("pct")
        .agg(
            F.max(
                F.when(
                    F.col("_rk") <= F.expr("(pct * _nk) div 100"),
                    F.col("_rk"),
                ).otherwise(F.lit(0))
            ).alias("n_parts"),
            F.round(
                F.max(
                    F.when(
                        F.col("_rk") <= F.expr("(pct * _nk) div 100"),
                        F.col("_cum"),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.max("_tot"),
                6,
            ).alias("revenue_share"),
        )
        .filter(F.col("n_parts") > 0)
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest daily-activity streak per user
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
  FROM events
),
r AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS island
  FROM d
),
s AS (
  SELECT user_id, island, count(*)::BIGINT AS len,
         min(day) AS start_day
  FROM r GROUP BY 1, 2
)
SELECT user_id, len AS longest_streak_days,
       (start_day * 86400000)::BIGINT AS streak_start_ms,
       n_active::BIGINT AS n_active_days
FROM (
  SELECT user_id, len, start_day,
         sum(len) OVER (PARTITION BY user_id) AS n_active,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_day) AS rn
  FROM s
) WHERE rn = 1
"""


@register("events_activity_streaks", _STREAK_ORACLE)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the canonical
    GAPS-AND-ISLANDS pattern (day − row_number is constant within a
    run of consecutive days), which no other registry query exercises.
    Exact integer epoch-day arithmetic; one hash shuffle on the user
    carries the distinct + both windows + the island groupBy (same
    partitioning throughout, exchange reused); ties on streak length
    break to the earliest streak."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    day = F.expr("unix_micros(ts) div 86400000000")
    d = ev.select("user_id", day.alias("_day")).distinct()
    w = W.partitionBy("user_id").orderBy("_day")
    s = (
        d.withColumn(
            "_island", F.col("_day") - F.row_number().over(w)
        )
        .groupBy("user_id", "_island")
        .agg(
            F.count(F.lit(1)).alias("_len"),
            F.min("_day").alias("_start"),
        )
    )
    wu = W.partitionBy("user_id")
    pick = W.partitionBy("user_id").orderBy(
        F.col("_len").desc(), F.col("_start")
    )
    return (
        s.withColumn("_n_active", F.sum("_len").over(wu))
        .withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("_len").alias("longest_streak_days"),
            (F.col("_start") * F.lit(86_400_000)).alias("streak_start_ms"),
            F.col("_n_active").alias("n_active_days"),
        )
    )


# ---------------------------------------------------------------------------
# Order-to-ship latency SLA profile (exact integer day lags)
# ---------------------------------------------------------------------------

_SHIPLAT_ORACLE = """
WITH j AS (
  SELECT o.o_orderpriority AS priority,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority, count(*)::BIGINT AS n,
       (sum(lag_days)::BIGINT // count(*)) AS avg_lag_days_floor,
       min(lag_days)::BIGINT AS min_lag_days,
       max(lag_days)::BIGINT AS max_lag_days,
       sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END)::BIGINT AS n_over_90d
FROM j GROUP BY 1
"""


@register("lineitem_ship_latency_sla", _SHIPLAT_ORACLE)
def lineitem_ship_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority — the SLA
    breach report every fulfillment pipeline runs. Exact integer day
    lags (datediff of DATE columns — no timestamp/timezone ambiguity),
    floor-div average, 90-day breach count. One co-partitioned fact-
    fact join on the order key (the natural TPC-H 1:4 shape — at
    100 TB both sides bucket on orderkey and the exchange disappears)
    feeding one map-side-combinable aggregation; 5-row report."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("_lag"),
    )
    return j.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(_lag) div count(1)").alias("avg_lag_days_floor"),
        F.min("_lag").cast("long").alias("min_lag_days"),
        F.max("_lag").cast("long").alias("max_lag_days"),
        F.sum(F.when(F.col("_lag") > 90, 1).otherwise(0)).alias("n_over_90d"),
    )


# ---------------------------------------------------------------------------
# Forecast backtest: hold out each user's last event, score Holt's 1-step
# ---------------------------------------------------------------------------

_HOLT_BACKTEST_ORACLE = """
WITH s AS (
  SELECT user_id,
         list([value::DOUBLE, 0.0::DOUBLE]
              ORDER BY epoch_us(ts), event_id) AS vs,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
),
f AS (
  SELECT user_id, n, vs[n][1] AS actual,
         CASE WHEN n >= 2 THEN
           list_reduce(vs[1:n-1], (acc, x) ->
             [(0.25::DOUBLE * x[1] + 0.75::DOUBLE * acc[1])
                + 0.75::DOUBLE * acc[2],
              0.0625::DOUBLE * (x[1] - acc[1]) + 0.9375::DOUBLE * acc[2]])
         END AS st
  FROM s
)
SELECT user_id, n,
       round(st[1] + st[2], 6) AS forecast_1,
       round(actual, 6) AS actual,
       round(abs((st[1] + st[2]) - actual), 6) AS abs_err
FROM f
"""


@register("events_holt_backtest", _HOLT_BACKTEST_ORACLE)
def events_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST — the measurement no forecasting family is
    complete without: hold out each user's last observation, fold Holt
    over the first n−1 (same pinned flat-form recursion and list-state
    oracle as events_holt_forecast), and score the 1-step forecast
    against the held-out actual. Single-observation users report NULL
    (nothing to train on). Same one-shuffle per-key-sequence shape; the
    holdout is a slice of the already-collected sequence, not a second
    pass."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    ordkey = F.struct(
        F.unix_micros(F.col("ts")).alias("_t"),
        F.col("event_id").alias("_o0"),
        F.col("value").cast("double").alias("_v"),
    )
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_list(ordkey)).alias("_seq"),
    )
    vals = F.transform(F.col("_seq"), lambda s: s["_v"])
    a, b1 = F.lit(0.25), F.lit(0.75)
    ga, g1a = F.lit(0.0625), F.lit(0.9375)

    def _step(acc, v):
        return F.struct(
            ((a * v + b1 * acc["l"]) + b1 * acc["b"]).alias("l"),
            (ga * (v - acc["l"]) + g1a * acc["b"]).alias("b"),
        )

    init = F.struct(F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b"))
    st = F.when(
        F.col("n") >= 2,
        F.aggregate(
            F.slice(vals, 2, F.greatest(F.size(vals) - 2, F.lit(0))),
            init,
            _step,
        ),
    )
    actual = F.element_at(vals, F.size(vals))
    fc = st["l"] + st["b"]
    return per.select(
        "user_id",
        "n",
        F.round(fc, 6).alias("forecast_1"),
        F.round(actual, 6).alias("actual"),
        F.round(F.abs(fc - actual), 6).alias("abs_err"),
    )


_PCTCONT_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem
),
r AS (
  SELECT g, vm, row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM v
),
hp AS (
  SELECT g, n, p.p, (n - 1) * p.p + 1 AS h
  FROM (SELECT DISTINCT g, n FROM r)
  CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS p) p
),
sel AS (
  SELECT hp.g, hp.p, hp.h,
         max(CASE WHEN r.rn = floor(hp.h) THEN r.vm END) AS lo_micros,
         max(CASE WHEN r.rn = least(ceil(hp.h), hp.n) THEN r.vm END)
           AS hi_micros
  FROM hp JOIN r ON r.g = hp.g
    AND (r.rn = floor(hp.h) OR r.rn = least(ceil(hp.h), hp.n))
  GROUP BY 1, 2, 3
)
SELECT g AS l_returnflag, p,
       round((lo_micros + (h - floor(h)) * (hi_micros - lo_micros))
             / 1000000.0, 6) AS q_cont,
       lo_micros, hi_micros
FROM sel
"""


@register("lineitem_percentile_cont", _PCTCONT_ORACLE)
def lineitem_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI PERCENTILE_CONT — the INTERPOLATED quantile BI tools mean by
    "median" (operators/quantiles.percentile_cont): per return flag at
    p ∈ {.25, .5, .9, .99}, q = v_⌊h⌋ + (h−⌊h⌋)(v_⌈h⌉−v_⌊h⌋) with
    h = (n−1)p+1. Both bracketing order statistics come from ONE shared
    histogram-bisection sweep (all 3 groups × 4 p's × 2 ranks advance
    together, one job per round — never a per-group sort buffer); the
    interpolation itself runs as one Spark double expression textually
    identical to the oracle's. Complements lineitem_exact_quantiles'
    discrete rank-ceil(p·n) reading."""
    from olake_spark.operators.quantiles import percentile_cont

    return percentile_cont(
        table(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_extendedprice", [0.25, 0.5, 0.9, 0.99], bins=2048,
    )


_CUPED_ORACLE = """
WITH u AS (
  SELECT user_id, (user_id % 2)::INT AS arm,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             THEN round(value * 1000000)::BIGINT ELSE 0 END) AS xm,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
             THEN round(value * 1000000)::BIGINT ELSE 0 END) AS ym
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT arm, count(*)::HUGEINT AS na, sum(xm)::HUGEINT AS sxa,
         sum(ym)::HUGEINT AS sya,
         sum(xm::HUGEINT * xm) AS sxxa, sum(xm::HUGEINT * ym) AS sxya
  FROM u GROUP BY 1
),
p AS (
  SELECT arm, na, sxa, sya,
         sum(na) OVER () AS n, sum(sxa) OVER () AS sx,
         sum(sya) OVER () AS sy, sum(sxxa) OVER () AS sxx,
         sum(sxya) OVER () AS sxy
  FROM m
),
t AS (
  SELECT *, CASE WHEN (n*sxx - sx*sx) > 0
                 THEN (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE
                 ELSE 0.0 END AS theta
  FROM p
)
SELECT arm, na::BIGINT AS n,
       round(sya::DOUBLE / na::DOUBLE / 1000000.0, 6) AS mean_post,
       round((sya::DOUBLE / na::DOUBLE
              - theta * (sxa::DOUBLE / na::DOUBLE - sx::DOUBLE / n::DOUBLE))
             / 1000000.0, 6) AS mean_adj,
       round(theta, 6) AS theta
FROM t
"""


@register("events_cuped_lift", _CUPED_ORACLE)
def events_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout (operators/abtest.cuped_adjust)
    over a synthetic month-split experiment: per-user pre-period
    (first half) and experiment-period (second half) value sums, arm =
    user_id % 2 (a closed form both engines compute identically). The
    pooled θ = cov(X,Y)/var(X) and every arm mean derive from ONE pass
    of exact micro-unit DECIMAL(38,0) moments — adjusted means are a
    linear function of sums, so no per-row adjusted metric is ever
    materialized. The variance-reduction workhorse of every large
    experimentation platform, as one aggregation."""
    from olake_spark.operators.abtest import cuped_adjust

    ev = table(spark, sf_dir, "events")
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    cut = F.lit("2024-01-16").cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, vm).otherwise(0)).alias("_xm"),
        F.sum(F.when(F.col("ts") >= cut, vm).otherwise(0)).alias("_ym"),
    )
    unit = u.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("_xm") / 1_000_000.0).alias("_pre"),
        (F.col("_ym") / 1_000_000.0).alias("_post"),
    )
    return cuped_adjust(unit, "arm", "_pre", "_post")


_RATIO_DELTA_ORACLE = """
WITH u AS (
  SELECT (user_id % 2)::INT AS arm,
         sum(round(value * 1000000)::BIGINT) AS ym,
         count(*) * 1000000 AS nm
  FROM events GROUP BY user_id
),
a AS (
  SELECT arm, count(*)::HUGEINT AS c, sum(ym)::HUGEINT AS sy,
         sum(nm)::HUGEINT AS sn, sum(ym::HUGEINT * ym) AS syy,
         sum(nm::HUGEINT * nm) AS snn, sum(ym::HUGEINT * nm) AS syn
  FROM u GROUP BY 1
),
d AS (
  SELECT arm, c, sy, sn,
         sy::DOUBLE / sn::DOUBLE AS r,
         (c*syy - sy*sy)::DOUBLE / (c::DOUBLE * (c::DOUBLE - 1.0)) AS vary,
         (c*snn - sn*sn)::DOUBLE / (c::DOUBLE * (c::DOUBLE - 1.0)) AS varn,
         (c*syn - sy*sn)::DOUBLE / (c::DOUBLE * (c::DOUBLE - 1.0)) AS covyn,
         sn::DOUBLE / c::DOUBLE AS mean_n
  FROM a
)
SELECT arm, c::BIGINT AS n, round(r, 6) AS ratio,
  CASE WHEN c > 1 AND sn != 0
        AND (vary + r * r * varn - 2.0 * r * covyn)
            / (c::DOUBLE * mean_n * mean_n) >= 0.0
       THEN round(sqrt((vary + r * r * varn - 2.0 * r * covyn)
                       / (c::DOUBLE * mean_n * mean_n)), 6)
  END AS se
FROM d
"""


@register("events_ratio_delta", _RATIO_DELTA_ORACLE)
def events_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm value-per-event RATIO metric with delta-method SE
    (operators/abtest.ratio_metric_delta): unit-level numerator (the
    user's total value) and denominator (the user's event count) feed
    the six-moment single pass; the delta algebra accounts for the Y-N
    covariance the naive SE ignores. Same synthetic arm = user_id % 2
    as the CUPED query."""
    from olake_spark.operators.abtest import ratio_metric_delta

    ev = table(spark, sf_dir, "events")
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    u = ev.groupBy("user_id").agg(
        F.sum(vm).alias("_ym"), F.count(F.lit(1)).alias("_cnt")
    )
    unit = u.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("_ym") / 1_000_000.0).alias("_num"),
        F.col("_cnt").cast("double").alias("_den"),
    )
    return ratio_metric_delta(unit, "arm", "_num", "_den")


_SEASONAL_DECOMP_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS bucket,
         sum(round(value * 1000000)::BIGINT)::BIGINT AS x
  FROM events GROUP BY 1
),
tr AS (
  SELECT bucket, x,
         (sum(x) OVER w // count(*) OVER w)::BIGINT AS trend
  FROM daily
  WINDOW w AS (ORDER BY bucket ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT bucket, x, trend, (bucket % 7)::INT AS phase, x - trend AS d
  FROM tr
),
sea AS (
  SELECT *, (sum(d) OVER (PARTITION BY phase)
             // count(*) OVER (PARTITION BY phase))::BIGINT AS seasonal
  FROM det
)
SELECT bucket, phase, x AS x_micro, trend AS trend_micro,
       seasonal AS seasonal_micro,
       (x - trend - seasonal)::BIGINT AS residual_micro
FROM sea
"""


@register("events_seasonal_decompose", _SEASONAL_DECOMP_ORACLE)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive classical decomposition of the daily value series —
    x = trend + seasonal + residual (operators/timeseries.
    seasonal_decompose): centered ±3-day moving-average trend (ragged
    edges use available buckets), weekly per-phase seasonal means of
    the detrended series, exact truncating-div integers throughout
    (Spark div == DuckDB //, verified for negatives). One bucketize
    shuffle; every window runs on the BUCKET-sized relation. The
    is-it-trend-or-weekday-or-anomaly splitter that fronts the
    forecast/alert family."""
    from olake_spark.operators.timeseries import seasonal_decompose

    return seasonal_decompose(
        table(spark, sf_dir, "events"), "ts", "value",
        step="1 day", period=7, trend_window=3,
    )


_MANNWHITNEY_ORACLE = """
WITH pv AS (
  SELECT round(value * 1000000)::BIGINT AS v,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::HUGEINT AS a,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::HUGEINT AS b
  FROM events WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL
  GROUP BY 1
),
r AS (
  SELECT a, (a + b) AS t,
         2 * (sum(a + b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - (a + b))
           + (a + b) + 1 AS rank2
  FROM pv
),
s AS (
  SELECT sum(a) AS na, sum(t) - sum(a) AS nb, sum(t) AS n,
         sum(a * rank2) AS w2a, sum(t*t*t - t) AS tie
  FROM r
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       (w2a - na*(na+1))::BIGINT AS u2_a,
       tie::BIGINT AS tie_correction,
       round((w2a - na*(na+1))::DOUBLE / (2.0 * na::DOUBLE * nb::DOUBLE), 6)
         AS auc,
       CASE WHEN na*nb*(n*n*n - n - tie) > 0 THEN
         round(((w2a - na*(na+1)) - na*nb)::DOUBLE
               / (2.0 * sqrt((na*nb*(n*n*n - n - tie))::DOUBLE
                             / ((12*n*(n-1))::DOUBLE))), 6)
       END AS z
FROM s
"""


@register("events_mannwhitney", _MANNWHITNEY_ORACLE)
def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U between purchase and view
    event values (operators/abtest.mann_whitney_u): doubled average
    ranks keep every statistic up to z in exact DECIMAL(38,0) integers
    (rank2 = 2·c_prev + t + 1 on the distinct-value relation), and the
    z/auc doubles are one cast + the identical IEEE divide/sqrt
    sequence in both engines. Plan = the KS shape: one map-side-
    combinable shuffle on the quantized value, one values-sized
    cumulative window — rows never sort."""
    from olake_spark.operators.abtest import mann_whitney_u

    return mann_whitney_u(
        table(spark, sf_dir, "events"), "event_type", "value",
        "purchase", "view",
    )


_SPEARMAN_ORACLE = """
WITH base AS (
  SELECT l_quantity AS q, l_discount AS d, l_tax AS t FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    AND l_tax IS NOT NULL
),
r AS (
  SELECT
    (2*rank() OVER (ORDER BY q) + count(*) OVER (PARTITION BY q) - 1)::HUGEINT AS r0,
    (2*rank() OVER (ORDER BY d) + count(*) OVER (PARTITION BY d) - 1)::HUGEINT AS r1,
    (2*rank() OVER (ORDER BY t) + count(*) OVER (PARTITION BY t) - 1)::HUGEINT AS r2
  FROM base
),
m AS (
  SELECT count(*)::HUGEINT AS n,
         sum(r0) s0, sum(r1) s1, sum(r2) s2,
         sum(r0*r0) q0, sum(r1*r1) q1, sum(r2*r2) q2,
         sum(r0*r1) p01, sum(r0*r2) p02, sum(r1*r2) p12
  FROM r
)
SELECT col_a, col_b, n::BIGINT AS n,
       CASE WHEN ra > 0 AND rb > 0
            THEN round(num::DOUBLE / (sqrt(ra::DOUBLE) * sqrt(rb::DOUBLE)), 6)
       END AS rho
FROM m, LATERAL (VALUES
  ('l_quantity', 'l_discount', n*p01 - s0*s1, n*q0 - s0*s0, n*q1 - s1*s1),
  ('l_quantity', 'l_tax',      n*p02 - s0*s2, n*q0 - s0*s0, n*q2 - s2*s2),
  ('l_discount', 'l_tax',      n*p12 - s1*s2, n*q1 - s1*s1, n*q2 - s2*s2)
) t(col_a, col_b, num, ra, rb)
"""


@register("lineitem_spearman_corr", _SPEARMAN_ORACLE)
def lineitem_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rho over the three gridded lineitem measures
    (operators/correlation.spearman_matrix): monotone association that
    Pearson's linear moments miss. Ranks are assigned DISTRIBUTED — a
    per-column distinct-value cumulative window (50/11/9 values) whose
    rank2 map broadcasts back onto the fact rows — never a global
    ROW_NUMBER over rows; then one exact-moment pass yields the whole
    matrix. The oracle's rank()-window-over-rows formulation is the
    single-sort plan this operator avoids."""
    from olake_spark.operators.correlation import spearman_matrix

    li = table(spark, sf_dir, "lineitem")
    return spearman_matrix(li, ["l_quantity", "l_discount", "l_tax"])


# ---------------------------------------------------------------------------
# Autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT)::HUGEINT AS x
  FROM events GROUP BY 1
),
c AS (
  SELECT t,
         (SELECT count(*) FROM daily)::HUGEINT * x
           - (SELECT sum(x) FROM daily) AS dev
  FROM daily
),
den AS (SELECT sum(dev*dev) AS den FROM c)
SELECT l.lag AS lag, count(*)::BIGINT AS n_pairs,
       CASE WHEN any_value(d.den) > 0
            THEN round(sum(a.dev * b.dev)::DOUBLE / any_value(d.den)::DOUBLE, 6)
       END AS r
FROM (SELECT unnest([1,2,3,4,5,6,7]) AS lag) l
CROSS JOIN den d
JOIN c a ON TRUE
JOIN c b ON b.t = a.t + l.lag
GROUP BY 1 ORDER BY 1
"""


@register("events_acf_daily", _ACF_ORACLE)
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily total event value at lags 1-7
    (operators/forecast.acf) — the which-lag-carries-signal probe run
    before Holt/seasonal fitting. One shuffle builds the exact
    micro-unit daily series; every later step (mean-centering via the
    n-scaled identity, the lag-k equi-self-join, the single division
    per lag) runs on the BUCKET-sized relation in exact
    DECIMAL(38,0)."""
    from olake_spark.operators.forecast import acf

    return acf(
        table(spark, sf_dir, "events"), "ts", "value",
        step="1 day", max_lag=7,
    )


# ---------------------------------------------------------------------------
# Robust statistics: winsorized mean/sd per group
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
r AS (
  SELECT g, vm,
         row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM v
),
cut AS (
  SELECT g,
         max(CASE WHEN rn = greatest(1, ceil(0.05 * n)) THEN vm END) AS qlo,
         max(CASE WHEN rn = greatest(1, ceil(0.95 * n)) THEN vm END) AS qhi
  FROM r GROUP BY g
),
w AS (
  SELECT v.g, v.vm, cut.qlo, cut.qhi,
         greatest(cut.qlo, least(cut.qhi, v.vm))::HUGEINT AS wv
  FROM v JOIN cut USING (g)
),
a AS (
  SELECT g, count(*)::HUGEINT AS n,
         sum(CASE WHEN vm < qlo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
         sum(CASE WHEN vm > qhi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
         sum(wv) AS s, sum(wv * wv) AS q
  FROM w GROUP BY g
)
SELECT g AS l_returnflag, n::BIGINT AS n, n_clipped_lo, n_clipped_hi,
       round(s::DOUBLE / (n::DOUBLE * 1000000.0), 6) AS win_mean,
       round(sqrt((n * q - s * s)::DOUBLE) / (n::DOUBLE * 1000000.0), 6)
         AS win_sd
FROM a
"""


@register("lineitem_winsorized_stats", _WINSOR_ORACLE)
def lineitem_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price mean/sd per return flag (operators/quantiles.
    winsorized_stats): the p05/p95 cutoffs are EXACT order statistics
    from the histogram-bisection search (never a per-group sort),
    broadcast back, and the clamped micro-unit values fold through one
    map-side-combinable DECIMAL(38,0) aggregation — the robust-mean
    profile a 100 TB price-quality audit wants. The oracle's
    row_number window IS the per-group sort the operator avoids."""
    from olake_spark.operators.quantiles import winsorized_stats

    return winsorized_stats(
        table(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_extendedprice", p_lo=0.05, p_hi=0.95,
    )


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering neighborhoods
# ---------------------------------------------------------------------------

_ITEM_NEIGHBORS_ORACLE = """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
sup AS (SELECT i, count(*) AS c FROM bi GROUP BY i),
pc AS (
  SELECT a.i AS ia, b.i AS ib, count(*) AS n_co
  FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
und AS (
  SELECT ia AS item, ib AS neighbor, n_co FROM pc
  UNION ALL
  SELECT ib, ia, n_co FROM pc
),
scored AS (
  SELECT item, neighbor, n_co,
         n_co::DOUBLE / sqrt((sa.c * sb.c)::DOUBLE) AS cosv
  FROM und
  JOIN sup sa ON sa.i = und.item
  JOIN sup sb ON sb.i = und.neighbor
),
ranked AS (
  SELECT item, neighbor, n_co, cosv,
         row_number() OVER (PARTITION BY item ORDER BY cosv DESC, neighbor)
           AS rnk
  FROM scored
)
SELECT item, neighbor, n_co, round(cosv, 6) AS cosine, rnk
FROM ranked WHERE rnk <= 3
"""


@register("orders_item_neighbors", _ITEM_NEIGHBORS_ORACLE)
def orders_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 item-item cosine neighbors over order baskets (operators/
    basket.item_neighbors_topk) — the "bought together" neighborhood.
    Pairs exist only via the basket-co-partitioned self-join (fan-out
    bounded by the small per-order line count, never catalog²); supports broadcast;
    the per-item top-3 compiles to map-side WindowGroupLimit. Cosine =
    exact-long ratio + one IEEE sqrt/divide, so the (cos DESC, neighbor)
    ranking is identical cross-engine."""
    from olake_spark.operators.basket import item_neighbors_topk

    return item_neighbors_topk(
        table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        k=3, min_count=2,
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation with distributed NTILE
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         max(date_diff('day', DATE '1970-01-01', o_orderdate::DATE))::BIGINT
           AS r_day,
         count(*) AS freq,
         sum(round(o_totalprice * 1000000)::BIGINT) AS mon
  FROM orders GROUP BY 1
),
t AS (
  SELECT o_custkey, mon,
         ntile(5) OVER (ORDER BY r_day, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY mon, o_custkey) AS m_score
  FROM per
)
SELECT (r_score * 100 + f_score * 10 + m_score)::INT AS segment,
       count(*)::BIGINT AS n_customers,
       sum(mon)::BIGINT AS monetary_micro
FROM t GROUP BY 1
"""


@register("customer_rfm_segments", _RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of the order history (operators/features.
    rfm_segments): recency/frequency/monetary quintile scores → segment
    census. NTILE semantics are reproduced exactly, but each axis ranks
    through dense_ids (range-partition distributed row numbers + a
    1-row customer-count broadcast) instead of the oracle's
    single-partition ORDER-BY-everything NTILE window — the difference
    between a marketing query that works on 10^9 customers and one
    that doesn't."""
    from olake_spark.operators.features import rfm_segments

    return rfm_segments(
        table(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice", n_tiles=5,
    )


# ---------------------------------------------------------------------------
# Population Stability Index: train/serve drift on the event-value feature
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH obs AS (
  SELECT least(9, greatest(0, floor((value - 0.0) / 500.0 * 10)))::INT AS bin,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)
           AS n_ref,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
           AS n_cur
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
spine AS (SELECT unnest(range(10))::INT AS bin),
f AS (
  SELECT s.bin, coalesce(o.n_ref, 0) AS n_ref, coalesce(o.n_cur, 0) AS n_cur
  FROM spine s LEFT JOIN obs o USING (bin)
),
t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM f),
g AS (
  SELECT bin, n_ref, n_cur,
         (n_ref + 1)::DOUBLE / (t.tr + 10)::DOUBLE AS p,
         (n_cur + 1)::DOUBLE / (t.tc + 10)::DOUBLE AS q
  FROM f, t
)
SELECT bin, n_ref::BIGINT AS n_ref, n_cur::BIGINT AS n_cur,
       round((p - q) * ln(p / q), 6) AS psi_contrib,
       round(sum(floor((p - q) * ln(p / q) * 1000000000)::BIGINT) OVER ()
             / 1000000000.0, 6) AS psi_total
FROM g
"""


@register("events_psi_value_drift", _PSI_ORACLE)
def events_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value feature, first vs
    second half of the month (operators/features.psi_drift): fixed
    10-bin grid, add-one smoothing, and the FULL bin spine materialized
    so zero-count bins still carry their smoothed term (the chi-square
    zero-cell lesson, applied before it bites). One conditional-count
    pass over the rows; the PSI algebra runs entirely on the 10-row
    bin relation."""
    from olake_spark.operators.features import psi_drift

    ev = table(spark, sf_dir, "events")
    return psi_drift(
        ev, "value",
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
        lo=0.0, hi=500.0, nbins=10,
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users to date (first-touch linearization)
# ---------------------------------------------------------------------------

_CUMUSERS_ORACLE = """
WITH fu AS (
  SELECT user_id, min(floor(epoch_us(ts) / 86400000000))::BIGINT AS d
  FROM events GROUP BY 1
),
pd AS (SELECT d, count(*) AS new_keys FROM fu GROUP BY 1)
SELECT d AS bucket, new_keys::BIGINT AS new_keys,
       sum(new_keys) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT
         AS cum_keys
FROM pd
"""


@register("events_cumulative_users", _CUMUSERS_ORACLE)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-ever-seen-by-day curve (operators/timeseries.
    cumulative_first_seen): cumulative COUNT(DISTINCT) is quadratic
    done naively; first-touch linearizes it — each user collapses to
    their min day (one shuffle on the user key), then the running sum
    is a window over the DAY relation. The acquisition chart that still
    works when users are 10^9."""
    from olake_spark.operators.timeseries import cumulative_first_seen

    return cumulative_first_seen(
        table(spark, sf_dir, "events"), "ts", "user_id", step="1 day"
    )


# ---------------------------------------------------------------------------
# Audience overlap: exact pairwise Jaccard between event-type user bases
# ---------------------------------------------------------------------------

_AUDIENCE_OVERLAP_ORACLE = """
WITH gm AS (SELECT DISTINCT event_type AS g, user_id AS m FROM events),
sizes AS (SELECT g, count(*) AS n FROM gm GROUP BY g),
inter AS (
  SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_inter
  FROM gm a JOIN gm b ON a.m = b.m AND a.g < b.g
  GROUP BY 1, 2
  HAVING count(*) >= 1
)
SELECT group_a, group_b, sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
       n_inter::BIGINT AS n_inter,
       round(n_inter::DOUBLE / (sa.n + sb.n - n_inter)::DOUBLE, 6) AS jaccard
FROM inter JOIN sizes sa ON sa.g = inter.group_a
           JOIN sizes sb ON sb.g = inter.group_b
"""


@register("events_audience_overlap", _AUDIENCE_OVERLAP_ORACLE)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard overlap between every pair of event-type user
    bases (operators/overlap.set_overlap_matrix): the member-
    co-partitioned self-join produces each intersection element as a
    pair row (fan-out per user = C(types-the-user-has, 2), an
    enum-bounded constant), sizes broadcast back — never a collected
    set. The exact twin of the KMV overlap sketch."""
    from olake_spark.operators.overlap import set_overlap_matrix

    return set_overlap_matrix(
        table(spark, sf_dir, "events"), "event_type", "user_id"
    )


# ---------------------------------------------------------------------------
# Time-to-convert histogram (first view → first purchase delay)
# ---------------------------------------------------------------------------

_TIME_TO_CONVERT_ORACLE = """
WITH firsts AS (
  SELECT user_id AS u, min(epoch_us(ts)) AS t_from
  FROM events WHERE event_type = 'view' GROUP BY 1
),
conv AS (
  SELECT e.user_id AS u, min(epoch_us(e.ts) - f.t_from) AS delay_us
  FROM events e JOIN firsts f ON e.user_id = f.u
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.t_from
  GROUP BY 1
)
SELECT floor(delay_us / 3600000000)::BIGINT AS delay_bucket,
       count(*)::BIGINT AS n_users
FROM conv GROUP BY 1
"""


@register("events_time_to_convert", _TIME_TO_CONVERT_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view→first-purchase delay histogram in hour buckets
    (operators/sessions.conversion_delay_histogram): the funnel's
    missing time axis. Exact microsecond BIGINT delays; one shuffle
    keys users, the purchase events join back co-partitioned, and the
    histogram reduces map-side. Users who never viewed, or purchased
    only before viewing, emit nothing (pinned in both engines)."""
    from olake_spark.operators.sessions import conversion_delay_histogram

    return conversion_delay_histogram(
        table(spark, sf_dir, "events"), "ts", "user_id", "event_type",
        "view", "purchase", bucket="1 hour",
    )


# ---------------------------------------------------------------------------
# Mutual information between categorical columns
# ---------------------------------------------------------------------------

_MUTUAL_INFO_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS x, l_linestatus AS y, count(*)::HUGEINT AS c
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
  GROUP BY 1, 2
),
m AS (
  SELECT x, y, c,
         sum(c) OVER (PARTITION BY x) AS cx,
         sum(c) OVER (PARTITION BY y) AS cy,
         sum(c) OVER () AS n,
         row_number() OVER (PARTITION BY x ORDER BY y) AS rx,
         row_number() OVER (PARTITION BY y ORDER BY x) AS ry
  FROM cells
),
t AS (
  SELECT any_value(n) AS n, count(*) AS n_cells,
    sum(floor((c::DOUBLE / n::DOUBLE)
              * ln((c * n)::DOUBLE / (cx * cy)::DOUBLE)
              * 1000000000)::BIGINT) AS mi_nano,
    sum(CASE WHEN rx = 1 THEN
          floor(-(cx::DOUBLE / n::DOUBLE) * ln(cx::DOUBLE / n::DOUBLE)
                * 1000000000)::BIGINT ELSE 0 END) AS hx_nano,
    sum(CASE WHEN ry = 1 THEN
          floor(-(cy::DOUBLE / n::DOUBLE) * ln(cy::DOUBLE / n::DOUBLE)
                * 1000000000)::BIGINT ELSE 0 END) AS hy_nano
  FROM m
)
SELECT n::BIGINT AS n, n_cells::BIGINT AS n_cells,
       round(mi_nano / 1000000000.0, 6) AS mi,
       round(hx_nano / 1000000000.0, 6) AS h_x,
       round(hy_nano / 1000000000.0, 6) AS h_y,
       CASE WHEN hx_nano > 0 AND hy_nano > 0
            THEN round((mi_nano / 1000000000.0)
                       / sqrt((hx_nano / 1000000000.0)
                              * (hy_nano / 1000000000.0)), 6)
       END AS nmi
FROM t
"""


@register("lineitem_mutual_info", _MUTUAL_INFO_ORACLE)
def lineitem_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + normalized MI between return flag and line
    status (operators/audit.mutual_information) — the feature-relevance
    screen in nats. Zero cells contribute exactly 0 so only observed
    cells materialize (unlike chi-square); marginals are windows over
    the CELL relation; the MI/entropy sums accumulate nano-floored
    BIGINTs so the float-sum order can't flip a hash."""
    from olake_spark.operators.audit import mutual_information

    return mutual_information(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus"
    )


# ---------------------------------------------------------------------------
# New-vs-returning user census per day
# ---------------------------------------------------------------------------

_NEW_RETURNING_ORACLE = """
WITH kb AS (
  SELECT DISTINCT user_id AS k,
         floor(epoch_us(ts) / 86400000000)::BIGINT AS bucket
  FROM events
),
f AS (SELECT k, min(bucket) AS fb FROM kb GROUP BY 1)
SELECT kb.bucket, count(*)::BIGINT AS n_active,
       sum(CASE WHEN kb.bucket = f.fb THEN 1 ELSE 0 END)::BIGINT AS n_new,
       sum(CASE WHEN kb.bucket > f.fb THEN 1 ELSE 0 END)::BIGINT
         AS n_returning
FROM kb JOIN f ON f.k = kb.k
GROUP BY 1
"""


@register("events_new_vs_returning", _NEW_RETURNING_ORACLE)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active/new/returning split (operators/timeseries.
    new_vs_returning): first-touch linearization again — distinct
    (user, day) once, per-user min day joins back co-partitioned, and
    the census reduces map-side onto the day grid. The growth-vs-
    retention dashboard primitive."""
    from olake_spark.operators.timeseries import new_vs_returning

    return new_vs_returning(
        table(spark, sf_dir, "events"), "ts", "user_id", step="1 day"
    )


# ---------------------------------------------------------------------------
# Quantile normalization: align per-group distributions onto the pooled one
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS grp, round(l_extendedprice * 1000000)::BIGINT AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
r AS (
  SELECT grp, v,
         (2 * rank() OVER (PARTITION BY grp ORDER BY v)
          + count(*) OVER (PARTITION BY grp, v) - 1)::HUGEINT AS rank2,
         count(*) OVER (PARTITION BY grp)::HUGEINT AS ng,
         count(*) OVER ()::HUGEINT AS n
  FROM base
),
pooled AS (
  SELECT row_number() OVER (ORDER BY v) AS pr, v AS nv FROM base
)
SELECT r.grp AS "group", r.v AS v_micro, p.nv AS norm_micro
FROM r JOIN pooled p
  ON p.pr = (r.rank2 * r.n + 2 * r.ng - 1) // (2 * r.ng)
"""


@register("feature_quantile_normalize", _QNORM_ORACLE)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize prices across return flags onto the pooled
    distribution (operators/features.quantile_normalize) — the
    batch-effect corrector. The within-group position is the doubled
    average rank from per-group distinct-value windows; the pooled
    target rank is an exact rational ceiling (never a float quantile);
    the lookup is one equi-join against dense_ids pooled order
    statistics. The oracle's three windows over raw rows are the
    single-sort plan the operator decomposes away."""
    from olake_spark.operators.features import quantile_normalize

    return quantile_normalize(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected census
# ---------------------------------------------------------------------------

_GROWTH_ACCT_ORACLE = """
WITH kb AS (
  SELECT DISTINCT user_id AS k,
         floor(epoch_us(ts) / 86400000000)::BIGINT AS bucket
  FROM events
),
c AS (
  SELECT bucket,
         CASE WHEN lag(bucket) OVER (PARTITION BY k ORDER BY bucket) IS NULL
              THEN 'new'
              WHEN bucket - lag(bucket) OVER (PARTITION BY k ORDER BY bucket)
                   <= 7
              THEN 'retained'
              ELSE 'resurrected' END AS cls
  FROM kb
)
SELECT bucket, count(*)::BIGINT AS n_active,
       sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
       sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)::BIGINT
         AS n_retained,
       sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)::BIGINT
         AS n_resurrected
FROM c GROUP BY 1
"""


@register("events_growth_accounting", _GROWTH_ACCT_ORACLE)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting (operators/timeseries.growth_accounting):
    every active user classifies as new / retained (back within 7 days)
    / resurrected (away longer) from ONE per-user lag window over the
    distinct (user, day) relation — no history self-join. The MAU
    decomposition chart, census'd map-side."""
    from olake_spark.operators.timeseries import growth_accounting

    return growth_accounting(
        table(spark, sf_dir, "events"), "ts", "user_id",
        step="1 day", resurrect_after=7,
    )


# ---------------------------------------------------------------------------
# Weighted median: the price at which half the quantity trades
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm,
         round(l_quantity * 1000000)::BIGINT AS wm
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
pv AS (SELECT g, vm, sum(wm)::HUGEINT AS w FROM v GROUP BY 1, 2),
cum AS (
  SELECT g, vm,
         sum(w) OVER (PARTITION BY g ORDER BY vm ROWS UNBOUNDED PRECEDING)
           AS cw,
         sum(w) OVER (PARTITION BY g) AS wt
  FROM pv
)
SELECT g AS l_returnflag, any_value(wt)::BIGINT AS w_total_micro,
       min(CASE WHEN 2 * cw >= wt THEN vm END)::BIGINT AS wmedian_micro,
       round(min(CASE WHEN 2 * cw >= wt THEN vm END) / 1000000.0, 4)
         AS wmedian
FROM cum GROUP BY g
"""


@register("lineitem_weighted_median_price", _WMEDIAN_ORACLE)
def lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (operators/
    quantiles.weighted_median): the smallest price whose cumulative
    quantity reaches half the total — min{v : 2·cum(v) ≥ W} in pure
    integer comparisons. One shuffle onto (flag, price); the cumulative
    window runs over the per-group distinct-price relation, never raw
    rows."""
    from olake_spark.operators.quantiles import weighted_median

    return weighted_median(
        table(spark, sf_dir, "lineitem"), ["l_returnflag"],
        "l_extendedprice", "l_quantity",
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration per nation
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH ck AS (
  SELECT c.c_nationkey AS g, o.o_custkey AS k,
         round(o.o_totalprice * 1000000)::BIGINT AS vm
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
pk AS (SELECT g, k, sum(vm)::HUGEINT AS x FROM ck GROUP BY 1, 2),
a AS (
  SELECT g, count(*) AS n_keys, sum(x * x) AS num, sum(x) AS tot
  FROM pk GROUP BY g
)
SELECT g AS c_nationkey, n_keys::BIGINT AS n_keys,
       round(num::DOUBLE / (tot * tot)::DOUBLE, 6) AS hhi,
       CASE WHEN n_keys > 1 THEN
         round((num::DOUBLE / (tot * tot)::DOUBLE - 1.0 / n_keys::DOUBLE)
               / (1.0 - 1.0 / n_keys::DOUBLE), 6) END AS hhi_normalized
FROM a
"""


@register("orders_hhi_by_nation", _HHI_ORACLE)
def orders_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue Herfindahl index per nation (operators/audit.
    hhi_concentration): Σ share² from exact DECIMAL(38,0) micro-unit
    sums, one divide at the end — the dominance screen sharper than
    top-k share. Customer dim broadcasts onto orders; two map-side-
    combinable shuffles, nothing sorted."""
    from olake_spark.operators.audit import hhi_concentration

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return hhi_concentration(j, "c_nationkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Cohort LTV triangle
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
WITH facts AS (
  SELECT o_custkey AS k,
         (12 * year(o_orderdate::DATE) + month(o_orderdate::DATE) - 1)::BIGINT
           AS m,
         round(o_totalprice * 1000000)::BIGINT AS vm
  FROM orders
),
f AS (SELECT k, min(m) AS cohort_month FROM facts GROUP BY 1),
sz AS (SELECT cohort_month, count(*) AS n_customers FROM f GROUP BY 1),
grid AS (
  SELECT f.cohort_month, facts.m - f.cohort_month AS age_months,
         sum(vm) AS rev_micro
  FROM facts JOIN f USING (k)
  GROUP BY 1, 2
)
SELECT g.cohort_month, g.age_months,
       sz.n_customers::BIGINT AS n_customers,
       g.rev_micro::BIGINT AS rev_micro,
       sum(g.rev_micro) OVER (PARTITION BY g.cohort_month
                              ORDER BY g.age_months
                              ROWS UNBOUNDED PRECEDING)::BIGINT
         AS cum_rev_micro
FROM grid g JOIN sz USING (cohort_month)
"""


@register("orders_ltv_cohorts", _LTV_ORACLE)
def orders_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-purchase-month cohort LTV triangle (operators/timeseries.
    ltv_cohort_curve): revenue accumulated by month-age, exact micro
    BIGINTs, portable integer month numbers (12·year + month − 1 from
    the DATE — no epoch division, no tz). One shuffle keys customers;
    the cumulative window runs over the tiny (cohort, age) grid."""
    from olake_spark.operators.timeseries import ltv_cohort_curve

    return ltv_cohort_curve(
        table(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# Most-travelled event paths (length-3 n-grams)
# ---------------------------------------------------------------------------

_PATH_TRIGRAMS_ORACLE = """
WITH seq AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_type)
)
SELECT event_type || '>' || t2 || '>' || t3 AS path,
       count(*)::BIGINT AS n_occurrences
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1 HAVING count(*) >= 2
"""


@register("events_path_trigrams", _PATH_TRIGRAMS_ORACLE)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-travelled 3-step event paths (operators/sessions.
    event_path_ngrams): consecutive event-type trigrams per user from
    one window spec (one exchange + one sort), census'd map-side — the
    Sankey-funnel edge list, generalizing the 2-step transition
    matrix."""
    from olake_spark.operators.sessions import event_path_ngrams

    return event_path_ngrams(
        table(spark, sf_dir, "events"), "ts", "user_id", "event_type",
        n=3, min_count=2,
    )


# ---------------------------------------------------------------------------
# Theil inequality index per nation
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH ck AS (
  SELECT c.c_nationkey AS g, o.o_custkey AS k,
         round(o.o_totalprice * 1000000)::BIGINT AS vm
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
pk AS (SELECT g, k, sum(vm)::HUGEINT AS x FROM ck GROUP BY 1, 2),
m AS (
  SELECT g, x,
         sum(x) OVER (PARTITION BY g) AS tot,
         count(*) OVER (PARTITION BY g) AS n
  FROM pk
),
a AS (
  SELECT g, any_value(n) AS n_keys,
    sum(CASE WHEN x > 0 THEN
      floor((x::DOUBLE / tot::DOUBLE)
            * ln((x::DOUBLE / tot::DOUBLE) * n::DOUBLE)
            * 1000000000)::BIGINT
      ELSE 0 END) AS t_nano
  FROM m GROUP BY g
)
SELECT g AS c_nationkey, n_keys::BIGINT AS n_keys,
       round(t_nano / 1000000000.0, 6) AS theil,
       CASE WHEN n_keys > 1
            THEN round((t_nano / 1000000000.0) / ln(n_keys::DOUBLE), 6)
       END AS theil_normalized
FROM a
"""


@register("orders_theil_by_nation", _THEIL_ORACLE)
def orders_theil_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T revenue inequality per nation (operators/audit.
    theil_index): the entropy-based concentration measure that
    decomposes additively — completing the inequality family next to
    Gini (sorted-cumulative) and HHI (sum of squares). Exact micro
    shares; per-key ln terms accumulate nano-floored BIGINTs."""
    from olake_spark.operators.audit import theil_index

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return theil_index(j, "c_nationkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (the baseline Holt must beat)
# ---------------------------------------------------------------------------

_SNAIVE_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT) AS y
  FROM events GROUP BY 1
),
j AS (
  SELECT a.y AS y, b.y AS yhat
  FROM daily a JOIN daily b ON a.t = b.t + 7
),
agg AS (
  SELECT count(*)::HUGEINT AS n_pairs,
         sum(abs(y - yhat)::HUGEINT) AS ae,
         sum(CASE WHEN y <> 0 THEN
            floor(abs(y - yhat)::DOUBLE / abs(y)::DOUBLE
                  * 1000000000)::BIGINT END) AS mape_nano,
         sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS n_nonzero
  FROM j
)
SELECT n_pairs::BIGINT AS n_pairs,
       (ae // n_pairs)::BIGINT AS mae_micro,
       round(ae::DOUBLE / (n_pairs::DOUBLE * 1000000.0), 6) AS mae,
       CASE WHEN n_nonzero > 0
            THEN round((mape_nano / 1000000000.0) / n_nonzero::DOUBLE, 6)
       END AS mape
FROM agg
"""


@register("events_seasonal_naive_backtest", _SNAIVE_ORACLE)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 seasonal-naive backtest of the daily revenue series
    (operators/forecast.seasonal_naive_backtest): the no-parameter
    baseline the Holt backtest must beat. Exact BIGINT absolute errors,
    one late divide for MAE; MAPE ratios nano-floored. One bucket
    shuffle + a bucket-sized season-lag self-join."""
    from olake_spark.operators.forecast import seasonal_naive_backtest

    return seasonal_naive_backtest(
        table(spark, sf_dir, "events"), "ts", "value",
        step="1 day", season=7,
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen slope on the daily series
# ---------------------------------------------------------------------------

_MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT) AS y
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.t AS ta, b.t AS tb,
         sign((b.y - a.y)::DOUBLE)::BIGINT AS sgn,
         (b.y - a.y)::DOUBLE / (b.t - a.t)::DOUBLE AS slope
  FROM daily a JOIN daily b ON a.t < b.t
),
r AS (
  SELECT sgn, slope,
         row_number() OVER (ORDER BY slope, ta, tb) AS rn,
         count(*) OVER () AS m
  FROM pairs
),
st AS (
  SELECT sum(sgn) AS s,
         max(CASE WHEN rn = ceil(m / 2.0) THEN slope END) AS sen
  FROM r
),
tt AS (
  SELECT sum(t*(t-1)*(2*t+5))::HUGEINT AS tie_term, sum(t)::HUGEINT AS n
  FROM (SELECT count(*)::HUGEINT AS t FROM daily GROUP BY y)
),
f AS (
  SELECT st.s, st.sen, tt.n,
         (tt.n*(tt.n-1)*(2*tt.n+5) - tt.tie_term)::DOUBLE / 18.0 AS var_s
  FROM st, tt
)
SELECT n::BIGINT AS n_buckets, s::BIGINT AS s_stat,
       round(var_s, 6) AS var_s,
       CASE WHEN var_s > 0 THEN
         round(CASE WHEN s > 0 THEN (s::DOUBLE - 1.0) / sqrt(var_s)
                    WHEN s < 0 THEN (s::DOUBLE + 1.0) / sqrt(var_s)
                    ELSE 0.0 END, 6)
       END AS z,
       round(sen, 4) AS sen_slope_micro,
       round(sen / 1000000.0, 6) AS sen_slope
FROM f
"""


@register("events_mann_kendall", _MANN_KENDALL_ORACLE)
def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope on the daily revenue
    series (operators/robust_trend.mann_kendall_theil_sen): the
    nonparametric is-it-trending pairing that shrugs off the outliers
    that bend least-squares (trend_slope's robust sibling). S and the
    tie-corrected variance numerator are exact integers; the Sen slope
    is the rank-ceil(m/2) pairwise slope, each slope one identical IEEE
    divide. Pair relation is BUCKET-sized squared (30 days → 435
    pairs) — the raw rows are touched once by bucketize."""
    from olake_spark.operators.robust_trend import mann_kendall_theil_sen

    return mann_kendall_theil_sen(
        table(spark, sf_dir, "events"), "ts", "value", step="1 day"
    )


# ---------------------------------------------------------------------------
# CUBE: all 2^k granularities in one pass (completes rollup/grouping-sets)
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*)::BIGINT AS n,
       sum(round(l_extendedprice * 1000000)::BIGINT)::BIGINT AS price_micro,
       grouping(l_returnflag)::INT * 2 + grouping(l_linestatus)::INT AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("lineitem_cube", _CUBE_ORACLE)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all four granularities from
    ONE Expand + one map-side-combinable hash aggregate (the third leg
    of the rollup / grouping-sets / cube family). grouping_id
    disambiguates rolled-up NULLs from real ones; revenue sums as exact
    micro BIGINTs."""
    li = table(spark, sf_dir, "lineitem")
    pm = F.round(F.col("l_extendedprice") * 1_000_000).cast("long")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pm).alias("price_micro"),
        F.grouping_id().cast("int").alias("gid"),
    )


# ---------------------------------------------------------------------------
# Order-size (basket degree) distribution
# ---------------------------------------------------------------------------

_ORDER_SIZE_ORACLE = """
WITH sz AS (
  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
)
SELECT n_lines::BIGINT AS n_lines, count(*)::BIGINT AS n_orders
FROM sz GROUP BY 1
"""


@register("orders_size_distribution", _ORDER_SIZE_ORACLE)
def orders_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size (lines per order) distribution — the degree histogram
    that justifies every basket-bounded self-join in this repo (pair
    lift, item neighbors): two map-side-combinable counts-of-counts
    shuffles, the second on the tiny size domain (13 values here)."""
    li = table(spark, sf_dir, "lineitem")
    sz = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return sz.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Daily bounce rate (single-event sessions), composed on the sessionizer
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = """
WITH lagged AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END
           AS is_new
  FROM lagged
), numbered AS (
  SELECT user_id, ts,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id, count(*) AS n,
         min(floor(epoch_us(ts) / 86400000000)::BIGINT) AS day
  FROM numbered GROUP BY 1, 2
)
SELECT day, count(*)::BIGINT AS n_sessions,
       sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 6) AS bounce_rate
FROM sess GROUP BY 1
"""


@register("events_bounce_rate", _BOUNCE_ORACLE)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate — share of 30-minute-gap sessions containing a
    single event, keyed to the session's start day. Pure composition:
    the sessionize operator's one-shuffle two-window plan feeds a
    session-sized census; one late divide per day."""
    from olake_spark.operators.sessions import sessionize

    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, "ts", ["user_id"], gap="30 minutes")
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
        ).alias("day"),
    )
    return per_sess.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("_n") == 1).cast("long")).alias("n_bounces"),
        F.round(
            F.sum((F.col("_n") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# data-quality audit + histogram profiling
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_HI, _HIST_BINS = 900.0, 105000.0, 16


@register(
    "profile_histogram",
    f"""
    SELECT CAST(least({_HIST_BINS - 1}, greatest(0,
             floor((l_extendedprice::DOUBLE - {_HIST_LO!r}) / {_HIST_HI - _HIST_LO!r}
                   * {_HIST_BINS}))) AS INT) AS bin,
           count(*) AS n
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    GROUP BY 1
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range equi-width histogram of lineitem prices: one groupBy over
    a closed-form bin expression — no sort, no engine-private sketch, so the
    counts are bit-reproducible in ANSI SQL (approx_percentile profiles are
    not). Out-of-range values clamp into the edge bins."""
    from olake_spark.operators.profile import histogram

    li = table(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", _HIST_LO, _HIST_HI, _HIST_BINS)


@register(
    "audit_pk_health",
    """
    SELECT 'orders' AS relation,
           count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_distinct_keys,
           CAST(sum((o_orderkey IS NULL)::BIGINT) AS BIGINT) AS n_null_keys,
           count(o_orderkey) - count(DISTINCT o_orderkey) AS n_excess_rows
    FROM orders
    """,
)
def audit_pk_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key health of a landed table in one aggregation pass: total
    rows, distinct / null / duplicated keys — the check a lake table needs
    because (unlike the reference's source DBs) nothing enforces PKs after
    landing."""
    from olake_spark.operators.audit import audit_keys

    return audit_keys(table(spark, sf_dir, "orders"), ["o_orderkey"], name="orders")


@register(
    "audit_referential",
    """
    SELECT 'lineitem->orders' AS relation,
           (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS n_fk_set,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = lineitem.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders->customer_pruned',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
           (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey % 3 != 0
                 AND c.c_custkey = orders.o_custkey))
    """,
)
def audit_referential_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit via LEFT ANTI joins: lineitem→orders (clean
    by construction) and orders→customer with a third of the customers
    pruned, proving nonzero orphan counting. One shuffle join per relation
    (broadcast when the parent is dim-sized)."""
    from olake_spark.operators.audit import audit_summary

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    return audit_summary(
        [
            ("lineitem->orders", li, o, ["l_orderkey"], ["o_orderkey"]),
            ("orders->customer_pruned", o, c, ["o_custkey"], ["c_custkey"]),
        ]
    )


@register(
    "audit_numeric_outliers",
    """
    WITH nulls AS (
      SELECT l_returnflag AS grp,
             sum((l_extendedprice IS NULL)::BIGINT)::BIGINT AS n_nulls
      FROM lineitem GROUP BY 1
    ), vals AS (
      SELECT l_returnflag AS grp, l_extendedprice::DOUBLE AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), med AS (
      SELECT grp, count(*)::BIGINT AS n, median(v) AS med FROM vals GROUP BY 1
    ), dev AS (
      SELECT vals.grp, m.n, m.med, abs(vals.v - m.med) AS ad
      FROM vals JOIN med m ON vals.grp IS NOT DISTINCT FROM m.grp
    ), mad AS (
      SELECT grp, n, med, median(ad) AS mad FROM dev GROUP BY 1, 2, 3
    ), flagged AS (
      SELECT d.grp, sum((d.ad > 3.0 * 1.4826 * m.mad)::BIGINT)::BIGINT AS n_outliers
      FROM dev d JOIN mad m ON d.grp IS NOT DISTINCT FROM m.grp GROUP BY 1
    )
    SELECT nu.grp AS l_returnflag, coalesce(m.n, 0) AS n, nu.n_nulls,
           round(m.med, 6) AS median, round(m.mad, 6) AS mad,
           coalesce(f.n_outliers, 0) AS n_outliers,
           CASE WHEN m.n > 0 THEN round(f.n_outliers / m.n::DOUBLE, 6) END AS outlier_frac
    FROM nulls nu LEFT JOIN mad m ON nu.grp IS NOT DISTINCT FROM m.grp
    LEFT JOIN flagged f ON nu.grp IS NOT DISTINCT FROM f.grp
    """,
)
def audit_numeric_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust numeric outlier audit (operators/audit.py
    numeric_outlier_stats): per return flag, exact median + MAD of
    extended price and the count beyond 3 scaled MADs — the heavy-tail-
    safe alternative to mean/stddev z-scores. Exact interpolated medians
    match bit-for-bit across engines."""
    from olake_spark.operators.audit import numeric_outlier_stats

    li = table(spark, sf_dir, "lineitem")
    return numeric_outlier_stats(li, "l_returnflag", "l_extendedprice", k=3.0)


# ---------------------------------------------------------------------------
# corpus snapshot diff + length-bucketed batching
# ---------------------------------------------------------------------------


@register(
    "corpus_diff_versions",
    f"""
    WITH old_v AS (SELECT doc_id, md5({_NORM}) AS old_fingerprint FROM documents),
    new_src AS (
      SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 1000, text FROM documents WHERE doc_id < 30
    ),
    new_v AS (SELECT doc_id, md5({_NORM}) AS new_fingerprint FROM new_src)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN old_fingerprint IS DISTINCT FROM new_fingerprint THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_fingerprint, new_fingerprint
    FROM old_v o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id
    """,
)
def corpus_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-governance snapshot diff (operators/audit.py corpus_diff):
    version N+1 drops every 7th doc, edits every 11th, and adds 30 new ids;
    the diff labels each id added/removed/changed/unchanged. One
    full-outer join on the id over scan-side fingerprints — wide text
    never crosses the shuffle."""
    from olake_spark.operators.audit import corpus_diff

    docs = table(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(old, new, "doc_id", "text")


@register(
    "dataset_card",
    f"""
    WITH base AS (
      SELECT doc_id, len({_TOKS})::BIGINT AS nt, md5({_NORM}) AS fp, lang FROM documents
    ),
    g AS (
      SELECT count(*)::BIGINT AS n, sum(nt)::BIGINT AS tot,
             count(DISTINCT fp)::BIGINT AS nfp
      FROM base
    ),
    card AS (
      SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM g
      UNION ALL SELECT 'total_tokens', tot::DOUBLE FROM g
      UNION ALL SELECT 'mean_doc_tokens', round(tot::DOUBLE / n, 6) FROM g
      UNION ALL SELECT 'exact_dup_rate', round(1.0 - nfp::DOUBLE / n, 6) FROM g
    ),
    shares AS (
      SELECT 'lang_share_' || lang AS metric,
             round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) AS value
      FROM documents GROUP BY lang
    )
    SELECT metric, value FROM card UNION ALL SELECT metric, value FROM shares
    """,
)
def dataset_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-note metric block (operators/profile.py dataset_card):
    document count, token totals/means, exact-duplicate rate, language
    shares — one global aggregate plus a language groupBy whose share
    denominator rides a global window over the k-language counts (no
    action during construction, no join)."""
    from olake_spark.operators.profile import dataset_card

    docs = table(spark, sf_dir, "documents")
    return dataset_card(docs, "doc_id", "text", "lang")


@register(
    "profile_cardinality",
    """
    WITH g AS (
      SELECT count(*)::BIGINT AS n,
             sum((o_custkey IS NULL)::INT)::BIGINT AS ck_nulls,
             count(DISTINCT o_custkey)::BIGINT AS ck_nd,
             sum((o_orderstatus IS NULL)::INT)::BIGINT AS st_nulls,
             count(DISTINCT o_orderstatus)::BIGINT AS st_nd,
             sum((o_orderpriority IS NULL)::INT)::BIGINT AS pr_nulls,
             count(DISTINCT o_orderpriority)::BIGINT AS pr_nd
      FROM orders
    )
    SELECT 'o_custkey' AS col, n, ck_nulls AS n_nulls, ck_nd AS n_distinct,
           round(ck_nd / greatest(n - ck_nulls, 1), 6) AS distinct_frac FROM g
    UNION ALL
    SELECT 'o_orderstatus', n, st_nulls, st_nd,
           round(st_nd / greatest(n - st_nulls, 1), 6) FROM g
    UNION ALL
    SELECT 'o_orderpriority', n, pr_nulls, pr_nd,
           round(pr_nd / greatest(n - pr_nulls, 1), 6) FROM g
    """,
)
def profile_cardinality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column cardinality profile (operators/profile.py
    profile_cardinality): count / nulls / exact distinct / distinct
    fraction for three orders columns in ONE aggregation pass — the
    numbers that drive key detection, bucketing, and broadcast decisions.
    approx=True swaps in the HLL++ sketch at scale; exact here for the
    oracle."""
    from olake_spark.operators.profile import profile_cardinality

    orders = table(spark, sf_dir, "orders")
    return profile_cardinality(orders, ["o_custkey", "o_orderstatus", "o_orderpriority"])


# ---------------------------------------------------------------------------
# Exact distributed order statistics (operators/quantiles.py)
# ---------------------------------------------------------------------------

_EXACT_Q_ORACLE = """
WITH v AS (
  SELECT l_returnflag, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem
),
n AS (SELECT l_returnflag, count(*) AS n FROM v GROUP BY 1),
r AS (
  SELECT l_returnflag, vm,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY vm) AS rk
  FROM v
)
SELECT r.l_returnflag, p.p::DOUBLE AS p, round(vm::DOUBLE / 1000000, 4) AS q,
       vm AS q_micros
FROM r JOIN n USING (l_returnflag)
JOIN (VALUES (0.5), (0.9), (0.99)) p(p) ON r.rk = ceil(p.p * n.n)
"""


@register("lineitem_exact_quantiles", _EXACT_Q_ORACLE)
def lineitem_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group p50/p90/p99 with NO global sort and NO per-group
    sort buffer (operators/quantiles.py): iterative histogram bisection
    over exact micro-unit integers — log_B(domain) map-side-combinable
    aggregation passes, each pruned by a literal global bound (parquet
    row-group skipping), all (group, p) searches advancing in one job
    per round. Bit-equal to the oracle's row_number-at-rank-ceil(p*n);
    the scale story Spark's own exact `percentile` (executor sort
    buffer) and `approx_percentile` (inexact by contract) both miss."""
    from olake_spark.operators.quantiles import exact_quantiles

    li = table(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9, 0.99], bins=8192
    )


# ---------------------------------------------------------------------------
# Feature binning with FROZEN edges (fit on train, transform everything) —
# the train/serve-skew guard, composed from exact_quantiles
# ---------------------------------------------------------------------------

_BINNING_ORACLE = """
WITH v AS (
  SELECT l_orderkey, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem
),
train AS (SELECT vm FROM v WHERE l_orderkey % 2 = 0),
n AS (SELECT count(*) AS n FROM train),
r AS (
  SELECT vm, row_number() OVER (ORDER BY vm) AS rk FROM train
),
edges AS MATERIALIZED (
  SELECT p.p, r.vm AS edge
  FROM r JOIN n ON true
  JOIN (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS p) p
    ON r.rk = greatest(1, ceil(p.p * n.n))
),
binned AS (
  SELECT v.vm, (SELECT count(*) FROM edges e WHERE e.edge <= v.vm) AS bin
  FROM v
)
SELECT bin::INT AS bin, count(*)::BIGINT AS n,
       round(min(vm) / 1000000.0, 2) AS min_price,
       round(max(vm) / 1000000.0, 2) AS max_price
FROM binned GROUP BY 1
"""


@register("feature_binning_frozen_edges", _BINNING_ORACLE)
def feature_binning_frozen_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile feature binning with FROZEN edges — fit decile edges on
    the TRAIN split only (even orderkeys) via operators/
    quantiles.exact_quantiles (exact micro-unit order statistics, no
    sort buffer), then transform the WHOLE relation against those
    frozen edges: bin = |edges ≤ v| via a broadcast of the 9-row edge
    set. This is the train/serve-skew guard — re-fitting edges on serve
    data silently shifts bins; frozen edges can't. Report: per-bin count
    + min/max (10 rows at any scale)."""
    from olake_spark.operators.quantiles import exact_quantiles

    li = table(spark, sf_dir, "lineitem")
    vm = F.round(F.col("l_extendedprice") * 1_000_000).cast("long")
    v = li.select(F.col("l_orderkey"), vm.alias("vm"))
    train = li.filter(F.col("l_orderkey") % 2 == 0).select(
        F.lit(1).alias("_g"), "l_extendedprice"
    )
    # q_micros IS the exact micro-unit edge (exact_quantiles quantizes by
    # 10^6 internally — feed it the raw price, never pre-scaled values,
    # or the scaling would compound)
    edges = exact_quantiles(
        train, ["_g"], "l_extendedprice",
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9],
        bins=8192,
    ).select(F.col("q_micros").alias("edge"))
    # bin per DISTINCT value (9x fan-out over the distinct relation only),
    # then join the bin map back — binning the raw rows through the cross
    # join would collapse duplicate values
    vm_bins = (
        v.select("vm").distinct()
        .crossJoin(F.broadcast(edges))
        .groupBy("vm")
        .agg(
            F.sum(
                F.when(F.col("edge") <= F.col("vm"), 1).otherwise(0)
            ).alias("bin")
        )
    )
    return (
        v.join(vm_bins, "vm")
        .groupBy(F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("vm") / 1_000_000.0, 2).alias("min_price"),
            F.round(F.max("vm") / 1_000_000.0, 2).alias("max_price"),
        )
    )


_D38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test (randomness of daily direction)
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT)::BIGINT AS x
  FROM events GROUP BY 1
),
mv AS (
  SELECT t, sign((x - lag(x) OVER (ORDER BY t))::DOUBLE)::INT AS s
  FROM daily
),
mf AS (SELECT t, s FROM mv WHERE s IS NOT NULL AND s != 0),
rr AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY t) IS NULL
                OR s != lag(s) OVER (ORDER BY t) THEN 1 ELSE 0 END AS nr
  FROM mf
),
agg AS (
  SELECT sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)::HUGEINT AS n1,
         sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)::HUGEINT AS n2,
         sum(nr)::HUGEINT AS r
  FROM rr
)
SELECT n1::BIGINT AS n_up, n2::BIGINT AS n_down, r::BIGINT AS runs,
       CASE WHEN (n1 + n2) >= 2
              AND (2*n1*n2*(2*n1*n2 - (n1+n2)))::DOUBLE
                  / ((n1+n2)*(n1+n2)*((n1+n2) - 1))::DOUBLE > 0
       THEN round(
         (r::DOUBLE - ((2*n1*n2)::DOUBLE / (n1+n2)::DOUBLE + 1.0))
         / sqrt((2*n1*n2*(2*n1*n2 - (n1+n2)))::DOUBLE
                / ((n1+n2)*(n1+n2)*((n1+n2) - 1))::DOUBLE), 6)
       END AS z
FROM agg
"""


@register("events_runs_test", _RUNS_ORACLE)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily total's up/down moves
    (operators/robust_trend.runs_test) — the randomness screen run
    before any trend claim. R/n₁/n₂ come from two lag windows over the
    BUCKET-sized relation; z is one IEEE sequence over casts of exact
    DECIMAL(38,0) products."""
    from olake_spark.operators.robust_trend import runs_test

    return runs_test(table(spark, sf_dir, "events"), "ts", "value")


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test
# ---------------------------------------------------------------------------

_WELCH_ORACLE = f"""
WITH {AR_PRICE_MOMENTS_CTE},
d AS (
  SELECT na, nb,
         CASE WHEN na > 0 THEN sa::DOUBLE / na::DOUBLE END AS ma,
         CASE WHEN nb > 0 THEN sb::DOUBLE / nb::DOUBLE END AS mb,
         CASE WHEN na > 1 THEN
           ((na*qa - sa*sa)::DOUBLE / (na*(na-1))::DOUBLE) / na::DOUBLE
         END AS sea,
         CASE WHEN nb > 1 THEN
           ((nb*qb - sb*sb)::DOUBLE / (nb*(nb-1))::DOUBLE) / nb::DOUBLE
         END AS seb
  FROM m
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(ma / 1000000.0, 6) AS mean_a,
       round(mb / 1000000.0, 6) AS mean_b,
       CASE WHEN sea + seb > 0
            THEN round((ma - mb) / sqrt(sea + seb), 6) END AS t,
       CASE WHEN sea + seb > 0
            THEN round((sea + seb) * (sea + seb)
                 / (sea*sea / (na-1)::DOUBLE + seb*seb / (nb-1)::DOUBLE), 6)
       END AS dof
FROM d
"""


@register("lineitem_welch_ttest", _WELCH_ORACLE)
def lineitem_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between returned ('A') and rejected
    ('R') lineitem prices (operators/abtest.welch_ttest) — six exact
    micro-unit moments in one map-side-combinable pass, then one IEEE
    sequence for t and the Welch–Satterthwaite dof."""
    from olake_spark.operators.abtest import welch_ttest

    return welch_ttest(
        table(spark, sf_dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "A", "R",
    )


# ---------------------------------------------------------------------------
# Bowley quartile skewness (keyless PERCENTILE_CONT)
# ---------------------------------------------------------------------------

_BOWLEY_ORACLE = """
WITH v AS (
  SELECT round(l_extendedprice * 1000000)::BIGINT AS vm FROM lineitem
  WHERE l_extendedprice IS NOT NULL
),
r AS (
  SELECT vm, row_number() OVER (ORDER BY vm) AS rn,
         count(*) OVER () AS n
  FROM v
),
hp AS (
  SELECT n, p.p, (n - 1) * p.p + 1 AS h
  FROM (SELECT DISTINCT n FROM r)
  CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75]) AS p) p
),
sel AS (
  SELECT hp.p,
         round((max(CASE WHEN r.rn = floor(hp.h) THEN r.vm END)
                + (hp.h - floor(hp.h))
                  * (max(CASE WHEN r.rn = least(ceil(hp.h), hp.n)
                         THEN r.vm END)
                     - max(CASE WHEN r.rn = floor(hp.h) THEN r.vm END)))
               / 1000000.0, 6) AS q
  FROM hp JOIN r ON r.rn = floor(hp.h) OR r.rn = least(ceil(hp.h), hp.n)
  GROUP BY hp.p, hp.h, hp.n
)
SELECT max(CASE WHEN p = 0.25 THEN q END) AS q1,
       max(CASE WHEN p = 0.5  THEN q END) AS q2,
       max(CASE WHEN p = 0.75 THEN q END) AS q3,
       round((max(CASE WHEN p = 0.75 THEN q END)
              + max(CASE WHEN p = 0.25 THEN q END)
              - 2 * max(CASE WHEN p = 0.5 THEN q END))
             / (max(CASE WHEN p = 0.75 THEN q END)
                - max(CASE WHEN p = 0.25 THEN q END)), 6) AS bowley
FROM sel
"""


@register("lineitem_bowley_skewness", _BOWLEY_ORACLE)
def lineitem_bowley_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of the GLOBAL price distribution —
    (Q3 + Q1 − 2·Q2)/(Q3 − Q1) over ANSI PERCENTILE_CONT quartiles.
    Exercises the KEYLESS path of the shared histogram-bisection
    machinery (operators/quantiles.percentile_cont with keys=[]); the
    skewness ratio divides the already-round-6 interpolated quartiles,
    so the final round is engine-stable."""
    from olake_spark.operators.quantiles import percentile_cont

    pc = percentile_cont(
        table(spark, sf_dir, "lineitem"), [], "l_extendedprice",
        [0.25, 0.5, 0.75], bins=2048,
    )
    agg = pc.agg(
        F.max(F.when(F.col("p") == 0.25, F.col("q_cont"))).alias("q1"),
        F.max(F.when(F.col("p") == 0.5, F.col("q_cont"))).alias("q2"),
        F.max(F.when(F.col("p") == 0.75, F.col("q_cont"))).alias("q3"),
    )
    return agg.select(
        "q1", "q2", "q3",
        F.round(
            F.try_divide(
                F.col("q3") + F.col("q1") - 2 * F.col("q2"),
                F.col("q3") - F.col("q1"),
            ),
            6,
        ).alias("bowley"),
    )


# ---------------------------------------------------------------------------
# dispersion (Fano) index per event type
# ---------------------------------------------------------------------------

_DISPERSION_ORACLE = """
WITH b AS (
  SELECT event_type, floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, count(*)::HUGEINT AS nb, sum(c)::HUGEINT AS s,
         sum(c::HUGEINT * c) AS q
  FROM b GROUP BY 1
)
SELECT event_type, nb::BIGINT AS n_buckets, s::BIGINT AS n_events,
       round(s::DOUBLE / nb::DOUBLE, 6) AS mean,
       CASE WHEN nb > 1 THEN
         round((nb*q - s*s)::DOUBLE / (nb*(nb-1))::DOUBLE, 6) END AS var,
       CASE WHEN nb > 1 AND s::DOUBLE / nb::DOUBLE != 0 THEN
         round(((nb*q - s*s)::DOUBLE / (nb*(nb-1))::DOUBLE)
               / (s::DOUBLE / nb::DOUBLE), 6) END AS vmr
FROM m
"""


@register("events_dispersion_index", _DISPERSION_ORACLE)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio (Fano factor) of daily event counts per
    type (operators/timeseries.dispersion_index) — the overdispersion
    screen before any Poisson assumption. Exact integer moments over
    the bucket relation; one divide each for mean/var/VMR."""
    from olake_spark.operators.timeseries import dispersion_index

    return dispersion_index(
        table(spark, sf_dir, "events"), "ts", ["event_type"], "value"
    )


# ---------------------------------------------------------------------------
# Cramér's V (normalized chi-square effect size)
# ---------------------------------------------------------------------------

_CRAMERS_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
obs AS (SELECT segment, priority, count(*) AS n FROM j GROUP BY 1, 2),
cells AS (
  SELECT g.segment, g.priority, coalesce(o.n, 0) AS n
  FROM (SELECT s.segment, p.priority
        FROM (SELECT DISTINCT segment FROM j) s
        CROSS JOIN (SELECT DISTINCT priority FROM j) p) g
  LEFT JOIN obs o ON o.segment = g.segment AND o.priority = g.priority
),
w AS (
  SELECT segment, priority, n,
         sum(n) OVER (PARTITION BY segment) AS r,
         sum(n) OVER (PARTITION BY priority) AS c,
         sum(n) OVER () AS g
  FROM cells
),
cell AS (
  SELECT n,
         (((n::HUGEINT * g - r::HUGEINT * c)
           * (n::HUGEINT * g - r::HUGEINT * c) * 1000000)
          // (g::HUGEINT * r * c))::BIGINT AS cm
  FROM w
),
agg AS (
  SELECT (SELECT sum(n) FROM cell) AS n,
         (SELECT count(DISTINCT segment) FROM cells) AS nr,
         (SELECT count(DISTINCT priority) FROM cells) AS nc,
         (SELECT sum(cm) FROM cell) AS chi2m
)
SELECT n::BIGINT AS n, nr::BIGINT AS n_row_levels,
       nc::BIGINT AS n_col_levels, chi2m::BIGINT AS chi2_total_micro,
       CASE WHEN least(nr, nc) - 1 > 0 THEN
         round(sqrt((chi2m::DOUBLE / 1000000.0 / n::DOUBLE)
                    / (least(nr, nc) - 1)::DOUBLE), 6) END AS v
FROM agg
"""


@register("orders_cramers_v", _CRAMERS_ORACLE)
def orders_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between customer segment and order priority
    (operators/audit.cramers_v) — the [0,1]-normalized effect size over
    the chi-square operator's exact floor-micro cell integers; the
    same complete-grid contingency as orders_chi2_independence."""
    from olake_spark.operators.audit import cramers_v

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    )
    return cramers_v(j, "segment", "priority")


# ---------------------------------------------------------------------------
# Tukey boxplot fences + outlier census per return flag
# ---------------------------------------------------------------------------

_TUKEY_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
r AS (
  SELECT g, vm, row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM v
),
q AS (
  SELECT g,
         max(CASE WHEN rn = greatest(1, ceil(0.25 * n)) THEN vm END) AS q1,
         max(CASE WHEN rn = greatest(1, ceil(0.75 * n)) THEN vm END) AS q3
  FROM r GROUP BY 1
),
f AS (
  SELECT g, q1, q3,
         q1 - (3 * (q3 - q1)) // 2 AS lo,
         q3 + (3 * (q3 - q1)) // 2 AS hi
  FROM q
)
SELECT v.g AS l_returnflag, count(*)::BIGINT AS n,
       any_value(f.q1)::BIGINT AS q1_micros,
       any_value(f.q3)::BIGINT AS q3_micros,
       any_value(f.lo)::BIGINT AS lo_fence_micros,
       any_value(f.hi)::BIGINT AS hi_fence_micros,
       sum(CASE WHEN v.vm < f.lo OR v.vm > f.hi THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers,
       min(CASE WHEN v.vm < f.lo OR v.vm > f.hi THEN v.vm END)
         AS min_outlier_micros,
       max(CASE WHEN v.vm < f.lo OR v.vm > f.hi THEN v.vm END)
         AS max_outlier_micros
FROM v JOIN f ON f.g = v.g
GROUP BY 1
"""


@register("lineitem_tukey_fences", _TUKEY_ORACLE)
def lineitem_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR fences + outlier census per return flag
    (operators/quantiles.tukey_fences): exact rank-⌈p·n⌉ quartiles from
    the shared bisection sweep, integer fences via (3·IQR) div 2, one
    broadcast-join census pass. The IQR complement to the MAD rule."""
    from olake_spark.operators.quantiles import tukey_fences

    return tukey_fences(
        table(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# trend / seasonality strength over the decomposition
# ---------------------------------------------------------------------------

_STRENGTH_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS bucket,
         sum(round(value * 1000000)::BIGINT)::BIGINT AS x
  FROM events GROUP BY 1
),
tr AS (
  SELECT bucket, x,
         (sum(x) OVER w // count(*) OVER w)::BIGINT AS trend
  FROM daily
  WINDOW w AS (ORDER BY bucket ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT bucket, x, trend, (bucket % 7)::INT AS phase, x - trend AS d
  FROM tr
),
sea AS (
  SELECT *, (sum(d) OVER (PARTITION BY phase)
             // count(*) OVER (PARTITION BY phase))::BIGINT AS seasonal
  FROM det
),
comp AS (
  SELECT (x - trend - seasonal)::HUGEINT AS r,
         (x - trend)::HUGEINT AS sr,
         (x - seasonal)::HUGEINT AS tc
  FROM sea
),
m AS (
  SELECT count(*)::HUGEINT AS n,
         sum(r) AS s_r, sum(r*r) AS q_r,
         sum(sr) AS s_s, sum(sr*sr) AS q_s,
         sum(tc) AS s_t, sum(tc*tc) AS q_t
  FROM comp
)
SELECT n::BIGINT AS n_buckets,
       CASE WHEN n*q_t - s_t*s_t > 0 THEN
         round(greatest(0.0, 1.0 - (n*q_r - s_r*s_r)::DOUBLE
                                   / (n*q_t - s_t*s_t)::DOUBLE), 6)
       END AS strength_trend,
       CASE WHEN n*q_s - s_s*s_s > 0 THEN
         round(greatest(0.0, 1.0 - (n*q_r - s_r*s_r)::DOUBLE
                                   / (n*q_s - s_s*s_s)::DOUBLE), 6)
       END AS strength_seasonal
FROM m
"""


@register("events_seasonal_strength", _STRENGTH_ORACLE)
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman trend/seasonality strength F-statistics over the
    classical decomposition (operators/timeseries.seasonal_strength):
    unnormalized exact-integer variance numerators (the shared n
    cancels in the ratio), one divide per strength. Answers "how much
    of this series is actually structure?" before forecasting."""
    from olake_spark.operators.timeseries import seasonal_strength

    return seasonal_strength(
        table(spark, sf_dir, "events"), "ts", "value", period=7
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank over per-user pre/post sums
# ---------------------------------------------------------------------------

_WILCOXON_ORACLE = """
WITH u AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
             THEN round(value * 1000000)::BIGINT ELSE 0 END) AS xm,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
             THEN round(value * 1000000)::BIGINT ELSE 0 END) AS ym
  FROM events GROUP BY 1
),
d AS (SELECT ym - xm AS d FROM u WHERE ym - xm != 0),
pv AS (
  SELECT abs(d) AS v, count(*)::HUGEINT AS t,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::HUGEINT AS pos
  FROM d GROUP BY 1
),
rk AS (
  SELECT pos, t,
         2 * (sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - t) + t + 1 AS rank2
  FROM pv
),
s AS (
  SELECT sum(t) AS n, sum(pos * rank2) AS w2p,
         sum(t*t*t - t) AS tie
  FROM rk
)
SELECT n::BIGINT AS n, w2p::BIGINT AS w2_plus, tie::BIGINT AS tie_correction,
       CASE WHEN 2*n*(n+1)*(2*n+1) - tie > 0 THEN
         round((2*w2p - n*(n+1))::DOUBLE
               / (2.0 * sqrt((2*n*(n+1)*(2*n+1) - tie)::DOUBLE / 12.0)), 6)
       END AS z
FROM s
"""


@register("events_wilcoxon_signed_rank", _WILCOXON_ORACLE)
def events_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank over each user's pre- vs post-period value
    sums (operators/abtest.wilcoxon_signed_rank) — the PAIRED
    complement to the Mann-Whitney query, same split date as CUPED.
    Doubled ranks keep tied average ranks integral; the window runs
    over the distinct-|d| relation."""
    from olake_spark.operators.abtest import wilcoxon_signed_rank

    ev = table(spark, sf_dir, "events")
    vm = F.round(F.col("value") * 1_000_000).cast("long")
    split = F.lit("2024-01-16").cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, vm).otherwise(0)).alias("_xm"),
        F.sum(F.when(F.col("ts") >= split, vm).otherwise(0)).alias("_ym"),
    )
    return wilcoxon_signed_rank(u, "_xm", "_ym", scale=1)


# ---------------------------------------------------------------------------
# Markov conditional entropy of event-type transitions
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
cells AS (
  SELECT prev, event_type AS nxt, count(*)::HUGEINT AS c
  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2
),
w AS (
  SELECT c, sum(c) OVER (PARTITION BY prev) AS ci, sum(c) OVER () AS n
  FROM cells
),
s AS (
  SELECT any_value(n) AS n,
         sum(floor((c::DOUBLE / n::DOUBLE)
                   * ln(ci::DOUBLE / c::DOUBLE) * 1000000000)::BIGINT)
           AS h_nano
  FROM w
)
SELECT n::BIGINT AS n_transitions, h_nano::BIGINT AS h_nano,
       round(h_nano::DOUBLE / 1000000000.0, 6) AS h_cond
FROM s
"""


@register("events_markov_entropy", _MARKOV_ORACLE)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | prev) of the per-user event-type
    transition chain — "how predictable is the next step?" (0 =
    deterministic funnel, ln|types| = uniform). Transition cells are a
    per-user lag window (user-partitioned, short sequences); each
    cell's double term is one IEEE sequence and the SUM accumulates
    nano-floored BIGINTs (the chi2/MI floor pattern — order-free,
    bias ≤ |cells|·1e-9)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("_prev"),
        )
        .filter(F.col("_prev").isNotNull())
    )
    cells = trans.groupBy("_prev", "event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("_c")
    )
    wp = W.partitionBy("_prev")
    wt = W.partitionBy()
    terms = cells.select(
        F.col("_c"),
        F.sum("_c").over(wp).alias("_ci"),
        F.sum("_c").over(wt).alias("_n"),
    ).select(
        "_n",
        F.floor(
            (F.col("_c").cast("double") / F.col("_n").cast("double"))
            * F.log(F.col("_ci").cast("double") / F.col("_c").cast("double"))
            * 1e9
        ).cast("long").alias("_t_nano"),
    )
    agg = terms.agg(
        F.first("_n").alias("_n"), F.sum("_t_nano").alias("_h_nano")
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_transitions"),
        F.col("_h_nano").cast("long").alias("h_nano"),
        F.round(F.col("_h_nano").cast("double") / 1e9, 6).alias("h_cond"),
    )


# ---------------------------------------------------------------------------
# log-log price elasticity (OLS slope in ln-space)
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH r AS (
  SELECT ln(l_quantity::DOUBLE) AS lx,
         ln(l_extendedprice / l_quantity) AS ly
  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
),
m AS (
  SELECT count(*)::HUGEINT AS n,
         sum(floor(lx * 1000000000)::BIGINT)::HUGEINT AS sx,
         sum(floor(ly * 1000000000)::BIGINT)::HUGEINT AS sy,
         sum(floor(lx * lx * 1000000000)::BIGINT)::HUGEINT AS sxx,
         sum(floor(lx * ly * 1000000000)::BIGINT)::HUGEINT AS sxy
  FROM r
)
SELECT n::BIGINT AS n,
       round((n*1000000000*sxy - sx*sy)::DOUBLE
             / (n*1000000000*sxx - sx*sx)::DOUBLE, 6) AS elasticity,
       round((sy::DOUBLE - ((n*1000000000*sxy - sx*sy)::DOUBLE
                            / (n*1000000000*sxx - sx*sx)::DOUBLE)
                           * sx::DOUBLE)
             / n::DOUBLE / 1000000000.0, 6) + 0.0 AS intercept_ln
FROM m
"""


@register("lineitem_loglog_elasticity", _ELASTICITY_ORACLE)
def lineitem_loglog_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log demand-curve slope: OLS of ln(unit price) on
    ln(quantity) — the standard elasticity read. Per-row ln doubles
    are FLOOR-nano quantized before summation (the surprisal/MI
    pattern — float sums would be partition-order-dependent); the
    slope is one IEEE sequence over casts of the exact nano sums."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    return loglog_elasticity_over(li)


def loglog_elasticity_over(li: DataFrame) -> DataFrame:
    """The query's actual OLS body over any (l_quantity,
    l_extendedprice) relation — factored out so the regression pin in
    tests/test_r10_fuzz.py exercises the REGISTERED expression on a
    synthetic exact-relationship fixture instead of re-implementing
    the math inline (ADVICE r10)."""
    lx = F.log(F.col("l_quantity").cast("double"))
    ly = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    nano = 1e9
    m = li.select(
        F.floor(lx * nano).cast("long").cast(_D38).alias("_x"),
        F.floor(ly * nano).cast("long").cast(_D38).alias("_y"),
        F.floor(lx * lx * nano).cast("long").cast(_D38).alias("_xx"),
        F.floor(lx * ly * nano).cast("long").cast(_D38).alias("_xy"),
    ).agg(
        F.count(F.lit(1)).cast(_D38).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum("_xx").alias("_sxx"),
        F.sum("_xy").alias("_sxy"),
    )
    n = F.col("_n")
    # n·1e9 rescales the single-sum terms to the nano² scale of the
    # sum-product terms (Sxy is nano-scaled, Sx·Sy is nano²-scaled — a
    # bare n would make the slope collapse to Σy/Σx)
    n9 = n * F.lit(1_000_000_000).cast(_D38)
    slope = (n9 * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    ) / (n9 * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    intercept = (
        (F.col("_sy").cast("double") - slope * F.col("_sx").cast("double"))
        / n.cast("double")
        / 1e9
    )
    return m.select(
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("elasticity"),
        # + 0.0 folds IEEE −0.0 to 0.0 (string compare would split them)
        (F.round(intercept, 6) + F.lit(0.0)).alias("intercept_ln"),
    )


# ---------------------------------------------------------------------------
# Pareto skyline — INDEPENDENT brute-force dominance oracle
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH c AS (
  SELECT o_custkey, count(*)::BIGINT AS n_orders,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS spend_cents
  FROM orders GROUP BY 1
)
SELECT a.o_custkey, a.n_orders, a.spend_cents
FROM c a
WHERE NOT EXISTS (
  SELECT 1 FROM c b
  WHERE b.n_orders >= a.n_orders AND b.spend_cents >= a.spend_cents
    AND (b.n_orders > a.n_orders OR b.spend_cents > a.spend_cents)
)
"""


@register("orders_skyline_pareto", _SKYLINE_ORACLE)
def orders_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of customers under (maximize order count,
    maximize total spend) — operators/skyline.pareto_skyline_2d. The
    Spark plan is the distinct-x frontier reduction (one aggregation
    over rows, then domain-sized windows); the oracle is DELIBERATELY
    the brute-force O(n²) NOT EXISTS dominance test, structurally
    independent, so green proves the reduction lossless."""
    from olake_spark.operators.skyline import pareto_skyline_2d

    cust = table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "spend_cents"
        ),
    )
    return pareto_skyline_2d(cust, "n_orders", "spend_cents", ["o_custkey"])


# ---------------------------------------------------------------------------
# Kendall tau-b — INDEPENDENT brute-force pair oracle on a slice
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH s AS (
  SELECT round(l_quantity * 100)::BIGINT AS x,
         round(l_discount * 100)::BIGINT AS y
  FROM lineitem
  WHERE l_orderkey % 97 = 0
    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
),
r AS (SELECT x, y, row_number() OVER () AS rn FROM s),
p AS (
  SELECT
    sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
        THEN 1 ELSE 0 END)::HUGEINT AS conc,
    sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
        THEN 1 ELSE 0 END)::HUGEINT AS disc,
    sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)::HUGEINT AS tx,
    sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)::HUGEINT AS ty
  FROM r a JOIN r b ON a.rn < b.rn
),
n AS (SELECT count(*)::HUGEINT AS n FROM s)
SELECT n.n::BIGINT AS n, p.conc::BIGINT AS concordant,
       p.disc::BIGINT AS discordant,
       p.tx::BIGINT AS ties_x_pairs, p.ty::BIGINT AS ties_y_pairs,
       CASE WHEN n.n*(n.n-1) - 2*p.tx > 0 AND n.n*(n.n-1) - 2*p.ty > 0 THEN
         round((2 * (p.conc - p.disc))::DOUBLE
               / sqrt((n.n*(n.n-1) - 2*p.tx)::DOUBLE
                      * (n.n*(n.n-1) - 2*p.ty)::DOUBLE), 6)
       END AS tau_b
FROM p, n
"""


@register("lineitem_kendall_tau", _KENDALL_ORACLE)
def lineitem_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and discount on a deterministic
    orderkey slice — operators/correlation.kendall_tau_b. The Spark
    plan never enumerates row pairs (concordance counts come from the
    domain-sized cell histogram's cell×cell theta-join); the oracle IS
    the brute-force O(n²) row-pair walk, structurally independent, so
    green proves the histogram rewrite exact."""
    from olake_spark.operators.correlation import kendall_tau_b

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 97 == 0
    )
    return kendall_tau_b(li, "l_quantity", "l_discount", scale=100)


# ---------------------------------------------------------------------------
# difference-in-differences
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH obs AS (
  SELECT (c.c_nationkey % 2)::INT * 2
         + (CASE WHEN o.o_orderdate >= TIMESTAMP '1997-01-01'
                 THEN 1 ELSE 0 END) AS cell,
         round(o.o_totalprice * 1000000)::BIGINT AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o.o_totalprice IS NOT NULL
),
m AS (
  SELECT
    sum(CASE WHEN cell = 0 THEN 1 ELSE 0 END)::HUGEINT AS nc0,
    sum(CASE WHEN cell = 0 THEN v ELSE 0 END)::HUGEINT AS sc0,
    sum(CASE WHEN cell = 0 THEN v::HUGEINT * v ELSE 0 END) AS qc0,
    sum(CASE WHEN cell = 1 THEN 1 ELSE 0 END)::HUGEINT AS nc1,
    sum(CASE WHEN cell = 1 THEN v ELSE 0 END)::HUGEINT AS sc1,
    sum(CASE WHEN cell = 1 THEN v::HUGEINT * v ELSE 0 END) AS qc1,
    sum(CASE WHEN cell = 2 THEN 1 ELSE 0 END)::HUGEINT AS nt0,
    sum(CASE WHEN cell = 2 THEN v ELSE 0 END)::HUGEINT AS st0,
    sum(CASE WHEN cell = 2 THEN v::HUGEINT * v ELSE 0 END) AS qt0,
    sum(CASE WHEN cell = 3 THEN 1 ELSE 0 END)::HUGEINT AS nt1,
    sum(CASE WHEN cell = 3 THEN v ELSE 0 END)::HUGEINT AS st1,
    sum(CASE WHEN cell = 3 THEN v::HUGEINT * v ELSE 0 END) AS qt1
  FROM obs
)
SELECT nt0::BIGINT AS n_t0, nt1::BIGINT AS n_t1,
       nc0::BIGINT AS n_c0, nc1::BIGINT AS n_c1,
       CASE WHEN nt1 > 0 AND nt0 > 0 AND nc1 > 0 AND nc0 > 0 THEN
         round(((st1::DOUBLE / nt1::DOUBLE - st0::DOUBLE / nt0::DOUBLE)
                - (sc1::DOUBLE / nc1::DOUBLE - sc0::DOUBLE / nc0::DOUBLE))
               / 1000000.0, 6)
       END AS did,
       CASE WHEN nt1 > 1 AND nt0 > 1 AND nc1 > 1 AND nc0 > 1 THEN
         round(sqrt(
           ((nt1*qt1 - st1*st1)::DOUBLE / (nt1*(nt1-1))::DOUBLE)
             / nt1::DOUBLE
           + ((nt0*qt0 - st0*st0)::DOUBLE / (nt0*(nt0-1))::DOUBLE)
             / nt0::DOUBLE
           + ((nc1*qc1 - sc1*sc1)::DOUBLE / (nc1*(nc1-1))::DOUBLE)
             / nc1::DOUBLE
           + ((nc0*qc0 - sc0*sc0)::DOUBLE / (nc0*(nc0-1))::DOUBLE)
             / nc0::DOUBLE
         ) / 1000000.0, 6)
       END AS se
FROM m
"""


@register("orders_did_estimator", _DID_ORACLE)
def orders_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on order totals: treatment = odd
    customer nation, post = orders from 1997 on
    (operators/abtest.did_estimator). Four cells' exact micro moments
    in one pass; the DiD point estimate and pooled large-sample SE are
    one IEEE sequence each."""
    from olake_spark.operators.abtest import did_estimator

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        (F.col("c_nationkey") % 2).cast("int").alias("_treat"),
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .cast("int")
        .alias("_post"),
        "o_totalprice",
    )
    return did_estimator(j, "_treat", "_post", "o_totalprice")


# ---------------------------------------------------------------------------
# round-10 second batch: ANOVA family, changepoint, text/seasonal census
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
per AS (
  SELECT g, count(*)::HUGEINT AS n, sum(vm)::HUGEINT AS s,
         sum(vm::HUGEINT * vm) AS q
  FROM v GROUP BY g
),
t AS (
  SELECT count(*)::BIGINT AS k, sum(n) AS nt, sum(s) AS st,
         list((n*q - s*s)::DOUBLE / n::DOUBLE ORDER BY g) AS lw,
         list((s*s)::DOUBLE / n::DOUBLE ORDER BY g) AS lb
  FROM per
),
f AS (
  SELECT k, nt, st,
         list_reduce(lw, (a, b) -> a + b) AS ssw,
         list_reduce(lb, (a, b) -> a + b)
           - (st*st)::DOUBLE / nt::DOUBLE AS ssb
  FROM t
)
SELECT k AS k_groups, nt::BIGINT AS n,
       round(ssb / 1e12, 6) AS ss_between,
       round(ssw / 1e12, 6) AS ss_within,
       CASE WHEN k > 1 AND nt > k AND ssw > 0 THEN
         round((ssb / (k - 1)::DOUBLE) / (ssw / (nt::BIGINT - k)::DOUBLE), 6)
       END AS f
FROM f
"""


@register("lineitem_oneway_anova", _ANOVA_ORACLE)
def lineitem_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of price across return flags
    (operators/abtest.oneway_anova): exact DECIMAL(38,0) per-group
    moments in one pass, then the per-group double terms fold in
    GROUP-KEY ORDER (the KM/Holt ordered-fold recipe) so the float sums
    match the oracle's list_reduce bit for bit."""
    from olake_spark.operators.abtest import oneway_anova

    return oneway_anova(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


_BF_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
r AS (
  SELECT g, vm, row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM v
),
med AS (
  SELECT g, max(CASE WHEN rn = greatest(1, ceil(0.5 * n)) THEN vm END)
           AS medm
  FROM r GROUP BY g
),
z AS (
  SELECT v.g, abs(v.vm - med.medm)::BIGINT AS zm
  FROM v JOIN med ON med.g = v.g
),
per AS (
  SELECT g, count(*)::HUGEINT AS n, sum(zm)::HUGEINT AS s,
         sum(zm::HUGEINT * zm) AS q
  FROM z GROUP BY g
),
t AS (
  SELECT count(*)::BIGINT AS k, sum(n) AS nt, sum(s) AS st,
         list((n*q - s*s)::DOUBLE / n::DOUBLE ORDER BY g) AS lw,
         list((s*s)::DOUBLE / n::DOUBLE ORDER BY g) AS lb
  FROM per
),
f AS (
  SELECT k, nt, st,
         list_reduce(lw, (a, b) -> a + b) AS ssw,
         list_reduce(lb, (a, b) -> a + b)
           - (st*st)::DOUBLE / nt::DOUBLE AS ssb
  FROM t
)
SELECT k AS k_groups, nt::BIGINT AS n,
       round(ssb / 1e12, 6) AS ss_between,
       round(ssw / 1e12, 6) AS ss_within,
       CASE WHEN k > 1 AND nt > k AND ssw > 0 THEN
         round((ssb / (k - 1)::DOUBLE) / (ssw / (nt::BIGINT - k)::DOUBLE), 6)
       END AS f
FROM f
"""


@register("lineitem_brown_forsythe", _BF_ORACLE)
def lineitem_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance test across return flags
    (operators/abtest.brown_forsythe) — ANOVA on |x − group median|,
    medians from the shared exact histogram bisection. The
    variance-assumption check run before pooled tests; composes two
    round-10 primitives (bisection medians → ordered-fold ANOVA)."""
    from olake_spark.operators.abtest import brown_forsythe

    return brown_forsythe(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT)::HUGEINT AS x
  FROM events GROUP BY 1
),
pre AS (
  SELECT t, row_number() OVER (ORDER BY t) AS k,
         sum(x) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS sk,
         count(*) OVER () AS n, sum(x) OVER () AS sn
  FROM daily
),
c AS (
  SELECT t, n, k, sk, sn,
         (sk*sk)::DOUBLE / k::DOUBLE
           + ((sn-sk)*(sn-sk))::DOUBLE / (n-k)::DOUBLE
           - (sn*sn)::DOUBLE / n::DOUBLE AS red
  FROM pre WHERE k < n
)
SELECT t AS split_bucket, n::BIGINT AS n_buckets,
       round(sk::DOUBLE / k::DOUBLE / 1000000.0, 6) AS mean_left,
       round((sn-sk)::DOUBLE / (n-k)::DOUBLE / 1000000.0, 6) AS mean_right,
       round(red / 1e12, 6) AS reduction
FROM c ORDER BY red DESC, t LIMIT 1
"""


@register("events_changepoint_mean_shift", _CHANGEPOINT_ORACLE)
def events_changepoint_mean_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single mean-shift changepoint of the daily total — the first
    binary-segmentation split (operators/timeseries.
    changepoint_mean_shift): exact prefix sums over the bucket
    relation, three IEEE divides per candidate split, deterministic
    (reduction DESC, bucket ASC) argmax in both engines."""
    from olake_spark.operators.timeseries import changepoint_mean_shift

    return changepoint_mean_shift(table(spark, sf_dir, "events"), "ts", "value")


_DAILY_ENTROPY_ORACLE = """
WITH c AS (
  SELECT floor(epoch_us(ts) / 86400000000)::BIGINT AS d, event_type,
         count(*)::HUGEINT AS c
  FROM events GROUP BY 1, 2
),
w AS (SELECT d, c, sum(c) OVER (PARTITION BY d) AS n FROM c),
s AS (
  SELECT d, any_value(n)::BIGINT AS n_events,
         sum(floor((c::DOUBLE / n::DOUBLE)
                   * ln(n::DOUBLE / c::DOUBLE) * 1000000000)::BIGINT)::BIGINT
           AS h_nano
  FROM w GROUP BY d
)
SELECT d AS day_bucket, n_events, h_nano,
       round(h_nano::DOUBLE / 1000000000.0, 6) AS h
FROM s
"""


@register("events_daily_type_entropy", _DAILY_ENTROPY_ORACLE)
def events_daily_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Shannon entropy of the event-type mix — the
    "did the traffic composition shift today?" monitor (a collapse
    toward 0 means one type took over). Cells are one shuffle;
    per-cell double terms are nano-floored BIGINTs (the chi2/MI
    order-free pattern), summed exactly per day."""
    ev = table(spark, sf_dir, "events")
    d = F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).alias(
        "_d"
    )
    cells = ev.select(d, "event_type").groupBy("_d", "event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("_c")
    )
    wn = W.partitionBy("_d")
    terms = cells.select(
        "_d",
        F.sum("_c").over(wn).alias("_n"),
        F.floor(
            (F.col("_c").cast("double") / F.sum("_c").over(wn).cast("double"))
            * F.log(
                F.sum("_c").over(wn).cast("double") / F.col("_c").cast("double")
            )
            * 1e9
        ).cast("long").alias("_t_nano"),
    )
    out = terms.groupBy("_d").agg(
        F.first("_n").cast("long").alias("n_events"),
        F.sum("_t_nano").alias("h_nano"),
    )
    return out.select(
        F.col("_d").alias("day_bucket"),
        "n_events",
        F.col("h_nano").cast("long").alias("h_nano"),
        F.round(F.col("h_nano").cast("double") / 1e9, 6).alias("h"),
    )


_SEASONAL_INDEX_ORACLE = """
WITH m AS (
  SELECT month(o_orderdate)::INT AS month, count(*)::BIGINT AS n_orders,
         sum(round(o_totalprice * 1000000)::BIGINT)::BIGINT AS rev_micro
  FROM orders GROUP BY 1
),
t AS (SELECT sum(rev_micro)::HUGEINT AS tot FROM m)
SELECT m.month, m.n_orders, m.rev_micro,
       round((12::HUGEINT * m.rev_micro)::DOUBLE / t.tot::DOUBLE, 6)
         AS seasonal_index
FROM m, t
"""


@register("orders_monthly_seasonal_index", _SEASONAL_INDEX_ORACLE)
def orders_monthly_seasonal_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classic monthly seasonal index of order revenue — month revenue
    over the uniform-month expectation (12·rev_m / total), the
    normalization behind every deseasonalized KPI. Exact micro sums;
    one divide per month; the 12-row total is a 1-row broadcast."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").cast("int").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.round(F.col("o_totalprice") * 1_000_000).cast("long")
        ).alias("rev_micro"),
    )
    tot = m.agg(F.sum(F.col("rev_micro").cast(_D38)).alias("_tot"))
    return m.crossJoin(F.broadcast(tot)).select(
        "month",
        "n_orders",
        "rev_micro",
        F.round(
            (F.lit(12).cast(_D38) * F.col("rev_micro").cast(_D38)).cast(
                "double"
            )
            / F.col("_tot").cast("double"),
            6,
        ).alias("seasonal_index"),
    )


_INTERARRIVAL_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
),
g AS (
  SELECT date_diff('day', prev, o_orderdate)::BIGINT AS gap
  FROM o WHERE prev IS NOT NULL
),
m AS (
  SELECT count(*)::HUGEINT AS n, sum(gap)::HUGEINT AS s,
         sum(gap::HUGEINT * gap) AS q
  FROM g
)
SELECT n::BIGINT AS n_gaps,
       round(s::DOUBLE / n::DOUBLE, 6) AS mean_days,
       CASE WHEN n > 1 AND s > 0 THEN
         round(((n*q - s*s)::DOUBLE / (n*(n-1))::DOUBLE)
               / ((s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE)), 6)
       END AS cv2,
       CASE WHEN s > 0 THEN round(n::DOUBLE / s::DOUBLE, 6) END
         AS rate_per_day
FROM m
"""


@register("orders_interarrival_stats", _INTERARRIVAL_ORACLE)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap census: per-customer consecutive order gaps in
    days (lag window, user-partitioned), then global exact moments —
    MLE exponential rate = 1/mean and CV² (≈1 ⟺ Poisson-like ordering,
    ≫1 ⟺ bursty). Gap ties on the same date break on o_orderkey in
    both engines."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey", "o_orderdate",
            F.lag("o_orderdate").over(w).alias("_prev"),
        )
        .filter(F.col("_prev").isNotNull())
        .select(
            F.datediff(F.col("o_orderdate"), F.col("_prev"))
            .cast("long")
            .cast(_D38)
            .alias("_gap")
        )
    )
    m = gaps.agg(
        F.count(F.lit(1)).cast(_D38).alias("_n"),
        F.sum("_gap").alias("_s"),
        F.sum(F.col("_gap") * F.col("_gap")).alias("_q"),
    )
    n, sg, q = F.col("_n"), F.col("_s"), F.col("_q")
    mean = F.try_divide(sg.cast("double"), n.cast("double"))
    var = F.try_divide(
        (n * q - sg * sg).cast("double"), (n * (n - 1)).cast("double")
    )
    return m.select(
        n.cast("long").alias("n_gaps"),
        F.round(mean, 6).alias("mean_days"),
        F.round(
            F.when((n > 1) & (sg > 0), var / (mean * mean)), 6
        ).alias("cv2"),
        F.round(
            F.when(sg > 0, F.try_divide(n.cast("double"), sg.cast("double"))),
            6,
        ).alias("rate_per_day"),
    )


# ---------------------------------------------------------------------------
# Round-11 operator wave: effect size, Kruskal-Wallis, BH-FDR, KS-GOF,
# log-rank, Cohen's kappa, chi2 goodness-of-fit, Jensen-Shannon,
# trimmed mean, power means, Shewhart I-MR.
# ---------------------------------------------------------------------------

_EFFECT_ORACLE = f"""
WITH {AR_PRICE_MOMENTS_CTE},
d AS (
  SELECT na, nb,
         CASE WHEN na > 0 THEN sa::DOUBLE / na::DOUBLE END AS ma,
         CASE WHEN nb > 0 THEN sb::DOUBLE / nb::DOUBLE END AS mb,
         CASE WHEN na > 0 THEN
           (na*qa - sa*sa)::DOUBLE / na::DOUBLE END AS ssa,
         CASE WHEN nb > 0 THEN
           (nb*qb - sb*sb)::DOUBLE / nb::DOUBLE END AS ssb
  FROM m
),
e AS (
  SELECT na, nb, ma, mb,
         CASE WHEN na + nb > 2
              THEN (ssa + ssb) / (na + nb - 2)::DOUBLE END AS sp2
  FROM d
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(ma / 1000000.0, 6) AS mean_a,
       round(mb / 1000000.0, 6) AS mean_b,
       round(sqrt(sp2) / 1000000.0, 6) AS pooled_sd,
       CASE WHEN sp2 > 0 THEN round((ma - mb) / sqrt(sp2), 6) END AS cohens_d,
       CASE WHEN sp2 > 0 THEN
         round(((ma - mb) / sqrt(sp2))
               * (1.0 - 3.0 / (4.0 * (na + nb)::DOUBLE - 9.0)), 6)
       END AS hedges_g
FROM e
"""


@register("lineitem_effect_size", _EFFECT_ORACLE)
def lineitem_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d + Hedges' g between returned and rejected lineitem
    prices (operators/abtest.effect_size_two_sample) — the magnitude
    companion to lineitem_welch_ttest's significance read. Same one-pass
    exact micro moments; reference-pinned in
    tests/test_stats_reference_pins.py."""
    from olake_spark.operators.abtest import effect_size_two_sample

    return effect_size_two_sample(
        table(spark, sf_dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "A", "R",
    )


_KRUSKAL_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS g, round(l_quantity * 1000000)::BIGINT AS v
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
),
per_gv AS (
  SELECT g, v, count(*)::HUGEINT AS c FROM base GROUP BY 1, 2
),
vals AS (
  SELECT v, sum(c) AS tv FROM per_gv GROUP BY 1
),
ranked AS (
  SELECT v,
         2 * (sum(tv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - tv)
           + tv + 1 AS rank2
  FROM vals
),
per_g AS (
  SELECT g, sum(c) AS ng, sum(c * r.rank2) AS r2g
  FROM per_gv JOIN ranked r USING (v) GROUP BY g
),
ties AS (
  SELECT coalesce(sum(tv*tv*tv - tv), 0) AS tie FROM vals
),
agg AS (
  SELECT count(*) AS k, sum(ng) AS n,
         list_reduce(
           list(CASE WHEN ng > 0
                     THEN (r2g*r2g)::DOUBLE / (4*ng)::DOUBLE END
                ORDER BY g),
           (a, b) -> a + b
         ) AS rsum
  FROM per_g
)
SELECT k::BIGINT AS k_groups, n::BIGINT AS n, tie::BIGINT AS tie_correction,
       CASE WHEN n > 1 THEN
         round(12.0 * rsum / (n*(n+1))::DOUBLE - 3.0 * (n+1)::DOUBLE, 6)
       END AS h,
       CASE WHEN k > 1 AND n*n*n - n - tie > 0 THEN
         round((12.0 * rsum / (n*(n+1))::DOUBLE - 3.0 * (n+1)::DOUBLE)
               / (1.0 - tie::DOUBLE / (n*n*n - n)::DOUBLE), 6)
       END AS h_tie_corrected
FROM agg, ties
"""


@register("lineitem_kruskal_wallis", _KRUSKAL_ORACLE)
def lineitem_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the three returnflag arms on quantity
    (operators/abtest.kruskal_wallis) — the k-sample rank test, doubled
    ranks over the 50-value quantity domain (values-sized windows), the
    ordered-fold group sum. Reference-pinned vs a plain-Python rank
    computation in tests/test_stats_reference_pins.py."""
    from olake_spark.operators.abtest import kruskal_wallis

    return kruskal_wallis(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"
    )


_BH_ORACLE = """
WITH fam AS (
  SELECT n_name,
         (('0x' || substring(md5(n_name || '|bh11'), 1, 15))::BIGINT
          % 1000000) / 1000000.0 AS p
  FROM nation
),
ranked AS (
  SELECT n_name, p,
         row_number() OVER (ORDER BY p, n_name) AS i,
         count(*) OVER () AS m
  FROM fam
)
SELECT n_name, round(p, 6) AS p, i::BIGINT AS rank,
       round(least(
         min(p * m::DOUBLE / i::DOUBLE)
           OVER (ORDER BY i DESC ROWS UNBOUNDED PRECEDING),
         1.0), 6) AS q,
       least(
         min(p * m::DOUBLE / i::DOUBLE)
           OVER (ORDER BY i DESC ROWS UNBOUNDED PRECEDING),
         1.0) <= 0.05 AS reject
FROM ranked
"""


@register("nation_bh_fdr", _BH_ORACLE)
def nation_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg step-up over a 25-member p-value family
    (operators/abtest.bh_fdr_adjust) — the correction every per-key
    test fleet owes. The family's p's are a deterministic md5-uniform
    fixture per nation (the operator consumes any p column; the gate
    certifies the rank / suffix-min / clip mechanics cross-engine)."""
    from olake_spark.operators.abtest import bh_fdr_adjust

    n = table(spark, sf_dir, "nation").select(
        "n_name",
        (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("n_name"), F.lit("|bh11"))),
                        1, 15,
                    ),
                    16, 10,
                ).cast("long"),
                F.lit(1_000_000),
            )
            / 1_000_000.0
        ).alias("p"),
    )
    return bh_fdr_adjust(n, ["n_name"], "p", alpha=0.05)


_KSU_ORACLE = """
WITH s AS (
  SELECT round(((round(o_totalprice * 100)::BIGINT % 100) / 100.0)
               * 1000000)::BIGINT AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
per_val AS (SELECT v, count(*)::HUGEINT AS t FROM s GROUP BY 1),
cum AS (
  SELECT v, t,
         sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c,
         sum(t) OVER () AS n
  FROM per_val
),
agg AS (
  SELECT max(c * 1000000 - v::HUGEINT * n) AS dp_num,
         max(v::HUGEINT * n - (c - t) * 1000000) AS dm_num,
         any_value(n) AS n
  FROM cum
)
SELECT n::BIGINT AS n,
       round(greatest(dp_num::DOUBLE / (n * 1000000)::DOUBLE, 0.0), 6)
         AS d_plus,
       round(greatest(dm_num::DOUBLE / (n * 1000000)::DOUBLE, 0.0), 6)
         AS d_minus,
       round(greatest(greatest(dp_num::DOUBLE / (n * 1000000)::DOUBLE, 0.0),
                      greatest(dm_num::DOUBLE / (n * 1000000)::DOUBLE, 0.0)),
             6) AS d,
       round(sqrt(n::DOUBLE)
             * greatest(
                 greatest(dp_num::DOUBLE / (n * 1000000)::DOUBLE, 0.0),
                 greatest(dm_num::DOUBLE / (n * 1000000)::DOUBLE, 0.0)), 6)
         AS sqrt_n_d
FROM agg
"""


@register("orders_ks_uniform_cents", _KSU_ORACLE)
def orders_ks_uniform_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS goodness-of-fit of the order totals' CENTS digits
    against Uniform[0,1] (operators/abtest.ks_uniform_gof) — the
    classic price-digit uniformity audit (fabricated or rounded prices
    fail it). Score = (cents mod 100)/100; exact-rational D over the
    101-value domain."""
    from olake_spark.operators.abtest import ks_uniform_gof

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        (
            F.pmod(
                F.round(F.col("o_totalprice") * 100).cast("long"), F.lit(100)
            )
            / 100.0
        ).alias("s")
    )
    return ks_uniform_gof(o, "s")


_LOGRANK_ORACLE = """
WITH subj AS (
  SELECT user_id,
         (epoch_us(max(ts)) // 3600000000)
           - (epoch_us(min(ts)) // 3600000000) AS dur,
         epoch_us(max(ts)) AS last_us,
         (user_id % 2)::INT AS grp
  FROM events GROUP BY user_id
),
cut AS (SELECT max(epoch_us(ts)) - 86400000000 AS cut_us FROM events),
per AS (
  SELECT dur,
         sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS cb,
         sum(CASE WHEN grp = 0 AND last_us < (SELECT cut_us FROM cut)
                  THEN 1 ELSE 0 END)::BIGINT AS da,
         sum(CASE WHEN grp = 1 AND last_us < (SELECT cut_us FROM cut)
                  THEN 1 ELSE 0 END)::BIGINT AS db
  FROM subj GROUP BY 1
),
risk AS (
  SELECT dur, da, db,
         (sum(ca) OVER ()
          - coalesce(sum(ca) OVER (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         )::BIGINT AS n1,
         (sum(cb) OVER ()
          - coalesce(sum(cb) OVER (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         )::BIGINT AS n2,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM per
),
terms AS (
  SELECT any_value(na)::BIGINT AS n_a, any_value(nb)::BIGINT AS n_b,
         sum(da)::BIGINT AS o1,
         sum(CASE WHEN da + db > 0 THEN
           floor((da + db)::DOUBLE * (n1::DOUBLE / (n1 + n2)::DOUBLE)
                 * 1000000000)::BIGINT ELSE 0 END) AS e_nano,
         sum(CASE WHEN da + db > 0 AND n1 + n2 > 1 THEN
           floor((da + db)::DOUBLE * (n1::DOUBLE / (n1 + n2)::DOUBLE)
                 * (1.0 - n1::DOUBLE / (n1 + n2)::DOUBLE)
                 * ((n1 + n2 - da - db)::DOUBLE / (n1 + n2 - 1)::DOUBLE)
                 * 1000000000)::BIGINT ELSE 0 END) AS v_nano
  FROM risk
)
SELECT n_a, n_b, o1 AS observed_a,
       round(e_nano::DOUBLE / 1000000000, 6) AS expected_a,
       round(v_nano::DOUBLE / 1000000000, 6) AS variance,
       CASE WHEN v_nano > 0 THEN
         round((o1::DOUBLE - e_nano::DOUBLE / 1000000000)
               / sqrt(v_nano::DOUBLE / 1000000000), 6) END AS z,
       CASE WHEN v_nano > 0 THEN
         round(((o1::DOUBLE - e_nano::DOUBLE / 1000000000)
                / sqrt(v_nano::DOUBLE / 1000000000))
               * ((o1::DOUBLE - e_nano::DOUBLE / 1000000000)
                / sqrt(v_nano::DOUBLE / 1000000000)), 6) END AS chi2
FROM terms
"""


@register("events_logrank_by_parity", _LOGRANK_ORACLE)
def events_logrank_by_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test between even and odd user cohorts
    (operators/survival.logrank_test) — the hypothesis-test companion
    to events_survival_km, over the SAME subject derivation (duration =
    active hours; observed = lifetime ended before the global last day,
    the KM query's censoring rule). Risk sets are reverse-cumulative
    integers over the duration grid; E/V terms nano-floor."""
    from olake_spark.operators.survival import logrank_test

    ev = table(spark, sf_dir, "events")
    hours = (F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)).cast("long")
    subj = ev.groupBy("user_id").agg(
        (F.max(hours) - F.min(hours)).alias("dur"),
        F.max(F.unix_micros(F.col("ts"))).alias("_last_us"),
    )
    cut = ev.agg(
        (F.max(F.unix_micros(F.col("ts"))) - F.lit(86_400_000_000)).alias(
            "_cut_us"
        )
    )
    subj = subj.crossJoin(F.broadcast(cut)).select(
        "dur",
        (F.col("_last_us") < F.col("_cut_us")).alias("observed"),
        (F.col("user_id") % 2).cast("int").alias("grp"),
    )
    return logrank_test(subj, "dur", "observed", "grp", 0, 1)


_KAPPA_ORACLE = """
WITH base AS (
  SELECT CASE WHEN value > 250.0 THEN 'hi' ELSE 'lo' END AS a,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 'hi'
              ELSE 'lo' END AS b
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
cells AS (SELECT a, b, count(*)::HUGEINT AS c FROM base GROUP BY 1, 2),
la AS (SELECT a AS l, sum(c) AS r FROM cells GROUP BY 1),
lb AS (SELECT b AS l, sum(c) AS s FROM cells GROUP BY 1),
cross_m AS (
  SELECT coalesce(sum(la.r * lb.s), 0) AS rc
  FROM la JOIN lb USING (l)
),
agg AS (
  SELECT sum(c) AS n,
         sum(CASE WHEN a = b THEN c ELSE 0 END) AS diag,
         count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
  FROM cells
)
SELECT n::BIGINT AS n, ka::BIGINT AS n_labels_a, kb::BIGINT AS n_labels_b,
       round(diag::DOUBLE / n::DOUBLE, 6) AS p_observed,
       round(rc::DOUBLE / (n * n)::DOUBLE, 6) AS p_expected,
       CASE WHEN n * n > rc THEN
         round((diag::DOUBLE / n::DOUBLE - rc::DOUBLE / (n * n)::DOUBLE)
               / (1.0 - rc::DOUBLE / (n * n)::DOUBLE), 6)
       END AS kappa
FROM agg, cross_m
"""


@register("events_cohens_kappa", _KAPPA_ORACLE)
def events_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between a value-threshold rater and an event-type
    rater over the events table (operators/audit.cohens_kappa) — the
    chance-corrected agreement audit (a heuristic label vs a rule label
    of the same items). Exact cell/marginal integers; reference-pinned
    in tests/test_stats_reference_pins.py."""
    from olake_spark.operators.audit import cohens_kappa

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.when(F.col("value") > 250.0, "hi").otherwise("lo").alias("ra"),
        F.when(
            F.col("event_type").isin(["purchase", "signup"]), "hi"
        ).otherwise("lo").alias("rb"),
    )
    return cohens_kappa(ev, "ra", "rb")


_CHI2_GOF_ORACLE = """
WITH observed AS (
  SELECT c_nationkey::VARCHAR AS cat, count(*)::HUGEINT AS o
  FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1
),
m AS (
  SELECT o, 1000000::HUGEINT AS w,
         sum(o) OVER () AS n, sum(1000000::HUGEINT) OVER () AS wt
  FROM observed
),
cells AS (
  SELECT n,
         ((o * wt - n * w) * (o * wt - n * w) * 1000000)
           // (n * w * wt) AS cm
  FROM m
)
SELECT any_value(n)::BIGINT AS n, count(*)::BIGINT AS k_categories,
       coalesce(sum(cm), 0)::BIGINT AS chi2_total_micro,
       round(coalesce(sum(cm), 0)::DOUBLE / 1e6, 6) AS chi2
FROM cells
"""


@register("customer_chi2_gof_nations", _CHI2_GOF_ORACLE)
def customer_chi2_gof_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the customer→nation assignment
    against uniform (operators/audit.chi_square_gof) — "is the synthetic
    assignment actually balanced?". Floor-micro cell discipline, exact
    integer total."""
    from olake_spark.operators.audit import chi_square_gof

    return chi_square_gof(
        table(spark, sf_dir, "customer"), "c_nationkey"
    )


_JSD_ORACLE = """
WITH base AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS s, event_type
  FROM events WHERE event_type IS NOT NULL
),
cells AS (
  SELECT event_type,
         sum(CASE WHEN s = 'a' THEN 1 ELSE 0 END)::HUGEINT AS ca,
         sum(CASE WHEN s = 'b' THEN 1 ELSE 0 END)::HUGEINT AS cb
  FROM base GROUP BY 1
),
m AS (
  SELECT ca, cb, sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM cells
),
t AS (
  SELECT any_value(na) AS na, any_value(nb) AS nb, count(*) AS k,
         sum(CASE WHEN ca > 0 THEN
           floor((ca::DOUBLE / na::DOUBLE)
                 * ln((ca::DOUBLE / na::DOUBLE)
                      / ((ca::DOUBLE / na::DOUBLE
                          + cb::DOUBLE / nb::DOUBLE) / 2.0))
                 * 1000000000)::BIGINT ELSE 0 END) AS tp,
         sum(CASE WHEN cb > 0 THEN
           floor((cb::DOUBLE / nb::DOUBLE)
                 * ln((cb::DOUBLE / nb::DOUBLE)
                      / ((ca::DOUBLE / na::DOUBLE
                          + cb::DOUBLE / nb::DOUBLE) / 2.0))
                 * 1000000000)::BIGINT ELSE 0 END) AS tq
  FROM m
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, k::BIGINT AS k_categories,
       round((tp + tq)::DOUBLE / 2.0 / 1000000000, 6) AS jsd_nats,
       round((tp + tq)::DOUBLE / 2.0 / 1000000000 / ln(2), 6) AS jsd_bits
FROM t
"""


@register("events_jsd_user_parity", _JSD_ORACLE)
def events_jsd_user_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the event-type mixes of the
    even and odd user cohorts (operators/audit.js_divergence) — the
    bounded symmetric drift read (an A/A-style check here: the parity
    split should read ≈ 0). Nano-floored cell terms."""
    from olake_spark.operators.audit import js_divergence

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    ).select(
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("side"),
        "event_type",
    )
    return js_divergence(ev, "side", "event_type", "a", "b")


_TRIMMED_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS g, round(l_extendedprice * 1000000)::BIGINT AS vm
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT g, vm,
         row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM base
),
cut AS (SELECT g, vm, rn, n, (n * 100000) // 1000000 AS k FROM ranked)
SELECT g AS l_returnflag, any_value(n)::BIGINT AS n,
       any_value(k)::BIGINT AS k_each_side,
       CASE WHEN any_value(n) > 2 * any_value(k) THEN
         round(sum(CASE WHEN rn > k AND rn <= n - k THEN vm
                        ELSE 0 END)::DOUBLE
               / ((any_value(n) - 2 * any_value(k))::DOUBLE * 1000000.0), 6)
       END AS trimmed_mean
FROM cut GROUP BY g
"""


@register("lineitem_trimmed_mean_by_flag", _TRIMMED_ORACLE)
def lineitem_trimmed_mean_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """10%-trimmed mean of extendedprice per returnflag
    (operators/quantiles.trimmed_mean) — robust location with the tails
    DROPPED. The Spark side never sorts rows: per-(group, value) counts
    + one cumulative window over each group's distinct-value relation,
    kept mass = exact rank-interval overlap. The oracle is the
    independent row_number formulation (sort-and-slice) — a different
    algorithm for the same order statistics, so rank/tie bugs can't
    hide."""
    from olake_spark.operators.quantiles import trimmed_mean

    return trimmed_mean(
        table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        trim=0.1,
    )


_PMEANS_ORACLE = """
WITH base AS (
  SELECT p_brand, round(p_retailprice * 1000000)::BIGINT AS vm
  FROM part WHERE p_retailprice IS NOT NULL
),
agg AS (
  SELECT p_brand,
         sum(CASE WHEN vm > 0 THEN 1 ELSE 0 END)::BIGINT AS n,
         sum(CASE WHEN vm <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonpositive,
         sum(CASE WHEN vm > 0 THEN vm ELSE 0 END)::HUGEINT AS s,
         sum(CASE WHEN vm > 0
             THEN floor(ln(vm::DOUBLE / 1e6) * 1e9)::BIGINT
             ELSE 0 END)::HUGEINT AS lns,
         sum(CASE WHEN vm > 0 THEN 1000000000000000 // vm
             ELSE 0 END)::HUGEINT AS inv
  FROM base GROUP BY 1
)
SELECT p_brand, n, n_nonpositive,
       CASE WHEN n > 0
            THEN round(s::DOUBLE / (n::DOUBLE * 1e6), 6) END AS mean_arith,
       CASE WHEN n > 0
            THEN round(exp(lns::DOUBLE / (n::DOUBLE * 1e9)), 6)
       END AS mean_geom,
       CASE WHEN inv > 0
            THEN round(n::DOUBLE * 1e9 / inv::DOUBLE, 6)
       END AS mean_harm
FROM agg
"""


@register("part_power_means_by_brand", _PMEANS_ORACLE)
def part_power_means_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic/geometric/harmonic retail-price means per brand
    (operators/profile.power_means) — the three Pythagorean means in
    one pass; the harmonic reciprocal sum is PURE integer division
    (10^15 div micro-value), the geometric log-sum nano-floors.
    AM >= GM >= HM on every row for free."""
    from olake_spark.operators.profile import power_means

    return power_means(
        table(spark, sf_dir, "part"), ["p_brand"], "p_retailprice"
    )


_SHEWHART_ORACLE = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS t,
         sum(round(value * 1000000)::BIGINT) AS x
  FROM events GROUP BY 1
),
mr AS (
  SELECT x, abs(x - lag(x) OVER (ORDER BY t)) AS m FROM daily
),
agg AS (
  SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
         sum(m)::HUGEINT AS smr
  FROM mr
),
lim AS (
  SELECT n, s::DOUBLE / n::DOUBLE AS center,
         CASE WHEN n > 1 THEN smr::DOUBLE / (n - 1)::DOUBLE END AS mrbar
  FROM agg
),
f AS (
  SELECT n, center, mrbar,
         center + 2.66 * mrbar AS ucl, center - 2.66 * mrbar AS lcl
  FROM lim
)
SELECT f.n::BIGINT AS n_buckets,
       round(f.center / 1e6, 6) AS center,
       round(f.mrbar / 1e6, 6) AS mr_bar,
       round(f.ucl / 1e6, 6) AS ucl,
       round(f.lcl / 1e6, 6) AS lcl,
       CASE WHEN f.n > 1 THEN (
         SELECT count(*) FROM daily WHERE daily.x::DOUBLE > f.ucl
       ) ELSE 0 END::BIGINT AS n_above,
       CASE WHEN f.n > 1 THEN (
         SELECT count(*) FROM daily WHERE daily.x::DOUBLE < f.lcl
       ) ELSE 0 END::BIGINT AS n_below
FROM f
"""


@register("events_shewhart_imr", _SHEWHART_ORACLE)
def events_shewhart_imr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals/moving-range control chart over the daily
    value totals (operators/anomaly.shewhart_individuals) — SPC limits
    x-bar ± 2.66·MR-bar and the out-of-control day counts. Exact
    integer series and moving ranges; one lag window over the bucket
    relation."""
    from olake_spark.operators.anomaly import shewhart_individuals

    return shewhart_individuals(
        table(spark, sf_dir, "events"), "ts", "value"
    )


_MSPRT_ORACLE = f"""
WITH {AR_PRICE_MOMENTS_CTE},
d AS (
  SELECT na, nb,
         (CASE WHEN na > 0 THEN sa::DOUBLE / na::DOUBLE END
          - CASE WHEN nb > 0 THEN sb::DOUBLE / nb::DOUBLE END) / 1e6
           AS delta,
         (CASE WHEN na > 1 THEN
            ((na*qa - sa*sa)::DOUBLE / (na*(na-1))::DOUBLE) / na::DOUBLE
          END
          + CASE WHEN nb > 1 THEN
            ((nb*qb - sb*sb)::DOUBLE / (nb*(nb-1))::DOUBLE) / nb::DOUBLE
          END) / 1e12 AS v
  FROM m
),
l AS (
  SELECT na, nb, delta, v,
         CASE WHEN v > 0 THEN
           sqrt(v / (v + 10000.0))
           * exp(delta * delta * 10000.0 / (2.0 * v * (v + 10000.0)))
         END AS lam
  FROM d
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(delta, 6) AS delta, round(v, 6) AS v,
       round(lam, 6) AS lambda_mix,
       CASE WHEN lam IS NOT NULL
            THEN round(least(1.0, 1.0 / lam), 6) END AS p_always_valid
FROM l
"""


@register("lineitem_msprt_always_valid", _MSPRT_ORACLE)
def lineitem_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid mSPRT p-value for the A-vs-R price difference
    (operators/abtest.msprt_always_valid, Johari et al. 2017) — the
    peek-safe sequential companion to lineitem_welch_ttest; prior
    effect scale τ = 100 price units. Reference-pinned in
    tests/test_stats_reference_pins.py."""
    from olake_spark.operators.abtest import msprt_always_valid

    return msprt_always_valid(
        table(spark, sf_dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "A", "R", tau=100.0,
    )


_EB_ORACLE = """
WITH per AS (
  SELECT n_nationkey,
         count(*)::BIGINT AS n,
         sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT AS k
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1
),
staged AS (
  SELECT n_nationkey, n, k,
         floor((k::DOUBLE / n::DOUBLE) * 1000000000)::BIGINT AS p_nano,
         floor((k::DOUBLE / n::DOUBLE) * (k::DOUBLE / n::DOUBLE)
               * 1000000000)::BIGINT AS pp_nano
  FROM per WHERE n > 0
),
fam AS (
  SELECT n_nationkey, n, k,
         count(*) OVER () AS kk,
         sum(p_nano) OVER () AS sp, sum(pp_nano) OVER () AS spp
  FROM staged
),
fit AS (
  SELECT n_nationkey, n, k, kk,
         sp::DOUBLE / 1000000000 / kk::DOUBLE AS m,
         CASE WHEN kk > 1 THEN
           (spp::DOUBLE / 1000000000
            - kk::DOUBLE * (sp::DOUBLE / 1000000000 / kk::DOUBLE)
                         * (sp::DOUBLE / 1000000000 / kk::DOUBLE))
           / (kk::DOUBLE - 1.0) END AS v
  FROM fam
),
pri AS (
  SELECT n_nationkey, n, k, m, v,
         (v > 0 AND v < m * (1.0 - m)) AS ok,
         CASE WHEN v > 0 AND v < m * (1.0 - m)
              THEN m * (m * (1.0 - m) / v - 1.0) END AS alpha,
         CASE WHEN v > 0 AND v < m * (1.0 - m)
              THEN (1.0 - m) * (m * (1.0 - m) / v - 1.0) END AS beta
  FROM fit
)
SELECT n_nationkey, n, k,
       round(k::DOUBLE / n::DOUBLE, 6) AS p_raw,
       round(alpha, 6) AS alpha, round(beta, 6) AS beta,
       round(CASE WHEN ok
                  THEN (k::DOUBLE + alpha) / (n::DOUBLE + alpha + beta)
                  ELSE k::DOUBLE / n::DOUBLE END, 6) AS p_shrunk
FROM pri
"""


@register("customer_eb_shrunk_rates", _EB_ORACLE)
def customer_eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-nation
    positive-balance rates (operators/abtest.eb_beta_binomial_shrink) —
    the leaderboard fix: method-of-moments Beta prior over the
    25-nation family, small nations shrink toward it. Nano-floored
    family moments; reference-pinned."""
    from olake_spark.operators.abtest import eb_beta_binomial_shrink

    c = table(spark, sf_dir, "customer").join(
        F.broadcast(table(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        "n_nationkey",
        (F.col("c_acctbal") > 0).cast("long").alias("succ"),
        F.lit(1).alias("trial"),
    )
    return eb_beta_binomial_shrink(c, ["n_nationkey"], "succ", "trial")


_ETA2_ORACLE = """
WITH per AS (
  SELECT l_returnflag AS g,
         count(*)::HUGEINT AS n,
         sum(round(l_extendedprice * 1000000)::BIGINT)::HUGEINT AS s,
         sum(round(l_extendedprice * 1000000)::BIGINT::HUGEINT
             * round(l_extendedprice * 1000000)::BIGINT) AS q
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
),
terms AS (
  SELECT g,
         (n*q - s*s)::DOUBLE / n::DOUBLE AS w,
         (s*s)::DOUBLE / n::DOUBLE AS b
  FROM per
),
agg AS (
  SELECT count(*) AS k,
         (SELECT sum(n) FROM per) AS nt,
         (SELECT sum(s) FROM per) AS st,
         list_reduce(list(w ORDER BY g), (a, x) -> a + x) AS ssw,
         list_reduce(list(b ORDER BY g), (a, x) -> a + x) AS sb_sum
  FROM terms
),
ss AS (
  SELECT k, nt,
         round((sb_sum - (st*st)::DOUBLE / nt::DOUBLE) / 1e12, 6) AS ssb6,
         round(ssw / 1e12, 6) AS ssw6
  FROM agg
)
SELECT k::BIGINT AS k_groups, nt::BIGINT AS n,
       CASE WHEN ssb6 + ssw6 > 0
            THEN round(ssb6 / (ssb6 + ssw6), 6) END AS eta2,
       CASE WHEN ssb6 + ssw6 > 0
            THEN round(sqrt(ssb6 / (ssb6 + ssw6)), 6) END AS eta
FROM ss
"""


@register("lineitem_eta_squared", _ETA2_ORACLE)
def lineitem_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation ratio eta-squared of extendedprice across the
    returnflag arms (operators/abtest.correlation_ratio) — the
    effect-size companion to the ANOVA F: SS_between/SS_total on the
    0-1 scale. Same exact-moment + ordered-fold core."""
    from olake_spark.operators.abtest import correlation_ratio

    return correlation_ratio(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


_TOPSHARE_ORACLE = """
WITH base AS (
  SELECT c_nationkey, round(c_acctbal * 1000000)::BIGINT AS vm
  FROM customer WHERE c_acctbal IS NOT NULL
),
ranked AS (
  SELECT c_nationkey, vm,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY vm DESC) AS rn,
         count(*) OVER (PARTITION BY c_nationkey) AS n,
         sum(vm::HUGEINT) OVER (PARTITION BY c_nationkey) AS tot
  FROM base
),
cut AS (
  SELECT c_nationkey, vm, rn, n, tot,
         n - ((n * 900000) // 1000000) AS k
  FROM ranked
)
SELECT c_nationkey, any_value(n)::BIGINT AS n,
       any_value(k)::BIGINT AS k_top,
       round(any_value(tot)::DOUBLE / 1e6, 6) AS total,
       round(sum(CASE WHEN rn <= k THEN vm ELSE 0 END)::DOUBLE / 1e6, 6)
         AS top_sum,
       round(sum(CASE WHEN rn <= k THEN vm ELSE 0 END)::DOUBLE
             / any_value(tot)::DOUBLE, 6) AS top_share
FROM cut GROUP BY c_nationkey
"""


@register("customer_top_decile_share", _TOPSHARE_ORACLE)
def customer_top_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation share of account-balance mass held by the top 10% of
    customers (operators/audit.top_share) — the operating-point
    concentration read next to Gini. Spark side is the rank-interval
    counts formulation (no per-group sort); the oracle is the
    independent row_number sort-and-slice."""
    from olake_spark.operators.audit import top_share

    return top_share(
        table(spark, sf_dir, "customer"), ["c_nationkey"], "c_acctbal",
        p=0.1,
    )


_BRIDGE_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS g,
         year(l_shipdate) AS yr,
         round((l_extendedprice / l_quantity) * 1000000)::BIGINT AS pm,
         round(l_quantity * 1000000)::BIGINT AS qm
  FROM lineitem
  WHERE l_quantity > 0 AND l_extendedprice IS NOT NULL
    AND year(l_shipdate) IN (1996, 1997)
),
agg AS (
  SELECT g,
         sum(CASE WHEN yr = 1996 THEN qm ELSE 0 END)::HUGEINT AS qa,
         sum(CASE WHEN yr = 1996 THEN pm::HUGEINT * qm ELSE 0 END) AS ra,
         sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN yr = 1997 THEN qm ELSE 0 END)::HUGEINT AS qb,
         sum(CASE WHEN yr = 1997 THEN pm::HUGEINT * qm ELSE 0 END) AS rb,
         sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS nb
  FROM base GROUP BY 1
),
eff AS (
  SELECT g, na, nb,
         ra::DOUBLE / 1e12 AS rad, rb::DOUBLE / 1e12 AS rbd,
         qa::DOUBLE / 1e6 AS qad, qb::DOUBLE / 1e6 AS qbd,
         CASE WHEN qa > 0 THEN (ra::DOUBLE / 1e12) / (qa::DOUBLE / 1e6) END
           AS pa,
         CASE WHEN qb > 0 THEN (rb::DOUBLE / 1e12) / (qb::DOUBLE / 1e6) END
           AS pb
  FROM agg
)
SELECT g AS l_returnflag,
       round(rad, 6) AS rev_a, round(rbd, 6) AS rev_b,
       round(rbd - rad, 6) AS delta_rev,
       CASE WHEN na > 0 AND nb > 0
            THEN round((pb - pa) * qad, 6) END AS price_effect,
       CASE WHEN na > 0 AND nb > 0
            THEN round((qbd - qad) * pa, 6) END AS volume_effect,
       CASE WHEN na > 0 AND nb > 0
            THEN round((pb - pa) * (qbd - qad), 6) END AS joint_effect
FROM eff
"""


@register("lineitem_revenue_bridge", _BRIDGE_ORACLE)
def lineitem_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume revenue bridge 1996 -> 1997 per returnflag
    (operators/timeseries.revenue_bridge) — why did revenue move:
    realized-unit-price effect, volume effect, joint residual; the
    three effects reconcile to delta_rev."""
    from olake_spark.operators.timeseries import revenue_bridge

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & F.col("l_extendedprice").isNotNull()
    ).select(
        "l_returnflag",
        F.year("l_shipdate").alias("yr"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        "l_quantity",
    )
    return revenue_bridge(
        li, ["l_returnflag"], "yr", "unit_price", "l_quantity", 1996, 1997
    )


_PROPZ_ORACLE = """
WITH base AS (
  SELECT CASE WHEN o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS g,
         (o_totalprice > 150000.0) AS s
  FROM orders WHERE o_totalprice IS NOT NULL
),
agg AS (
  SELECT sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = 'a' AND s THEN 1 ELSE 0 END)::BIGINT AS ka,
         sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END)::BIGINT AS nb,
         sum(CASE WHEN g = 'b' AND s THEN 1 ELSE 0 END)::BIGINT AS kb
  FROM base
)
SELECT na AS n_a, ka AS k_a, nb AS n_b, kb AS k_b,
       round(ka::DOUBLE / na::DOUBLE, 6) AS p_a,
       round(kb::DOUBLE / nb::DOUBLE, 6) AS p_b,
       CASE WHEN ((ka + kb)::DOUBLE / (na + nb)::DOUBLE)
                 * (1.0 - (ka + kb)::DOUBLE / (na + nb)::DOUBLE)
                 * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE) > 0 THEN
         round((ka::DOUBLE / na::DOUBLE - kb::DOUBLE / nb::DOUBLE)
               / sqrt(((ka + kb)::DOUBLE / (na + nb)::DOUBLE)
                      * (1.0 - (ka + kb)::DOUBLE / (na + nb)::DOUBLE)
                      * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE)), 6)
       END AS z
FROM agg
"""


@register("orders_two_prop_ztest", _PROPZ_ORACLE)
def orders_two_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z of the big-order rate between even and odd
    customer cohorts (operators/abtest.two_proportion_ztest) — the
    pooled-variance conversion test; an A/A-style check here (parity
    should read z near 0). Reference-pinned."""
    from olake_spark.operators.abtest import two_proportion_ztest

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        F.when(F.col("o_custkey") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("o_totalprice") > 150000.0).alias("s"),
    )
    return two_proportion_ztest(o, "g", "s", "a", "b")


_ODDS_ORACLE = """
WITH base AS (
  SELECT (user_id % 2 = 0) AS e, (value > 250.0) AS o
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
agg AS (
  SELECT sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT AS c,
         sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT AS d
  FROM base
),
f AS (
  SELECT a, b, c, d,
         CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
              THEN (a::DOUBLE * d::DOUBLE) / (b::DOUBLE * c::DOUBLE)
         END AS orr,
         CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
              THEN sqrt(1.0/a::DOUBLE + 1.0/b::DOUBLE
                        + 1.0/c::DOUBLE + 1.0/d::DOUBLE)
         END AS se
  FROM agg
)
SELECT a AS n_eo, b AS n_en, c AS n_ce, d AS n_cn,
       round(orr, 6) AS odds_ratio,
       round(ln(orr), 6) AS log_or,
       round(se, 6) AS se_log_or,
       round(exp(ln(orr) - 1.96 * se), 6) AS ci_lo,
       round(exp(ln(orr) + 1.96 * se), 6) AS ci_hi
FROM f
"""


@register("events_odds_ratio", _ODDS_ORACLE)
def events_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds ratio of high-value events between the even and odd
    user cohorts (operators/abtest.odds_ratio) with the Woolf log-OR
    interval — exact cells, one IEEE sequence."""
    from olake_spark.operators.abtest import odds_ratio

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        (F.col("user_id") % 2 == 0).alias("e"),
        (F.col("value") > 250.0).alias("o"),
    )
    return odds_ratio(ev, "e", "o")


_KISH_ORACLE = """
WITH base AS (
  SELECT o_orderpriority,
         (1 + o_custkey % 5)::DOUBLE AS w, o_totalprice AS x
  FROM orders WHERE o_totalprice IS NOT NULL
),
agg AS (
  SELECT o_orderpriority,
         count(*)::BIGINT AS n,
         sum(round(w * 1000000)::BIGINT)::HUGEINT AS sw,
         sum(round(w * 1000000)::BIGINT::HUGEINT
             * round(w * 1000000)::BIGINT) AS sww,
         sum(round(w * 1000000)::BIGINT::HUGEINT
             * round(x * 1000000)::BIGINT) AS swx
  FROM base GROUP BY 1
)
SELECT o_orderpriority, n, 0::BIGINT AS n_excluded,
       round(swx::DOUBLE / sw::DOUBLE / 1e6, 6) AS mean_w,
       round((sw*sw)::DOUBLE / sww::DOUBLE, 6) AS n_eff,
       round(n::DOUBLE / ((sw*sw)::DOUBLE / sww::DOUBLE), 6) AS deff
FROM agg
"""


@register("orders_kish_weighted_mean", _KISH_ORACLE)
def orders_kish_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey-weighted order-total mean per priority with Kish n_eff
    and design effect (operators/abtest.kish_weighted_mean); weights
    are the deterministic 1+(custkey%5) replication fixture. Exact
    micro-squared moment products."""
    from olake_spark.operators.abtest import kish_weighted_mean

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_orderpriority",
        (1 + F.col("o_custkey") % 5).cast("double").alias("w"),
        F.col("o_totalprice").alias("x"),
    )
    return kish_weighted_mean(o, ["o_orderpriority"], "x", "w")


_CA_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CASE o_orderpriority
           WHEN '1-URGENT' THEN 1000000 WHEN '2-HIGH' THEN 2000000
           WHEN '3-MEDIUM' THEN 3000000 WHEN '4-NOT SPECIFIED' THEN 4000000
           WHEN '5-LOW' THEN 5000000 END::HUGEINT AS w,
         CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS s
  FROM orders WHERE o_totalprice IS NOT NULL
),
agg AS (
  SELECT count(*)::HUGEINT AS n, sum(s)::HUGEINT AS k,
         sum(w) AS nw, sum(w * s) AS kw, sum(w * w) AS nww,
         count(DISTINCT g)::BIGINT AS kg
  FROM base WHERE w IS NOT NULL
)
SELECT kg AS k_groups, n::BIGINT AS n, k::BIGINT AS k_total,
       CASE WHEN (n*nww - nw*nw) > 0 AND k > 0 AND k < n THEN
         round(((n*kw - k*nw)::DOUBLE / n::DOUBLE)
               / sqrt((k*(n-k))::DOUBLE * (n*nww - nw*nw)::DOUBLE
                      / (n::DOUBLE * n::DOUBLE * n::DOUBLE)), 6)
       END AS z
FROM agg
"""


@register("orders_cochran_armitage", _CA_ORACLE)
def orders_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage linear-trend test of the big-order rate across
    the five priority tiers scored 1..5
    (operators/abtest.cochran_armitage_trend) — the proportions sibling
    of the Jonckheere ordered-trend test; exact cross-multiplied T and
    variance moments."""
    from olake_spark.operators.abtest import cochran_armitage_trend

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_orderpriority",
        (F.col("o_totalprice") > 150000.0).alias("s"),
    )
    scores = {"1-URGENT": 1.0, "2-HIGH": 2.0, "3-MEDIUM": 3.0,
              "4-NOT SPECIFIED": 4.0, "5-LOW": 5.0}
    return cochran_armitage_trend(o, "o_orderpriority", "s", scores)


_MH_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority,
         sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT AS c,
         sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT AS d
  FROM (
    SELECT o_orderpriority, o_custkey % 2 = 0 AS e,
           o_totalprice > 150000.0 AS o
    FROM orders WHERE o_totalprice IS NOT NULL
  ) GROUP BY 1
),
terms AS (
  SELECT a + b + c + d AS cn,
         a::DOUBLE * d::DOUBLE / (a+b+c+d)::DOUBLE AS r,
         b::DOUBLE * c::DOUBLE / (a+b+c+d)::DOUBLE AS s,
         (a+d)::DOUBLE / (a+b+c+d)::DOUBLE AS p,
         (b+c)::DOUBLE / (a+b+c+d)::DOUBLE AS q
  FROM cells
),
m AS (
  SELECT count(*)::BIGINT AS k_strata, sum(cn)::BIGINT AS n,
         sum(floor(r * 1000000000)::BIGINT)::HUGEINT AS sr,
         sum(floor(s * 1000000000)::BIGINT)::HUGEINT AS ss,
         sum(floor(p * r * 1000000000)::BIGINT)::HUGEINT AS spr,
         sum(floor((p * s + q * r) * 1000000000)::BIGINT)::HUGEINT AS spsqr,
         sum(floor(q * s * 1000000000)::BIGINT)::HUGEINT AS sqs
  FROM terms
),
f AS (
  SELECT k_strata, n,
         CASE WHEN sr > 0 AND ss > 0
              THEN (sr::DOUBLE / 1000000000) / (ss::DOUBLE / 1000000000) END AS orm,
         CASE WHEN sr > 0 AND ss > 0 THEN sqrt(
           (spr::DOUBLE / 1000000000)
             / (2.0 * (sr::DOUBLE / 1000000000) * (sr::DOUBLE / 1000000000))
           + (spsqr::DOUBLE / 1000000000)
             / (2.0 * (sr::DOUBLE / 1000000000) * (ss::DOUBLE / 1000000000))
           + (sqs::DOUBLE / 1000000000)
             / (2.0 * (ss::DOUBLE / 1000000000) * (ss::DOUBLE / 1000000000))
         ) END AS se
  FROM m
)
SELECT k_strata, n, round(orm, 6) AS or_mh, round(ln(orm), 6) AS log_or_mh,
       round(se, 6) AS se_log_or,
       round(exp(ln(orm) - 1.96 * se), 6) AS ci_lo,
       round(exp(ln(orm) + 1.96 * se), 6) AS ci_hi
FROM f
"""


@register("orders_mantel_haenszel", _MH_ORACLE)
def orders_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio of big orders vs the even-
    custkey cohort, stratified by order priority
    (operators/abtest.mantel_haenszel_or) with the RBG interval —
    the Simpson's-paradox-proof sibling of events_odds_ratio."""
    from olake_spark.operators.abtest import mantel_haenszel_or

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_orderpriority",
        (F.col("o_custkey") % 2 == 0).alias("e"),
        (F.col("o_totalprice") > 150000.0).alias("o"),
    )
    return mantel_haenszel_or(o, ["o_orderpriority"], "e", "o")


_MCNEMAR_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1 AS x,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS y
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN x = y THEN 1 ELSE 0 END)::BIGINT AS n_concordant,
         sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END)::BIGINT AS c
  FROM per_user
)
SELECT n, n_concordant, b, c,
       CASE WHEN b + c > 0 THEN round(
         (b::DOUBLE - c::DOUBLE) * (b::DOUBLE - c::DOUBLE)
         / (b::DOUBLE + c::DOUBLE), 6) END AS chi2,
       CASE WHEN b + c > 0 THEN round(
         (abs(b::DOUBLE - c::DOUBLE) - 1.0) * (abs(b::DOUBLE - c::DOUBLE) - 1.0)
         / (b::DOUBLE + c::DOUBLE), 6) END AS chi2_cc,
       CASE WHEN b + c > 0 THEN round(
         (b::DOUBLE - c::DOUBLE) / sqrt(b::DOUBLE + c::DOUBLE), 6) + 0.0
       END AS z
FROM m
"""


@register("events_mcnemar_clicks_purchases", _MCNEMAR_ORACLE)
def events_mcnemar_clicks_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's paired test of per-user click-reach vs purchase-reach
    (operators/abtest.mcnemar_paired) — only the discordant users
    carry information; the within-subject sibling of the two-prop z."""
    from olake_spark.operators.abtest import mcnemar_paired

    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.max((F.col("event_type") == "click").cast("int")) == 1).alias(
                "x"
            ),
            (
                F.max((F.col("event_type") == "purchase").cast("int")) == 1
            ).alias("y"),
        )
    )
    return mcnemar_paired(per_user, "x", "y")


_W1_ORACLE = """
WITH per AS (
  SELECT round(l_extendedprice * 1000000)::BIGINT AS v,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::HUGEINT AS ca,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::HUGEINT AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
    AND l_extendedprice IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v) AS cuma,
         sum(cb) OVER (ORDER BY v) AS cumb,
         (lead(v) OVER (ORDER BY v) - v)::HUGEINT AS dx,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM per
),
m AS (
  SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
         count(*)::BIGINT AS n_values,
         coalesce(sum(CASE WHEN dx IS NOT NULL
             THEN abs(cuma * nb - cumb * na) * dx END), 0) AS num,
         max(na) AS tna, max(nb) AS tnb
  FROM cum
)
SELECT n_a, n_b, n_values,
       round(num::DOUBLE / (tna * tnb)::DOUBLE / 1e6, 6) AS w1
FROM m
"""


@register("lineitem_wasserstein_price", _W1_ORACLE)
def lineitem_wasserstein_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein distance between the R and A return
    flags' extended-price distributions
    (operators/abtest.wasserstein_1d) — every segment term an exact
    DECIMAL product, one final divide."""
    from olake_spark.operators.abtest import wasserstein_1d

    return wasserstein_1d(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "R", "A",
    )


_DW_ORACLE = """
WITH daily AS (
  -- per-day revenue in exact CENTS (per-event round, integer sum) so
  -- the series fed to the DW quantizer carries no order-dependent
  -- float sum on either engine
  SELECT event_type,
         date_trunc('day', ts) AS day,
         sum(round(value * 100)::BIGINT)::BIGINT AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, v::HUGEINT AS v,
         (v - lag(v) OVER (PARTITION BY event_type ORDER BY day))::HUGEINT AS d
  FROM daily
),
m AS (
  SELECT event_type, count(*)::HUGEINT AS n, sum(v) AS s,
         sum(v * v) AS q, sum(d * d) AS sd2
  FROM lagged GROUP BY 1
)
SELECT event_type, n::BIGINT AS n,
       CASE WHEN n > 1 AND n * q - s * s > 0
            THEN round((n * sd2)::DOUBLE / (n * q - s * s)::DOUBLE, 6)
       END AS dw
FROM m
"""


@register("events_durbin_watson", _DW_ORACLE)
def events_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson lag-1 autocorrelation diagnostic of each event
    type's daily-revenue series (operators/timeseries.durbin_watson) —
    the mean cancels in the differences, so both moments are exact
    micro integers."""
    from olake_spark.operators.timeseries import durbin_watson

    daily = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            # exact cents (per-event round, integer sum) — a float daily
            # sum would be partition-order-dependent right at the
            # operator's micro-round boundary
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev")
        )
    )
    return durbin_watson(daily, ["event_type"], "day", "rev")


# ---------------------------------------------------------------------------
# r11 post-close wave 2: repeated-measures/reliability + dependence
# diagnostics + cumulative hazard
# ---------------------------------------------------------------------------

_LB_ORACLE = """
WITH daily AS (
  SELECT event_type, floor(epoch_us(ts) / 86400000000)::BIGINT AS t,
         sum(round(value * 1000000)::BIGINT)::HUGEINT AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*)::HUGEINT AS n, sum(x) AS s
  FROM daily GROUP BY 1
),
c AS (
  SELECT d.event_type, d.t, st.n AS n, st.n * d.x - st.s AS dev
  FROM daily d JOIN stats st USING (event_type)
),
den AS (SELECT event_type, sum(dev*dev) AS den FROM c GROUP BY 1),
per_lag AS (
  SELECT a.event_type, l.lag, any_value(a.n) AS n,
         CASE WHEN any_value(dn.den) > 0
              THEN sum(a.dev * b.dev)::DOUBLE / any_value(dn.den)::DOUBLE
         END AS r
  FROM (SELECT unnest([1, 2, 3]) AS lag) l
  JOIN c a ON TRUE
  JOIN c b ON b.event_type = a.event_type AND b.t = a.t + l.lag
  JOIN den dn ON dn.event_type = a.event_type
  GROUP BY 1, 2
),
m AS (
  SELECT event_type, any_value(n)::BIGINT AS n,
         count(*)::BIGINT AS m_used,
         sum(floor(r * r / (n::DOUBLE - lag) * 1000000000)::BIGINT)
           ::HUGEINT AS st
  FROM per_lag WHERE r IS NOT NULL AND n > lag
  GROUP BY 1
)
SELECT event_type, n, m_used,
       round(n::DOUBLE * (n::DOUBLE + 2.0) * (st::DOUBLE / 1000000000), 6)
         AS q_lb
FROM m
"""


@register("events_ljung_box", _LB_ORACLE)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau Q per event type over the daily micro-sum
    series, lags 1..3 (operators/forecast.ljung_box) — the any-serial-
    dependence companion to events_acf_by_type and events_durbin_watson,
    from the same bucket-relation plan."""
    from olake_spark.operators.forecast import ljung_box

    return ljung_box(
        table(spark, sf_dir, "events"), "ts", "value",
        step="1 day", max_lag=3, by=["event_type"],
    )


_FRIEDMAN_ORACLE = """
WITH cells AS (
  SELECT date_trunc('day', ts) AS b, event_type AS tr,
         sum(round(value * 100)::BIGINT)::BIGINT AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
k AS (SELECT count(DISTINCT tr)::BIGINT AS k FROM cells),
complete AS (
  SELECT b FROM cells GROUP BY b
  HAVING count(*) = (SELECT k FROM k)
),
ranked AS (
  SELECT c.b, c.tr,
         (2 * rank() OVER (PARTITION BY c.b ORDER BY c.v)
          + count(*) OVER (PARTITION BY c.b, c.v) - 1)::HUGEINT AS r2
  FROM cells c JOIN complete USING (b)
),
per_treat AS (
  SELECT tr, count(*)::HUGEINT AS n, sum(r2) AS R2, sum(r2 * r2) AS A4
  FROM ranked GROUP BY 1
),
m AS (
  SELECT any_value((SELECT k FROM k)) AS kt, any_value(n) AS n,
         sum((R2 - n * (kt_inner + 1)) * (R2 - n * (kt_inner + 1))) AS num4,
         sum(A4) AS sa4
  FROM (SELECT tr, n, R2, A4, (SELECT k FROM k)::HUGEINT AS kt_inner
        FROM per_treat)
)
SELECT kt::BIGINT AS k_treatments, n::BIGINT AS n_blocks,
       CASE WHEN sa4 - n * kt * (kt + 1) * (kt + 1) > 0
            THEN round((kt - 1)::DOUBLE * num4::DOUBLE
                 / (sa4 - n * kt * (kt + 1) * (kt + 1))::DOUBLE, 6)
       END AS t_stat
FROM m
"""


@register("events_friedman_daily_revenue", _FRIEDMAN_ORACLE)
def events_friedman_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman tie-corrected rank test of the five event types'
    daily-revenue cells, blocked by day
    (operators/abtest.friedman_test) — each day ranks its own five
    cells, so day-level traffic shifts can't masquerade as a
    type effect. Cells are exact cents."""
    from olake_spark.operators.abtest import friedman_test

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return friedman_test(ev, "day", "event_type", "cents")


_COCHRANQ_ORACLE = """
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
),
reach AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL
),
cells AS (
  SELECT u.user_id, t.tr,
         (r.user_id IS NOT NULL) AS s
  FROM users u
  CROSS JOIN (SELECT unnest(['click', 'purchase', 'error']) AS tr) t
  LEFT JOIN reach r ON r.user_id = u.user_id AND r.event_type = t.tr
),
per_unit AS (
  SELECT user_id, sum(CASE WHEN s THEN 1 ELSE 0 END)::HUGEINT AS ri
  FROM cells GROUP BY 1
),
per_treat AS (
  SELECT tr, sum(CASE WHEN s THEN 1 ELSE 0 END)::HUGEINT AS cj
  FROM cells GROUP BY 1
),
m AS (
  SELECT (SELECT count(*)::HUGEINT FROM per_treat) AS k,
         (SELECT count(*)::BIGINT FROM per_unit) AS n_units,
         (SELECT sum(cj) FROM per_treat) AS N,
         (SELECT sum(cj * cj) FROM per_treat) AS sc2,
         (SELECT sum(ri * ri) FROM per_unit) AS sr2
)
SELECT k::BIGINT AS k_treatments, n_units,
       N::BIGINT AS n_success,
       CASE WHEN k * N - sr2 > 0
            THEN round(((k - 1) * (k * sc2 - N * N))::DOUBLE
                       / (k * N - sr2)::DOUBLE, 6)
       END AS q_stat
FROM m
"""


@register("events_cochran_q_reach", _COCHRANQ_ORACLE)
def events_cochran_q_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three matched binary reach treatments per
    user — did the user ever click / purchase / hit an error
    (operators/abtest.cochran_q) — the k-treatment McNemar. The
    complete design is BUILT (user universe × treatment list,
    left-join reach), which is also what arms the operator's
    incomplete-design raise_error guard."""
    from olake_spark.operators.abtest import cochran_q

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    treats = users.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("click",), ("purchase",), ("error",)], "tr string"
            )
        )
    )
    reach = ev.select("user_id", F.col("event_type").alias("tr")).distinct()
    cells = treats.join(
        reach.withColumn("_hit", F.lit(1)), ["user_id", "tr"], "left"
    ).select(
        "user_id", "tr", F.col("_hit").isNotNull().alias("s")
    )
    return cochran_q(cells, "user_id", "tr", "s")


_CLIFFS_ORACLE = """
WITH per AS (
  SELECT round(l_quantity * 1000000)::BIGINT AS v,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::HUGEINT AS ca,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::HUGEINT AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
    AND l_quantity IS NOT NULL
  GROUP BY 1
),
-- DELIBERATELY a different formulation than the operator's cumulative
-- windows: the domain² theta-join over distinct-value pairs
pairs AS (
  SELECT sum(a.ca * b.cb) FILTER (WHERE a.v > b.v) AS gt,
         sum(a.ca * b.cb) FILTER (WHERE a.v < b.v) AS lt
  FROM per a CROSS JOIN per b
),
m AS (
  SELECT (SELECT sum(ca) FROM per) AS na, (SELECT sum(cb) FROM per) AS nb,
         coalesce(gt, 0) AS gt, coalesce(lt, 0) AS lt
  FROM pairs
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, gt::BIGINT AS n_gt,
       lt::BIGINT AS n_lt,
       round((gt - lt)::DOUBLE / (na * nb)::DOUBLE, 6) + 0.0 AS delta
FROM m
"""


@register("lineitem_cliffs_delta_qty", _CLIFFS_ORACLE)
def lineitem_cliffs_delta_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size of quantity between the R and
    A return flags (operators/abtest.cliffs_delta). The Spark side is
    the cumulative-window grid fold; the oracle DELIBERATELY recomputes
    the win counts as the domain² theta-join over distinct-value pairs
    — a structurally different formulation of the same counts (the
    50-value quantity domain keeps it trivially cheap), so agreement
    checks the cumulative algebra, not a mirrored expression."""
    from olake_spark.operators.abtest import cliffs_delta

    return cliffs_delta(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity",
        "R", "A",
    )


_NA_ORACLE = """
WITH subj AS (
  SELECT user_id,
         (epoch_us(max(ts)) // 3600000000)
           - (epoch_us(min(ts)) // 3600000000) AS dur,
         epoch_us(max(ts)) AS last_us
  FROM events GROUP BY 1
),
cut AS (SELECT max(epoch_us(ts)) - 86400000000 AS cut_us FROM events),
per AS (
  SELECT dur,
         sum(CASE WHEN last_us < (SELECT cut_us FROM cut)
                  THEN 1 ELSE 0 END)::BIGINT AS d,
         count(*)::BIGINT AS c
  FROM subj GROUP BY 1
),
w1 AS (
  SELECT dur, d,
         (sum(c) OVER ()
          - coalesce(sum(c) OVER (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         )::BIGINT AS n_at_risk
  FROM per
),
w2 AS (
  SELECT dur, n_at_risk, d,
         d * 1000000 // n_at_risk AS h_micro,
         d * 1000000000000 // (n_at_risk * n_at_risk) AS v1
  FROM w1
)
SELECT dur AS duration, n_at_risk, d, h_micro,
       (sum(h_micro) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING))
         ::BIGINT AS cum_hazard_micro,
       (sum(v1) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING))
         ::BIGINT AS var_micro2
FROM w2
"""


@register("events_nelson_aalen", _NA_ORACLE)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative churn hazard over the same user-lifetime
    subjects as events_survival_km (operators/survival.nelson_aalen) —
    exact integer micro-floor hazards, prefix-summed over the tiny
    period relation."""
    from olake_spark.operators.survival import nelson_aalen

    HOUR = 3_600_000_000
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("_us")
    )
    subj = ev.groupBy("user_id").agg(
        F.min("_us").alias("_first_us"), F.max("_us").alias("_last_us")
    )
    cut = ev.groupBy().agg(
        (F.max("_us") - F.lit(24 * HOUR)).alias("_cut_us")
    )
    subjects = subj.crossJoin(F.broadcast(cut)).select(
        (
            F.expr(f"_last_us div {HOUR}") - F.expr(f"_first_us div {HOUR}")
        ).alias("dur"),
        (F.col("_last_us") < F.col("_cut_us")).alias("observed"),
    )
    return nelson_aalen(subjects, "dur", "observed")


_CRONBACH_ORACLE = """
WITH base AS (
  SELECT user_id AS u, event_type AS it,
         (sum(round(value * 100)::BIGINT) * 1000000)::BIGINT AS v
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
uu AS (SELECT count(DISTINCT u)::HUGEINT AS U FROM base),
per_item AS (
  SELECT it, sum(v::HUGEINT) AS s, sum(v::HUGEINT * v) AS q
  FROM base GROUP BY 1
),
mi AS (
  SELECT count(*)::BIGINT AS k_items,
         sum((SELECT U FROM uu) * q - s * s) AS iv
  FROM per_item
),
per_unit AS (SELECT u, sum(v::HUGEINT) AS t FROM base GROUP BY 1),
mu AS (
  SELECT (SELECT U FROM uu)::BIGINT AS n_units,
         (SELECT U FROM uu) * sum(t * t) - sum(t) * sum(t) AS tv
  FROM per_unit
)
SELECT k_items, n_units,
       CASE WHEN tv > 0 AND k_items > 1
            THEN round(k_items::DOUBLE / (k_items - 1)::DOUBLE
                 * (1.0 - iv::DOUBLE / tv::DOUBLE), 6)
       END AS alpha
FROM mi, mu
"""


@register("events_cronbach_alpha", _CRONBACH_ORACLE)
def events_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha of the five event types' per-user value totals
    (operators/abtest.cronbach_alpha) — do the per-type engagement
    signals cohere into one scale? Implicit zeros: a user who never
    hit a type measures 0 on that item; the totals feed exact cents."""
    from olake_spark.operators.abtest import cronbach_alpha

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    per = ev.groupBy("user_id", "event_type").agg(
        # exact cents, then /100 at the operator's micro scale: feed
        # cents as the value so the operator's x1e6 quantization is an
        # exact integer scale-up of an already-exact integer
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return cronbach_alpha(per, "user_id", "event_type", "cents")


_ISO_ORACLE = """
WITH per AS (
  SELECT least(greatest(floor((l_quantity / 50.0) * 20)::INT, 0), 19)
           AS bucket,
         count(*)::BIGINT AS n,
         sum(CASE WHEN l_extendedprice > 30000.0 THEN 1 ELSE 0 END)::BIGINT
           AS k
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
),
pre AS (
  SELECT bucket, n, k,
         sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)::HUGEINT
           AS cn,
         sum(k) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)::HUGEINT
           AS ck
  FROM per
),
lo AS (
  SELECT bucket AS jb, cn AS cnj, ck AS ckj FROM pre
  UNION ALL SELECT -1, 0::HUGEINT, 0::HUGEINT
),
seg AS (
  SELECT lo.jb, hi.bucket AS kb,
         (hi.ck - lo.ckj)::DOUBLE / (hi.cn - lo.cnj)::DOUBLE AS m
  FROM lo JOIN pre hi ON hi.bucket > lo.jb
),
sufmin AS (
  SELECT jb, kb,
         min(m) OVER (PARTITION BY jb ORDER BY kb DESC
                      ROWS UNBOUNDED PRECEDING) AS minmean
  FROM seg
),
iso AS (
  SELECT kb AS bucket, max(minmean) AS isov FROM sufmin GROUP BY 1
)
SELECT p.bucket::BIGINT AS bucket, p.n,
       round(p.k::DOUBLE / p.n::DOUBLE, 6) AS rate_raw,
       round(i.isov, 6) AS rate_iso
FROM per p JOIN iso i USING (bucket)
ORDER BY bucket
"""


@register("lineitem_isotonic_price_by_qty", _ISO_ORACLE)
def lineitem_isotonic_price_by_qty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic calibration of P(extendedprice > 30k) against the
    quantity score (operators/abtest.isotonic_calibration, 20 buckets)
    — the minimax-identity PAVA fit, monotone by construction, pooling
    the noisy mid-range buckets; pinned against a hand-pooled PAVA
    fixture."""
    from olake_spark.operators.abtest import isotonic_calibration

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).select(
        (F.col("l_quantity") / 50.0).alias("score"),
        (F.col("l_extendedprice") > 30000.0).alias("big"),
    )
    return isotonic_calibration(li, "score", "big", n_buckets=20)


_ENERGY_ORACLE = """
WITH per AS (
  SELECT round(l_extendedprice * 1000000)::BIGINT AS v,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::HUGEINT AS ca,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::HUGEINT AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
    AND l_extendedprice IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v) AS cuma,
         sum(cb) OVER (ORDER BY v) AS cumb,
         (lead(v) OVER (ORDER BY v) - v)::HUGEINT AS dx,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM per
),
m AS (
  SELECT max(na) AS na, max(nb) AS nb,
         coalesce(sum(CASE WHEN dx IS NOT NULL
             THEN (cuma * (nb - cumb) + cumb * (na - cuma)) * dx END), 0)
           AS sxy,
         coalesce(sum(CASE WHEN dx IS NOT NULL
             THEN cuma * (na - cuma) * 2 * dx END), 0) AS sxx,
         coalesce(sum(CASE WHEN dx IS NOT NULL
             THEN cumb * (nb - cumb) * 2 * dx END), 0) AS syy
  FROM cum
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(sxy::DOUBLE / (na * nb)::DOUBLE / 1e6, 6) AS e_xy,
       round(sxx::DOUBLE / (na * na)::DOUBLE / 1e6, 6) AS e_xx,
       round(syy::DOUBLE / (nb * nb)::DOUBLE / 1e6, 6) AS e_yy,
       round(2.0 * (sxy::DOUBLE / (na * nb)::DOUBLE / 1e6)
             - (sxx::DOUBLE / (na * na)::DOUBLE / 1e6)
             - (syy::DOUBLE / (nb * nb)::DOUBLE / 1e6), 6) AS energy_d2
FROM m
"""


@register("lineitem_energy_distance_price", _ENERGY_ORACLE)
def lineitem_energy_distance_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 1-D energy distance between the R and A extended-price
    distributions (operators/abtest.energy_distance_1d) — the
    characteristic-function metric next to lineitem_wasserstein_price,
    from the same exact-integer value grid."""
    from olake_spark.operators.abtest import energy_distance_1d

    return energy_distance_1d(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "R", "A",
    )


_KW_ORACLE = """
WITH cells AS (
  SELECT date_trunc('day', ts) AS b, event_type AS tr,
         sum(round(value * 100)::BIGINT)::BIGINT AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
k AS (SELECT count(DISTINCT tr)::BIGINT AS k FROM cells),
complete AS (
  SELECT b FROM cells GROUP BY b
  HAVING count(*) = (SELECT k FROM k)
),
ranked AS (
  SELECT c.b, c.tr,
         (2 * rank() OVER (PARTITION BY c.b ORDER BY c.v)
          + count(*) OVER (PARTITION BY c.b, c.v) - 1)::HUGEINT AS r2
  FROM cells c JOIN complete USING (b)
),
per_treat AS (
  SELECT tr, count(*)::HUGEINT AS n, sum(r2) AS R2, sum(r2 * r2) AS A4
  FROM ranked GROUP BY 1
),
m AS (
  SELECT any_value((SELECT k FROM k)) AS kt, any_value(n) AS n,
         sum((R2 - n * (kt_inner + 1)) * (R2 - n * (kt_inner + 1))) AS num4,
         sum(A4) AS sa4
  FROM (SELECT tr, n, R2, A4, (SELECT k FROM k)::HUGEINT AS kt_inner
        FROM per_treat)
)
SELECT kt::BIGINT AS k_treatments, n::BIGINT AS n_blocks,
       CASE WHEN sa4 - n * kt * (kt + 1) * (kt + 1) > 0
            THEN round(((kt - 1)::DOUBLE * num4::DOUBLE
                 / (sa4 - n * kt * (kt + 1) * (kt + 1))::DOUBLE)
                 / (n::DOUBLE * (kt - 1)::DOUBLE), 6)
       END AS w
FROM m
"""


@register("events_kendalls_w", _KW_ORACLE)
def events_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across days on the
    ranking of the five event types' daily revenue
    (operators/abtest.kendalls_w = T/(n(k−1)), tie-corrected, same
    exact doubled-rank moments as the Friedman query)."""
    from olake_spark.operators.abtest import kendalls_w

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return kendalls_w(ev, "day", "event_type", "cents")


_CVM_ORACLE = """
WITH per AS (
  SELECT round(l_extendedprice * 1000000)::BIGINT AS v,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::HUGEINT AS ca,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::HUGEINT AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
    AND l_extendedprice IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v) AS cuma,
         sum(cb) OVER (ORDER BY v) AS cumb,
         (ca + cb) AS w,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM per
),
m AS (
  SELECT max(na) AS na, max(nb) AS nb,
         coalesce(sum(w * (cuma * nb - cumb * na) * (cuma * nb - cumb * na)),
                  0) AS s
  FROM cum
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round((na::DOUBLE * nb::DOUBLE) / ((na + nb)::DOUBLE * (na + nb)::DOUBLE)
             * (s::DOUBLE / ((na::DOUBLE * nb::DOUBLE)
                             * (na::DOUBLE * nb::DOUBLE))), 6) AS t_cvm
FROM m
"""


@register("lineitem_cvm_price", _CVM_ORACLE)
def lineitem_cvm_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic between the R and A
    extended-price distributions
    (operators/abtest.cramer_von_mises_2samp) — the integrated-gap
    member of the distance family next to KS/W1/energy, every summand
    an exact DECIMAL over the shared value grid."""
    from olake_spark.operators.abtest import cramer_von_mises_2samp

    return cramer_von_mises_2samp(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "R", "A",
    )


_KUIPER_ORACLE = """
WITH per AS (
  SELECT round(o_totalprice * 1000000)::BIGINT AS v,
         sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)::HUGEINT AS ca,
         sum(CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END)::HUGEINT AS cb
  FROM orders WHERE o_totalprice IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT sum(ca) OVER (ORDER BY v) AS cuma,
         sum(cb) OVER (ORDER BY v) AS cumb,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM per
),
m AS (
  SELECT max(na) AS na, max(nb) AS nb,
         coalesce(greatest(max(cuma * nb - cumb * na), 0), 0) AS dp,
         coalesce(greatest(max(cumb * na - cuma * nb), 0), 0) AS dm
  FROM cum
)
SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
       round(dp::DOUBLE / (na::DOUBLE * nb::DOUBLE), 6) AS d_plus,
       round(dm::DOUBLE / (na::DOUBLE * nb::DOUBLE), 6) AS d_minus,
       round(dp::DOUBLE / (na::DOUBLE * nb::DOUBLE)
             + dm::DOUBLE / (na::DOUBLE * nb::DOUBLE), 6) AS v_kuiper
FROM m
"""


@register("orders_kuiper_totalprice", _KUIPER_ORACLE)
def orders_kuiper_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper V = D⁺ + D⁻ between the even- and odd-custkey cohorts'
    order totals (operators/abtest.kuiper_two_sample) — the
    tail-equal-sensitive KS variant; both sups are maxima of exact
    signed DECIMAL gaps."""
    from olake_spark.operators.abtest import kuiper_two_sample

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    ).select(
        (F.col("o_custkey") % 2 == 0).alias("even"),
        "o_totalprice",
    )
    return kuiper_two_sample(o, "even", "o_totalprice", True, False)


_HELLINGER_ORACLE = """
WITH per AS (
  SELECT floor(value / 50.0)::BIGINT AS b,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::HUGEINT AS a,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::HUGEINT
           AS bn
  FROM events WHERE event_type IN ('click', 'purchase')
    AND value IS NOT NULL
  GROUP BY 1
),
m AS (
  SELECT sum(a) AS tna, sum(bn) AS tnb, count(*)::BIGINT AS n_bins,
         sum(floor(sqrt((a * bn)::DOUBLE) * 1000000000)::BIGINT)::HUGEINT
           AS sr
  FROM per
)
SELECT tna::BIGINT AS n_a, tnb::BIGINT AS n_b, n_bins,
       CASE WHEN tna > 0 AND tnb > 0 THEN
         round((sr::DOUBLE / 1000000000) / sqrt((tna * tnb)::DOUBLE), 6)
       END AS bc,
       CASE WHEN tna > 0 AND tnb > 0 THEN
         round(sqrt(greatest(0.0, 1.0
               - (sr::DOUBLE / 1000000000) / sqrt((tna * tnb)::DOUBLE))), 6)
       END AS hellinger
FROM m
"""


@register("events_hellinger_value", _HELLINGER_ORACLE)
def events_hellinger_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between the click and purchase value
    distributions over width-50 bins
    (operators/abtest.hellinger_binned) — the bounded metric member of
    the divergence family next to PSI/JSD."""
    from olake_spark.operators.abtest import hellinger_binned

    return hellinger_binned(
        table(spark, sf_dir, "events"), "event_type", "value",
        "click", "purchase", bin_width=50.0,
    )


# ---------------------------------------------------------------------------
# independent-oracle proof #8: sessionization from the quantifier
# definition, not the lag/cumsum algebra
# ---------------------------------------------------------------------------

_SESSION_PROOF_ORACLE = """
WITH ev AS (
  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL
),
-- a session START is an event with NO other event of the same user in
-- the preceding 30 minutes: the definition as a quantifier, no lag()
starts AS (
  SELECT user_id, ts FROM ev e
  WHERE NOT EXISTS (
    SELECT 1 FROM ev p
    WHERE p.user_id = e.user_id
      AND p.ts < e.ts
      AND p.ts >= e.ts - INTERVAL 30 MINUTE
  )
),
-- an event belongs to the LATEST start at-or-before it (correlated max)
membered AS (
  SELECT e.user_id, e.ts,
         (SELECT max(s.ts) FROM starts s
          WHERE s.user_id = e.user_id AND s.ts <= e.ts) AS sess_start
  FROM ev e
)
SELECT user_id,
       count(*)::BIGINT AS n_events,
       epoch_ms(min(ts))::BIGINT AS start_ms,
       epoch_ms(max(ts))::BIGINT AS end_ms,
       (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
FROM membered GROUP BY user_id, sess_start
"""


@register("events_sessionize_proof", _SESSION_PROOF_ORACLE)
def events_sessionize_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-oracle proof #8: the Spark side runs the SAME
    one-shuffle lag→flag→cumsum sessionize plan as events_sessionize
    (operators/sessions.session_stats); the oracle re-derives sessions
    from the QUANTIFIER definition — a session start is an event with
    no same-user predecessor within the gap (NOT EXISTS), membership
    is the latest start at-or-before the event (correlated max) — a
    structurally different formulation with no window functions at
    all. Ordinal session ids are dropped so only definition-derived
    columns (per-session event count, bounds, duration) are compared;
    agreement proves the cumsum algebra implements the definition."""
    from olake_spark.operators.sessions import session_stats

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select("user_id", "ts")
    return session_stats(ev, "ts", ["user_id"], gap="30 minutes").select(
        "user_id", "n_events", "start_ms", "end_ms", "duration_us"
    )
