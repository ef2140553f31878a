"""Registry entries for the TPC-H queries (fixture schema and derived
relations) and the graph operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark.queries.core import register, table
from olake_spark.queries.fragments import cooccurrence_edges


# ---------------------------------------------------------------------------
# Canonical TPC-H analytics (Q1 / Q3 / Q5 / Q10 shapes), exact-micro
# revenue arithmetic. Constants adapted to the fixture's 1995-2001 date
# range; Q3/Q10 drop columns the trimmed schema omits (o_shippriority,
# c_phone/address). revenue = Σ price·(1−discount) accumulates as the
# exact integer pm·(10^6 − dm) (scale 10^12) in DECIMAL(38,0)/HUGEINT —
# a float product-sum would be partition-order-dependent. Outputs carry
# the exact revenue at MICRO scale (the 10^12-scale sum div 10^6): the
# raw sum overflows BIGINT near 10^7 rows per group, micro holds to
# ~9·10^12 currency units per group; past that read the decimal
# internals (the gini BIGINT-output caveat, repo-wide).
# ---------------------------------------------------------------------------

_TPCH_Q1_ORACLE = """
WITH l AS (
  SELECT l_returnflag, l_linestatus,
         round(l_quantity * 1000000)::BIGINT AS qm,
         round(l_extendedprice * 1000000)::BIGINT AS pm,
         round(l_discount * 1000000)::BIGINT AS dm,
         round(l_tax * 1000000)::BIGINT AS tm
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
)
SELECT l_returnflag, l_linestatus,
  round(sum(qm)::DOUBLE / 1000000.0, 2) AS sum_qty,
  round(sum(pm)::DOUBLE / 1000000.0, 2) AS sum_base_price,
  round(sum(pm::HUGEINT * (1000000 - dm))::DOUBLE / 1e12, 2)
    AS sum_disc_price,
  round(sum(pm::HUGEINT * (1000000 - dm) * (1000000 + tm))::DOUBLE / 1e18, 2)
    AS sum_charge,
  round(sum(qm)::DOUBLE / count(*) / 1000000.0, 4) AS avg_qty,
  round(sum(pm)::DOUBLE / count(*) / 1000000.0, 4) AS avg_price,
  round(sum(dm)::DOUBLE / count(*) / 1000000.0, 4) AS avg_disc,
  count(*)::BIGINT AS count_order
FROM l GROUP BY 1, 2
"""


def _li_micro(li):
    return li.select(
        "*",
        F.round(F.col("l_extendedprice") * 1_000_000).cast("long").alias("_pm"),
        F.round(F.col("l_discount") * 1_000_000).cast("long").alias("_dm"),
    )


# cast the operand BEFORE multiplying (as the oracle's ::HUGEINT does)
# so the per-row product already carries the 38-digit accumulator's
# headroom — a long*long formulation fits at TPC-H ranges but would
# silently wrap (non-ANSI) on out-of-range data instead of erroring
_REV12 = "CAST(CAST(_pm AS DECIMAL(38,0)) * (1000000 - _dm) AS DECIMAL(38,0))"


@register("tpch_q01_pricing_summary", _TPCH_Q1_ORACLE)
def tpch_q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1, the canonical pricing summary, under the repo's exact
    integer discipline: qty/price/discount/tax as micro-unit BIGINTs,
    disc_price = pm·(10^6−dm) (10^12 scale) and charge = that ·(10^6+tm)
    (10^18 scale) summed in DECIMAL(38,0) — partition-order-free where
    the float formulation is not — divided once at the end with the
    oracle's identical op order. One scan, one map-side-combinable
    aggregation, 100 TB shape by construction."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    l = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_quantity") * 1_000_000).cast("long").alias("qm"),
        F.round(F.col("l_extendedprice") * 1_000_000).cast("long").alias("pm"),
        F.round(F.col("l_discount") * 1_000_000).cast("long").alias("dm"),
        F.round(F.col("l_tax") * 1_000_000).cast("long").alias("tm"),
    )
    n = F.count(F.lit(1))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("qm").cast("double") / 1_000_000.0, 2).alias("sum_qty"),
        F.round(F.sum("pm").cast("double") / 1_000_000.0, 2).alias(
            "sum_base_price"
        ),
        F.round(
            F.sum(
                F.expr(
                    "CAST(CAST(pm AS DECIMAL(38,0)) * (1000000 - dm)"
                    " AS DECIMAL(38,0))"
                )
            )
            .cast("double") / F.lit(1e12),
            2,
        ).alias("sum_disc_price"),
        F.round(
            F.sum(
                F.expr(
                    "CAST(CAST(pm AS DECIMAL(38,0)) * (1000000 - dm)"
                    " AS DECIMAL(38,0))"
                    " * CAST(1000000 + tm AS DECIMAL(38,0))"
                )
            ).cast("double") / F.lit(1e18),
            2,
        ).alias("sum_charge"),
        F.round(F.sum("qm").cast("double") / n / 1_000_000.0, 4).alias(
            "avg_qty"
        ),
        F.round(F.sum("pm").cast("double") / n / 1_000_000.0, 4).alias(
            "avg_price"
        ),
        F.round(F.sum("dm").cast("double") / n / 1_000_000.0, 4).alias(
            "avg_disc"
        ),
        n.cast("long").alias("count_order"),
    )


_TPCH_Q3_ORACLE = """
WITH l AS (
  SELECT l_orderkey,
         round(l_extendedprice * 1000000)::BIGINT AS _pm,
         round(l_discount * 1000000)::BIGINT AS _dm
  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-03-15'
)
SELECT l.l_orderkey,
       (sum(l._pm::HUGEINT * (1000000 - l._dm)) // 1000000)::BIGINT
         AS revenue_micro,
       round(sum(l._pm::HUGEINT * (1000000 - l._dm))::DOUBLE / 1e12, 2)
         AS revenue,
       epoch_ms(o.o_orderdate)::BIGINT AS orderdate_ms
FROM l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
GROUP BY 1, 4
ORDER BY revenue_micro DESC, l_orderkey
LIMIT 10
"""


@register("tpch_q03_unshipped_revenue", _TPCH_Q3_ORACLE)
def tpch_q03_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority column absent from the trimmed
    schema): top-10 highest-revenue BUILDING-segment orders placed
    before the cutoff with lineitems still shipping after it. The
    filtered customer dim broadcasts; orders⋈lineitem is the one real
    shuffle (orderkey — bucketable at scale); revenue is the exact
    10^12-scale integer, which also makes the top-10 ordering exact
    (ties break on orderkey); the global top-10 compiles to
    TakeOrderedAndProject, never a full sort."""
    li = _li_micro(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
        )
    ).filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    j = li.join(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
            "o_orderkey", "o_orderdate"
        ),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = j.groupBy(
        "l_orderkey",
        # explicit cast: the fixture column is TIMESTAMP_NTZ and
        # unix_millis takes LTZ only; the session tz is pinned UTC so
        # the cast is deterministic and equals the oracle's epoch_ms
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
            "orderdate_ms"
        ),
    ).agg(
        # micro-scale output: the raw 10^12-scale sum overflows BIGINT
        # around 10^7 rows per group; div 10^6 keeps the repo-wide exact
        # micro convention and the double keeps human units
        F.expr(f"CAST(sum({_REV12}) div 1000000 AS LONG)").alias(
            "revenue_micro"
        ),
        F.round(
            F.expr(f"CAST(sum({_REV12}) AS DOUBLE)") / F.lit(1e12), 2
        ).alias("revenue"),
    )
    return (
        agg.select("l_orderkey", "revenue_micro", "revenue", "orderdate_ms")
        .orderBy(F.col("revenue_micro").desc(), "l_orderkey")
        .limit(10)
    )


_TPCH_Q5_ORACLE = """
SELECT n.n_name,
       (sum(round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT))
         // 1000000)::BIGINT AS revenue_micro,
       round(sum(round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT))::DOUBLE
           / 1e12, 2) AS revenue
FROM customer c, orders o, lineitem l, supplier s, nation n, region r
WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


@register("tpch_q05_regional_revenue", _TPCH_Q5_ORACLE)
def tpch_q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: local-supplier revenue per ASIA nation in one order
    year. The classic snowflake: region→nation→supplier chain and the
    customer dim all BROADCAST (the c_nationkey = s_nationkey locality
    condition rides the customer broadcast join); orders⋈lineitem on
    the order key is the single real shuffle. Exact 10^12-scale integer
    revenue; 5-row report."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _li_micro(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey)
            & (s.s_nationkey == c.c_nationkey),
        )
    )
    return j.groupBy("n_name").agg(
        F.expr(f"CAST(sum({_REV12}) div 1000000 AS LONG)").alias(
            "revenue_micro"
        ),
        F.round(
            F.expr(f"CAST(sum({_REV12}) AS DOUBLE)") / F.lit(1e12), 2
        ).alias("revenue"),
    )


_TPCH_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(c.c_acctbal, 2) AS acctbal,
       (sum(round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT))
         // 1000000)::BIGINT AS revenue_micro,
       round(sum(round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT))::DOUBLE
           / 1e12, 2) AS revenue
FROM customer c, orders o, lineitem l, nation n
WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND o.o_orderdate >= TIMESTAMP '1998-10-01'
  AND o.o_orderdate < TIMESTAMP '1999-01-01'
  AND l.l_returnflag = 'R'
  AND c.c_nationkey = n.n_nationkey
GROUP BY 1, 2, 3, 4
ORDER BY revenue_micro DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_revenue", _TPCH_Q10_ORACLE)
def tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (phone/address columns absent from the trimmed
    schema): top-20 customers by revenue lost to returned items in one
    quarter. Customer and nation dims broadcast; orders⋈lineitem
    shuffles once on the order key; exact integer revenue makes the
    top-20 deterministic (ties on custkey); TakeOrderedAndProject, no
    full sort."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _li_micro(
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = j.groupBy(
        "c_custkey",
        "c_name",
        "n_name",
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
    ).agg(
        F.expr(f"CAST(sum({_REV12}) div 1000000 AS LONG)").alias(
            "revenue_micro"
        ),
        F.round(
            F.expr(f"CAST(sum({_REV12}) AS DOUBLE)") / F.lit(1e12), 2
        ).alias("revenue"),
    )
    return (
        agg.orderBy(F.col("revenue_micro").desc(), "c_custkey").limit(20)
    )


_TPCH_Q6_ORACLE = """
SELECT (sum(round(l_extendedprice * 1000000)::HUGEINT
           * round(l_discount * 1000000)::BIGINT) // 1000000)::BIGINT
         AS revenue_micro,
       round(sum(round(l_extendedprice * 1000000)::HUGEINT
           * round(l_discount * 1000000)::BIGINT)::DOUBLE / 1e12, 2)
         AS revenue,
       count(*)::BIGINT AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND round(l_discount * 1000000)::BIGINT BETWEEN 50000 AND 70000
  AND l_quantity < 24
"""


@register("tpch_q06_forecast_revenue", _TPCH_Q6_ORACLE)
def tpch_q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6, the forecasting-revenue-change filter-aggregate: the
    discount-band predicate compares EXACT micro integers (a float
    BETWEEN 0.05 AND 0.07 can flip rows at the boundary between
    engines), revenue = Σ price·discount as 10^12-scale exact integers.
    The date/quantity predicates push to the parquet scan; one
    map-side-combinable aggregation, 1-row report."""
    li = table(spark, sf_dir, "lineitem")
    dm = F.round(F.col("l_discount") * 1_000_000).cast("long")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & dm.between(50_000, 70_000)
        & (F.col("l_quantity") < 24)
    ).select(
        (
            F.round(F.col("l_extendedprice") * 1_000_000).cast("long")
        ).alias("_pm"),
        dm.alias("_dm"),
    )
    return f.agg(
        F.expr(
            "CAST(sum(CAST(CAST(_pm AS DECIMAL(38,0)) * _dm"
            " AS DECIMAL(38,0))) div 1000000 AS LONG)"
        ).alias("revenue_micro"),
        F.round(
            F.sum(
                F.expr(
                    "CAST(CAST(_pm AS DECIMAL(38,0)) * _dm"
                    " AS DECIMAL(38,0))"
                )
            ).cast("double")
            / F.lit(1e12),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


_TPCH_Q7_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l.l_shipdate)::INT AS l_year,
       (sum(round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT))
         // 1000000)::BIGINT AS revenue_micro
FROM supplier s, lineitem l, orders o, customer c, nation sn, nation cn
WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
  AND c.c_custkey = o.o_custkey AND s.s_nationkey = sn.n_nationkey
  AND c.c_nationkey = cn.n_nationkey
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


@register("tpch_q07_volume_shipping", _TPCH_Q7_ORACLE)
def tpch_q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.
    Both nation-resolved dims (supplier, customer) BROADCAST with their
    nation names attached; the pair predicate applies after the
    broadcast joins, so the one real shuffle is orders⋈lineitem on the
    order key. Exact 10^12-scale integer revenue; year() of the ship
    timestamp is exact integer arithmetic in both engines."""
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _li_micro(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
            "l_shipdate",
        )
    ).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year(F.col("l_shipdate")).cast("int").alias("l_year"),
    ).agg(
        F.expr(f"CAST(sum({_REV12}) div 1000000 AS LONG)").alias(
            "revenue_micro"
        )
    )


_TPCH_Q13_ORACLE = """
WITH co AS (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT c_count, count(*)::BIGINT AS custdist
FROM co GROUP BY 1
"""


@register("tpch_q13_customer_distribution", _TPCH_Q13_ORACLE)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the customer order-count distribution — the classic
    LEFT OUTER join query (customers with zero orders must appear in
    the c_count=0 bucket; an inner join silently loses them). Count
    the non-null join side, then a second map-side-combinable groupBy
    over the tiny count domain. At 100 TB the left join hashes on the
    customer key once; the histogram relation is at most a few hundred
    rows."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_TPCH_Q14_ORACLE = """
WITH l AS (
  SELECT p.p_type,
         round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT) AS r12
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
    AND l.l_shipdate < TIMESTAMP '1997-10-01'
)
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN r12 ELSE 0 END)
             ::DOUBLE / sum(r12)::DOUBLE, 4) AS promo_revenue_pct,
       (sum(CASE WHEN p_type = 'PROMO' THEN r12 ELSE 0 END)
         // 1000000)::BIGINT AS promo_micro,
       (sum(r12) // 1000000)::BIGINT AS total_micro
FROM l
"""


@register("tpch_q14_promo_effect", _TPCH_Q14_ORACLE)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share for one ship month. The part
    dim broadcasts onto the date-pruned lineitem scan; both the promo
    and total revenue accumulate as exact 10^12-scale integers in ONE
    aggregation and divide once — the conditional-aggregation shape
    (never two scans, never a join of two aggregates)."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _li_micro(
        table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_extendedprice", "l_discount", "l_shipdate"
        )
    ).filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    promo_sql = (
        f"sum(CASE WHEN p_type = 'PROMO' THEN {_REV12} "
        "ELSE CAST(0 AS DECIMAL(38,0)) END)"
    )
    total_sql = f"sum({_REV12})"
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.expr(f"CAST({promo_sql} AS DOUBLE)")
            / F.expr(f"CAST({total_sql} AS DOUBLE)"),
            4,
        ).alias("promo_revenue_pct"),
        F.expr(f"CAST({promo_sql} div 1000000 AS LONG)").alias("promo_micro"),
        F.expr(f"CAST({total_sql} div 1000000 AS LONG)").alias("total_micro"),
    )


_TPCH_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey,
         sum(round(l_quantity * 1000000)::BIGINT) AS qm
  FROM lineitem GROUP BY 1
  HAVING sum(round(l_quantity * 1000000)::BIGINT) > 220000000
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       epoch_ms(o.o_orderdate)::BIGINT AS orderdate_ms,
       round(o.o_totalprice, 2) AS totalprice,
       round(b.qm::DOUBLE / 1000000.0, 2) AS total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@register("tpch_q18_large_volume_customers", _TPCH_Q18_ORACLE)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers behind the largest-volume orders (total
    order quantity above threshold). The HAVING side aggregates
    lineitem map-side to per-order quantity (exact micro integers)
    BEFORE any join — only qualifying order keys continue (at 100 TB
    this is the difference between joining 874 rows and joining
    everything); orders join on the shared key, customer broadcasts;
    top-100 by price compiles to TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(F.col("l_quantity") * 1_000_000).cast("long")
            ).alias("_qm")
        )
        .filter(F.col("_qm") > 220_000_000)
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = big.join(o, big.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    return (
        j.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_ms"
            ),
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
            F.round(F.col("_qm").cast("double") / 1_000_000.0, 2).alias(
                "total_qty"
            ),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_TPCH_Q8_ORACLE = """
WITH flat AS (
  SELECT year(o.o_orderdate)::INT AS o_year,
         round(l.l_extendedprice * 1000000)::HUGEINT
           * (1000000 - round(l.l_discount * 1000000)::BIGINT) AS r12,
         sn.n_name AS supp_nation
  FROM part p, lineitem l, orders o, customer c, supplier s,
       nation cn, nation sn, region r
  WHERE p.p_partkey = l.l_partkey AND l.l_orderkey = o.o_orderkey
    AND o.o_custkey = c.c_custkey AND l.l_suppkey = s.s_suppkey
    AND c.c_nationkey = cn.n_nationkey AND cn.n_regionkey = r.r_regionkey
    AND s.s_nationkey = sn.n_nationkey
    AND r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN r12 ELSE 0 END)
             ::DOUBLE / sum(r12)::DOUBLE, 6) AS mkt_share,
       (sum(CASE WHEN supp_nation = 'NATION_3' THEN r12 ELSE 0 END)
         // 1000000)::BIGINT AS nation_micro,
       (sum(r12) // 1000000)::BIGINT AS total_micro
FROM flat GROUP BY 1
"""


@register("tpch_q08_market_share", _TPCH_Q8_ORACLE)
def tpch_q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region's imports of
    one part type, by order year. Five dims broadcast (part filtered to
    the type, customer->nation->region chain, supplier->nation); the
    single real shuffle is orders⋈lineitem. Share = conditional / total
    exact integer sums in ONE aggregation, divided once."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cn = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("_cnk"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk"))
        .select("c_custkey")
    )
    sn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk"))
        .select("s_suppkey", "supp_nation")
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _li_micro(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    nat_sql = (
        f"sum(CASE WHEN supp_nation = 'NATION_3' THEN {_REV12} "
        "ELSE CAST(0 AS DECIMAL(38,0)) END)"
    )
    tot_sql = f"sum({_REV12})"
    return j.groupBy(
        F.year(F.col("o_orderdate")).cast("int").alias("o_year")
    ).agg(
        F.round(
            F.expr(f"CAST({nat_sql} AS DOUBLE)")
            / F.expr(f"CAST({tot_sql} AS DOUBLE)"),
            6,
        ).alias("mkt_share"),
        F.expr(f"CAST({nat_sql} div 1000000 AS LONG)").alias("nation_micro"),
        F.expr(f"CAST({tot_sql} div 1000000 AS LONG)").alias("total_micro"),
    )


_TPCH_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         (sum(round(l_extendedprice * 1000000)::HUGEINT
              * (1000000 - round(l_discount * 1000000)::BIGINT))
           // 1000000)::BIGINT AS total_micro
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
),
m AS (SELECT max(total_micro) AS mx FROM rev)
SELECT s.s_suppkey, s.s_name, r.total_micro
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey, m
WHERE r.total_micro = m.mx
"""


@register("tpch_q15_top_supplier", _TPCH_Q15_ORACLE)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the top supplier by quarterly revenue — the
    max-of-aggregate shape (the spec's revenue VIEW is the CTE). The
    1-row max broadcasts back onto the supplier-revenue relation (never
    a global sort); exact micro revenue makes the max deterministic,
    and ALL tied suppliers return, per spec."""
    li = _li_micro(
        table(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
        )
    ).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.expr(f"CAST(sum({_REV12}) div 1000000 AS LONG)").alias(
            "total_micro"
        )
    )
    m = rev.groupBy().agg(F.max("total_micro").alias("_mx"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(m), rev.total_micro == m._mx)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_micro")
    )


_TPCH_Q17_ORACLE = """
WITH pa AS (
  SELECT l_partkey,
         sum(round(l_quantity * 1000000)::BIGINT) AS qsum,
         count(*)::BIGINT AS qn
  FROM lineitem GROUP BY 1
)
SELECT (sum(round(l.l_extendedprice * 1000000)::HUGEINT)
         // 7)::BIGINT AS avg_yearly_micro,
       count(*)::BIGINT AS n_small
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = (SELECT min(p_brand) FROM part)
  AND round(l.l_quantity * 1000000)::BIGINT * 5 * pa.qn < pa.qsum
"""


@register("tpch_q17_small_quantity_revenue", _TPCH_Q17_ORACLE)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders of one brand —
    the correlated-aggregate query (qty < 0.2 · avg(qty) per part). The
    correlated subquery decorrelates into a per-part aggregate joined
    back; the 20% threshold compares EXACT integers cross-multiplied
    (qty_micro · 5 · n < Σqty_micro) — a float 0.2·avg would flip
    boundary rows between engines. The brand dim filter broadcasts;
    avg_yearly divides by 7 in exact integer micro."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    qm = F.round(F.col("l_quantity") * 1_000_000).cast("long")
    pa = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(qm).alias("_qsum"), F.count(F.lit(1)).alias("_qn")
    )
    brand = table(spark, sf_dir, "part").groupBy().agg(
        F.min("p_brand").alias("_b")
    )
    p = (
        table(spark, sf_dir, "part")
        .join(F.broadcast(brand), F.col("p_brand") == F.col("_b"))
        .select("p_partkey")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa._pk)
        .filter(qm * 5 * F.col("_qn") < F.col("_qsum"))
    )
    return j.agg(
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 1000000) AS "
            "DECIMAL(38,0))) div 7 AS LONG)"
        ).alias("avg_yearly_micro"),
        F.count(F.lit(1)).alias("n_small"),
    )


_TPCH_Q22_ORACLE = """
WITH avgbal AS (
  SELECT sum(round(c_acctbal * 1000000)::BIGINT) AS s,
         count(*)::BIGINT AS n
  FROM customer WHERE c_acctbal > 0.0
),
rich AS (
  SELECT c.c_custkey, c.c_nationkey,
         round(c.c_acctbal * 1000000)::BIGINT AS bal
  FROM customer c, avgbal a
  WHERE round(c.c_acctbal * 1000000)::BIGINT * a.n > a.s
)
SELECT r.c_nationkey::INT AS nationkey, count(*)::BIGINT AS numcust,
       sum(r.bal)::BIGINT AS totacctbal_micro
FROM rich r
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


@register("tpch_q22_global_sales_opportunity", _TPCH_Q22_ORACLE)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone prefixes absent from the trimmed schema;
    nationkey stands in for the country grouping; the no-orders window
    is scoped to the final two fixture years because every synthetic
    customer has SOME order — an empty anti-join would gate nothing):
    above-average-balance customers with no recent orders — the
    canonical ANTI JOIN, which no other registry query exercises. The above-average predicate
    cross-multiplies exact micro integers (bal·n > Σbal: no float mean
    boundary); the 1-row average broadcasts; the anti join hashes on
    the customer key. The oracle expresses it as NOT EXISTS (DuckDB
    1.0.0 lacks ANTI JOIN syntax), which plans to the same anti join as
    Spark's left_anti (NULL keys never match, both engines)."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    bal = F.round(F.col("c_acctbal") * 1_000_000).cast("long")
    avgbal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    rich = (
        c.crossJoin(F.broadcast(avgbal))
        .filter(bal * F.col("_n") > F.col("_s"))
        .select("c_custkey", "c_nationkey", bal.alias("bal"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    never = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return never.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal").alias("totacctbal_micro"),
    )


# ---------------------------------------------------------------------------
# TPC-H on DERIVED relations — Q2/Q4/Q9/Q11/Q12/Q16/Q19/Q20/Q21, the nine
# canonical queries the trimmed fixture schema blocks. Their missing inputs
# (partsupp; lineitem commit/receipt dates, shipmode, shipinstruct; part
# mfgr/container) are derived at query time as CLOSED FORMS of the keys —
# the documents/embeddings precedent: both engines compute the identical
# relation from the identical pure-integer arithmetic on the 0-based
# contiguous fixture keys, so the DuckDB oracle stays exact:
#
#   commit_lag     = (l_orderkey·31 + l_linenumber·7) % 61 − 30   (days vs shipdate)
#   receipt_lag    = 1 + (l_orderkey·17 + l_linenumber·11) % 30   (days vs shipdate)
#   l_shipmode     = MODES[(l_orderkey + l_linenumber) % 7]
#   l_shipinstruct = INSTR[(l_orderkey·3 + l_linenumber) % 4]
#   partsupp       = DISTINCT (p_partkey, (p_partkey·7 + i·13) % |supplier|), i∈0..3
#   ps_availqty    = 1 + (ps_partkey·23 + ps_suppkey·17) % 9999
#   ps_supplycost_cents = 100 + (ps_partkey·29 + ps_suppkey·31) % 99901
#   p_mfgr         = 'MFGR#' ‖ (1 + p_partkey % 5)
#   p_container    = CONTAINERS[(p_partkey·5 + 3) % 20]
#
# Derived-date predicates run in epoch-millisecond integer space
# (unix_millis(shipdate) + lag·86 400 000) — never engine-dependent
# date+interval arithmetic. Money stays in the exact-micro/cents integer
# discipline of the Q1-Q22 family above.
# ---------------------------------------------------------------------------

_SHIPMODES = ["AIR", "REG AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB"]
_SHIPINSTR = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
_CONTAINERS = [
    "SM CASE", "SM BOX", "SM PACK", "SM PKG",
    "MED BAG", "MED BOX", "MED PKG", "MED PACK",
    "LG CASE", "LG BOX", "LG PACK", "LG PKG",
    "JUMBO BOX", "JUMBO CASE", "JUMBO PACK", "JUMBO PKG",
    "WRAP BAG", "WRAP BOX", "WRAP CASE", "WRAP PKG",
]


def _sql_strlist(vals: list[str]) -> str:
    return "[" + ",".join(f"'{v}'" for v in vals) + "]"


# oracle CTE fragments (compose with f-strings; DuckDB prunes unused cols)
_LX_SQL = f"""
lx AS (
  SELECT l.*,
         ((l_orderkey * 31 + l_linenumber * 7) % 61 - 30)::BIGINT AS commit_lag,
         (1 + (l_orderkey * 17 + l_linenumber * 11) % 30)::BIGINT AS receipt_lag,
         ({_sql_strlist(_SHIPMODES)})[1 + (l_orderkey + l_linenumber) % 7]
           AS l_shipmode,
         ({_sql_strlist(_SHIPINSTR)})[1 + (l_orderkey * 3 + l_linenumber) % 4]
           AS l_shipinstruct
  FROM lineitem l
)"""

_PS_SQL = """
scnt AS (SELECT count(*)::BIGINT AS s FROM supplier),
pskeys AS (
  SELECT DISTINCT p_partkey AS ps_partkey,
         (p_partkey * 7 + i.i * 13) % scnt.s AS ps_suppkey
  FROM part, scnt, (VALUES (0), (1), (2), (3)) i(i)
),
ps AS (
  SELECT ps_partkey, ps_suppkey,
         (1 + (ps_partkey * 23 + ps_suppkey * 17) % 9999)::BIGINT
           AS ps_availqty,
         (100 + (ps_partkey * 29 + ps_suppkey * 31) % 99901)::BIGINT
           AS ps_supplycost_cents
  FROM pskeys
)"""

_PX_SQL = f"""
px AS (
  SELECT p.*, 'MFGR#' || (1 + p_partkey % 5)::VARCHAR AS p_mfgr,
         ({_sql_strlist(_CONTAINERS)})[1 + (p_partkey * 5 + 3) % 20]
           AS p_container
  FROM part p
)"""


def _li_ext(li: DataFrame) -> DataFrame:
    """lineitem + the four derived columns (closed forms above)."""
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber").cast("long")
    modes = F.array(*[F.lit(m) for m in _SHIPMODES])
    instr = F.array(*[F.lit(m) for m in _SHIPINSTR])
    return li.select(
        "*",
        ((ok * 31 + ln * 7) % 61 - 30).alias("commit_lag"),
        (1 + (ok * 17 + ln * 11) % 30).alias("receipt_lag"),
        F.element_at(modes, ((ok + ln) % 7 + 1).cast("int")).alias("l_shipmode"),
        F.element_at(instr, ((ok * 3 + ln) % 4 + 1).cast("int")).alias(
            "l_shipinstruct"
        ),
    )


def _part_ext(p: DataFrame) -> DataFrame:
    """part + derived p_mfgr / p_container."""
    pk = F.col("p_partkey")
    cont = F.array(*[F.lit(c) for c in _CONTAINERS])
    return p.select(
        "*",
        F.concat(F.lit("MFGR#"), (1 + pk % 5).cast("string")).alias("p_mfgr"),
        F.element_at(cont, ((pk * 5 + 3) % 20 + 1).cast("int")).alias(
            "p_container"
        ),
    )


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: 4 candidate suppliers per part by key formula,
    DISTINCT-deduped (the formula may collide mod small supplier counts;
    duplicates are exact duplicates since every attribute is a function
    of the key pair, so DISTINCT is deterministic). The supplier count
    enters as a 1-row broadcast — no collect, no literal baked at plan
    time. Build cost is one |part|×4 shuffle; partsupp is dim-scale
    (4 rows per part), never fact-scale."""
    p = table(spark, sf_dir, "part").select("p_partkey")
    scnt = table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("_s"))
    pk = F.col("p_partkey")
    return (
        p.crossJoin(F.broadcast(scnt))
        .select(
            pk,
            F.col("_s"),
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
        )
        .select(
            pk.alias("ps_partkey"),
            ((pk * 7 + F.col("_i").cast("long") * 13) % F.col("_s")).alias(
                "ps_suppkey"
            ),
        )
        .distinct()
        .select(
            "ps_partkey",
            "ps_suppkey",
            (
                1 + (F.col("ps_partkey") * 23 + F.col("ps_suppkey") * 17) % 9999
            ).alias("ps_availqty"),
            (
                100
                + (F.col("ps_partkey") * 29 + F.col("ps_suppkey") * 31) % 99901
            ).alias("ps_supplycost_cents"),
        )
    )


_TPCH_Q2_ORACLE = f"""
WITH {_PS_SQL},
rs AS (
  SELECT s.s_suppkey, s.s_name,
         round(s.s_acctbal * 1000000)::BIGINT AS s_acctbal_micro, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
),
cand AS (
  SELECT ps.ps_partkey, ps.ps_supplycost_cents, rs.s_acctbal_micro,
         rs.s_name, rs.n_name,
         'MFGR#' || (1 + ps.ps_partkey % 5)::VARCHAR AS p_mfgr,
         min(ps.ps_supplycost_cents)
           OVER (PARTITION BY ps.ps_partkey) AS _mincost
  FROM ps
  JOIN part p ON p.p_partkey = ps.ps_partkey
    AND p.p_size BETWEEN 10 AND 25 AND p.p_type = 'STANDARD'
  JOIN rs ON rs.s_suppkey = ps.ps_suppkey
)
SELECT s_acctbal_micro, s_name, n_name,
       ps_partkey AS p_partkey, p_mfgr,
       ps_supplycost_cents AS supplycost_cents
FROM cand WHERE ps_supplycost_cents = _mincost
ORDER BY s_acctbal_micro DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("tpch_q02_min_cost_supplier", _TPCH_Q2_ORACLE)
def tpch_q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: the cheapest regional supplier for each qualifying part
    — the correlated-MIN query, decorrelated as a per-part window MIN
    over the already-filtered (part ⨝ regional-supplier) partsupp slice
    (the part filter doesn't change which suppliers exist for a part,
    so filtering before the MIN is semantics-preserving and much
    cheaper). Both dims broadcast; the only shuffle is the per-partkey
    window; the fully-tie-broken ORDER+LIMIT 100 compiles to
    TakeOrderedAndProject, never a global sort. Supply cost in exact
    integer cents, account balance in exact micro."""
    ps = _partsupp(spark, sf_dir)
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 25) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rs = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 1_000_000).cast("long").alias(
                "s_acctbal_micro"
            ),
            "n_name",
        )
    )
    j = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(rs), ps.ps_suppkey == rs.s_suppkey)
    )
    w = W.partitionBy("ps_partkey")
    return (
        j.withColumn("_mincost", F.min("ps_supplycost_cents").over(w))
        .filter(F.col("ps_supplycost_cents") == F.col("_mincost"))
        .select(
            "s_acctbal_micro",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            F.concat(
                F.lit("MFGR#"), (1 + F.col("ps_partkey") % 5).cast("string")
            ).alias("p_mfgr"),
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
        )
        .orderBy(
            F.col("s_acctbal_micro").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_TPCH_Q4_ORACLE = f"""
WITH {_LX_SQL}
SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lx l WHERE l.l_orderkey = o.o_orderkey
              AND l.commit_lag < l.receipt_lag)
GROUP BY 1
"""


@register("tpch_q04_order_priority", _TPCH_Q4_ORACLE)
def tpch_q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders-per-priority where at least one lineitem missed
    its commitment (receipt after commit, both derived lags vs the same
    shipdate so the comparison is pure integer) — the canonical EXISTS
    → LEFT SEMI join. The date filter prunes orders before the shuffle;
    both sides hash on the order key (bucketable at 100 TB); the
    5-row priority rollup is map-side combinable."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    late = _li_ext(table(spark, sf_dir, "lineitem")).filter(
        F.col("commit_lag") < F.col("receipt_lag")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_TPCH_Q9_ORACLE = f"""
WITH {_PS_SQL}
SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
       (sum(round(l.l_extendedprice * 1000000)::HUGEINT
              * (1000000 - round(l.l_discount * 1000000)::HUGEINT)
            - ps.ps_supplycost_cents::HUGEINT
              * round(l.l_quantity * 1000000)::HUGEINT * 10000)
        // 1000000)::BIGINT AS profit_micro
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2
"""


@register("tpch_q09_product_type_profit", _TPCH_Q9_ORACLE)
def tpch_q09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by nation and order-year over one product line —
    the widest join in the family (lineitem ⨝ part ⨝ partsupp ⨝
    supplier ⨝ orders ⨝ nation). Profit = pm·(10⁶−dm) − cost_cents·qm·10⁴,
    both terms at 10¹² scale, accumulated in DECIMAL(38,0) and divided
    once (truncating div, identical in both engines even when a group's
    profit is negative). Plan: part filter and supplier→nation broadcast;
    the real shuffles are lineitem⨝partsupp on (partkey, suppkey) and
    ⨝orders on orderkey — both bucketable; the group-by is 175 rows."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.round(F.col("l_quantity") * 1_000_000).cast("long").alias("_qm"),
        F.round(F.col("l_extendedprice") * 1_000_000).cast("long").alias("_pm"),
        F.round(F.col("l_discount") * 1_000_000).cast("long").alias("_dm"),
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    ps = _partsupp(spark, sf_dir)
    sn = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            "o_year",
            # every operand cast to DECIMAL(38,0) BEFORE multiplying —
            # never rely on implicit long promotion inside a product
            # (non-ANSI long*long would wrap silently if the planner
            # ever reassociated the operands)
            F.expr(
                "CAST(CAST(_pm AS DECIMAL(38,0))"
                " * CAST(1000000 - _dm AS DECIMAL(38,0))"
                " AS DECIMAL(38,0))"
                " - CAST(CAST(ps_supplycost_cents AS DECIMAL(38,0))"
                " * CAST(_qm AS DECIMAL(38,0))"
                " * CAST(10000 AS DECIMAL(38,0)) AS DECIMAL(38,0))"
            ).alias("_amt_e12"),
        )
    )
    return j.groupBy("nation", "o_year").agg(
        F.expr("CAST(sum(_amt_e12) div 1000000 AS LONG)").alias("profit_micro")
    )


_TPCH_Q11_ORACLE = f"""
WITH {_PS_SQL},
sup AS (
  SELECT s.s_suppkey FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_7'
),
val AS (
  SELECT ps.ps_partkey,
         sum(ps.ps_supplycost_cents::HUGEINT * ps.ps_availqty) AS v
  FROM ps JOIN sup ON sup.s_suppkey = ps.ps_suppkey
  GROUP BY 1
),
tot AS (SELECT sum(v) AS t FROM val)
SELECT val.ps_partkey, val.v::BIGINT AS value_cents
FROM val, tot WHERE val.v * 1000 > tot.t
"""


@register("tpch_q11_important_stock", _TPCH_Q11_ORACLE)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose stock value at one nation's suppliers
    exceeds a fraction (0.001) of the nation's total — the HAVING-over-
    scalar-subquery query. Stock value is the exact integer
    cents·availqty; the global total is a 1-row broadcast and the
    threshold cross-multiplies (v·1000 > t) so no float fraction can
    flip boundary parts. One groupBy shuffle on partkey; the nation's
    supplier list broadcasts. No ORDER BY — the driver's comparator is
    order-insensitive, so the engine skips the global sort."""
    ps = _partsupp(spark, sf_dir)
    sup = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_7"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        ps.join(F.broadcast(sup), ps.ps_suppkey == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(ps_supplycost_cents AS DECIMAL(38,0))"
                    " * ps_availqty AS DECIMAL(38,0))"
                )
            ).alias("_v")
        )
    )
    tot = val.agg(F.sum("_v").alias("_t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("_v") * 1000 > F.col("_t"))
        .select("ps_partkey", F.col("_v").cast("long").alias("value_cents"))
    )


_TPCH_Q12_ORACLE = f"""
WITH {_LX_SQL}
SELECT lx.l_shipmode,
  sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
  sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM lx JOIN orders o ON o.o_orderkey = lx.l_orderkey
WHERE lx.l_shipmode IN ('MAIL', 'SHIP')
  AND lx.commit_lag < lx.receipt_lag
  AND lx.commit_lag > 0
  AND epoch_ms(lx.l_shipdate) + lx.receipt_lag * 86400000
      >= epoch_ms(TIMESTAMP '1997-01-01')
  AND epoch_ms(lx.l_shipdate) + lx.receipt_lag * 86400000
      < epoch_ms(TIMESTAMP '1998-01-01')
GROUP BY 1
"""


@register("tpch_q12_shipmode_priority", _TPCH_Q12_ORACLE)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: late-but-received-in-window lineitems by ship mode,
    split into high/low order priority — the conditional-aggregation
    join. The derived receipt date enters predicates as exact epoch-ms
    integers (unix_millis(shipdate) + lag·86400000); shipdate <
    commitdate is commit_lag > 0 and commit < receipt is a pure lag
    comparison. The mode/lag filters prune lineitem to ~2/7 before the
    only shuffle (⨝ orders on the order key); 2-row output."""
    lx = _li_ext(table(spark, sf_dir, "lineitem"))
    ship_ms = F.unix_millis(F.col("l_shipdate").cast("timestamp"))
    recv_ms = ship_ms + F.col("receipt_lag") * 86_400_000
    lo = F.unix_millis(F.lit("1997-01-01").cast("timestamp"))
    hi = F.unix_millis(F.lit("1998-01-01").cast("timestamp"))
    lx = lx.filter(
        F.col("l_shipmode").isin(["MAIL", "SHIP"])
        & (F.col("commit_lag") < F.col("receipt_lag"))
        & (F.col("commit_lag") > 0)
        & (recv_ms >= lo)
        & (recv_ms < hi)
    ).select("l_orderkey", "l_shipmode")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi_pri = F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    return (
        lx.join(o, lx.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi_pri, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi_pri, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_TPCH_Q16_ORACLE = f"""
WITH {_PS_SQL}
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey)::BIGINT AS supplier_cnt
FROM ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49, 50)
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = ps.ps_suppkey
                    AND (s.s_suppkey * 13 + 7) % 10 = 0)
GROUP BY 1, 2, 3
"""


@register("tpch_q16_supplier_part_counts", _TPCH_Q16_ORACLE)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct supplier count per (brand, type, size) bucket
    excluding blacklisted suppliers — the NOT IN → ANTI JOIN + COUNT
    DISTINCT query. The complaint predicate is a closed form of the
    supplier key ((k·13+7)%10=0 stands in for the comment LIKE filter
    the trimmed schema omits) but still flows through a genuine
    broadcast anti join against the supplier table, preserving the
    plan shape. Part attrs broadcast; the count-distinct shuffles once
    on the 3-part group key."""
    ps = _partsupp(spark, sf_dir)
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & ~F.col("p_type").like("MEDIUM%")
            & F.col("p_size").isin([1, 4, 9, 16, 25, 36, 49, 50])
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complaints = table(spark, sf_dir, "supplier").filter(
        (F.col("s_suppkey") * 13 + 7) % 10 == 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(complaints),
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


_TPCH_Q19_ORACLE = f"""
WITH {_LX_SQL},
{_PX_SQL}
SELECT
  (sum(round(lx.l_extendedprice * 1000000)::HUGEINT
       * (1000000 - round(lx.l_discount * 1000000)::HUGEINT))
   // 1000000)::BIGINT AS revenue_micro,
  count(*)::BIGINT AS n_lines
FROM lx
JOIN px ON px.p_partkey = lx.l_partkey
WHERE lx.l_shipmode IN ('AIR', 'REG AIR')
  AND lx.l_shipinstruct = 'DELIVER IN PERSON'
  AND (
    (px.p_brand = 'Brand#2'
     AND px.p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
     AND lx.l_quantity BETWEEN 1 AND 11 AND px.p_size BETWEEN 1 AND 5)
    OR
    (px.p_brand = 'Brand#13'
     AND px.p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
     AND lx.l_quantity BETWEEN 10 AND 20 AND px.p_size BETWEEN 1 AND 10)
    OR
    (px.p_brand = 'Brand#24'
     AND px.p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
     AND lx.l_quantity BETWEEN 20 AND 30 AND px.p_size BETWEEN 1 AND 15)
  )
"""


@register("tpch_q19_discounted_revenue", _TPCH_Q19_ORACLE)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three disjunctive brand/container/
    quantity/size bands — the disjunctive-predicate-pushdown query. The
    common conjuncts (shipmode ∈ {AIR, REG AIR}, shipinstruct =
    DELIVER IN PERSON) are hoisted out of the OR so they prune lineitem
    BEFORE the join (~2/7 · 1/4 of rows); the three bands evaluate
    against the broadcast part dim. Revenue in the exact 10¹²-scale
    integer, one truncating division at the end; 1-row output."""
    lx = _li_ext(table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipmode").isin(["AIR", "REG AIR"])
        & (F.col("l_shipinstruct") == "DELIVER IN PERSON")
    )
    px = _part_ext(table(spark, sf_dir, "part")).select(
        "p_partkey", "p_brand", "p_size", "p_container"
    )
    band = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_container").isin(["SM CASE", "SM BOX", "SM PACK", "SM PKG"])
        & F.col("l_quantity").between(1, 11)
        & F.col("p_size").between(1, 5)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_container").isin(["MED BAG", "MED BOX", "MED PKG", "MED PACK"])
        & F.col("l_quantity").between(10, 20)
        & F.col("p_size").between(1, 10)
    ) | (
        (F.col("p_brand") == "Brand#24")
        & F.col("p_container").isin(["LG CASE", "LG BOX", "LG PACK", "LG PKG"])
        & F.col("l_quantity").between(20, 30)
        & F.col("p_size").between(1, 15)
    )
    j = lx.join(F.broadcast(px), lx.l_partkey == px.p_partkey).filter(band)
    return j.agg(
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 1000000) AS DECIMAL(38,0))"
            " * CAST(1000000 - round(l_discount * 1000000) AS DECIMAL(38,0)))"
            " div 1000000 AS LONG)"
        ).alias("revenue_micro"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_TPCH_Q20_ORACLE = f"""
WITH {_PS_SQL},
qty AS (
  SELECT l_partkey, l_suppkey,
         sum(round(l_quantity * 1000000)::HUGEINT) AS q
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM ps
  JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE 'hot%'
  JOIN qty ON qty.l_partkey = ps.ps_partkey
          AND qty.l_suppkey = ps.ps_suppkey
  WHERE ps.ps_availqty::HUGEINT * 2000000 > qty.q
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN cand ON cand.ps_suppkey = s.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
"""


@register("tpch_q20_promotion_suppliers", _TPCH_Q20_ORACLE)
def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers in one nation holding excess stock of one
    product line (availqty > ½ of the year's shipments of that part
    from that supplier) — the nested IN-subquery query, decorrelated as
    partsupp ⨝ per-(part, supplier) shipped-quantity aggregate. The ½
    threshold cross-multiplies exact integers (availqty·2·10⁶ > Σqm).
    The year filter prunes lineitem at the scan; part line broadcasts;
    the (partkey, suppkey) join is the one real shuffle; DISTINCT
    collapses to the supplier key before the broadcast nation join."""
    qm = F.round(F.col("l_quantity") * 1_000_000).cast("long")
    qty = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qm).alias("_q"))
    )
    ps = _partsupp(spark, sf_dir)
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("hot%"))
        .select("p_partkey")
    )
    cand = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            qty,
            (ps.ps_partkey == qty.l_partkey) & (ps.ps_suppkey == qty.l_suppkey),
        )
        .filter(F.col("ps_availqty") * 2_000_000 > F.col("_q"))
        .select("ps_suppkey")
        .distinct()
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return cand.join(
        F.broadcast(sn), cand.ps_suppkey == sn.s_suppkey
    ).select("s_suppkey", "s_name")


_TPCH_Q21_ORACLE = f"""
WITH {_LX_SQL},
l1 AS (
  SELECT l_orderkey, l_suppkey FROM lx WHERE receipt_lag > commit_lag
)
SELECT s.s_name, count(*)::BIGINT AS numwait
FROM l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lx l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.receipt_lag > l3.commit_lag)
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("tpch_q21_suppliers_kept_waiting", _TPCH_Q21_ORACLE)
def tpch_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who were the SOLE late supplier on a
    finished multi-supplier order — the multi-EXISTS query, the only
    registry entry chaining a SEMI and an ANTI join with a non-equi
    residual (same order, DIFFERENT supplier). Lateness is the derived
    receipt_lag > commit_lag (both vs the row's own shipdate — pure
    integer). The nation filter broadcasts onto l1 FIRST (it commutes
    with the per-order exists tests, shrinking the semi/anti probe
    side 25×); all three order-key joins hash on l_orderkey
    (bucketable); ORDER+LIMIT via TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    lx = _li_ext(li).select(
        "l_orderkey", "l_suppkey",
        (F.col("receipt_lag") > F.col("commit_lag")).alias("_late"),
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_1"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = (
        lx.filter(F.col("_late"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    ordf = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    l1 = l1.join(ordf, l1.l_orderkey == ordf.o_orderkey, "left_semi")
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l1 = l1.join(
        l2,
        (l1.l_orderkey == l2._ok2) & (l1.l_suppkey != l2._sk2),
        "left_semi",
    )
    l3 = lx.filter(F.col("_late")).select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    l1 = l1.join(
        l3,
        (l1.l_orderkey == l3._ok3) & (l1.l_suppkey != l3._sk3),
        "left_anti",
    )
    return (
        l1.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient over the supplier co-supply graph
# ---------------------------------------------------------------------------

_CLUSTERING_ORACLE = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_quantity <= 5
),
e AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM ps a JOIN ps b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
tri AS (
  SELECT e1.s1 AS n1, e1.s2 AS n2, e2.s2 AS n3
  FROM e e1
  JOIN e e2 ON e2.s1 = e1.s2
  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
corners AS (
  SELECT n1 AS node FROM tri
  UNION ALL SELECT n2 FROM tri
  UNION ALL SELECT n3 FROM tri
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT s1 AS node FROM e UNION ALL SELECT s2 AS node FROM e
  ) GROUP BY 1
),
tcount AS (SELECT node, count(*) AS n FROM corners GROUP BY 1)
SELECT deg.node, deg.degree::BIGINT AS degree,
       coalesce(t.n, 0)::BIGINT AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN round((2.0 * coalesce(t.n, 0)::DOUBLE)
                       / (deg.degree * (deg.degree - 1))::DOUBLE, 6)
       END AS cc
FROM deg LEFT JOIN tcount t ON t.node = deg.node
"""


@register("graph_clustering_coeff", _CLUSTERING_ORACLE)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the supplier co-supply
    graph (operators/graph.clustering_coefficient): exact triangles via
    the degree-ordered orientation (wedge volume ≤ m^1.5 regardless of
    hubs) joined with degrees — 2T/(d(d−1)) as one exact-long IEEE
    divide. Degree-1 nodes emit cc NULL, never 0/0."""
    from olake_spark.operators.graph import clustering_coefficient

    li = table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") <= 5)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("_ca"), ps.alias("_cb")
    edges = a.join(
        b,
        (F.col("_ca.l_partkey") == F.col("_cb.l_partkey"))
        & (F.col("_ca.l_suppkey") < F.col("_cb.l_suppkey")),
    ).select(
        F.col("_ca.l_suppkey").alias("src"), F.col("_cb.l_suppkey").alias("dst")
    )
    return clustering_coefficient(edges)


# ---------------------------------------------------------------------------
# Integer PageRank (operators/graph.py): Pregel dataflow, K unrolled rounds
# ---------------------------------------------------------------------------

_PR_ITER = """
    c{i} AS (
      SELECT e.dst AS node, sum(r.pr // o.d)::BIGINT AS cs
      FROM e JOIN r{p} r ON r.node = e.src JOIN outdeg o ON o.src = e.src
      GROUP BY 1
    ),
    r{i} AS (
      SELECT n.node,
             (SELECT b FROM base) + (85 * coalesce(c.cs, 0)) // 100 AS pr
      FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
    )"""

_PAGERANK_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey::VARCHAR AS src,
                      'c' || o_custkey::VARCHAR AS dst
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    base AS (
      SELECT (15 * (1000000000000 // count(*))) // 100 AS b,
             1000000000000 // count(*) AS r0
      FROM nodes
    ),
    outdeg AS (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY 1),
    r0 AS (SELECT node, (SELECT r0 FROM base) AS pr FROM nodes),
    {",".join(_PR_ITER.format(i=i, p=i - 1) for i in range(1, 4))}
    SELECT node, pr FROM (
      SELECT node, pr, row_number() OVER (ORDER BY pr DESC, node) AS rn
      FROM r3
    ) WHERE rn <= 20
    """


@register("graph_pagerank", _PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank, 3 rounds, over the supplier->customer
    trade graph (distinct lineitem x orders pairs, ids namespaced with
    's'/'c' prefixes). Every round is the Pregel join+agg dataflow with
    floor-division mass splitting - bit-identical to the oracle's 3
    unrolled CTE rounds. Top-20 by final rank, ties on node id."""
    from pyspark.sql import Window as W
    from olake_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    pr = pagerank(edges, iters=3)
    w = W.orderBy(F.col("pr").desc(), F.col("node"))
    return (
        pr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 20)
        .select("node", "pr")
    )


# ---------------------------------------------------------------------------
# Triangle counting (operators/graph.py triangle_count)
# ---------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_quantity <= 5
),
e AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM ps a JOIN ps b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
),
tri AS (
  SELECT e1.s1 AS n1, e1.s2 AS n2, e2.s2 AS n3
  FROM e e1
  JOIN e e2 ON e2.s1 = e1.s2
  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
corners AS (
  SELECT n1 AS node FROM tri
  UNION ALL SELECT n2 FROM tri
  UNION ALL SELECT n3 FROM tri
),
nodes AS (
  SELECT s1 AS node FROM e UNION SELECT s2 FROM e
)
SELECT nodes.node, coalesce(c.n, 0)::BIGINT AS n_triangles
FROM nodes LEFT JOIN (
  SELECT node, count(*) AS n FROM corners GROUP BY 1
) c ON c.node = nodes.node
"""


@register("graph_triangles", _TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the supplier co-supply graph
    (suppliers sharing a low-quantity part) via degree-ordered
    orientation (operators/graph.py triangle_count): each triangle is
    counted once at its lowest-(degree, id) corner, and the orientation
    caps oriented out-degree at O(sqrt(m)) so the wedge join never
    explodes on hubs — total wedge volume <= m^1.5, the published
    Schank/Wagner bound, regardless of skew. The oracle brute-forces
    the canonical triple join."""
    from olake_spark.operators.graph import triangle_count

    li = table(spark, sf_dir, "lineitem")
    ps = (
        li.filter(F.col("l_quantity") <= 5)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("_ta"), ps.alias("_tb")
    edges = a.join(
        b,
        (F.col("_ta.l_partkey") == F.col("_tb.l_partkey"))
        & (F.col("_ta.l_suppkey") < F.col("_tb.l_suppkey")),
    ).select(
        F.col("_ta.l_suppkey").alias("src"), F.col("_tb.l_suppkey").alias("dst")
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# k-core decomposition (operators/graph.py k_core): fixed-round peeling
# ---------------------------------------------------------------------------

def _kcore_round_cte(i: int, k: int) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    # reference, and the unrolled round chain re-expands EXPONENTIALLY
    # without it (3.4 s -> 0.05 s oracle)
    return (
        f"d{i} AS MATERIALIZED (SELECT u.a AS node, count(*) AS degree "
        f"FROM und u "
        f"JOIN a{i-1} x ON u.a = x.node JOIN a{i-1} y ON u.b = y.node "
        f"GROUP BY 1),\n"
        f"a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE degree >= {k})"
    )


_KCORE_K, _KCORE_ROUNDS = 3, 6

_KCORE_ORACLE = f"""
WITH {cooccurrence_edges(16)},
und AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM edges WHERE src <> dst
),
a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und),
{",".join(_kcore_round_cte(i, _KCORE_K) for i in range(1, _KCORE_ROUNDS + 1))}
SELECT node, degree FROM d{_KCORE_ROUNDS} WHERE degree >= {_KCORE_K}
"""


@register("graph_kcore", _KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.py k_core; Matula-Beck
    peeling, 6 unrolled rounds at k=3) over a deterministically
    md5-sampled part co-occurrence graph — the dense-subgraph extractor
    behind community mining and spam-graph pruning. Each round
    semi-joins the surviving node set on both endpoints and recomputes
    degrees map-side; a lazy checkpoint per round keeps the plan linear.
    The fixture cascades (1604 -> 1547 survivors) and stabilizes inside
    the 6-round contract, so the fixed-round result IS the 3-core;
    degrees are exact integers and the oracle unrolls the same 6 CTE
    rounds bit-for-bit. (The natural TPC-H co-occurrence graph is too
    uniform to cascade — the 4%% edge sample is what makes peeling
    non-trivial, and the sampling hash is the repo-wide md5 H60 so
    DuckDB reproduces the same subgraph; quarter-orderkey scoping keeps the
    brute-force pair CTE inside the gate budget.)"""
    from olake_spark.operators.graph import k_core

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey") % 4 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    ).distinct()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    edges = pairs.filter(F.pmod(h, F.lit(100)) < 16)
    return k_core(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# Personalized PageRank (operators/graph.py personalized_pagerank)
# ---------------------------------------------------------------------------

_PPR_ITER = """
    pc{i} AS (
      SELECT e.dst AS node, sum(r.ppr // o.d)::BIGINT AS cs
      FROM e JOIN pr{p} r ON r.node = e.src JOIN outdeg o ON o.src = e.src
      GROUP BY 1
    ),
    pr{i} AS (
      SELECT n.node, n.b + (85 * coalesce(c.cs, 0)) // 100 AS ppr
      FROM nodes2 n LEFT JOIN pc{i} c ON c.node = n.node
    )"""

_PPR_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey::VARCHAR AS src,
                      'c' || o_custkey::VARCHAR AS dst
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    seeds AS (SELECT 's' || k::VARCHAR AS node
              FROM (SELECT unnest([1, 2, 3, 4, 5]) AS k)),
    sm AS (
      SELECT node, 1000000000000 // (SELECT count(*) FROM seeds) AS m
      FROM seeds
    ),
    nodes2 AS (
      SELECT n.node, coalesce(s.m, 0)::BIGINT AS r0,
             ((15 * coalesce(s.m, 0)) // 100)::BIGINT AS b
      FROM nodes n LEFT JOIN sm s ON s.node = n.node
    ),
    outdeg AS (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY 1),
    pr0 AS (SELECT node, r0 AS ppr FROM nodes2),
    {",".join(_PPR_ITER.format(i=i, p=i - 1) for i in range(1, 4))}
    SELECT node, ppr FROM (
      SELECT node, ppr, row_number() OVER (ORDER BY ppr DESC, node) AS rn
      FROM pr3 WHERE ppr > 0
    ) WHERE rn <= 20
    """


@register("graph_personalized_pagerank", _PPR_ORACLE)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 5-supplier seed set over the
    supplier->customer trade graph (operators/graph.py
    personalized_pagerank; Haveliwala 2002): teleport mass returns to
    the SEEDS, so the stationary mass ranks customers by proximity to
    those suppliers — the related-items recommendation primitive. Same
    exact-integer Pregel dataflow as graph_pagerank (floor-division
    mass, 85//100 damping, 3 unrolled rounds) so the oracle reproduces
    every ppr bit-for-bit; the seed relation broadcasts. Top-20 positive
    ranks, ties on node id."""
    from pyspark.sql import Window as W

    from olake_spark.operators.graph import personalized_pagerank

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    seeds = spark.range(1, 6).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("node")
    )
    pr = personalized_pagerank(edges, seeds, iters=3).filter(F.col("ppr") > 0)
    w = W.orderBy(F.col("ppr").desc(), F.col("node"))
    return (
        pr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 20)
        .select("node", "ppr")
    )


# ---------------------------------------------------------------------------
# Fixed-round connected components (operators/graph.py
# connected_components_fixed) — the action-free flavor of the dedup
# cluster primitive, oracle-certified round by round
# ---------------------------------------------------------------------------

_CC_ROUNDS = 8


def _cc_round_cte(i: int) -> str:
    # AS MATERIALIZED is load-bearing (kcore lesson): DuckDB inlines plain
    # CTEs at every reference and the round chain re-expands exponentially
    return (
        f"p{i} AS MATERIALIZED (SELECT node, min(label) AS label FROM ("
        f"SELECT node, label FROM l{i-1} "
        f"UNION ALL SELECT u.b AS node, x.label FROM und u "
        f"JOIN l{i-1} x ON u.a = x.node) GROUP BY node),\n"
        f"l{i} AS MATERIALIZED (SELECT x.node, y.label AS label "
        f"FROM p{i} x JOIN p{i} y ON x.label = y.node)"
    )


_CC_ORACLE = f"""
WITH {cooccurrence_edges(8)},
und AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM edges WHERE src <> dst
),
l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM und),
{",".join(_cc_round_cte(i) for i in range(1, _CC_ROUNDS + 1))}
SELECT node, label AS component FROM l{_CC_ROUNDS}
"""


@register("graph_connected_components", _CC_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round connected components (operators/graph.py
    connected_components_fixed): min-label propagation + pointer
    shortcutting, 8 unrolled rounds, over an md5-sampled (8%) part
    co-occurrence graph that fragments into 19 components — the cluster
    primitive behind every dedup "which duplicates are the same
    document" step, here certified bit-for-bit against 8 unrolled CTE
    round pairs (the dedup pipeline's convergence-loop twin lives in
    operators/dedup.connected_components). The fixture stabilizes at
    round 8 (round 9 changes nothing), so the fixed-round labels ARE
    the true component min-ids. Labels-sized relations are all that
    iterate; the raw pair fan-out happens once."""
    from olake_spark.operators.graph import connected_components_fixed

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey") % 4 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    ).distinct()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    edges = pairs.filter(F.pmod(h, F.lit(100)) < 8)
    return connected_components_fixed(edges, rounds=_CC_ROUNDS)


# ---------------------------------------------------------------------------
# 1) Connected components vs a recursive-CTE reachability oracle.
#
# The existing graph_connected_components oracle mirrors the min-label
# round algebra (8 unrolled CTE round pairs) — a wrong round count or a
# propagation bug that both sides share would be gate-green. This proof
# certifies the SAME operator against DuckDB's WITH RECURSIVE transitive
# closure: component(v) = min(u : u reachable from v), no rounds, no
# labels — reachability is the definition, not the algorithm.
#
# Graph: the SAME sampled co-occurrence graph as the existing
# graph_connected_components gate query (25% of orders, 8% md5 edge
# sample — dense enough that every component's shortcut-compressed
# diameter fits the 8-round contract; sparser slices were measured to
# chain past 13 rounds and violate the operator's short-diameter
# contract). 1,779 nodes / 19 components; the closure oracle runs in
# ~3 s at sf0.01.
# ---------------------------------------------------------------------------

_CC_REACH_ORACLE = f"""
WITH RECURSIVE {cooccurrence_edges(8)},
und AS (
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM edges WHERE src <> dst
),
reach(node, r) AS (
  SELECT a AS node, a AS r FROM und
  UNION
  SELECT x.node, u.b AS r FROM reach x JOIN und u ON u.a = x.r
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


@register("graph_cc_reachability_proof", _CC_REACH_ORACLE)
def graph_cc_reachability_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components certified against pure REACHABILITY: the
    Spark side is the shipped fixed-round min-label + pointer-jumping
    plan (operators/graph.connected_components_fixed — labels-sized
    relations iterate, the pair fan-out happens once); the oracle is
    DuckDB's recursive transitive closure, which never sees labels or
    rounds. Equal output proves the round-bound propagation actually
    reaches the fixpoint the DEFINITION demands, not just the fixpoint
    the mirrored algebra agrees on."""
    from olake_spark.operators.graph import connected_components_fixed

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey") % 4 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    ).distinct()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    edges = pairs.filter(F.pmod(h, F.lit(100)) < 8)
    return connected_components_fixed(edges, rounds=8)


_JT_ORACLE = """
WITH lx AS (
  SELECT l_quantity,
         (['AIR','REG AIR','MAIL','SHIP','TRUCK','RAIL','FOB'])
           [1 + (l_orderkey + l_linenumber) % 7] AS l_shipmode
  FROM lineitem
),
base AS (
  SELECT CASE l_shipmode
           WHEN 'AIR' THEN 0 WHEN 'FOB' THEN 1 WHEN 'MAIL' THEN 2
           WHEN 'RAIL' THEN 3 WHEN 'REG AIR' THEN 4 WHEN 'SHIP' THEN 5
           WHEN 'TRUCK' THEN 6 END AS g,
         round(l_quantity * 1000000)::BIGINT AS v
  FROM lx WHERE l_quantity IS NOT NULL AND l_shipmode IS NOT NULL
),
cells AS (SELECT g, v, count(*)::HUGEINT AS c FROM base GROUP BY 1, 2),
j AS (
  SELECT coalesce(sum(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                           WHEN a.v = b.v THEN a.c * b.c
                           ELSE 0 END), 0) AS j2
  FROM cells a JOIN cells b ON a.g < b.g
),
sizes AS (
  SELECT count(*) AS k, coalesce(sum(ng), 0) AS n,
         coalesce(sum(ng * ng), 0) AS n2,
         coalesce(sum(ng * ng * (2 * ng + 3)), 0) AS n23
  FROM (SELECT g, sum(c) AS ng FROM cells GROUP BY 1)
)
SELECT k::BIGINT AS k_groups, n::BIGINT AS n, j2::BIGINT AS j2,
       CASE WHEN (n * n * (2 * n + 3) - n23) > 0 THEN
         round((j2::DOUBLE - (n * n - n2)::DOUBLE / 2.0)
               / (2.0 * sqrt((n * n * (2 * n + 3) - n23)::DOUBLE / 72.0)), 6)
       END AS z
FROM j, sizes
"""


@register("lineitem_jonckheere_shipmode", _JT_ORACLE)
def lineitem_jonckheere_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-trend test of quantity across the
    seven DERIVED ship modes (the TPC-H _li_ext closed form) in lexical order
    (operators/abtest.jonckheere_terpstra) — the ordered-alternative
    k-sample test via the kendall cell-histogram trick (7 × 50-value
    grid, never row pairs). Reference-pinned."""
    from olake_spark.operators.abtest import jonckheere_terpstra

    modes = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
    return jonckheere_terpstra(
        _li_ext(table(spark, sf_dir, "lineitem")),
        "l_shipmode", "l_quantity", modes,
    )
