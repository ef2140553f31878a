"""DuckDB SQL fragments shared by several registry oracles, and the
constants both sides of an entry read (hash buckets, budgets, weights).

A fragment's text is part of every oracle that uses it: editing one
changes all of them."""

from __future__ import annotations

from olake_spark.operators import text as tx


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect), kept in lockstep with operators
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"
_H60 = "('0x' || substring(md5({x}),1,15))::BIGINT"
_PUNCT_SQL = "'[.,!?;:''\"()\\[\\]{}-]'"


def _stop_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS) + "]"


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


_PQ_SUB_LEN = 16  # 64 dims / 4 subspaces
_PQ_SQDIST = (
    "list_sum(list_transform(range(1, {n}+1), "
    "i -> (sv[i]-cv[i])*(sv[i]-cv[i])))".format(n=_PQ_SUB_LEN)
)


# integer luma for the dHash oracle: gray = (299R + 587G + 114B) // 1000
# over the same pixel closed form the synthesizer uses
def _gray_sql(seed: str, x: str, y: str) -> str:
    r = f"((({seed})*7 + ({x})*13 + ({y})*31) % 256)"
    g = f"((({seed})*3 + ({x})*5 + ({y})*11) % 256)"
    b = f"((({seed}) + ({x}) + ({y})) % 256)"
    return f"((299*{r} + 587*{g} + 114*{b}) // 1000)"


# ---------------------------------------------------------------------------
# deterministic sampling (hash-threshold family)
# ---------------------------------------------------------------------------

_BUCKET_SQL = "('0x' || substring(md5({x}),1,15))::BIGINT"
_HS = 16**15


# ---------------------------------------------------------------------------
# sequence packing / corpus shuffle / mixture sampling (training last-mile)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512
_PACK_SHARDS = 8


_MIX_WEIGHTS = {"en": 0.5, "zh": 0.15, "es": 0.15, "de": 0.1, "fr": 0.1}


# user-id hash of the distinct-count sketches (operators/sketches.py)
_SK_H = "('0x' || substring(md5(user_id::VARCHAR),1,15))::BIGINT"


# ---------------------------------------------------------------------------
# CTEs repeated across oracles (compose inside f-strings)
# ---------------------------------------------------------------------------

# SCD2 validity intervals over a `changelog(event_id, user_id, value, lsn,
# op)` CTE: collapse no-change updates, then each kept version is valid
# from its lsn to the next kept version's
SCD2_INTERVALS_CTE = """lagged AS (
  SELECT *,
         lag(op) OVER w AS prev_op,
         lag(value) OVER w AS prev_value
  FROM changelog
  WINDOW w AS (PARTITION BY user_id ORDER BY lsn, event_id)
), kept AS (
  SELECT * FROM lagged
  WHERE prev_op IS NULL OR op = 'd' OR prev_op = 'd'
        OR NOT (value IS NOT DISTINCT FROM prev_value)
), intervals AS (
  SELECT user_id, value, op,
         lsn AS valid_from,
         lead(lsn) OVER (PARTITION BY user_id ORDER BY lsn, event_id) AS valid_to
  FROM kept
)"""

# count, sum and sum of squares of the micro-unit extended price for
# returnflag 'A' (na, sa, qa) and 'R' (nb, sb, qb)
AR_PRICE_MOMENTS_CTE = """m AS (
  SELECT
    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)::HUGEINT AS na,
    sum(CASE WHEN l_returnflag = 'A'
        THEN round(l_extendedprice * 1000000)::BIGINT ELSE 0 END)::HUGEINT
      AS sa,
    sum(CASE WHEN l_returnflag = 'A'
        THEN round(l_extendedprice * 1000000)::BIGINT::HUGEINT
             * round(l_extendedprice * 1000000)::BIGINT ELSE 0 END) AS qa,
    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::HUGEINT AS nb,
    sum(CASE WHEN l_returnflag = 'R'
        THEN round(l_extendedprice * 1000000)::BIGINT ELSE 0 END)::HUGEINT
      AS sb,
    sum(CASE WHEN l_returnflag = 'R'
        THEN round(l_extendedprice * 1000000)::BIGINT::HUGEINT
             * round(l_extendedprice * 1000000)::BIGINT ELSE 0 END) AS qb
  FROM lineitem WHERE l_extendedprice IS NOT NULL
)"""

# product-quantizer inputs over `embeddings`: the 1e-4-quantized vectors and
# the four 16-dim subspace ids
PQ_QV_CTE = """qv AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 10000.0)) AS v
      FROM embeddings
    ),
    subids AS (SELECT unnest([0, 1, 2, 3]) AS sub)"""

# stride codebooks: every 97th vector's sub-vectors are the codes
PQ_STRIDE_CB_CTE = f"""cb AS (
      SELECT sub, vec_id AS code,
             list_slice(v, sub*{_PQ_SUB_LEN}+1, sub*{_PQ_SUB_LEN}+{_PQ_SUB_LEN}) AS cv
      FROM qv CROSS JOIN subids WHERE vec_id % 97 = 0
    )"""

# every vector split into its subspace sub-vectors
PQ_SUBS_CTE = f"""subs AS (
      SELECT vec_id, sub,
             list_slice(v, sub*{_PQ_SUB_LEN}+1, sub*{_PQ_SUB_LEN}+{_PQ_SUB_LEN}) AS sv
      FROM qv CROSS JOIN subids
    )"""

# PQ encoding over `subs(vec_id, sub, sv)` and `cb(sub, code, cv)`: each
# (vector, subspace) takes its nearest codebook entry by exact-integer
# squared distance, ties to the lowest code
PQ_ENC_CTE = f"""enc AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, cb.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY {_PQ_SQDIST}, cb.code) AS rn
        FROM subs s JOIN cb ON cb.sub = s.sub
      ) WHERE rn = 1
    )"""

# ADC lookup table: each of the first three vectors' sub-vector dotted with
# every code of its subspace
PQ_LUT_CTE = f"""lut AS (
      SELECT q.vec_id AS query_id, cb.sub, cb.code,
             list_sum(list_transform(range(1, {_PQ_SUB_LEN}+1), i -> q.sv[i]*cb.cv[i])) AS pd
      FROM subs q JOIN cb ON cb.sub = q.sub WHERE q.vec_id < 3
    )"""

# IVF cell scoring: each query `q(query_id, qv, cell)` scores the vectors of
# its own cell in `cells(vec_id, embedding, cell)` by rounded cosine
IVF_CELL_SCORED_CTE = f"""scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({_COS.format(a='q.qv', b='c.embedding')}, 9) AS s9
      FROM q JOIN cells c ON c.cell = q.cell AND c.vec_id <> q.query_id
    )"""


def cosine_topk(k: int) -> str:
    """Rank `scored(query_id, neighbor_id, s9)` per query (ties to the lower
    id) and select the top k with the cosine rounded to 6 places."""
    return f"""ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s9 DESC, neighbor_id) AS "rank"
      FROM scored
    )
    SELECT query_id, neighbor_id, "rank", round(s9, 6) AS cosine_sim
    FROM ranked WHERE "rank" <= {k}"""


def dhash_bit(seed: str, t: str, resized: bool = False) -> str:
    """dHash bit of grid cell (gy.y, gx.x): left luma > right luma on the 9x8
    nearest-neighbour grid of image `seed` sized `t.w` x `t.h`; `resized`
    reads the 32x24 copy, both floor maps composed explicitly."""
    if resized:
        x1 = f"((((((gx.x+1)*32)//9))*{t}.w)//32)"
        x0 = f"(((((gx.x*32)//9))*{t}.w)//32)"
        y = f"((((gy.y*24)//8)*{t}.h)//24)"
    else:
        x1, x0, y = f"(((gx.x+1)*{t}.w)//9)", f"((gx.x*{t}.w)//9)", f"((gy.y*{t}.h)//8)"
    return (
        f"CASE WHEN {_gray_sql(seed, x1, y)}\n"
        f"                   > {_gray_sql(seed, x0, y)}\n"
        "                  THEN 1 ELSE 0 END"
    )


def cooccurrence_edges(pct: int) -> str:
    """`pairs` and `edges` CTEs: the part co-occurrence graph of a quarter of
    the orders, md5-sampled down to `pct`% of its edges."""
    return f"""pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) a
  JOIN (SELECT * FROM lineitem WHERE l_orderkey % 4 = 0) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT src, dst FROM pairs
  WHERE ('0x' || substring(md5(src::VARCHAR || '|' || dst::VARCHAR), 1, 15))
        ::BIGINT % 100 < {pct}
)"""
