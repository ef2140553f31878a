"""Sequence packing + deterministic corpus shuffle for LLM training pipelines.

Beyond-reference operators (BASELINE.json north-star family; the reference
engine stops at row sync — see SURVEY §2.12): the last mile of a
training-data pipeline is turning a cleaned document corpus into
fixed-token-budget training sequences in a reproducible order.

Both operators are **shard-local**: a 100 TB corpus is first split into
``n_shards`` hash shards (one narrow shuffle), and every window/sort runs
*within* a shard. There is no global ORDER BY anywhere — wall-clock and
memory are bounded by the shard size, which the caller picks so one shard
fits an executor (e.g. 100 TB / 65536 shards ≈ 1.6 GB). Determinism comes
from md5-prefix hashing (same 60-bit construction as
``operators.sampling.hash_bucket``), never from RNG or partition ids.

Packing uses the GPT-style *concat-then-chunk* model: documents are laid
head-to-tail in shuffled order inside each shard, and the resulting token
stream is cut every ``budget`` tokens. A document therefore starts at a
deterministic stream offset (windowed cumulative token count); the sequence
it starts in, its offset there, and whether it straddles a cut (would be
split across two training sequences) are all closed-form from that prefix
sum — one window over the shard, no stateful scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark.operators.sampling import hash_bucket

from olake_spark.materialize import materialize

__all__ = ["pack_offsets", "deterministic_shuffle", "length_buckets", "length_bucket_stats"]


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "shuffle",
    shard_col: str = "shard",
    pos_col: str = "pos_in_shard",
) -> DataFrame:
    """Reproducible global shuffle: every row gets a (shard, pos_in_shard)
    address decided only by ``h(id, seed)``.

    Reading shards in index order then rows in position order replays the
    exact same corpus order on any cluster size — the property a training
    job needs for resumable epochs. One shuffle (on shard), one window sort
    within each shard.
    """
    h = hash_bucket(F.col(id_col), seed)
    shard = F.pmod(h, F.lit(n_shards)).cast("int")
    w = W.partitionBy(shard_col).orderBy(F.col("_shuf_h"), F.col(id_col))
    return (
        df.withColumn("_shuf_h", h)
        .withColumn(shard_col, shard)
        .withColumn(pos_col, F.row_number().over(w).cast("long") - 1)
        .drop("_shuf_h")
    )


def pack_offsets(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int,
    seed: str = "pack",
) -> DataFrame:
    """Assign every document its place in concat-then-chunk sequence packing.

    Documents are shuffled into ``n_shards`` hash shards and laid head-to-tail
    per shard; sequences are cut every ``budget`` tokens. Emits per document:

    - ``shard``          which hash shard the doc landed in
    - ``seq_in_shard``   index of the training sequence its first token is in
    - ``offset_in_seq``  token offset of the doc inside that sequence
    - ``straddles``      true iff the doc crosses a sequence boundary (its
                         tokens are split across ≥2 training sequences)

    The whole assignment is one prefix-sum window per shard over the
    shuffled order — no iterative filling, no driver loop, and (unlike
    first-fit bin packing) no sequential dependency that would fight Spark's
    execution model. Docs longer than ``budget`` are allowed: they simply
    straddle one or more cuts, exactly like the GPT data loader behaves.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    h = hash_bucket(F.col(id_col), seed)
    out = df.withColumn("_pk_h", h).withColumn(
        "shard", F.pmod(F.col("_pk_h"), F.lit(n_shards)).cast("int")
    )
    w = (
        W.partitionBy("shard")
        .orderBy(F.col("_pk_h"), F.col(id_col))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(F.col(token_col)).over(w), F.lit(0)).cast("long")
    out = out.withColumn("_pk_cum", cum_before)
    return (
        out.withColumn("seq_in_shard", F.expr(f"_pk_cum div {int(budget)}"))
        .withColumn("offset_in_seq", F.col("_pk_cum") % budget)
        .withColumn(
            "straddles",
            (F.col("offset_in_seq") + F.col(token_col).cast("long")) > F.lit(budget),
        )
        .drop("_pk_h", "_pk_cum")
    )


def length_buckets(
    df: DataFrame,
    id_col: str,
    len_col: str,
    n_buckets: int,
) -> DataFrame:
    """Quantile length-bucketing for batched inference/eval: rows ranked by
    (length, id) split into ``n_buckets`` equal-count buckets (SQL
    ``ntile`` semantics: the first ``N % n`` buckets hold one extra row),
    so every batch holds near-equal sequence lengths and padding waste is
    minimized. Deterministic: ties break on the id.

    Returns the input plus ``bucket`` (1-based). The global rank is
    computed DISTRIBUTED — a bare ``ntile`` window would drag the whole
    table into one partition. Instead: range-repartition a narrow
    (id, len) projection on (len, id), rank within each range partition,
    and add per-partition offsets (a partition-count-sized aggregate,
    windowed driver-side-tiny and broadcast back). rank = local row_number
    + offset of preceding partitions, independent of where the range
    boundaries fall because (len, id) is a total order. The bucket is then
    a pure function of (rank, N): exact ntile, no single-partition stage;
    the wide input re-joins on the id at the end.

    Contract: ``id_col`` must be a UNIQUE, NON-NULL key — it is the
    join-back identity (a duplicated id would multiply rows through the
    equi-join; a NULL id would drop its row). Surrogate-key it first if
    the natural id does not qualify.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    narrow = df.select(id_col, len_col)
    part = narrow.repartitionByRange(
        F.col(len_col).asc(), F.col(id_col).asc()
    ).withColumn("_pid", F.spark_partition_id())
    # materialize the range-partitioned relation ONCE: it feeds both the
    # per-partition size aggregate and the ranked join, and the offsets are
    # only correct if both consumers see the SAME physical partitioning —
    # re-executing the range exchange per consumer re-samples boundaries
    # (and pays the shuffle twice; guide §2.1) — so pin it (eager), as
    # ids.dense_ids does
    part = materialize(part, eager=True)
    sizes = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # windows over the sizes frame touch one row per PARTITION — tiny by
    # construction, the documented k-row single-partition pattern
    w_prev = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offs = sizes.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(w_all).alias("_total"),
    )
    w_local = W.partitionBy("_pid").orderBy(F.col(len_col).asc(), F.col(id_col).asc())
    ranked = part.withColumn("_rn", F.row_number().over(w_local)).join(
        F.broadcast(offs), "_pid"
    )
    r = (F.col("_rn") + F.col("_off")).cast("double")
    n = F.lit(n_buckets)
    base = F.floor(F.col("_total") / n)  # small-bucket size
    rem = F.col("_total") % n  # first `rem` buckets get base+1 rows
    cut = (rem * (base + 1)).cast("double")
    # double-precision ceil is exact while N·n < 2^53 — far past any real
    # table; the quotient of two ≤2^53 integers can't round across an int
    bucket = (
        F.when(r <= cut, F.ceil(r / (base + F.lit(1)).cast("double")))
        .otherwise(rem + F.ceil((r - cut) / base.cast("double")))
        .cast("int")
    )
    return df.join(ranked.select(id_col, bucket.alias("bucket")), id_col)


def length_bucket_stats(
    df: DataFrame,
    id_col: str,
    len_col: str,
    n_buckets: int,
) -> DataFrame:
    """(bucket, n, min_len, max_len, padding_frac) per quantile bucket —
    ``padding_frac`` is the fraction of a max_len-padded batch wasted on
    padding: Σ(max_len − len) / (n · max_len), the number length-bucketed
    batching exists to minimize."""
    b = length_buckets(df, id_col, len_col, n_buckets)
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(len_col).cast("long").alias("min_len"),
            F.max(len_col).cast("long").alias("max_len"),
            F.round(
                (F.max(len_col) * F.count(F.lit(1)) - F.sum(len_col))
                / (F.max(len_col) * F.count(F.lit(1))),
                6,
            ).alias("padding_frac"),
        )
    )
