"""Embedding-column utilities: L2 normalization and int8 quantization.

The storage/bandwidth workhorses of an embedding lakehouse: normalized
vectors make cosine a plain dot product (one multiply-add per dim at query
time), and symmetric max-abs int8 quantization cuts vector storage 4× —
at 100 TB of float32 embeddings that is 75 TB saved — with recall loss
small enough for candidate generation (rerank on the float vectors).

Everything is per-row higher-order array functions (``transform`` /
``aggregate``) — JVM-evaluated, zero shuffle, linear scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olake_spark.operators.similarity import _norm

__all__ = ["l2_normalize", "quantize_int8", "dequantize_int8", "group_centroids", "centroid_outliers"]


def l2_normalize(df: DataFrame, vec_col: str = "embedding", out: str | None = None) -> DataFrame:
    """Scale each vector to unit L2 norm (zero vectors pass through
    unchanged). Output element type is double."""
    out = out or vec_col
    v = F.col(vec_col)
    n = _norm(vec_col)
    unit = F.transform(v, lambda x: x.cast("double") / n)
    return df.withColumn(out, F.when(n > 0, unit).otherwise(v.cast("array<double>")))


def _maxabs(v: Column) -> Column:
    return F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", q_col: str = "q", scale_col: str = "scale"
) -> DataFrame:
    """Symmetric max-abs int8 quantization: ``q_i = round(x_i * 127 / maxabs)``,
    ``scale = maxabs / 127`` (so ``x ≈ q * scale``). Zero vectors quantize to
    all-zero with scale 0. ``q`` is ``array<int>`` in [-127, 127]."""
    v = F.col(vec_col)
    m = _maxabs(v)
    q = F.transform(v, lambda x: F.round(x.cast("double") * 127.0 / m).cast("int"))
    zeros = F.transform(v, lambda x: F.lit(0))
    return df.withColumn(q_col, F.when(m > 0, q).otherwise(zeros)).withColumn(
        scale_col, m / F.lit(127.0)
    )


def dequantize_int8(
    df: DataFrame, q_col: str = "q", scale_col: str = "scale", out: str = "embedding_deq"
) -> DataFrame:
    """Reconstruct approximate float vectors: ``x̂_i = q_i * scale``."""
    s = F.col(scale_col)
    return df.withColumn(out, F.transform(F.col(q_col), lambda qi: qi.cast("double") * s))


def group_centroids(
    df: DataFrame, group_col: str, vec_col: str = "embedding", round_scale: int = 6
) -> DataFrame:
    """Per-group element-wise mean vector: ``(group, centroid)`` with each
    component rounded to ``round_scale`` decimals.

    The rounding is the determinism contract: a distributed mean sums in
    partition order, so two engines (or two runs) agree only to ~1e-14 —
    rounding the *centroid*, before anything downstream consumes it, pins
    every derived quantity (distances, ranks) to one exact value.

    Shape: one posexplode + (group, pos) aggregation (map-side combinable,
    key cardinality = groups × dim), then a groups-sized rebuild — output
    is tiny (one row per group) and meant to be broadcast.
    """
    v = F.col(vec_col)
    ex = df.select(F.col(group_col), F.posexplode(v).alias("pos", "x"))
    cent = ex.groupBy(group_col, "pos").agg(
        F.round(F.avg(F.col("x").cast("double")), round_scale).alias("c")
    )
    return (
        cent.groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("_pc"))
        .select(group_col, F.expr("transform(_pc, s -> s.c)").alias("centroid"))
    )


def centroid_outliers(
    df: DataFrame,
    id_col: str,
    group_col: str,
    vec_col: str = "embedding",
    dim: int | None = None,
    bottom_k: int | None = None,
) -> DataFrame:
    """Cosine of every vector to its group's centroid — the embedding-space
    outlier signal (label-noise detection, cluster pruning, CLIP-filtering
    style curation). Returns ``(id, group, centroid_sim)`` plus
    ``outlier_rank`` (1 = farthest from centroid, ties by id) when
    ``bottom_k`` is set, keeping only the k most outlying rows per group.

    The centroid relation is one row per group and broadcasts; the corpus
    is scanned once with a codegen'd dot product — no shuffle until the
    (optional) per-group ranking window.
    """
    from pyspark.sql import Window as W

    from olake_spark.operators.similarity import cosine

    cents = group_centroids(df, group_col, vec_col)
    # a known dim gets the codegen'd unrolled dot chain
    sim9 = F.round(cosine(vec_col, "centroid", dim), 9)
    scored = (
        df.select(id_col, group_col, vec_col)
        .join(F.broadcast(cents), group_col)
        .select(F.col(id_col), F.col(group_col), sim9.alias("_s9"))
    )
    if bottom_k is None:
        return scored.select(id_col, group_col, F.round(F.col("_s9"), 6).alias("centroid_sim"))
    w = W.partitionBy(group_col).orderBy(F.asc("_s9"), F.asc(id_col))
    return (
        scored.withColumn("outlier_rank", F.row_number().over(w))
        .filter(F.col("outlier_rank") <= bottom_k)
        .select(
            id_col,
            group_col,
            F.round(F.col("_s9"), 6).alias("centroid_sim"),
            F.col("outlier_rank").cast("int"),
        )
    )
