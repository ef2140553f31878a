"""Similarity search over embedding columns (array<float>).

Two plans, one semantics:

- ``brute_force_topk`` — the exactness baseline: broadcast the (small) query
  set against the corpus, codegen'd dot products, per-query top-k window.
  Cost O(|Q|·|C|·d);
  right when |Q| is small (the common "probe" pattern) because the corpus is
  scanned once with no shuffle — at 100 TB the corpus never moves, only the
  broadcast queries do.
- ``lsh_bucket_topk`` — the scale path: banded multi-table random-hyperplane
  LSH. ``n_tables`` (L) independent tables of ``n_planes`` (b) sign bits
  each; a pair is a candidate when it collides in ANY table (the same
  union-of-bands shape as MinHash). Recall comes from L, selectivity from b:
  per-table collision probability for near-random vectors is 2^-b, so the
  expected candidate count is L·N²/2^(b+1) — b is the knob that keeps every
  bucket's self-join bounded as N grows (b ≈ log2(N) - log2(target bucket
  size)), while L recovers the recall a single fine-grained table loses.
  Planes are fixed seeded constants so results are reproducible in the SQL
  oracle.
- ``cosine_near_dup_pairs`` — embedding near-duplicate detection: banded
  candidate pairs verified with exact cosine.

Everything is double-precision with sequential fold order so DuckDB
(list_dot_product / list_cosine_similarity) reproduces values to ~1e-15;
compared outputs are rounded to 6 decimals.

One kernel (``_kernel``: the unrolled dot / sqdist / norm chain) builds
every fixed-width vector score here and in ``pq``, and one tail
(``_rank_topk``) ranks every per-query top-k; the indexes differ only in
which pairs they score.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from olake_spark.sources.files import spread

from olake_spark.materialize import materialize

__all__ = [
    "LSH_PLANES",
    "cosine",
    "brute_force_topk",
    "lsh_planes",
    "lsh_signature",
    "lsh_sigs_arrow",
    "lsh_bands",
    "banded_relation",
    "lsh_build_index",
    "check_index_params",
    "lsh_bucket_topk",
    "stride_centroids",
    "ivf_assign",
    "ivf_build_index",
    "ivf_topk",
    "ivf_exact_topk",
    "ivf_train_centroids",
    "cosine_near_dup_pairs",
]

_DIM = 64
# Defaults sized for the synthetic test corpus: 8 bits × 2 tables. At real
# corpus sizes raise n_planes with log2(N) (16-24 bits at billions of
# vectors) and n_tables (8-32) for recall — the candidate count is
# L·N²/2^(b+1), so b bounds every bucket and L buys back recall.
_NUM_PLANES = 8
_NUM_TABLES = 2


def lsh_planes(
    n_tables: int = _NUM_TABLES, n_planes: int = _NUM_PLANES, dim: int = _DIM
) -> list[list[list[int]]]:
    """L independent tables of b ±1 hyperplanes, deterministically seeded.

    ±1 entries keep the plane dot products plain signed sums of embedding
    components — identical fold order in any engine (shared with the SQL
    oracle, which inlines these same literals).
    """
    rng = random.Random(1234)
    return [
        [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


# single-table planes kept as a module constant for the oracle SQL generator
LSH_PLANES: list[list[int]] = lsh_planes(1)[0]


def _quantized(vec_col: str, scale: int) -> Column:
    """``floor(x * scale)`` per component as integer-valued doubles — the
    exact-integer discipline of the quantized trainer and the PQ family."""
    return F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale))).cast("double"),
    )


def _item(v: str | list, i: int) -> str:
    # a name (any SQL array expression) is indexed; a Python vector (an LSH
    # plane) is inlined element-wise as double literals — the same folded
    # constant ``array(...)[i]`` would reduce to, without the array
    if isinstance(v, str):
        return f"CAST({v}[{i}] AS DOUBLE)"
    return f"({float(v[i])!r}D)"


def _kernel(op: str, dim: int, a: str | list, b: str | list | None = None) -> Column:
    """The one vector-scoring kernel: ``dot``, ``sqdist`` or ``norm`` of
    width-``dim`` operands as ONE parsed expression, the unrolled
    left-associated chain ``((0.0 + t0) + t1) + ...``.

    Bit-identical to the sequential ``aggregate`` fold and to the DuckDB
    oracle's accumulation (same IEEE op order; PQ scores are exact
    integers anyway), but whole-stage-codegen'd instead of interpreted per
    element — higher-order lambda functions never enter codegen. One
    ``F.expr`` parse replaces ``dim`` py4j round-trips per Column node,
    which dominated query planning when the chains were built node by node.
    """
    def term(i: int) -> str:
        x = _item(a, i)
        if op == "norm":
            return f"{x} * {x}"
        y = _item(b, i)
        if op == "dot":
            return f"{x} * {y}"
        d = f"({x} - {y})"  # sqdist
        return f"{d} * {d}"

    chain = " + ".join(["0.0D", *(term(i) for i in range(dim))])
    return F.expr(f"SQRT({chain})" if op == "norm" else chain)


def _rank_topk(scored: DataFrame, k: int, score: str, out: Column) -> DataFrame:
    """The one per-query ranking tail: ``row_number`` over ``query_id``
    ordered by ``score`` desc then ``neighbor_id`` asc, keep ``rank <= k``,
    project ``(query_id, neighbor_id, rank, out)``."""
    w = W.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", out)
    )


def _dot(a: str, b: str, dim: int | None = None) -> Column:
    """Sequential-fold dot product ``((0.0 + a0*b0) + a1*b1) + ...`` of two
    array columns by name: the kernel chain when ``dim`` is known (embedding
    width is fixed by the table schema), else the lambda fold — the only
    form for arrays of unknown width."""
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return _kernel("dot", dim, a, b)


def _norm(a: str, dim: int | None = None) -> Column:
    if dim is None:
        return F.sqrt(
            F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
        )
    return _kernel("norm", dim, a)


def cosine(a: str, b: str, dim: int | None = None) -> Column:
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def cosine_prenormed(a: str, b: str, a_norm: str, b_norm: str, dim: int) -> Column:
    """Cosine with the two norms read from precomputed columns.

    Bit-identical to ``cosine`` (the norm columns hold the exact doubles the
    inline SQRT chains produce — IEEE doubles round-trip through a column
    unchanged, and ``x*y`` is commutative bitwise), but the per-pair
    projection carries ONE unrolled chain instead of three. Three chains in
    a join stage exceed the JVM's 64 KB method limit and knock the whole
    stage out of codegen — every similarity operator scores pairs through
    this form."""
    return _dot(a, b, dim) / (F.col(a_norm) * F.col(b_norm))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = _DIM,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, rank, cosine_sim). Self-matches excluded.
    The query side is broadcast — the corpus is streamed once, no shuffle
    until the final (tiny) per-query window.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(vec_col, dim).alias("_qn"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col, dim).alias("_cn"),
    )
    sim = F.round(cosine_prenormed("_qv", "_cv", "_qn", "_cn", dim), 9).alias("_sim9")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
    )
    return _rank_topk(scored, k, "_sim9", F.round("_sim9", 6).alias("cosine_sim"))


def lsh_signature(vec: str, planes: list[list[int]] | None = None) -> Column:
    """Bucket id = integer of sign bits of the ±1-plane dot products of the
    column ``vec``.

    This is the *definitional* form, mirrored verbatim by the SQL oracle;
    ``lsh_sigs_arrow`` below is the vectorized production form and is
    tested against it.
    """
    planes = planes if planes is not None else LSH_PLANES
    sig = F.lit(0)
    for j, plane in enumerate(planes):
        dot = _kernel("dot", len(plane), vec, plane)
        sig = sig + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig.cast("int")


def lsh_sigs_arrow(tables: list[list[list[int]]]):
    """All L table signatures in one Arrow batch op: returns a function
    mapping the vector column to ``array<int>`` of length L.

    Per batch this is a single (rows × dim) @ (dim × L·b) float64 matmul +
    sign + bit-pack — O(1) plan nodes regardless of L and b, where the
    Column form is O(L·b·dim) expression nodes (unsplittable-codegen risk at
    b≈24, L≈8; see the parity test at that size). Summation order differs
    from the sequential fold, but only the *sign* of each dot is consumed: a
    flip needs |dot| within float round-off (~1e-13 relative) of zero, which
    the parity unit test checks empirically on the full fixture corpus.
    """
    planes = np.asarray(tables, dtype=np.float64)  # (L, b, dim)
    n_tables, n_planes, dim = planes.shape
    mat = planes.reshape(n_tables * n_planes, dim).T.copy()  # (dim, L*b)
    bits = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<int>")
    def sigs(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        x = np.array([np.asarray(v, dtype=np.float64) for v in col])  # (n, dim)
        pos = x @ mat > 0.0  # (n, L*b)
        packed = (pos.reshape(len(col), n_tables, n_planes) * bits).sum(axis=2)
        return pd.Series(list(packed.astype(np.int32)))

    return sigs


def lsh_bands(vec: str, tables: list[list[list[int]]]) -> Column:
    """Array of (band, sig) structs — one per LSH table — for one explode.

    All L signatures are computed in a single projection pass over the
    vector; exploding multiplies only the (id, band, sig) relation, never
    re-reads the corpus."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"), lsh_signature(vec, planes).alias("sig")
            )
            for i, planes in enumerate(tables)
        ]
    )


def banded_relation(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: list[list[list[int]]],
    out_id: str,
    out_vec: str,
    norm_col: str | None = None,
) -> DataFrame:
    """(id, vec[, norm], band, sig) — one row per LSH table per vector.

    All L signatures come from one batched matmul (``lsh_sigs_arrow``): the
    vector is read once and only the narrow banded relation is exploded.

    ``norm_col`` materializes the vector's L2 norm alongside — norms are a
    per-VECTOR quantity, so computing them here (once, pre-join) instead of
    inside the per-PAIR cosine keeps the downstream join projection to a
    single dot chain. That is not just an O(candidates) → O(N) saving: the
    three inlined chains (dot + 2 norms) push the join stage past the JVM's
    64 KB method limit and whole-stage codegen silently falls back to
    interpreted evaluation for the entire stage."""
    dim = len(tables[0][0])
    extra = [_norm(vec_col, dim).alias(norm_col)] if norm_col else []
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(out_vec),
        *extra,
        F.posexplode(lsh_sigs_arrow(tables)(F.col(vec_col))).alias("band", "sig"),
    )


def lsh_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = _NUM_TABLES,
    n_planes: int = _NUM_PLANES,
) -> DataFrame:
    """Materialize the banded LSH relation: ``(id, vec, _norm, band, sig)``,
    one row per table per vector.

    This is the corpus-wide half of every LSH query (L·b plane dots + a
    norm per vector) and must be computed ONCE and persisted, not per query
    run — write it through ``sinks.bucketed.write_bucketed`` on
    ``(band, sig)`` so subsequent bucket equi-joins are exchange-free, then
    hand the loaded table to ``lsh_bucket_topk(index=...)`` /
    ``semantic_overlap(corpus_index=...)``. The index carries its build
    params as ``_lsh_tables``/``_lsh_planes`` literal columns (constant →
    parquet dictionary-encodes them to nothing); consumers verify them
    against the planes they sign queries with and FAIL LOUDLY on mismatch
    instead of band-joining to nothing (a silent all-clean/empty result)."""
    tables = lsh_planes(n_tables, n_planes)
    return (
        banded_relation(
            spread(corpus, id_col), id_col, vec_col, tables, id_col, vec_col,
            norm_col="_norm",
        )
        .withColumns(
            {
                "_lsh_tables": F.lit(int(n_tables)),
                "_lsh_planes": F.lit(int(n_planes)),
            }
        )
        # schema-level stamp too: survives the parquet round trip in the
        # Spark schema footer and lets consumers verify at PLAN time —
        # the row-level assert can't fire on an EMPTY (e.g. mis-pathed)
        # index, which would otherwise still band-join to silent-clean
        .withMetadata(
            "band", {"lsh_tables": int(n_tables), "lsh_planes": int(n_planes)}
        )
    )


def check_index_params(index: DataFrame, n_tables: int, n_planes: int) -> DataFrame:
    """Guard an LSH index against mismatched plane parameters.

    If the index carries ``_lsh_tables``/``_lsh_planes`` stamps (written by
    ``lsh_build_index``), attach an execution-time ``assert_true`` that the
    caller's ``n_tables``/``n_planes`` match — a mismatch would otherwise
    band-join to NOTHING and silently report zero candidates (for
    decontamination, a false "corpus fully clean"). The check is lazy (a
    filter over a runtime-raising expression, no Spark action at plan-build
    time) and free: the stamp columns are constants. The schema-metadata
    stamp on ``band`` is additionally checked HERE, at plan-build time —
    it covers the EMPTY-index case (a mis-pathed load has no rows for the
    row-level assert to see, and would otherwise still band-join to a
    silent all-clean). Unstamped (pre-stamp or hand-built) indexes pass
    through unchecked, as before."""
    meta = next(
        (f.metadata for f in index.schema.fields if f.name == "band"), None
    ) or {}
    if meta.get("lsh_tables") is not None:
        built = (int(meta["lsh_tables"]), int(meta.get("lsh_planes", -1)))
        if built != (int(n_tables), int(n_planes)):
            raise ValueError(
                f"LSH index built with (n_tables, n_planes)={built} but "
                f"queried with ({int(n_tables)}, {int(n_planes)}); a "
                "mismatch band-joins to nothing — rebuild the index or "
                "pass the index's own parameters"
            )
    if not {"_lsh_tables", "_lsh_planes"} <= set(index.columns):
        return index
    ok = (F.col("_lsh_tables") == F.lit(int(n_tables))) & (
        F.col("_lsh_planes") == F.lit(int(n_planes))
    )
    msg = F.concat(
        F.lit("LSH index built with (n_tables, n_planes)=("),
        F.col("_lsh_tables").cast("string"),
        F.lit(", "),
        F.col("_lsh_planes").cast("string"),
        F.lit(f") but queried with ({int(n_tables)}, {int(n_planes)}); "
              "a mismatch band-joins to nothing — rebuild the index or pass "
              "the index's own parameters"),
    )
    # assert_true(ok) is NULL when ok (row kept) and raises when not; as a
    # filter it cannot be pruned away by column pruning.
    return index.filter(F.assert_true(ok, msg).isNull())


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = _NUM_TABLES,
    n_planes: int = _NUM_PLANES,
    dim: int = _DIM,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: search the union of the query's buckets across L
    banded LSH tables.

    Recall < 1 by design and grows with ``n_tables``; ``n_planes`` bounds
    bucket size (≈ N/2^b per table), so the bucket equi-join stays hash-
    partitioned and bounded as the corpus scales — there is no fixed
    256-bucket ceiling. A pair colliding in several tables is scored once
    per collision and deduped by ``distinct()`` (collisions beyond the first
    are exactly the near-neighbors — a vanishing fraction of candidates).

    Index lifecycle (the 100 TB-relevant part): pass ``index=`` a
    PRECOMPUTED banded relation from ``lsh_build_index`` (persisted bucketed
    on ``(band, sig)``) so each query run computes only |Q|·L signatures —
    the corpus-wide signature pass is an artifact, not a per-run cost.
    Without ``index=`` the banded relation is derived inline from ``corpus``
    (fixture/oracle mode)."""
    tables = lsh_planes(n_tables, n_planes)
    if index is not None:
        c = check_index_params(index, n_tables, n_planes).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            F.col("_norm").alias("_cn"),
            "band",
            "sig",
        )
    else:
        if corpus is None:
            raise ValueError("need corpus or a precomputed index")
        c = banded_relation(
            spread(corpus, id_col), id_col, vec_col, tables, "neighbor_id", "_cv",
            norm_col="_cn",
        )
    q = banded_relation(queries, id_col, vec_col, tables, "query_id", "_qv", norm_col="_qn")
    sim = F.round(cosine_prenormed("_qv", "_cv", "_qn", "_cn", dim), 9).alias("_sim9")
    # multi-table collision dedup as groupBy+min, NOT distinct: every
    # collision of a pair scores to the same rounded value so min == the
    # value (bit-identical), but distinct would put the scored DOUBLE into
    # the hash-aggregate grouping key — dragging the unrolled dot chain into
    # the aggregate's generated key code, whose Janino compile time dominates
    # small runs and whose size risks the 64 KB method limit
    scored = (
        c.join(F.broadcast(q), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("_sim9").alias("_sim9"))
    )
    return _rank_topk(scored, k, "_sim9", F.round("_sim9", 6).alias("cosine_sim"))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = _DIM,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (cosine).

    Centroids are broadcast (they are tiny by construction); each vector
    scores every centroid map-side. With ``nprobe=1`` (the corpus-side
    default) the argmax is a ``max_by`` aggregation — partial aggregation
    finds the winner map-side, so the shuffle carries ONE row per vector
    instead of the K scored rows a rank-window would move. ``nprobe>1``
    (query-side recall knob) keeps the rank window; queries are few.
    Ties break on centroid id (round-9 score, then lowest id).
    """
    # norms once per vector / per centroid, never per (vector × centroid)
    scored = (
        df.withColumn("_vn", _norm(vec_col, dim))
        .crossJoin(F.broadcast(centroids.withColumn("_cvn", _norm("_cent_v", dim))))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_cent_id"),
            F.round(cosine_prenormed(vec_col, "_cent_v", "_vn", "_cvn", dim), 9).alias("_cs"),
        )
    )
    if nprobe == 1:
        # max_by over struct(_cs, -_cent_id) == row_number orderBy(_cs desc,
        # _cent_id asc) == 1: lexicographic max picks highest score, then
        # lowest centroid id. Bit-identical to the window form.
        best = F.max_by(
            F.struct(F.col(vec_col).alias("v"), F.col("_cent_id").alias("c")),
            F.struct(F.col("_cs").alias("s"), (-F.col("_cent_id")).alias("t")),
        )
        return (
            scored.groupBy(id_col)
            .agg(best.alias("_best"))
            .select(
                id_col,
                F.col("_best.v").alias(vec_col),
                F.col("_best.c").alias("_cell"),
            )
        )
    w = W.partitionBy(id_col).orderBy(F.col("_cs").desc(), F.col("_cent_id").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(id_col, vec_col, F.col("_cent_id").alias("_cell"))
    )


def stride_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 97,
) -> DataFrame:
    """Deterministic centroid subset (ids divisible by the stride) — the
    oracle-reproducible stand-in for trained k-means centroids."""
    return (
        spread(corpus, id_col)
        .filter((F.col(id_col) % centroid_stride) == 0)
        .select(F.col(id_col).alias("_cent_id"), F.col(vec_col).alias("_cent_v"))
        # the centroid relation is tiny (|corpus|/stride) but referenced from
        # BOTH halves of every IVF query (index build + query-cell assign);
        # materialize once so each reference doesn't re-scan the corpus
        # (guide §2.1 — r11 audit: ivfpq's plan carried 16 parquet scans)
        .transform(materialize)
    )


def ivf_build_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _DIM,
) -> DataFrame:
    """Materialize the IVF index: (id, vec, _cell) for every corpus vector.

    This is the expensive half of IVF (one pass over the corpus × K
    centroid scores) and must be computed ONCE and persisted, not per
    query run — write it through ``sinks.bucketed.write_bucketed`` on
    ``_cell`` so every subsequent cell equi-join is exchange-free, then
    hand the loaded table to ``ivf_topk(index=...)``.
    """
    return ivf_assign(
        spread(corpus, id_col).select(id_col, vec_col), centroids, id_col, vec_col, dim
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_stride: int = 97,
    centroids: DataFrame | None = None,
    index: DataFrame | None = None,
    nprobe: int = 1,
    dim: int = _DIM,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    centroid cells, search only the query's nearest ``nprobe`` cells.

    Index lifecycle (the 100 TB-relevant part): pass ``index=`` a
    PRECOMPUTED ``(id, vec, _cell)`` assignment (from ``ivf_build_index``,
    persisted bucketed on ``_cell``) so each query run only scores
    |Q|·K centroid distances plus the candidate cells — the corpus-wide
    assignment is an artifact, not a per-run cost. Without ``index=`` the
    assignment is derived inline from ``corpus`` (fixture/oracle mode).

    Centroids: pass ``centroids=`` trained ones (``ivf_train_centroids``);
    default is the deterministic stride subset so the SQL oracle reproduces
    the index exactly. ``nprobe`` > 1 searches that many nearest cells per
    query — the standard recall knob.
    """
    if centroids is None:
        if corpus is None:
            raise ValueError("need corpus to derive stride centroids")
        centroids = stride_centroids(corpus, id_col, vec_col, centroid_stride)
    if index is None:
        if corpus is None:
            raise ValueError("need corpus or a precomputed index")
        index = ivf_build_index(corpus, centroids, id_col, vec_col, dim)
    ca = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col, dim).alias("_cn"),
        "_cell",
    )
    qa = ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        centroids, "query_id", "_qv", dim, nprobe=nprobe,
    ).withColumn("_qn", _norm("_qv", dim))
    sim = F.round(cosine_prenormed("_qv", "_cv", "_qn", "_cn", dim), 9).alias("_sim9")
    scored = (
        ca.join(F.broadcast(qa), "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
    )
    # no dedup needed even at nprobe>1: each corpus vector lives in exactly
    # one cell, so a (query, neighbor) pair joins at most once
    return _rank_topk(scored, k, "_sim9", F.round("_sim9", 6).alias("cosine_sim"))


def ivf_exact_topk(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_stride: int = 97,
    centroids: DataFrame | None = None,
    index: DataFrame | None = None,
    p_init: int = 2,
    dim: int = _DIM,
    cells_only: bool = False,
) -> DataFrame:
    """EXACT top-k with triangle-inequality cell pruning — the provable
    middle ground between ``brute_force_topk`` (reads everything) and
    ``ivf_topk`` (reads ``nprobe`` cells, loses recall):

    1. estimate: scan the query's ``p_init`` nearest cells, take the
       k-th best candidate cosine as a distance bound d_k;
    2. prune: a cell at centroid distance d(q, cent) with member radius
       r can only hold a closer neighbor if d(q, cent) − r ≤ d_k
       (triangle inequality on the unit sphere, d = √(2 − 2·cos));
    3. final: exact top-k over the surviving cells only.

    Losslessness is MATHEMATICAL, not measured: every true top-k
    neighbor c satisfies d(q, cent(c)) ≤ d(q, c) + r(cell(c)) ≤ d_k + r,
    so its cell always survives step 2 — the result equals brute force
    by construction, which is why the registry query pairs this plan
    with the structurally independent brute-force SQL oracle. The prune
    compares SQUARED distances with a 1e-8 slack: in d² = 2 − 2·cos
    space a cosine perturbation ε maps to a CONSTANT 2ε of d² slack, so
    one bound absorbs both FP fold error (~1e-12) and the round-9
    ranking boundary (5e-10 of cosine → 1e-9 of d²) uniformly — an
    additive DISTANCE slack would need Δd ≈ ε/d_k, unbounded as the
    k-th neighbor gets close (near-duplicate corpora), which is exactly
    where a fixed 1e-6 silently under-covered. Pruning power is
    unaffected (cell gaps are O(0.1) distances → O(0.01) of d²).

    At scale: centroids/cell-stats are broadcast-tiny, the estimate and
    final scans touch only listed cells of a ``_cell``-bucketed index
    (exchange-free joins via ``sinks.bucketed``), and the only windows
    are per-query over candidate relations. ``cells_only=True`` returns
    the surviving (query_id, _cell) relation so tests can assert the
    pruning is real, not vacuous. Self-matches excluded as everywhere.
    """
    if centroids is None:
        if corpus is None:
            raise ValueError("need corpus to derive stride centroids")
        centroids = stride_centroids(corpus, id_col, vec_col, centroid_stride)
    if index is None:
        if corpus is None:
            raise ValueError("need corpus or a precomputed index")
        # the exact plan reads the assignment from THREE branches
        # (cell radii, the estimate scan, the final scan) — inline mode
        # materializes it once instead of re-running the corpus ×
        # centroid scoring per branch; at scale pass ``index=`` a
        # persisted ``_cell``-bucketed table and this never triggers
        index = ivf_build_index(
            corpus, centroids, id_col, vec_col, dim
        ).transform(materialize)
    eps2 = F.lit(1e-8)  # slack in d² units — see docstring

    cb = F.broadcast(centroids.withColumn("_cvn", _norm("_cent_v", dim)))
    ca = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col, dim).alias("_cn"),
        "_cell",
    )
    # per-cell radius: max member distance to the OWN centroid — raw
    # (unrounded) cosine so the radius never shrinks from rounding
    member_cos = cosine_prenormed("_cv", "_cent_v", "_cn", "_cvn", dim)
    cellstats = (
        ca.join(cb, ca["_cell"] == cb["_cent_id"])
        .select("_cell", member_cos.alias("_mc"))
        .groupBy("_cell")
        .agg(F.min("_mc").alias("_min_cos"))
        .select(
            "_cell",
            F.sqrt(F.greatest(F.lit(0.0), 2.0 - 2.0 * F.col("_min_cos"))).alias(
                "_radius"
            ),
        )
    )
    qa = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(vec_col, dim).alias("_qn"),
    )
    qc = qa.crossJoin(cb).select(
        "query_id",
        "_qv",
        "_qn",
        F.col("_cent_id").alias("_cell"),
        cosine_prenormed("_qv", "_cent_v", "_qn", "_cvn", dim).alias("_qc_cos"),
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("_qc_cos").desc(), F.col("_cell").asc()
    )
    init_cells = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= p_init)
        .select("query_id", "_qv", "_qn", "_cell")
    )
    pair_cos = cosine_prenormed("_qv", "_cv", "_qn", "_cn", dim)
    cand0 = (
        ca.join(F.broadcast(init_cells), "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", pair_cos.alias("_cos"))
    )
    wk = W.partitionBy("query_id").orderBy(F.col("_cos").desc())
    kth = (
        cand0.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") == k)
        .select("query_id", F.col("_cos").alias("_cos_k"))
    )
    d_qc = F.sqrt(F.greatest(F.lit(0.0), 2.0 - 2.0 * F.col("_qc_cos")))
    d_k = F.sqrt(F.greatest(F.lit(0.0), 2.0 - 2.0 * F.col("_cos_k")))
    survivors = (
        qc.join(F.broadcast(cellstats), "_cell")
        .join(F.broadcast(kth), "query_id", "left")
        .filter(
            F.col("_cos_k").isNull()
            | (d_qc <= F.col("_radius"))
            | (
                (d_qc - F.col("_radius")) * (d_qc - F.col("_radius"))
                <= (2.0 - 2.0 * F.col("_cos_k")) + eps2
            )
        )
        .select("query_id", "_qv", "_qn", "_cell")
    )
    if cells_only:
        return survivors.select("query_id", "_cell")
    sim = F.round(pair_cos, 9).alias("_sim9")
    scored = (
        ca.join(F.broadcast(survivors), "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
    )
    return _rank_topk(scored, k, "_sim9", F.round("_sim9", 6).alias("cosine_sim"))


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    dim: int = _DIM,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over the embedding column, pure DataFrame ops — the
    production replacement for ``ivf_topk``'s deterministic stride centroids.

    Init = first k vectors by id (deterministic). Each iteration is two
    shuffles, both map-side combinable at 100 TB:

    1. assign: broadcast the k centroids, per-vector argmax (``ivf_assign``)
    2. update: ``posexplode`` the member vectors → groupBy (cell, dim)
       aggregate (k·d result rows) → re-assemble ordered arrays

    No vector ever crosses the wire un-aggregated in step 2 — the partial
    sums combine map-side, so the update shuffle carries O(partitions ·
    k · d) rows regardless of corpus size. Output: (_cent_id, _cent_v, _n),
    the centroid shape ``ivf_assign``/``ivf_topk`` consume plus the member
    count.

    ``quantize_scale`` switches to the EXACTLY-REPRODUCIBLE variant: vector
    components quantize to ``floor(x * scale)`` (integer-valued doubles) and
    the centroid update keeps per-dimension SUMS instead of means. Because
    cosine is scale-invariant, the sum vector is a valid centroid, and every
    dot product / squared norm stays an exact integer below 2^53 — so the
    result is bit-identical under ANY summation order, any partitioning, and
    in any engine (the floating-point mean update is order-nondeterministic
    at the last ulp, which an exact-value oracle would flake on). Headroom
    at scale=1e4: |q| ≤ ~1e4, cell sums ≤ |cell|·1e4, norm² ≤ dim·sum² —
    fine to ~1e4-row cells; at larger cells lower the scale.
    """
    q = quantize_scale is not None
    qv = _quantized(vec_col, quantize_scale) if q else F.col(vec_col).cast("array<double>")
    first_k = corpus.orderBy(F.col(id_col)).limit(k)
    cents = first_k.select(
        F.col(id_col).alias("_cent_id"), qv.alias("_cent_v")
    )
    vecs = spread(corpus, id_col).select(F.col(id_col).alias("_vid"), qv.alias("_vv"))
    for _ in range(iters):
        assigned = ivf_assign(vecs, cents, "_vid", "_vv", dim)
        by_dim = assigned.select(
            "_cell", F.posexplode(F.col("_vv")).alias("_pos", "_x")
        )
        stat = (F.sum if q else F.avg)("_x").alias("_m")
        means = by_dim.groupBy("_cell", "_pos").agg(
            stat, F.count(F.lit(1)).alias("_cnt")
        )
        cents = (
            means.groupBy("_cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"),
                F.max("_cnt").alias("_n"),
            )
            .select(
                F.col("_cell").alias("_cent_id"),
                F.expr("transform(_pm, s -> s._m)").alias("_cent_v"),
                "_n",
            )
            # k tiny rows, but load-bearing: every DOWNSTREAM consumer of the
            # trained centroids (index build, query-side assign, repeated
            # runs) embeds this plan — uncached, each consumer re-executes
            # the ENTIRE iterative training, and iteration i re-derives
            # iteration i-1's centroids from scratch. Lazy cache keeps query
            # construction action-free while bounding training to one
            # execution per session.
            .cache()
        )
    return cents


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_tables: int = _NUM_TABLES,
    n_planes: int = _NUM_PLANES,
    max_bucket_size: int | None = None,
    dim: int = _DIM,
) -> DataFrame:
    """Embedding near-duplicate pairs with cosine ≥ threshold.

    Candidates come from the banded multi-table LSH band join (a pair
    qualifies if it collides in ANY of the L tables — the MinHash
    union-of-bands shape), then exact cosine verifies. ``n_planes`` bounds
    per-table bucket size so the self-join stays sub-quadratic as the
    corpus grows; ``n_tables`` restores the recall fine buckets lose;
    ``max_bucket_size`` additionally drops degenerate hot buckets (e.g. a
    spike of identical embeddings) before the self-join.
    """
    from olake_spark.operators.dedup import cap_buckets

    tables = lsh_planes(n_tables, n_planes)
    # cache the banded relation: it feeds both self-join sides — without the
    # cache every hyperplane signature runs twice
    t = banded_relation(
        spread(df, id_col), id_col, vec_col, tables, "_id", "_v", norm_col="_n"
    )
    t = cap_buckets(t, ["band", "sig"], max_bucket_size).cache()
    a, b = t.alias("a"), t.alias("b")
    sim = F.round(cosine_prenormed("a._v", "b._v", "a._n", "b._n", dim), 6)
    # groupBy+min over the per-collision scores, not distinct — identical
    # output (collisions of a pair all score the same), but keeps the dot
    # chain out of the aggregate grouping key (see lsh_bucket_topk)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("cosine_sim").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
