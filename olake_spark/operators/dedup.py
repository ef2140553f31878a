"""Deduplication family for training-data pipelines, at 100 TB design point.

Five techniques, all expressed as declarative DataFrame plans over native
functions (no Python in the hot path):

- **exact**      : md5 fingerprint of normalized text → one shuffle groupBy.
- **MinHash+LSH**: char-shingle → 60-bit hash → k permutation-min signature →
  banded bucket join. Scale path: candidate generation touches only
  same-band pairs (no O(n²) cross join); bands are a narrow shuffle key.
- **SimHash**    : token-hash bit-vote 32-bit signature; hamming-≤h pairs
  found via 4-band pigeonhole join (EXACT for h ≤ 3: at least one of 4
  byte-bands must be clean), then `bit_count(xor)` verification.
- **n-gram Jaccard**: word-trigram sets; candidate pairs share ≥1 trigram
  (inverted-index self-join), verified with exact |A∩B|/|A∪B|.
- **embedding cosine** near-dup lives in ``operators.similarity``.

All hashing derives from md5 hex prefixes (`conv(substr(md5(x),1,15),16,10)`)
so every result is bit-reproducible in ANSI SQL for the DuckDB oracle — no
engine-private hash functions.

Skew note: shingle/band buckets over natural-language corpora are Zipfian;
the band-join keys here include the band index, and verification joins are
equi-joins AQE can split. For pathological buckets cap candidates per bucket
(``max_bucket_size``) — dropping mega-buckets is standard LSH practice (a
shingle shared by >x% of docs carries no dedup signal).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "HASH_PRIME",
    "MINHASH_PARAMS",
    "hash60",
    "normalize_text",
    "char_shingles",
    "word_ngrams",
    "exact_dedup",
    "drop_exact_dupes",
    "cap_buckets",
    "minhash_signatures",
    "minhash_near_dups",
    "simhash",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "connected_components",
    "keep_canonical",
    "drop_duplicate_lines",
    "fingerprint_index",
    "incremental_exact_dedup",
    "minhash_index",
    "incremental_minhash_dedup",
]

HASH_PRIME = 1_000_000_007
_NUM_HASHES = 16
_rng = random.Random(42)
# fixed affine permutation params (a, b) — shared verbatim with the SQL oracle
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randrange(1, HASH_PRIME), _rng.randrange(0, HASH_PRIME)) for _ in range(_NUM_HASHES)
]

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8-bit bands; pigeonhole-exact for hamming <= 3


def hash60(col: Column) -> Column:
    """Stable 60-bit hash from the md5 hex prefix — reproducible anywhere."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


from olake_spark.sources.files import spread  # noqa: E402  (re-export for operators)

from olake_spark import hybrid
from olake_spark.materialize import materialize


def normalize_text(col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams of the text (array column)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(col, i, F.lit(n))))


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from a token array column."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Representative (min id) + duplicate count per normalized fingerprint."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("representative"), F.count(F.lit(1)).alias("n_dupes"))
    )


def drop_exact_dupes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Surviving-rows form of exact dedup: keep the min-id row of every
    normalized-fingerprint group, all columns intact. One window shuffle on
    the fingerprint (same key cardinality as the groupBy form)."""
    from pyspark.sql import Window as W

    fp = F.md5(normalize_text(F.col(text_col)))
    keep = F.col(id_col) == F.min(id_col).over(W.partitionBy(fp))
    return df.withColumn("_dd_keep", keep).filter("_dd_keep").drop("_dd_keep")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int = 5
) -> DataFrame:
    """k-permutation MinHash signature per document (columns m0..m{k-1}).

    One explode + one groupBy shuffle on the id; the k mins are map-side
    combinable partial aggregates.
    """
    norm = normalize_text(F.col(text_col)).alias("_norm")
    sh = spread(df, id_col).select(F.col(id_col), norm).select(
        id_col, F.explode(char_shingles(F.col("_norm"), shingle_size)).alias("s")
    )
    hashed = sh.select(id_col, (hash60(F.col("s")) % HASH_PRIME).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_PRIME).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def cap_buckets(
    bt: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket_size`` members before
    a bucket self-join — the standard mitigation for Zipf-hot buckets (a
    bucket shared by k docs yields k² candidate rows; a bucket hit by a
    large fraction of the corpus carries no dedup signal anyway, it is
    boilerplate). One extra aggregation on the SAME keys the join shuffles
    on, so AQE reuses the exchange; candidates become bounded by
    ``n_buckets * cap²`` instead of quadratic in the hottest key."""
    if max_bucket_size is None:
        return bt
    sizes = bt.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_bsz"))
    return (
        bt.join(sizes.filter(F.col("_bsz") <= max_bucket_size), bucket_cols)
        .drop("_bsz")
    )


def _band_table(sig: DataFrame, id_col: str, num_bands: int, rows_per_band: int) -> DataFrame:
    bands = []
    for j in range(num_bands):
        cols = [f"m{j * rows_per_band + r}" for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(j).alias("band"),
                F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])).alias("bh"),
            )
        )
    return sig.select(id_col, F.explode(F.array(*bands)).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH-banded near-duplicate pairs with estimated Jaccard ≥ threshold.

    Candidates = pairs agreeing on ≥1 band (bucket equi-join, never O(n²));
    estimate = fraction of agreeing minhashes. ``max_bucket_size`` drops
    boilerplate mega-buckets before the join (see ``cap_buckets``).
    """
    k = _NUM_HASHES
    rows_per_band = k // num_bands
    sig = minhash_signatures(df, id_col, text_col).cache()
    bt = cap_buckets(
        _band_table(sig, id_col, num_bands, rows_per_band), ["band", "bh"], max_bucket_size
    )
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col(id_col).alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)])
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    ) / F.lit(float(k))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document: tokens vote ±1 per bit of their hash."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    t = spread(df, id_col).select(F.col(id_col), F.explode(toks).alias("w"))
    hashed = t.select(id_col, hash60(F.col("w")).alias("h"))
    votes = [
        F.sum(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{bit}")
        for bit in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sh = sum(
        F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        for bit in range(SIMHASH_BITS)
    )
    return agg.select(id_col, sh.cast("long").alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via pigeonhole band join.

    With 4 byte-bands and max_hamming ≤ 3, ≥1 band must match exactly, so
    the band join is a lossless candidate generator — LSH recall 100%.
    ``max_bucket_size`` trades that exactness for bounded candidates by
    dropping mega-buckets (see ``cap_buckets``).
    """
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError("pigeonhole exactness requires max_hamming < num bands")
    sh = simhash(df, id_col, text_col).cache()
    width = SIMHASH_BITS // SIMHASH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), j * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bv"),
            )
            for j in range(SIMHASH_BANDS)
        ]
    )
    bt = sh.select(id_col, "simhash", F.explode(bands).alias("b")).select(
        id_col, "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    bt = cap_buckets(bt, ["band", "bv"], max_bucket_size)
    a, b = bt.alias("a"), bt.alias("b")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _union_find_labels(edge_rows) -> list[tuple[int, int]]:
    """Driver-side DSU over collected (src, dst) rows → (node, min-of-
    component) labels, identical to what the distributed loop converges to."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = int(r[0]), int(r[1])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-root union → min label
    return [(n, find(n)) for n in parent]


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
    driver_collect_max: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs: every node labeled with
    the minimum id reachable through the pair graph.

    This is the step after pair generation in a dedup pipeline — pairs say
    "these two match", clusters decide which one survives. Min-label
    propagation: each round every node adopts min(own label, neighbors'
    labels); converged when a round changes nothing. Rounds needed = graph
    diameter, and near-dup components are small and dense (a duplicate
    cluster's diameter is ~1-2), so the loop runs 2-3 shuffles in practice —
    the per-round count() is a cheap driver sync on an aggregated frame.
    ``max_iters`` bounds pathological chains. Output: (id_col, cluster_id).

    **Hybrid execution** (README "Hybrid execution"): the verified edge
    set holds only confirmed near-dup pairs. Up to ``driver_collect_max``
    edges (0 disables) with integer ids, a union-find on the driver
    replaces the iterative loop: one job instead of 2-4 rounds of
    shuffles, identical labels. Larger duplicate subgraphs and other id
    types take the distributed loop.

    ``checkpoint_dir`` selects RELIABLE checkpointing (files under the given
    fault-tolerant dir — survives executor loss; set it on any real
    cluster). Default is ``localCheckpoint`` (executor-local blocks): fine
    on local[n], lost with an executor at scale.
    """
    # lazy checkpoints: lineage still truncates, but materialization rides
    # the round's convergence aggregation — ONE Spark action per round
    # instead of two (an eager checkpoint is its own job; at toy scale the
    # per-action scheduling overhead dominated the whole operator)
    if checkpoint_dir is not None:
        ids.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        _ck = lambda frame: frame.checkpoint(eager=False)  # noqa: E731
    else:
        _ck = lambda frame: frame.transform(materialize)  # noqa: E731
    edges = _ck(
        pairs.select(F.col(pair_a).alias("src"), F.col(pair_b).alias("dst"))
        .unionByName(pairs.select(F.col(pair_b).alias("src"), F.col(pair_a).alias("dst")))
        # a NULL endpoint is no edge
        .na.drop()
        .distinct()
    )
    # collecting materializes the checkpoint, a job the loop's first
    # convergence sync would have paid anyway; int ids keep the union-find
    # exact (a float id would lose precision above 2^53)
    labels = hybrid.run(
        "dedup.connected_components", edges, driver_collect_max,
        lambda got: _union_find_labels(
            zip(got.pdf["src"].tolist(), got.pdf["dst"].tolist())
        ),
        "node {0}, label {0}".format(edges.schema["src"].dataType.simpleString()),
        integer=("src", "dst"),
    )
    if labels is not None:
        return ids.join(
            labels.withColumnRenamed("node", id_col), id_col, "left"
        ).select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        )
    # only nodes that appear in a pair iterate — singletons (the vast
    # majority of any real corpus) label themselves without touching the
    # loop, so every per-round shuffle carries just the duplicate subgraph
    labels = _ck(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # iterative plans MUST truncate lineage per round (localCheckpoint, or
    # checkpoint(dir) on a cluster) — cache() alone is a trap here: a
    # partial materialization leaves later rounds recomputing missing
    # partitions through an ever-deeper plan
    # labels are monotonically non-increasing per node, so the label sum
    # strictly decreases every round that changes anything — convergence
    # detection is one agg on the new frame, no old-vs-new join. decimal
    # accumulator: summing ~2^60-scale ids over big corpora overflows int64
    def _label_sum(frame: DataFrame):
        return frame.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iters):
        # neighbor-min propagation (one hop) ...
        neighbor = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        hop = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # ... plus pointer jumping (adopt your label's label) — halves the
        # remaining diameter each round, so convergence is O(log d) rounds
        ptr = hop.select(F.col("node").alias("label"), F.col("label").alias("_ll"))
        new_labels = _ck(
            hop.join(ptr, "label", "left")
            .select("node", F.least("label", "_ll").alias("label"))
        )
        labels = new_labels
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return ids.join(
        labels.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
    )


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the deduped corpus: keep one document per cluster (the
    minimum id — deterministic, matches the cluster label)."""
    keep = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs sharing ≥1 n-gram.

    The inverted-index self-join makes candidates proportional to shared
    n-grams, not n² — the standard scalable exact-Jaccard plan.

    ``max_df`` caps the document frequency of n-grams admitted to the join:
    one boilerplate n-gram shared by k docs contributes k² candidate rows,
    so at corpus scale a stop-phrase would single-handedly quadratic-blow
    the join. Capped n-grams still count in each document's size (the
    Jaccard denominator); they just can't *generate* candidates or add to
    the intersection — Jaccard is then a lower bound for pairs whose overlap
    was mostly boilerplate, which is exactly the pair you don't want to
    call a duplicate.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    # ONE cached relation — the hashed (id, ngh) inverted index — feeds the
    # size aggregate, the df aggregation and both self-join sides (r12;
    # the earlier form cached the exploded STRING relation AND this hashed
    # one, so the corpus paid two cache-build passes and the store held
    # the wide n-gram strings the joins never read — guide §2.1/§5). The
    # hash (64-bit, not the string) halves shuffle width; per-doc n-gram
    # counts are row counts, identical before/after hashing.
    gh = (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(word_ngrams(toks, n)).alias("ng"))
        .select(id_col, F.xxhash64("ng").alias("ngh"))
    )
    if max_df is not None:
        # repartition on the self-join key: the df aggregation runs
        # exchange-free on the cached partitioning, the hot set it emits is
        # the head of the Zipf curve (tiny by construction — at most
        # |index|/max_df n-grams can exceed the cap) so it broadcasts, and
        # the anti-join preserves the partitioning for the self-join. This
        # replaces an earlier count-over-window form whose per-partition
        # SORT of the full inverted index dominated the operator's runtime.
        gh = gh.repartition(F.col("ngh"))
    gh = gh.cache()
    sizes = gh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    if max_df is not None:
        # document frequency per n-gram (n-grams are distinct per doc, so
        # count(*) = df); drop hot n-grams BEFORE the self-join
        hot = (
            gh.groupBy("ngh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("ngh")
        )
        gh = gh.join(F.broadcast(hot), "ngh", "left_anti")
    a, b = gh.alias("a"), gh.alias("b")
    inter = (
        a.join(b, (F.col("a.ngh") == F.col("b.ngh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """(id, p, h): every token position p (1-based) with the 60-bit hash
    of the ``min_len``-gram starting there. Docs shorter than min_len
    contribute nothing; NULL text contributes nothing."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    t = spread(df, id_col).select(F.col(id_col), toks.alias("_toks"))
    n = F.size("_toks")
    idx = F.when(n >= min_len, F.sequence(F.lit(1), n - (min_len - 1))).otherwise(
        F.array().cast("array<int>")
    )
    pg = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("p"),
            hash60(F.array_join(F.slice("_toks", i, min_len), " ")).alias("h"),
        ),
    )
    return t.select(id_col, F.explode(pg).alias("_pg")).select(
        id_col, F.col("_pg.p").alias("p"), F.col("_pg.h").alias("h")
    )


def _merge_spans(hits: DataFrame, id_col: str, min_len: int) -> DataFrame:
    """Merge duplicated gram positions into maximal spans: positions p1 <
    p2 coalesce iff p2 - p1 <= min_len (their token ranges [p, p+L-1]
    overlap or touch). Classic islands window, partitioned per doc — the
    sort is bounded by a single document's hit count, never the corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("p")
    isl = hits.withColumn("_prev", F.lag("p").over(w)).withColumn(
        "_isl",
        F.sum(
            F.when(
                F.col("_prev").isNull() | (F.col("p") - F.col("_prev") > min_len),
                1,
            ).otherwise(0)
        ).over(w),
    )
    return isl.groupBy(id_col, "_isl").agg(
        F.min("p").alias("span_start"),
        (F.max("p") + (min_len - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 5,
    min_docs: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document exact-substring spans — the distributed k-gram
    formulation of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": suffix-array substring
    dedup; a positional inverted index over ``min_len``-grams finds the
    same >=min_len-token repeats as a join-friendly Spark plan).

    Every maximal run of token positions whose min_len-gram occurs in
    >= ``min_docs`` distinct documents is reported as (doc, span_start,
    span_end, span_len, n_grams) in 1-based token coordinates. Shape at
    scale: one shuffle of (id, p, h) on the gram hash for the document-
    frequency count, one shuffle back on id for the span merge; the
    per-doc window sorts only that document's duplicated positions.
    ``max_df`` drops boilerplate grams above a document frequency (they
    re-enter no span) to bound the hit volume of stop-phrases.

    Reference parity: the reference engine has no corpus operators; this
    is part of the builder brief's training-data pipeline family.
    """
    grams = _positional_grams(df, id_col, text_col, min_len).cache()
    dfreq = grams.groupBy("h").agg(F.count_distinct(F.col(id_col)).alias("_df"))
    keep = dfreq.filter(F.col("_df") >= min_docs)
    if max_df is not None:
        keep = keep.filter(F.col("_df") <= max_df)
    hits = grams.join(keep.select("h"), "h").select(id_col, "p")
    return _merge_spans(hits, id_col, min_len).select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        "n_grams",
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Remove cross-document duplicated substrings from every document
    EXCEPT the canonical occurrence (the smallest ``id_col`` containing
    the gram keeps it) — the removal step of ExactSubstr dedup with a
    deterministic keep-one policy. Returns (id, clean_text, n_removed)
    for the documents that lost tokens; untouched documents are not
    rewritten (at corpus scale the cleaned minority is the delta you
    re-materialize, not the whole corpus).

    Plan shape: gram-hash shuffle for (min doc, df) per gram, id shuffle
    for span merge, and one final per-doc sort of kept tokens (bounded by
    document length) — no self-join, no all-pairs anything."""
    grams = _positional_grams(df, id_col, text_col, min_len).cache()
    win = grams.groupBy("h").agg(
        F.min(id_col).alias("_win"), F.count_distinct(F.col(id_col)).alias("_df")
    )
    dup = win.filter(F.col("_df") >= 2)
    if max_df is not None:
        dup = dup.filter(F.col("_df") <= max_df)
    removable = (
        grams.join(dup, "h")
        .filter(F.col(id_col) != F.col("_win"))
        .select(id_col, "p")
    )
    spans = _merge_spans(removable, id_col, min_len)
    removed_pos = spans.select(
        id_col, F.explode(F.sequence("span_start", "span_end")).alias("p")
    ).distinct()
    # removed_pos feeds the anti-join AND the n_removed count; materialize
    # once so the span-merge window chain doesn't re-run (guide §2.1)
    removed_pos = removed_pos.transform(materialize)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    tokpos = (
        spread(df, id_col)
        .select(F.col(id_col), F.posexplode(toks).alias("p0", "tok"))
        .select(id_col, (F.col("p0") + 1).alias("p"), "tok")
    )
    # keep = tokens not covered by any removed span; rebuild in order
    kept = tokpos.join(removed_pos, [id_col, "p"], "left_anti")
    n_rem = removed_pos.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_removed"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text")
    )
    return n_rem.join(rebuilt, id_col, "left").select(
        id_col, F.coalesce("clean_text", F.lit("")).alias("clean_text"), "n_removed"
    )


def drop_duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_line_df: int = 2,
) -> DataFrame:
    """Sub-document dedup (the CCNet/C4 boilerplate pass): drop every LINE
    that appears in more than ``max_line_df`` distinct documents, then
    reassemble each document from its surviving lines in order. Doc-level
    dedup can't touch this — navigation chrome, cookie banners, and footer
    text recur across *different* pages that are otherwise unique.

    Line identity = trimmed+lowercased content; blank lines are never
    counted (they'd always be "hot") and survive reassembly untouched.
    Scale shape mirrors ``ngram_jaccard_pairs``'s df cap: one
    explode+distinct aggregation for line document-frequency, the hot set
    (bounded by total-lines / max_line_df — the Zipf head) broadcasts into
    a LEFT ANTI join, and reassembly is one groupBy with an in-group sort —
    the corpus shuffles twice, never joins itself. Output: (id, text,
    n_lines, n_dropped).
    """
    norm = F.trim(F.lower(F.col("line")))
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).withColumn("_k", norm)
    counted = F.col("_k") != ""
    line_df = (
        lines.filter(counted)
        .select(id_col, "_k")
        .distinct()
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    hot = line_df.filter(F.col("_df") > max_line_df).select("_k")
    kept = lines.join(
        F.broadcast(hot).withColumn("_hot", F.lit(True)), "_k", "left"
    ).filter(F.col("_hot").isNull() | ~counted)
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("_pl"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            id_col,
            F.array_join(F.expr("transform(_pl, s -> s.line)"), "\n").alias(text_col),
            F.col("n_lines").cast("long"),
        )
    )
    total = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).cast("long").alias("_tot")
    )
    return (
        total.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            (F.col("_tot") - F.coalesce(F.col("n_lines"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW batch against a PERSISTED corpus index
# ---------------------------------------------------------------------------
#
# The 100 TB dedup problem is rarely "dedup this corpus once" — it is "a new
# crawl/sync lands daily; drop everything already in the corpus WITHOUT
# rescanning the corpus". The corpus contributes only its (tiny) index:
# exact fingerprints, or MinHash signatures for near-dup. Write the index
# with ``sinks.bucketed.write_bucketed`` on the join key and every daily
# batch joins it exchange-free on the corpus side.


def fingerprint_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-dedup index of a corpus: one row per normalized-text
    fingerprint with its representative (min id). Persist this bucketed by
    ``fingerprint``; it is the only corpus state incremental exact dedup
    ever needs."""
    return exact_dedup(df, id_col, text_col).select("fingerprint", "representative")


def incremental_exact_dedup(
    new_df: DataFrame, index: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rows of a new batch that are NOT already in the corpus (by exact
    normalized fingerprint) and are the first (min id) delivery of their
    fingerprint within the batch.

    Plan shape: one anti-join on the fingerprint (corpus side is the
    pre-aggregated index — if it was written bucketed on ``fingerprint``
    the corpus side shuffles zero bytes), then one window on the same key
    for within-batch first-wins; with a sort-merge anti-join the window
    reuses the join's partitioning. The full corpus text is never read.

    NULL-text rows have no fingerprint and are DROPPED — defined behavior
    matching the SQL oracle (``fingerprint NOT IN (...)`` is never true for
    a NULL fingerprint), instead of a latent engine/oracle divergence.
    """
    fp = F.md5(normalize_text(F.col(text_col)))
    fresh = (
        new_df.filter(F.col(text_col).isNotNull())
        .withColumn("_fp", fp)
        .join(index.select(F.col("fingerprint").alias("_fp")), "_fp", "left_anti")
    )
    from pyspark.sql import Window as W

    keep = F.col(id_col) == F.min(id_col).over(W.partitionBy("_fp"))
    return fresh.withColumn("_keep", keep).filter("_keep").drop("_fp", "_keep")


def minhash_index(df: DataFrame, id_col: str, text_col: str, shingle_size: int = 5) -> DataFrame:
    """Near-dup index of a corpus: the per-document MinHash signature frame
    (id, m0..m{k-1}). Band hashes are derived columns — persist the
    EXPLODED band table bucketed by (band, bh) at scale so the daily band
    join is exchange-free on the corpus side."""
    return minhash_signatures(df, id_col, text_col, shingle_size)


def incremental_minhash_dedup(
    new_df: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_bands: int = 4,
    shingle_size: int = 5,
    max_bucket_size: int | None = None,
    cache_index: bool = True,
) -> DataFrame:
    """Rows of a new batch with NO near-duplicate (estimated Jaccard ≥
    ``threshold``) in an existing corpus, given only the corpus's MinHash
    signature index.

    ``index_sigs`` is read twice (band table + signature verification);
    ``cache_index`` (default) caches it so a COMPUTED index pipeline runs
    once. Pass False when the index is already a persisted/bucketed table
    — then two cheap scans beat materializing it into executor memory.

    Cache lifecycle: the batch signatures (and the index, when
    ``cache_index``) are cached lazily here and stay cached after the
    result materializes — the CALLER owns unpersisting them (e.g.
    ``spark.catalog.clearCache()`` between daily runs in a long-lived
    session); this function cannot unpersist before its lazy result has
    been materialized downstream.

    Candidates come from a band equi-join of the batch's band table against
    the corpus index's band table (never batch × corpus); agreement of the
    full k-minhash signature estimates Jaccard; batch ids with any
    above-threshold corpus match are removed by one anti-join. Within-batch
    near-dups are deliberately NOT handled here — that is a separate
    ``minhash_near_dups`` pass over the (small) surviving batch, keeping
    this operator's cost linear in the batch.
    """
    k = _NUM_HASHES
    rpb = k // num_bands
    new_sigs = minhash_signatures(new_df, id_col, text_col, shingle_size).cache()
    if cache_index:
        index_sigs = index_sigs.cache()
    bt_new = _band_table(new_sigs, id_col, num_bands, rpb)
    bt_idx = cap_buckets(
        _band_table(index_sigs, id_col, num_bands, rpb), ["band", "bh"], max_bucket_size
    )
    cand = (
        bt_new.alias("n")
        .join(bt_idx.alias("c"), ["band", "bh"])
        .select(F.col(f"n.{id_col}").alias("_nid"), F.col(f"c.{id_col}").alias("_cid"))
        .distinct()
    )
    sn = new_sigs.select(
        F.col(id_col).alias("_nid"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)]
    )
    sc = index_sigs.select(
        F.col(id_col).alias("_cid"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)]
    )
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    ) / F.lit(float(k))
    dupes = (
        cand.join(sn, "_nid")
        .join(sc, "_cid")
        .filter(F.round(est, 6) >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return new_df.join(dupes, id_col, "left_anti")


def minhash_exact_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_size: int = 5,
    num_bands: int = 16,
) -> DataFrame:
    """MinHash-LSH candidates VERIFIED with the exact shingle-set
    Jaccard — the losslessness-proof variant of
    :func:`minhash_near_dups` (which reports the signature ESTIMATE):
    banding proposes candidate pairs (≥1 agreeing band; at the default
    16 bands × 1 row a true pair at J ≥ τ is missed only if all 16
    independent minhashes differ, probability (1−τ)^16 ≤ 1.5e-5 at
    τ = 0.5), and the emitted jaccard is the TRUE |A∩B|/|A∪B| over the
    distinct character-shingle sets — computed per CANDIDATE pair with
    one ``array_intersect`` over the two docs' shingle arrays (never an
    exploded (doc, shingle) join, never the estimate).

    Registered with a BRUTE-FORCE O(n²) cross-join oracle on a PINNED
    fixture slice, so a green check proves the banded plan finds
    exactly the pairs exhaustive comparison finds (the editdist1
    independent-oracle pattern applied to the MinHash family). Scale
    contract: this is the CERTIFICATION operator — run it on a bounded
    proof corpus. The production near-dup path is
    :func:`minhash_near_dups` + ``cap_buckets`` (growth exponents in
    SCALE_EVIDENCE.json); on a corpus with a universal shingle (one
    whose hash is the global minimum and which appears in most docs) a
    1-row band degenerates toward all-pairs, which a proof corpus
    tolerates and a production corpus caps.

    Returns (id_a, id_b, inter, union_sz, jaccard) for pairs with
    jaccard ≥ threshold.
    """
    k = _NUM_HASHES
    rows_per_band = k // num_bands
    norm = normalize_text(F.col(text_col)).alias("_norm")
    base = (
        # NULL text carries no shingles: char_shingles(NULL) is [NULL],
        # every minhash min becomes NULL and concat_ws would band ALL
        # null-text docs into one md5("") bucket — while the oracle's
        # NULL jaccard drops them; filter to keep both sides identical
        spread(df.filter(F.col(text_col).isNotNull()), id_col)
        .select(F.col(id_col), norm)
        .select(
            id_col,
            char_shingles(F.col("_norm"), shingle_size).alias("_gs"),
        )
    )
    hashed = base.select(
        id_col, F.explode("_gs").alias("_s")
    ).select(id_col, (hash60(F.col("_s")) % HASH_PRIME).alias("h"))
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_PRIME).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )
    bt = _band_table(sig, id_col, num_bands, rows_per_band)
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    ga = base.select(F.col(id_col).alias("id_a"), F.col("_gs").alias("_ga"))
    gb = base.select(F.col(id_col).alias("id_b"), F.col("_gs").alias("_gb"))
    ver = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ga", "_gb")).alias("inter"),
            (F.size("_ga") + F.size("_gb")).alias("_sz"),
        )
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("_sz") - F.col("inter")).cast("double"),
        6,
    )
    return ver.select(
        "id_a", "id_b", "inter",
        (F.col("_sz") - F.col("inter")).alias("union_sz"),
        jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
