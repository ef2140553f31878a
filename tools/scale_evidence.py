"""Scale evidence for the dedup/ANN family: measure, don't assert.

Builds a deterministically scaled documents/embeddings corpus (every doc
replicated ``--scale`` times, a slice of it stamped with shared boilerplate —
the two real-world shapes that quadratic-blow candidate joins), then measures
the quadratic term directly:

- candidate pairs = Σ_buckets C(size, 2) — the exact row count the bucket
  self-join emits before any dedup/threshold filter;
- growth exponent between two corpus scales (slope of log(candidates) /
  log(scale)): ~2.0 = quadratic blowup, ~1.0 = linear — the caps' whole job;
- end-to-end wall seconds and shuffle write bytes (Spark REST API) for the
  full operators with and without their caps.

Run:  python tools/scale_evidence.py [--scale 20] [--scale-lo 5]
          [--sf-dir /root/testdata/sf0.01] [--out SCALE_EVIDENCE.json]

Everything is deterministic (xxhash64-gated mutations, no RNG), so numbers
are reproducible across runs and machines modulo wall-clock noise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("OLAKE_SPARK_UI", "true")  # REST API = shuffle metrics

from pyspark.sql import DataFrame, functions as F  # noqa: E402

BOILERPLATE = (
    "subscribe to our newsletter terms of service apply all rights reserved "
    "click here to read more about cookie policy"
)


def scaled_documents(spark, sf_dir: str, scale: int) -> DataFrame:
    """Grow the corpus with textually DISTINCT documents plus a constant-
    fraction hot slice — the shape that actually breaks candidate joins.

    Every replica's tokens get a per-replica suffix, so replicas of the same
    base doc share zero shingles/n-grams (corpus growth adds information, it
    does not add duplicate clusters). A fixed 10% of docs (by id hash) become
    *template* docs: the shared boilerplate header plus a short distinct
    tail. Their shared n-grams have document frequency = 0.1·N, and their
    MinHash signatures are boilerplate-dominated, so without caps the bucket
    self-joins emit Θ(N²) candidate rows from that slice alone."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    rep = docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("r")
    )
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.concat(t, F.lit("x"), F.col("r").cast("string")),
        ),
        " ",
    )
    h = F.pmod(F.xxhash64("doc_id"), F.lit(100))
    text = F.when(
        h < 10, F.concat(F.lit(BOILERPLATE + " "), F.substring(suffixed, 1, 60))
    ).otherwise(suffixed)
    return rep.select(
        (F.col("doc_id") + F.col("r") * F.lit(10 * n)).alias("doc_id"),
        text.alias("text"),
    )


def scaled_embeddings(spark, sf_dir: str, scale: int) -> DataFrame:
    """Distinct vectors plus a constant-fraction spike: each replica is the
    base vector with a deterministic per-(id, dim) perturbation (distinct
    LSH buckets), while 10% of rows collapse to one constant vector — the
    embedding-space analogue of boilerplate (every copy of a template page
    embeds identically) that floods one bucket per table."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    n = emb.count()
    rep = emb.select(
        "vec_id", "embedding", F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("r")
    )
    new_id = (F.col("vec_id") + F.col("r") * F.lit(10 * n)).alias("vec_id")
    jitter = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + (
            F.pmod(
                F.xxhash64(
                    F.concat_ws(
                        "_",
                        F.col("vec_id").cast("string"),
                        F.col("r").cast("string"),
                        i.cast("string"),
                    )
                ),
                F.lit(1000),
            ).cast("double")
            / 1000.0
            - 0.5
        ),
    )
    spike = F.transform(F.col("embedding"), lambda x: F.lit(0.5))
    h = F.pmod(F.xxhash64("vec_id"), F.lit(100))
    return rep.select(new_id, F.when(h < 10, spike).otherwise(jitter).alias("embedding"))


def planes_for(n_rows: int) -> int:
    """The documented LSH scaling knob: b ≈ log2(N) planes keeps expected
    bucket occupancy constant, so random-collision background stays linear
    as the corpus grows (operators/similarity.py lsh_planes docs)."""
    import math

    return max(8, int(math.log2(max(n_rows, 2))) + 1)


def candidate_pairs(bucketed: DataFrame, keys: list[str]) -> tuple[int, int]:
    """Exact self-join output size: Σ over buckets of C(size, 2)."""
    row = (
        bucketed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.expr("c * (c - 1) / 2")).alias("pairs"),
            F.max("c").alias("max_bucket"),
        )
        .first()
    )
    return int(row["pairs"] or 0), int(row["max_bucket"] or 0)


def cross_candidate_pairs(bt_a: DataFrame, bt_b: DataFrame, keys: list[str]) -> int:
    """Exact CROSS-set join output size: Σ over buckets of n_a(b) · n_b(b) —
    the candidate count an incremental (batch vs corpus-index) band join
    emits before verification."""
    ca = bt_a.groupBy(*keys).agg(F.count(F.lit(1)).alias("ca"))
    cb = bt_b.groupBy(*keys).agg(F.count(F.lit(1)).alias("cb"))
    row = ca.join(cb, keys).agg(F.sum(F.col("ca") * F.col("cb")).alias("pairs")).first()
    return int(row["pairs"] or 0)


def shuffle_write_bytes(spark) -> int:
    """Total shuffle write across all completed stages (Spark REST API)."""
    base = spark.sparkContext.uiWebUrl
    try:
        apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications", timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages", timeout=10)
        )
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return -1


def timed(spark, fn) -> dict:
    s0 = shuffle_write_bytes(spark)
    t0 = time.perf_counter()
    rows = fn()
    dt = time.perf_counter() - t0
    s1 = shuffle_write_bytes(spark)
    return {
        "wall_sec": round(dt, 2),
        "rows_out": rows,
        "shuffle_mb": round((s1 - s0) / 1e6, 1) if s0 >= 0 <= s1 else None,
    }


def growth_exponent(lo_pairs: int, hi_pairs: int, lo: int, hi: int) -> float:
    """Slope of log(candidates) w.r.t. log(scale): 2 ≈ quadratic, 1 ≈ linear."""
    import math

    if lo_pairs <= 0 or hi_pairs <= 0:
        return 0.0
    return round(math.log(hi_pairs / lo_pairs) / math.log(hi / lo), 2)


def headline_scaling(spark, sf_dir: str, hi_scale: int = 10) -> dict:
    """Volume-linearity proof for the vs-BASELINE headliners.

    The bench headline numbers rest on sf0.1 (~600k lineitem rows); this
    section replicates lineitem and the events changelog ``hi_scale``×
    (replica-shifted keys, cast to long FIRST — ANSI overflow) and runs
    the SAME full_load (scan → stamp → sink) and cdc_replay (3-batch MOR
    MERGE + compact) paths at 1× and ``hi_scale``×. Done = rows/s flat
    within noise: the path has no super-linear term (no driver collect,
    no global sort, shuffles keyed and partial-aggregated), so 10× data
    costs 10× wall — the property that extrapolates to a 1000-executor
    cluster where per-partition volume, not total volume, is what an
    executor sees.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from olake_spark.functions.olake_columns import stamp_olake_columns
    from olake_spark.queries import table
    from olake_spark.queries.ingest import _events_changelog
    from olake_spark.sinks.table import ManagedTable
    from olake_spark.sources.files import spread
    from olake_spark.streaming.replay import replay_batches

    tmp = _tempfile.mkdtemp(prefix="olake_headline_scale_")
    res: dict = {"sf_dir": sf_dir, "hi_scale": hi_scale,
                 "full_load": [], "cdc_replay": []}

    def _gc():
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    def _replicate(df, key: str, s: int):
        if s == 1:
            return df
        return (
            df.select("*", F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("_r"))
            .withColumn(
                key,
                F.col(key).cast("long")
                + F.col("_r").cast("long") * F.lit(1_000_000_000),
            )
            .drop("_r")
        )

    try:
        for s in (1, hi_scale):
            # materialize the scaled input first so the timed path is
            # exactly the bench's: parquet scan → stamp → parquet sink
            path = f"{tmp}/input_{s}x"
            _replicate(table(spark, sf_dir, "lineitem"), "l_orderkey", s)\
                .write.mode("overwrite").parquet(path)
            inp = spark.read.parquet(path)
            rows = inp.count()
            best = None
            for _ in range(3 if s == 1 else 2):
                _gc()
                t0 = time.perf_counter()
                out_df = stamp_olake_columns(
                    spread(inp, "l_orderkey"),
                    pk_cols=["l_orderkey", "l_linenumber"],
                )
                out_df.write.mode("overwrite").parquet(f"{tmp}/fl_out")
                w = time.perf_counter() - t0
                best = w if best is None else min(best, w)
            res["full_load"].append(
                {"scale": s, "rows": rows, "wall_s": round(best, 2),
                 "rows_per_s": int(rows / best)}
            )
        for s in (1, hi_scale):
            ch = _replicate(
                _events_changelog(spark, sf_dir), "user_id", s
            ).cache()
            n = ch.count()
            lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
            c1 = int(lo) + (int(hi) - int(lo)) // 3
            c2 = int(lo) + 2 * (int(hi) - int(lo)) // 3
            batches = [
                ch.filter(F.col("lsn") <= c1),
                ch.filter((F.col("lsn") > c1) & (F.col("lsn") <= c2)),
                ch.filter(F.col("lsn") > c2),
            ]
            best = None
            for r in range(3 if s == 1 else 2):
                _gc()
                t0 = time.perf_counter()
                t = ManagedTable(spark, f"{tmp}/cdc_{s}_{r}")
                replay_batches(t, batches, ["user_id"], "lsn", mor=True)
                t.compact()
                w = time.perf_counter() - t0
                best = w if best is None else min(best, w)
            ch.unpersist()
            res["cdc_replay"].append(
                {"scale": s, "rows": n, "wall_s": round(best, 2),
                 "rows_per_s": int(n / best)}
            )
        for k in ("full_load", "cdc_replay"):
            lo_r, hi_r = res[k][0]["rows_per_s"], res[k][1]["rows_per_s"]
            res[k + "_rps_ratio_hi_vs_1x"] = round(hi_r / lo_r, 3)
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return res


def phash_growth(spark, sf_dir: str, lo_scale: int = 1, hi_scale: int = 4) -> dict:
    """Candidate-volume growth of the perceptual-hash band join.

    Corpus = synthesized images (one planted 32x24-rescaled copy each) at
    N and ``hi_scale``*N. The 8-band pigeonhole join's candidate volume is
    driven by bucket occupancy: the synthetic gradient fixture repeats
    coarse hash patterns across ids, so UNCAPPED growth shows the
    mega-bucket quadratic risk, and ``max_bucket_size`` (the documented
    scale control, same contract as the MinHash/SimHash families) bounds
    it back to ~linear. Both exponents are recorded; the planted pairs
    stay recovered under the cap."""
    from olake_spark.operators.multimodal import (
        image_dhash,
        image_near_dups,
        resize_images,
        synthesize_images,
    )

    n0 = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    res: dict = {"sf_dir": sf_dir, "base_images": n0, "runs": []}
    counts: dict[tuple[int, bool], int] = {}
    for scale in (lo_scale, hi_scale):
        ids = spark.range(0, n0 * scale).withColumnRenamed("id", "media_id")
        orig = synthesize_images(ids)
        copies = resize_images(orig, 32, 24).withColumn(
            "media_id", F.col("media_id") + F.lit(10**9)
        )
        hashes = image_dhash(orig.unionByName(copies)).cache()
        hashes.count()  # materialize once; both joins reuse it
        for capped in (False, True):
            t0 = time.time()
            pairs = image_near_dups(
                hashes, max_hamming=6, max_bucket_size=50 if capped else None
            )
            n_pairs = pairs.count()
            planted = pairs.filter(
                F.col("id_b") - F.col("id_a") == 10**9
            ).count()
            counts[(scale, capped)] = n_pairs
            res["runs"].append(
                {
                    "scale": scale,
                    "images": 2 * n0 * scale,
                    "capped": capped,
                    "pairs": n_pairs,
                    "planted_recovered": planted,
                    "planted_total": n0 * scale,
                    "wall_s": round(time.time() - t0, 2),
                }
            )
        hashes.unpersist()
    res["growth_exponent_uncapped"] = growth_exponent(
        counts[(lo_scale, False)], counts[(hi_scale, False)], lo_scale, hi_scale
    )
    res["growth_exponent_capped"] = growth_exponent(
        counts[(lo_scale, True)], counts[(hi_scale, True)], lo_scale, hi_scale
    )
    return res


def mor_read_amplification(
    spark,
    sf_dir: str,
    target_scale: int = 50,
    checkpoints: tuple[int, ...] = (1, 4, 16, 64),
) -> dict:
    """Read-amplification vs pending-delta count for the MOR table.

    A MOR commit is O(|batch|), but every un-compacted delta group joins
    the read-time resolve (one scan over base + k deltas → one keyed
    window). This measures resolve wall, and the jobs run to build the
    read's plan, at 0/1/4/16/64 pending deltas against a
    ``target_scale``× base, plus the post-compact read and the compaction
    itself — the curve the README's compaction policy is read from.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from olake_spark.queries.ingest import _events_changelog
    from olake_spark.sinks.table import ManagedTable

    tmp = _tempfile.mkdtemp(prefix="olake_mor_amp_")
    res: dict = {"target_scale": target_scale, "points": []}
    try:
        base = (
            _events_changelog(spark, sf_dir)
            .select("*", F.explode(F.sequence(F.lit(0), F.lit(target_scale - 1))).alias("_r"))
            .withColumn(
                "user_id",
                F.col("user_id").cast("long")
                + F.col("_r").cast("long") * F.lit(1_000_000_000),
            )
            .drop("_r")
        )
        batch = (
            _events_changelog(spark, sf_dir)
            .withColumn("lsn", F.col("lsn").cast("long"))
            .cache()
        )
        res["batch_rows"] = batch.count()
        t = ManagedTable(spark, f"{tmp}/t")
        t.upsert_mor(base, ["user_id"], ["lsn"])

        def _read_wall() -> tuple[float, int]:
            best, n = None, 0
            for _ in range(2):
                t0 = time.perf_counter()
                n = t.read().count()
                w = time.perf_counter() - t0
                best = w if best is None else min(best, w)
            return round(best, 2), n

        def _build_jobs(pending: int) -> int:
            """Spark jobs run while the read plan is BUILT, before any
            action: Spark's parallel file-listing job, which one scan
            starts when it gets more paths than
            ``spark.sql.sources.parallelPartitionDiscovery.threshold``."""
            group = f"mor_read_build_{pending}"
            sc = spark.sparkContext
            sc.setJobGroup(group, group)
            try:
                t.read()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        w, n = _read_wall()
        res["base_rows"] = n
        res["points"].append(
            {"pending_deltas": 0, "read_wall_s": w, "build_jobs": _build_jobs(0)}
        )
        pending = 0
        for cp in checkpoints:
            while pending < cp:
                pending += 1
                t.upsert_mor(
                    batch.withColumn("lsn", F.col("lsn") + F.lit(pending)),
                    ["user_id"],
                    ["lsn"],
                )
            w, _ = _read_wall()
            res["points"].append(
                {"pending_deltas": cp, "read_wall_s": w, "build_jobs": _build_jobs(cp)}
            )
        t0 = time.perf_counter()
        t.compact()
        res["compact_wall_s"] = round(time.perf_counter() - t0, 2)
        w, _ = _read_wall()
        res["post_compact_read_wall_s"] = w
        batch.unpersist()
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return res


def stream_rollup_delta(spark, sf_dir: str) -> dict:
    """Per-batch write cost of the streaming rollup's DELTA commit path
    (r5 verdict #1): after a wide batch builds a many-key state, narrow
    batches must write O(batch keys) delta rows — NOT O(total state keys)
    as the old full-snapshot rewrite did. Measured, not asserted: rows
    actually written per delta (the newest file group of the rollup table)
    vs the batch's key count, plus the compaction write (which IS
    O(|keys|), amortized 1/compact_every)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from olake_spark.sinks.table import ManagedTable
    from olake_spark.streaming.rollup import _fold_batch

    state = tempfile.mkdtemp(prefix="rollup_delta_evidence_")
    table = ManagedTable(spark, state)

    def newest_group_rows() -> int:
        m = table._manifest()
        files = m["groups"][-1]["files"] if "groups" in m else m["files"]
        return spark.read.parquet(*files).count()

    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("user_id").cast("string").alias("g"),
            "value",
            F.col("event_id").cast("int").alias("uid"),
        )
        _fold_batch(ev, 0, state, ["g"], "value", "uid", "evidence", 1000)
        state_keys = newest_group_rows()
        batches = []
        for i, mod in enumerate((10, 100, 1000), start=1):
            batch = ev.filter(F.col("g").cast("long") % mod == 0)
            n_keys = batch.select("g").distinct().count()
            _fold_batch(batch, i, state, ["g"], "value", "uid", "evidence", 1000)
            written = newest_group_rows()
            batches.append(
                {
                    "batch_keys": n_keys,
                    "delta_rows_written": written,
                    "snapshot_rows_a_rewrite_would_cost": state_keys,
                }
            )
        # compaction: fold everything into one snapshot (compact_every=1
        # forces it) and record its O(|keys|) write for the amortization note
        last = ev.filter(F.col("g").cast("long") % 10 == 1)
        _fold_batch(last, 4, state, ["g"], "value", "uid", "evidence", 1)
        compact_rows = newest_group_rows()
        return {
            "state_keys": state_keys,
            "batches": batches,
            "delta_write_tracks_batch_keys": all(
                b["delta_rows_written"] == b["batch_keys"] for b in batches
            ),
            "compaction_rows_written": compact_rows,
            "compaction_amortization": "1/compact_every (default 16)",
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)


def spatial_growth(spark, lo_n: int = 2_000, hi_n: int = 8_000) -> dict:
    """Candidate growth of the grid ε-neighbor join at FIXED point density
    (area grows with n — the way corpora actually grow; fixed-area growth
    quadruples density and pair counts by geometry, not by algorithm).

    Points derive deterministically from xxhash64(id): uniform in
    [0, A)² with A = sqrt(n/ρ) for constant ρ. Candidates = post-cell-join
    pre-distance-filter pairs (the join's real fan-in, mirroring
    operators/spatial.py's quantization exactly); results = verified
    pairs. Healthy exponent ≈ 1.0 for both — per-cell population is set
    by ρ·ε², which does not move with n."""
    import math

    from pyspark.sql import functions as F

    from olake_spark.operators.spatial import grid_neighbor_pairs

    eps = 0.05
    eps_u = int(round(eps * 1_000_000))
    density = 2_000.0  # points per unit area

    def points(n: int):
        a = math.sqrt(n / density)
        u1 = (F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(1_000_000))
              / 1_000_000.0)
        u2 = (F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(1_000_000))
              / 1_000_000.0)
        return spark.range(n).select(
            F.col("id"), (u1 * a).alias("x"), (u2 * a).alias("y")
        )

    def measure(n: int) -> dict:
        pts_raw = points(n)
        q = pts_raw.select(
            F.col("id"),
            F.round(F.col("x") * 1_000_000).cast("long").alias("xu"),
            F.round(F.col("y") * 1_000_000).cast("long").alias("yu"),
        ).select(
            "*",
            F.floor(F.col("xu") / F.lit(eps_u)).alias("cx"),
            F.floor(F.col("yu") / F.lit(eps_u)).alias("cy"),
        )
        off = F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ]))
        left = q.select(
            F.col("id").alias("ida"), "cx", "cy", off.alias("o")
        ).select(
            "ida",
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
        right = q.select(
            F.col("id").alias("idb"), F.col("cx").alias("jx"),
            F.col("cy").alias("jy"),
        )
        candidates = (
            left.join(right, ["jx", "jy"])
            .filter(F.col("ida") < F.col("idb"))
            .count()
        )
        results = grid_neighbor_pairs(pts_raw, "id", "x", "y", eps=eps).count()
        return {"n": n, "candidates": candidates, "result_pairs": results}

    lo, hi = measure(lo_n), measure(hi_n)
    return {
        "eps": eps,
        "density_pts_per_unit2": density,
        "lo": lo,
        "hi": hi,
        "candidate_exponent": growth_exponent(
            lo["candidates"], hi["candidates"], lo_n, hi_n
        ),
        "result_exponent": growth_exponent(
            lo["result_pairs"], hi["result_pairs"], lo_n, hi_n
        ),
    }


def pit_join_growth(
    spark,
    n_facts: int = 200_000,
    n_keys: int = 5_000,
    lo_churn: int = 4,
    hi_churn: int = 16,
) -> dict:
    """Scale evidence for the union+LOCF point-in-time join (r6 verdict
    #6): facts FIXED, dimension churn ×4 — the union formulation's rows
    through the shuffle are |facts| + |versions| (O(|L|+|R|)), so wall
    and shuffle bytes must track (|L|+|R|), NOT |L|·churn. The naive
    interval-equi-join alternative fans every fact out by its key's full
    version count before filtering — its pre-filter row count
    (|facts|·churn) is reported alongside as the contrast: it QUADRUPLES
    when churn does, while the union rows barely move.

    Exponents are computed against total input rows (|L|+|R|); healthy
    ≈ 1.0. Deterministic synthetic data (id-formula timestamps/values) —
    no RNG, numbers reproduce anywhere."""
    from pyspark.sql import functions as F

    from olake_spark.operators.scd import point_in_time_join

    T = 1_000_000  # time horizon

    facts = spark.range(n_facts).select(
        (F.col("id") % n_keys).alias("k"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(T)).alias("ts"),
        F.col("id").alias("fact_id"),
    )

    def dim(churn: int):
        step = T // churn
        return (
            spark.range(n_keys)
            .select(F.col("id").alias("k"))
            .crossJoin(
                spark.range(churn).select(F.col("id").alias("j"))
            )
            .select(
                "k",
                (F.col("j") * step).alias("valid_from"),
                F.when(
                    F.col("j") < churn - 1, (F.col("j") + 1) * step
                ).alias("valid_to"),
                (F.col("k") * 31 + F.col("j")).alias("attr"),
            )
        )

    def measure(churn: int) -> dict:
        d = dim(churn)

        def run():
            # aggregate OVER the attached attribute — a bare count() lets
            # Catalyst prune the unused window (and with it the whole
            # join), measuring nothing
            row = (
                point_in_time_join(facts, d, ["k"], "ts", ["attr"])
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("attr")).alias("chk"),
                )
                .first()
            )
            time.sleep(1.0)  # let the UI stage metrics settle before reading
            return int(row["n"])

        m = timed(spark, run)
        m["churn"] = churn
        m["dim_rows"] = n_keys * churn
        m["union_rows"] = n_facts + n_keys * churn  # what LOCF shuffles
        m["naive_fanout_rows"] = n_facts * churn  # what the equi-join would
        return m

    measure(lo_churn)  # JIT/codegen warm-up, discarded
    lo, hi = measure(lo_churn), measure(hi_churn)
    out = {
        "n_facts": n_facts,
        "n_keys": n_keys,
        "lo": lo,
        "hi": hi,
        # exponent of wall vs total input rows — ≈1.0 = linear in |L|+|R|
        "wall_exponent_vs_input": growth_exponent(
            max(1, int(lo["wall_sec"] * 1000)),
            max(1, int(hi["wall_sec"] * 1000)),
            lo["union_rows"],
            hi["union_rows"],
        ),
        "union_rows_ratio": round(hi["union_rows"] / lo["union_rows"], 2),
        "naive_fanout_ratio": round(
            hi["naive_fanout_rows"] / lo["naive_fanout_rows"], 2
        ),
    }
    if lo.get("shuffle_mb") and hi.get("shuffle_mb"):
        out["shuffle_exponent_vs_input"] = growth_exponent(
            max(1, int(lo["shuffle_mb"] * 10)),
            max(1, int(hi["shuffle_mb"] * 10)),
            lo["union_rows"],
            hi["union_rows"],
        )
    return out


def km_growth(
    spark,
    lo_subjects: int = 100_000,
    hi_subjects: int = 400_000,
    n_periods: int = 1_000,
) -> dict:
    """Scale evidence for kaplan_meier (r8): subjects ×4 with the period
    grid FIXED — the estimator's only subject-sized work is the one
    map-side-combinable groupBy(duration); everything after (windows,
    prefix fold) runs on the fixed |periods| relation. Healthy: wall and
    shuffle exponents vs subjects ≈<=1.0, output rows identical at both
    scales (the period grid does not grow with subjects).

    Deterministic synthetic subjects (xxhash64 formulas, no RNG)."""
    from pyspark.sql import functions as F

    from olake_spark.operators.survival import kaplan_meier

    def subjects(n: int):
        return spark.range(n).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_periods)).alias(
                "dur"
            ),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(5)) < 3).alias(
                "obs"
            ),
        )

    def measure(n: int) -> dict:
        df = subjects(n)

        def run():
            row = (
                kaplan_meier(df, "dur", "obs")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("survival_micro")).alias("chk"),
                )
                .first()
            )
            time.sleep(1.0)
            return int(row["n"])

        m = timed(spark, run)
        m["subjects"] = n
        return m

    measure(lo_subjects)  # warm-up, discarded
    lo, hi = measure(lo_subjects), measure(hi_subjects)
    return {
        "n_periods": n_periods,
        "lo": lo,
        "hi": hi,
        "wall_exponent_vs_subjects": growth_exponent(
            max(1, int(lo["wall_sec"] * 1000)),
            max(1, int(hi["wall_sec"] * 1000)),
            lo_subjects,
            hi_subjects,
        ),
        "period_rows_fixed": lo["rows_out"] == hi["rows_out"],
    }


def cc_growth(
    spark,
    lo_edges: int = 100_000,
    hi_edges: int = 400_000,
    avg_degree: int = 10,
    rounds: int = 4,
) -> dict:
    """Scale evidence for connected_components_fixed (r8): edges ×4 at
    constant average degree, rounds FIXED — each round is one edge⋈label
    join + one map-side-combinable min + one labels-sized pointer jump,
    all linear in |edges|. Healthy: wall/shuffle exponents ≈1.0
    (anything ~2 would mean the label relation is fanning out).

    Deterministic synthetic graph (xxhash64 endpoints, no RNG)."""
    from pyspark.sql import functions as F

    from olake_spark.operators.graph import connected_components_fixed

    def graph(n_edges: int):
        n_nodes = max(2, n_edges // avg_degree)
        return spark.range(n_edges).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(n_nodes)).alias(
                "src"
            ),
            F.pmod(F.xxhash64(F.col("id"), F.lit(13)), F.lit(n_nodes)).alias(
                "dst"
            ),
        )

    def measure(n_edges: int) -> dict:
        g = graph(n_edges)

        def run():
            row = (
                connected_components_fixed(g, rounds=rounds)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.col("component")).alias("ncomp"),
                )
                .first()
            )
            time.sleep(1.0)
            return int(row["n"])

        m = timed(spark, run)
        m["edges"] = n_edges
        return m

    measure(lo_edges)  # warm-up, discarded
    lo, hi = measure(lo_edges), measure(hi_edges)
    out = {
        "avg_degree": avg_degree,
        "rounds": rounds,
        "lo": lo,
        "hi": hi,
        "wall_exponent_vs_edges": growth_exponent(
            max(1, int(lo["wall_sec"] * 1000)),
            max(1, int(hi["wall_sec"] * 1000)),
            lo_edges,
            hi_edges,
        ),
    }
    if lo.get("shuffle_mb") and hi.get("shuffle_mb"):
        out["shuffle_exponent_vs_edges"] = growth_exponent(
            max(1, int(lo["shuffle_mb"] * 10)),
            max(1, int(hi["shuffle_mb"] * 10)),
            lo_edges,
            hi_edges,
        )
    return out


def skew_salted_join(spark, n_rows: int = 2_000_000, n_keys: int = 1_000,
                     n_salt: int = 8) -> dict:
    """Measured proof that explicit salting (operators/skew.salted_join)
    breaks a hot-key straggler: a join where ONE key owns half the fact
    rows, run plain vs salted, reading per-task shuffle recordsRead from
    the REST API. Healthy: plain funnels the hot key's ~1M rows through
    ONE task; salted spreads them across ~n_salt tasks (max task records
    drops ~n_salt×). AQE skew-join stays enabled in both runs — at these
    toy partition sizes its byte thresholds don't engage (measured), which
    is exactly when the explicit operator earns its keep."""
    import urllib.request

    from pyspark.sql import functions as F

    from olake_spark.operators.skew import salted_join

    hot = F.when(F.pmod(F.xxhash64("id"), F.lit(2)) == 0, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_keys))
    )
    facts = spark.range(n_rows).select(hot.alias("k"), F.col("id").alias("v"))
    dims = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
    )
    seen_stages: set = set()

    def run(salted: bool) -> dict:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            if salted:
                joined = salted_join(facts, dims, ["k"], n=n_salt, salt_from="v")
            else:
                joined = facts.join(dims, "k")
            row = joined.agg(
                F.count(F.lit(1)).alias("n"), F.bit_xor("attr").alias("chk")
            ).first()
            time.sleep(1.0)
            base = spark.sparkContext.uiWebUrl
            apps = json.load(
                urllib.request.urlopen(f"{base}/api/v1/applications", timeout=10)
            )
            app_id = apps[0]["id"]
            stages = json.load(
                urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app_id}/stages?status=complete",
                    timeout=10,
                )
            )
            fresh = [
                st for st in stages
                if (st["stageId"], st["attemptId"]) not in seen_stages
            ]
            seen_stages.update((st["stageId"], st["attemptId"]) for st in stages)
            join_stage = max(fresh, key=lambda st: st.get("shuffleReadBytes", 0))
            tasks = json.load(
                urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app_id}/stages/"
                    f"{join_stage['stageId']}/{join_stage['attemptId']}/taskList"
                    "?length=5000",
                    timeout=10,
                )
            )
            recs = sorted(
                (
                    (t.get("taskMetrics") or {})
                    .get("shuffleReadMetrics", {})
                    .get("recordsRead", 0)
                    for t in tasks
                ),
                reverse=True,
            )
            return {
                "rows_joined": int(row["n"]),
                "checksum": int(row["chk"]),
                "join_stage_tasks": len(recs),
                "max_task_records": recs[0] if recs else None,
                "top4_task_records": recs[:4],
            }
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    plain = run(False)
    salted = run(True)
    return {
        "n_rows": n_rows,
        "n_keys": n_keys,
        "n_salt": n_salt,
        "hot_key_share": 0.5,
        "plain": plain,
        "salted": salted,
        "results_identical": bool(
            plain["rows_joined"] == salted["rows_joined"]
            and plain["checksum"] == salted["checksum"]
        ),
        "max_task_reduction": round(
            plain["max_task_records"] / max(1, salted["max_task_records"]), 2
        ),
    }


def rank_stats_growth(
    spark,
    lo_rows: int = 500_000,
    hi_rows: int = 2_000_000,
    n_values: int = 10_000,
) -> dict:
    """Scale evidence for the rank-statistics family (r8:
    mann_whitney_u / ks_two_sample / spearman ranks): rows ×4 with the
    quantized VALUE DOMAIN fixed — the whole design is that map-side
    partial aggregation reduces every partition to ≤|domain| per-value
    count rows before the exchange, and the cumulative rank window runs
    over the values relation. Healthy: shuffle bytes ~flat (exponent
    ≈ 0 vs rows) and wall growing ≪ linearly; anything near 1.0 on
    shuffle would mean raw rows are crossing the network.

    Deterministic synthetic two-group sample (xxhash64, no RNG)."""
    from pyspark.sql import functions as F

    from olake_spark.operators.abtest import mann_whitney_u

    def sample(n: int):
        h = F.xxhash64(F.col("id"), F.lit(7))
        return spark.range(n).select(
            F.when(F.pmod(F.xxhash64(F.col("id")), F.lit(2)) == 0, "a")
            .otherwise("b")
            .alias("g"),
            (F.pmod(h, F.lit(n_values)).cast("double") / 1000.0).alias("v"),
        )

    def measure(n: int) -> dict:
        df = sample(n)

        def run():
            row = mann_whitney_u(df, "g", "v", "a", "b").first()
            time.sleep(1.0)
            return 1 if row is not None else 0

        m = timed(spark, run)
        m["rows"] = n
        return m

    measure(lo_rows)  # warm-up, discarded
    lo, hi = measure(lo_rows), measure(hi_rows)
    return {
        "n_values": n_values,
        "lo": lo,
        "hi": hi,
        "wall_exponent_vs_rows": growth_exponent(
            max(1, int(lo["wall_sec"] * 1000)),
            max(1, int(hi["wall_sec"] * 1000)),
            lo_rows,
            hi_rows,
        ),
        "shuffle_exponent_vs_rows": growth_exponent(
            max(1, int((lo["shuffle_mb"] or 0) * 1000)),
            max(1, int((hi["shuffle_mb"] or 0) * 1000)),
            lo_rows,
            hi_rows,
        ),
    }


def first_touch_growth(
    spark,
    lo_rows: int = 500_000,
    hi_rows: int = 2_000_000,
    n_keys: int = 100,
    n_buckets: int = 60,
) -> dict:
    """Scale evidence for the first-touch family (r8:
    cumulative_first_seen / new_vs_returning / growth_accounting):
    event rows ×4 at FIXED key and bucket cardinality — the design
    linearizes cumulative-distinct by reducing every key to its min
    bucket, so the only shuffles are the distinct (key, bucket) and the
    key-sized min; windows run over buckets. The shuffle is the
    map-side-deduped DISTINCT (key, bucket) relation — per partition
    min(partition_rows, keys×buckets) — so once partitions carry more
    rows than the domain (this config: 15k-60k rows/partition vs a
    6k-pair domain, exactly the 100 TB regime) shuffle bytes stay flat
    as rows ×4.

    Deterministic synthetic activity (xxhash64, no RNG)."""
    from pyspark.sql import functions as F

    from olake_spark.operators.timeseries import new_vs_returning

    def activity(n: int):
        return spark.range(n).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(n_keys)).alias(
                "k"
            ),
            F.timestamp_micros(
                (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(n_buckets))
                    * 86_400_000_000
                ).cast("long")
            ).alias("ts"),
        )

    def measure(n: int) -> dict:
        df = activity(n)

        def run():
            rows = new_vs_returning(df, "ts", "k").count()
            time.sleep(1.0)
            return int(rows)

        m = timed(spark, run)
        m["rows"] = n
        return m

    measure(lo_rows)  # warm-up, discarded
    lo, hi = measure(lo_rows), measure(hi_rows)
    return {
        "n_keys": n_keys,
        "n_buckets": n_buckets,
        "lo": lo,
        "hi": hi,
        "wall_exponent_vs_rows": growth_exponent(
            max(1, int(lo["wall_sec"] * 1000)),
            max(1, int(hi["wall_sec"] * 1000)),
            lo_rows,
            hi_rows,
        ),
        "shuffle_exponent_vs_rows": growth_exponent(
            max(1, int((lo["shuffle_mb"] or 0) * 1000)),
            max(1, int((hi["shuffle_mb"] or 0) * 1000)),
            lo_rows,
            hi_rows,
        ),
        "bucket_rows_fixed": lo["rows_out"] == hi["rows_out"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=20)
    ap.add_argument("--scale-lo", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cap", type=int, default=50, help="max_bucket_size for LSH joins")
    ap.add_argument("--max-df", type=int, default=100, help="n-gram document-frequency cap")
    ap.add_argument("--merge-scale", type=int, default=2000,
                    help="hi key-replication factor for the CoW-vs-MOR target")
    ap.add_argument("--merge-scale-lo", type=int, default=200)
    ap.add_argument("--out", default="SCALE_EVIDENCE.json")
    ap.add_argument("--only", default=None,
                    help="run a single section (headline_scaling | mor_read_amp "
                         "| phash_growth | stream_rollup_delta) "
                         "and MERGE it into --out instead of the full sweep")
    ap.add_argument("--headline-sf-dir", default="/root/testdata/sf0.1",
                    help="SF for the headline_scaling section (the bench SF)")
    ap.add_argument("--headline-scale", type=int, default=10)
    args = ap.parse_args()

    if args.only:
        from olake_spark.session import get_spark

        spark = get_spark("olake_spark_scale_evidence")
        if args.only == "headline_scaling":
            block = headline_scaling(
                spark, args.headline_sf_dir, args.headline_scale
            )
        elif args.only == "mor_read_amp":
            block = mor_read_amplification(spark, args.sf_dir)
        elif args.only == "phash_growth":
            block = phash_growth(spark, args.sf_dir)
        elif args.only == "stream_rollup_delta":
            block = stream_rollup_delta(spark, args.sf_dir)
        elif args.only == "spatial_growth":
            block = spatial_growth(spark)
        elif args.only == "pit_join_growth":
            block = pit_join_growth(spark)
        elif args.only == "skew_salted_join":
            block = skew_salted_join(spark)
        elif args.only == "km_growth":
            block = km_growth(spark)
        elif args.only == "cc_growth":
            block = cc_growth(spark)
        elif args.only == "rank_stats_growth":
            block = rank_stats_growth(spark)
        elif args.only == "first_touch_growth":
            block = first_touch_growth(spark)
        else:
            raise SystemExit(f"unknown section {args.only!r}")
        try:
            with open(args.out) as fh:
                out = json.load(fh)
        except (OSError, json.JSONDecodeError):
            out = {}
        out[args.only] = block
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=2)
        print(json.dumps(block, indent=2))
        return

    from olake_spark.operators.dedup import (
        _band_table,
        cap_buckets,
        minhash_near_dups,
        minhash_signatures,
        ngram_jaccard_pairs,
        normalize_text,
        word_ngrams,
    )
    from olake_spark.operators.similarity import banded_relation, cosine_near_dup_pairs, lsh_planes
    from olake_spark.session import get_spark
    from olake_spark.sources.files import spread

    spark = get_spark("olake_spark_scale_evidence")
    out: dict = {"scale": args.scale, "scale_lo": args.scale_lo, "sf_dir": args.sf_dir}

    # ---- candidate growth: MinHash-LSH band buckets -------------------------
    mh: dict = {}
    for tag, sc in [("lo", args.scale_lo), ("hi", args.scale)]:
        docs = scaled_documents(spark, args.sf_dir, sc).cache()
        docs.count()
        bt = _band_table(minhash_signatures(docs, "doc_id", "text"), "doc_id", 4, 4).cache()
        uncapped, max_b = candidate_pairs(bt, ["band", "bh"])
        capped, max_c = candidate_pairs(
            cap_buckets(bt, ["band", "bh"], args.cap), ["band", "bh"]
        )
        mh[tag] = {
            "docs": docs.count(),
            "uncapped_pairs": uncapped,
            "capped_pairs": capped,
            "max_bucket": max_b,
            "max_bucket_capped": max_c,
        }
        bt.unpersist()
        docs.unpersist()
    mh["growth_exp_uncapped"] = growth_exponent(
        mh["lo"]["uncapped_pairs"], mh["hi"]["uncapped_pairs"], args.scale_lo, args.scale
    )
    mh["growth_exp_capped"] = growth_exponent(
        mh["lo"]["capped_pairs"], mh["hi"]["capped_pairs"], args.scale_lo, args.scale
    )
    out["minhash_lsh"] = mh

    # ---- candidate growth: n-gram inverted index ----------------------------
    ng: dict = {}
    for tag, sc in [("lo", args.scale_lo), ("hi", args.scale)]:
        docs = scaled_documents(spark, args.sf_dir, sc).cache()
        docs.count()
        toks = F.split(normalize_text(F.col("text")), " ")
        g = (
            spread(docs, "doc_id")
            .select("doc_id", F.explode(word_ngrams(toks, 3)).alias("ng"))
            .select("doc_id", F.xxhash64("ng").alias("ngh"))
            .cache()
        )
        uncapped, max_b = candidate_pairs(g, ["ngh"])
        df_counts = g.groupBy("ngh").agg(F.count(F.lit(1)).alias("c"))
        kept = g.join(
            df_counts.filter(F.col("c") <= args.max_df).select("ngh"), "ngh"
        )
        capped, max_c = candidate_pairs(kept, ["ngh"])
        ng[tag] = {
            "uncapped_pairs": uncapped,
            "capped_pairs": capped,
            "max_df_seen": max_b,
            "max_df_capped": max_c,
        }
        g.unpersist()
        docs.unpersist()
    ng["growth_exp_uncapped"] = growth_exponent(
        ng["lo"]["uncapped_pairs"], ng["hi"]["uncapped_pairs"], args.scale_lo, args.scale
    )
    ng["growth_exp_capped"] = growth_exponent(
        ng["lo"]["capped_pairs"], ng["hi"]["capped_pairs"], args.scale_lo, args.scale
    )
    out["ngram_jaccard"] = ng

    # ---- candidate growth: embedding LSH bands ------------------------------
    # planes scale with log2(N): the documented knob that keeps background
    # (random-collision) candidates linear while the cap handles the spike
    eb: dict = {}
    for tag, sc in [("lo", args.scale_lo), ("hi", args.scale)]:
        emb = scaled_embeddings(spark, args.sf_dir, sc).cache()
        n_rows = emb.count()
        emb_tables = lsh_planes(4, planes_for(n_rows))
        t = banded_relation(
            spread(emb, "vec_id"), "vec_id", "embedding", emb_tables, "_id", "_v"
        ).cache()
        uncapped, max_b = candidate_pairs(t, ["band", "sig"])
        capped, _ = candidate_pairs(cap_buckets(t, ["band", "sig"], args.cap), ["band", "sig"])
        eb[tag] = {
            "rows": n_rows,
            "n_planes": planes_for(n_rows),
            "uncapped_pairs": uncapped,
            "capped_pairs": capped,
            "max_bucket": max_b,
        }
        t.unpersist()
        emb.unpersist()
    eb["growth_exp_uncapped"] = growth_exponent(
        eb["lo"]["uncapped_pairs"], eb["hi"]["uncapped_pairs"], args.scale_lo, args.scale
    )
    eb["growth_exp_capped"] = growth_exponent(
        eb["lo"]["capped_pairs"], eb["hi"]["capped_pairs"], args.scale_lo, args.scale
    )
    out["embedding_lsh"] = eb

    # ---- incremental dedup: batch-vs-corpus-index candidates ----------------
    # the claim to verify: with the corpus contributing only its (capped)
    # band index, candidates stay proportional to the BATCH — growing the
    # corpus 4x must not grow the daily join superlinearly
    from olake_spark.operators.dedup import incremental_minhash_dedup

    inc: dict = {}
    batch = scaled_documents(spark, args.sf_dir, 1).cache()
    n_batch = batch.count()
    batch_bt = _band_table(
        minhash_signatures(batch, "doc_id", "text"), "doc_id", 4, 4
    ).cache()
    for tag, sc in [("lo", args.scale_lo), ("hi", args.scale)]:
        corpus = scaled_documents(spark, args.sf_dir, sc).cache()
        n_corpus = corpus.count()
        idx_bt = _band_table(
            minhash_signatures(corpus, "doc_id", "text"), "doc_id", 4, 4
        ).cache()
        uncapped = cross_candidate_pairs(batch_bt, idx_bt, ["band", "bh"])
        capped = cross_candidate_pairs(
            batch_bt, cap_buckets(idx_bt, ["band", "bh"], args.cap), ["band", "bh"]
        )
        inc[tag] = {
            "batch_docs": n_batch,
            "corpus_docs": n_corpus,
            "uncapped_pairs": uncapped,
            "capped_pairs": capped,
        }
        idx_bt.unpersist()
        corpus.unpersist()
    # exponent w.r.t. CORPUS growth at fixed batch: ~1 uncapped means the
    # boilerplate bucket scales with the corpus; ~0 capped means the daily
    # join is corpus-size-independent
    inc["corpus_growth_exp_uncapped"] = growth_exponent(
        inc["lo"]["uncapped_pairs"], inc["hi"]["uncapped_pairs"], args.scale_lo, args.scale
    )
    inc["corpus_growth_exp_capped"] = growth_exponent(
        inc["lo"]["capped_pairs"], inc["hi"]["capped_pairs"], args.scale_lo, args.scale
    )
    corpus = scaled_documents(spark, args.sf_dir, args.scale).cache()
    corpus.count()
    idx_sigs = minhash_signatures(corpus, "doc_id", "text").cache()
    idx_sigs.count()
    inc["e2e_uncapped"] = timed(
        spark,
        lambda: incremental_minhash_dedup(batch, idx_sigs, "doc_id", "text").count(),
    )
    inc["e2e_capped"] = timed(
        spark,
        lambda: incremental_minhash_dedup(
            batch, idx_sigs, "doc_id", "text", max_bucket_size=args.cap
        ).count(),
    )
    idx_sigs.unpersist()
    corpus.unpersist()
    batch_bt.unpersist()
    batch.unpersist()
    out["incremental_minhash"] = inc

    # ---- end-to-end wall + shuffle at the hi scale --------------------------
    docs = scaled_documents(spark, args.sf_dir, args.scale).cache()
    docs.count()
    out["e2e_minhash_uncapped"] = timed(
        spark, lambda: minhash_near_dups(docs, "doc_id", "text").count()
    )
    out["e2e_minhash_capped"] = timed(
        spark,
        lambda: minhash_near_dups(docs, "doc_id", "text", max_bucket_size=args.cap).count(),
    )
    out["e2e_ngram_uncapped"] = timed(
        spark, lambda: ngram_jaccard_pairs(docs, "doc_id", "text").count()
    )
    out["e2e_ngram_capped"] = timed(
        spark, lambda: ngram_jaccard_pairs(docs, "doc_id", "text", max_df=args.max_df).count()
    )
    docs.unpersist()
    emb = scaled_embeddings(spark, args.sf_dir, args.scale).cache()
    n_rows = emb.count()
    np_ = planes_for(n_rows)
    out["e2e_embedding_uncapped"] = timed(
        spark, lambda: cosine_near_dup_pairs(emb, n_planes=np_).count()
    )
    out["e2e_embedding_capped"] = timed(
        spark,
        lambda: cosine_near_dup_pairs(emb, n_planes=np_, max_bucket_size=args.cap).count(),
    )
    emb.unpersist()

    # ---- MERGE path: CoW vs MOR at scaled target size -----------------------
    # Claim under test (README "CDC upsert ships both Iceberg strategies"):
    # a MOR commit is O(|batch|) — the same fixed changelog batch appends a
    # collapsed delta regardless of how big the target table is — while a
    # CoW MERGE rewrites the whole table, so its cost tracks target size.
    # Build targets at scale_lo× and scale× the events changelog (replica-
    # shifted keys so the target genuinely grows), replay the SAME batch
    # through both strategies, report wall + shuffle + parquet files
    # written per commit, plus the (off-ingest-path) MOR compact cost.
    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile

    from olake_spark.queries.ingest import _events_changelog
    from olake_spark.sinks.table import ManagedTable

    def _pq_files(path: str) -> set:
        return set(_glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))

    mg: dict = {}
    batch = _events_changelog(spark, args.sf_dir).cache()
    mg["batch_rows"] = batch.count()
    merge_tmp = _tempfile.mkdtemp(prefix="olake_scale_merge_")
    # the changelog collapses to ~1% distinct keys, so target scales must be
    # large for the table to dwarf the batch — the regime the claim is about
    for tag, sc in [("lo", args.merge_scale_lo), ("hi", args.merge_scale)]:
        seed = (
            _events_changelog(spark, args.sf_dir)
            .select("*", F.explode(F.sequence(F.lit(0), F.lit(sc - 1))).alias("_r"))
            .withColumn(
                "user_id",
                F.col("user_id").cast("long")
                + F.col("_r").cast("long") * F.lit(1_000_000_000),
            )
            .drop("_r")
        )
        row: dict = {"target_scale": sc}
        for mode in ("cow", "mor"):
            path = f"{merge_tmp}/{mode}_{tag}"
            t = ManagedTable(spark, path)
            if mode == "cow":
                t.upsert(seed, ["user_id"], ["lsn"])
            else:
                t.upsert_mor(seed, ["user_id"], ["lsn"])
            row["target_rows"] = t.read().count()
            before = _pq_files(path)
            fn = t.upsert if mode == "cow" else t.upsert_mor
            res = timed(spark, lambda f=fn: f(batch, ["user_id"], ["lsn"]) or 0)
            res.pop("rows_out", None)  # commit version, not a row count
            res["files_written"] = len(_pq_files(path) - before)
            row[mode] = res
            if mode == "mor" and tag == "hi":
                row["mor_compact"] = timed(spark, lambda tt=t: tt.compact() or 0)
        mg[tag] = row
    batch.unpersist()
    _shutil.rmtree(merge_tmp, ignore_errors=True)
    out["merge_cow_vs_mor"] = mg

    # ---- PQ index size: the compression claim as bytes on disk --------------
    # The docstring's "64× at d=64/m=4" is the in-memory arithmetic
    # (256 float32 bytes → m uint8 codes); what a lake actually stores is
    # parquet, whose encodings (dictionary, RLE) already compress both
    # sides — so measure the ratio that survives on disk, per m.
    from olake_spark.operators import pq as pqm
    from olake_spark.operators.similarity import stride_centroids

    def _dir_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    pq_tmp = _tempfile.mkdtemp(prefix="olake_scale_pq_")
    emb_raw = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    emb_raw.write.mode("overwrite").parquet(f"{pq_tmp}/raw")
    raw_bytes = _dir_bytes(f"{pq_tmp}/raw")
    cents = stride_centroids(emb_raw)
    sizes = {"raw_bytes": raw_bytes, "n_vectors": emb_raw.count(), "by_m": []}
    for m in (4, 8, 16):
        cb = pqm.pq_stride_codebooks(emb_raw, m=m)
        idx = pqm.ivfpq_index(emb_raw, cents, cb, m=m)
        # store codes packed one row per vector (cell + array<code>) — the
        # layout a real index table uses, not the exploded join form
        packed = idx.groupBy("vec_id", "_cell").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("code")))
            ).alias("_sc")
        ).select(
            "vec_id", "_cell", F.expr("transform(_sc, s -> s.code)").alias("codes")
        )
        packed.write.mode("overwrite").parquet(f"{pq_tmp}/pq_{m}")
        b = _dir_bytes(f"{pq_tmp}/pq_{m}")
        sizes["by_m"].append(
            {"m": m, "index_bytes": b, "disk_ratio": round(raw_bytes / b, 1)}
        )
    _shutil.rmtree(pq_tmp, ignore_errors=True)
    out["pq_index_size"] = sizes

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
