"""Benchmark harness — compact one-line JSON on stdout, full map in BENCH_FULL.json.

Headline workloads at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1):

- ``full_load``   : parquet scan → olake-column stamping → parquet sink
                    (the reference's "full load RPS" equivalent; BASELINE.md)
- ``cdc_replay``  : 3-batch changelog MERGE replay into a managed table
                    (the reference's "CDC RPS" equivalent)
- selected operator queries from the gate registry (timed end-to-end)

Output contract: the FINAL stdout line is a compact JSON object (< ~1500
chars — the recording driver keeps only a 2000-char stdout tail) holding the
headline walls + rows/sec and a short watchlist of per-query walls.  The
complete per-query map is written to ``BENCH_FULL.json`` next to this file.

Variance protocol: the default shared-JVM run is what the driver records —
fast, but one query's GC/JIT state can bleed into the next, and observed
run-to-run variance under machine load reaches ~3×. To separate a real
regression from shared-JVM noise, re-run the suspects isolated:

    python bench.py --isolated full_load cdc_replay events_sessionize

``--isolated`` runs each named workload — headline or registry query — in a
FRESH python+JVM subprocess (cold-start excluded via the same warm-up,
nothing shared) and prints the same one-line JSON with ``"mode":
"isolated"``.  Any failing or unknown name makes the process exit non-zero.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pandas as pd  # module-level: the warm-up UDF's type hints resolve here

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_QUERIES = [
    # light scan/window/join queries first: they are sub-second and
    # sensitive to heap pressure, so they run before anything that caches
    # wide relations or leans on GC
    "incremental_cursor_scan",
    "chunk_plan_numeric",
    "cdc_merge_replay",
    "events_sessionize",
    "events_windowed_agg",
    "asof_join_last_order",
    "range_join_ship_window",
    "reformat_values",
    "schema_evolution_widen",
    "partition_transforms",
    "text_quality_score",
    "text_lang_id",
    "multimodal_features",
    "multimodal_decode_resize",
    "multimodal_audio_decode",
    "multimodal_video_frames",
    "image_phash_dedup",
    "audio_fp_dedup",
    "video_phash_dedup",
    "webdataset_ingest",
    "media_incremental_dedup",
    "text_bpe_encode",
    "bpe_train_merges",
    "pack_sequences",
    "zorder_key_events",
    "chunk_documents",
    "html_text_extract",
    "classify_quality_hashed_bow",
    "length_bucket_stats",
    "tfidf_top_terms",
    # decode family (Arrow/mapPartitions Python) next
    "mysql_binlog_wire_decode",
    "kafka_registry_decode",
    "pgoutput_binary_decode",
    # cache-heavy dedup/similarity block
    "dedup_exact",
    "dedup_incremental_minhash",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_exact_substr_spans",
    "dedup_strip_substr",
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "embedding_near_dup_pairs",
    "curation_pipeline",
    "curate_incremental_pipeline",
    "wal2json_decode",
    "geo_wkb_to_wkt",
    "text_script_stats",
    "source_quality_report",
    "audit_numeric_outliers",
    # round-5 late additions: sketches / time-series / join machinery
    "similarity_topk_sq8",
    "events_gapfill_locf",
    "sketch_kmv_distinct",
    "sketch_hll_distinct",
    "bloom_semi_join_prune",
    "fuzzy_join_qgram",
    "graph_pagerank",
    "webdataset_write_plan",
    # round-6 additions: temporal joins / sweep-line / spatial / basket
    "scd2_point_in_time_join",
    "feature_snapshot_pit",
    "events_concurrency",
    "events_ewma",
    "spatial_eps_neighbor_pairs",
    "basket_pair_lift",
    "orders_topk_per_customer",
    "lineitem_grouping_sets",
    "events_range_window_sum",
    "lineitem_mad_outliers",
    "events_pattern_match",
    "scd2_time_weighted_avg",
    "similarity_topk_ivf_filtered",
    # round-7 additions: exact re-rank / LM filter / attribution / k-core
    "similarity_topk_pq_refined",
    "text_bigram_lm_score",
    "events_attribution",
    "graph_kcore",
    "events_daily_topk_users",
    # round-8 additions: survival / feature engineering / fixed-round CC /
    # Holt forecast / one-pass correlation matrix
    "events_survival_km",
    "orders_target_encoding_loo",
    "events_lag_features",
    "graph_connected_components",
    "events_holt_forecast",
    "lineitem_correlation_matrix",
    "orders_dow_revenue",
    "lineitem_pareto_concentration",
    "events_activity_streaks",
    "lineitem_ship_latency_sla",
    "events_holt_backtest",
    "tpch_q01_pricing_summary",
    "tpch_q03_unshipped_revenue",
    "tpch_q05_regional_revenue",
    "tpch_q10_returned_revenue",
    "tpch_q06_forecast_revenue",
    "tpch_q07_volume_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q18_large_volume_customers",
    "tpch_q08_market_share",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q22_global_sales_opportunity",
    # GC-heavy iterative query last so its heap pressure doesn't bleed
    # into anything else
    "dedup_minhash_clusters",
]

# per-query walls surfaced in the compact stdout line (the rest live in
# BENCH_FULL.json) — the perf-watchlist queries each round's verdict tracks
COMPACT_WATCHLIST = [
    "events_sessionize",
    "pgoutput_binary_decode",
    "dedup_exact",
    "dedup_minhash_clusters",
    "dedup_ngram_jaccard",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "curation_pipeline",
]


def _warm_python_workers(spark) -> None:
    """Spawn the Arrow/pandas worker pool before timing starts.

    The first pandas-UDF stage in a session pays one python worker spawn +
    Arrow serializer init per core (~2-3s at 32 cores) — a per-JVM one-time
    cost that a steady-state engine never pays per query. Warming it keeps
    that cost out of whichever similarity/multimodal query happens to run
    first."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _noop(s: pd.Series) -> pd.Series:
        return s * 1.0

    spark.range(10_000).repartition(64).select(_noop(F.col("id").cast("double"))).count()


# ---------------------------------------------------------------------------
# headline workloads — importable so --isolated can run them in a fresh JVM
# ---------------------------------------------------------------------------


def make_full_load(spark, sf_dir: str, tmp: str):
    """Return a zero-arg callable running one full-load rep; returns rows.

    Row count is measured once here (parquet footer read) so each timed rep
    is purely scan → stamp → write, like the reference's RPS metric."""
    from olake_spark.functions.olake_columns import stamp_olake_columns
    from olake_spark.queries import table
    from olake_spark.sources.files import spread

    rows = table(spark, sf_dir, "lineitem").count()

    def run() -> int:
        df = spread(table(spark, sf_dir, "lineitem"), "l_orderkey")
        out = stamp_olake_columns(df, pk_cols=["l_orderkey", "l_linenumber"])
        out.write.mode("overwrite").parquet(f"{tmp}/full_load")
        return rows

    return run


def make_cdc_replay(spark, sf_dir: str, tmp: str):
    """Return a zero-arg callable running one 3-batch changelog MERGE replay.

    Fresh target per rep — replaying into an existing table is a no-op by
    design (LSN guard) and would fake the timing. MOR path: each batch is an
    O(|batch|) delta append (the reference's equality-delete shape); the
    final compact folds deltas into a resolved base so the timed work still
    produces a materialized table."""
    from pyspark.sql import functions as F

    from olake_spark.queries.ingest import _events_changelog
    from olake_spark.sinks.table import ManagedTable
    from olake_spark.streaming.replay import replay_batches

    rep = itertools.count()

    def run() -> int:
        ch = _events_changelog(spark, sf_dir).cache()
        n = ch.count()
        lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
        c1 = int(lo) + (int(hi) - int(lo)) // 3
        c2 = int(lo) + 2 * (int(hi) - int(lo)) // 3
        batches = [
            ch.filter(F.col("lsn") <= c1),
            ch.filter((F.col("lsn") > c1) & (F.col("lsn") <= c2)),
            ch.filter(F.col("lsn") > c2),
        ]
        t = ManagedTable(spark, f"{tmp}/cdc_target_{next(rep)}")
        replay_batches(t, batches, ["user_id"], "lsn", mor=True)
        t.compact()
        ch.unpersist()
        return n

    return run


def make_stream_curate(spark, sf_dir: str, tmp: str):
    """Bounded streaming-curation drain: documents replayed as 3 file
    drops through the stateful dedup gate (applyInPandasWithState with
    TTL'd fingerprint state). Fresh checkpoint/output per rep — a reused
    checkpoint would make rep 2 a no-op. Per-micro-batch progress
    (rows/sec, state rows/bytes) appends to STREAM_PROGRESS.jsonl, the
    artifact EVIDENCE.md cites."""
    from olake_spark.streaming.curation import stream_curate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    schema = docs.schema
    src = f"{tmp}/stream_src"
    if not os.path.exists(src):
        for i in range(3):
            docs.filter(f"doc_id % 3 = {i}").coalesce(4).write.parquet(
                f"{src}/drop_{i:04d}"
            )
    rows = docs.count()
    progress = os.path.join(REPO, "STREAM_PROGRESS.jsonl")
    open(progress, "w").close()  # truncate: one bench run per artifact
    rep = itertools.count()

    def run() -> int:
        r = next(rep)
        stream_curate(
            spark, f"{src}/drop_*", schema, "text",
            f"{tmp}/stream_out_{r}", f"{tmp}/stream_ckpt_{r}",
            max_files_per_trigger=4,
            progress_path=progress,
        )
        return rows

    return run


HEADLINES = {"full_load": make_full_load, "cdc_replay": make_cdc_replay}
# measured like a headline (real rows/s) but not part of the vs-baseline
# pair: the reference has no streaming-curation analogue
STREAMING_WORKLOADS = {"stream_curate": make_stream_curate}


def make_workload(name: str, spark, sf_dir: str, tmp: str):
    """Resolve a bench name — headline or registry query — to a rep callable."""
    if name in HEADLINES:
        return HEADLINES[name](spark, sf_dir, tmp)
    if name in STREAMING_WORKLOADS:
        return STREAMING_WORKLOADS[name](spark, sf_dir, tmp)
    from olake_spark.queries import QUERIES

    fn = QUERIES[name]
    return lambda: fn(spark, sf_dir).count()


def _iso_child(name: str, sf_dir: str, best_of: int = 3) -> None:
    """Subprocess body for --isolated: warm-up, best-of-N, ISO_RESULT line."""
    from pyspark.sql import functions as F

    from olake_spark.session import get_spark

    spark = get_spark("olake_spark_bench_iso")
    warm = spark.range(100_000).withColumn("g", F.col("id") % 7)
    warm.repartition(8, "g").groupBy("g").count().collect()
    _warm_python_workers(spark)
    tmp = tempfile.mkdtemp(prefix="olake_bench_iso_")
    try:
        fn = make_workload(name, spark, sf_dir, tmp)
        runs: list[float] = []
        for _ in range(best_of):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = fn()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        print(
            "ISO_RESULT",
            json.dumps(
                {
                    "sec": runs[0],
                    "runs": runs,
                    "rows": rows,
                    "load1": round(os.getloadavg()[0], 2),
                }
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_isolated(names: list[str], best_of: int = 3, cooldown: float = 0.0) -> None:
    """Each workload in its own python+JVM subprocess; same timing protocol.

    ``best_of``/``cooldown`` implement the idle measurement protocol the
    round reports use for the vs-baseline headliners: N reps inside each
    fresh JVM, a sleep between subprocesses so one child's page-cache /
    scheduler wake-down doesn't land inside the next child's timed window.

    Exits non-zero if any name is unknown or any subprocess fails — this is
    the ground-truth instrument; an empty success JSON would be a lie."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from olake_spark.queries import QUERIES

    unknown = [
        n
        for n in names
        if n not in HEADLINES
        and n not in STREAMING_WORKLOADS
        and n not in QUERIES
    ]
    if unknown:
        print(f"FAIL unknown workload(s): {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    rps: dict[str, dict[str, float]] = {}
    loads: dict[str, float] = {}
    failed: list[str] = []
    for i, name in enumerate(names):
        if cooldown and i:
            time.sleep(cooldown)
        code = (
            f"import sys; sys.path.insert(0, {REPO!r})\n"
            f"import bench; bench._iso_child({name!r}, {sf_dir!r}, {best_of})\n"
        )
        proc = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
        )
        iso_lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("ISO_RESULT")]
        if proc.returncode != 0 or not iso_lines:
            print(f"FAIL {name}: {proc.stderr[-500:]}", file=sys.stderr)
            failed.append(name)
            continue
        res = json.loads(iso_lines[-1].split(" ", 1)[1])
        timings[name] = round(res["sec"], 3)
        if "load1" in res:
            loads[name] = res["load1"]
        # best-of-3 spread [min, median, max]: a future regression shows
        # as a min shift; a wide max-min gap flags machine noise instead
        # of re-litigating a single drifted number
        spread[name] = [round(s, 3) for s in res.get("runs", [res["sec"]])]
        if name in HEADLINES and res.get("rows"):
            runs = sorted(res.get("runs", [res["sec"]]), reverse=True)
            rps[name] = {
                "best": round(res["rows"] / min(runs)),
                "median": round(res["rows"] / runs[len(runs) // 2]),
                "worst": round(res["rows"] / max(runs)),
            }
    print(
        json.dumps(
            {
                "metric": "olake_spark isolated per-query wall seconds (fresh JVM each)",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "mode": "isolated",
                "best_of": best_of,
                "queries": timings,
                "spread": spread,
                "rows_per_sec": rps,
                "load1": loads,
                "failed": failed,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    if failed:
        sys.exit(1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # idle evidence must be sampled BEFORE the JVM + warm-up generate
    # their own load: the per-workload loads below include the bench's
    # preceding workloads (a 32-thread bench pushes load1 to ~10 by the
    # heavy middle section on a box that was at 0.1 when it started)
    load_at_start = round(os.getloadavg()[0], 2)
    load15_at_start = round(os.getloadavg()[2], 2)

    from pyspark.sql import functions as F

    from olake_spark.session import get_spark

    spark = get_spark("olake_spark_bench")
    tmp = tempfile.mkdtemp(prefix="olake_bench_")
    # warm the JVM paths the timed sections use: codegen, shuffle machinery,
    # parquet read+write committers — cold-init otherwise lands in the first
    # timed workload (~4s of one-time cost that no steady-state job pays)
    warm = spark.range(100_000).withColumn("g", F.col("id") % 7)
    warm.repartition(8, "g").groupBy("g").count().write.mode("overwrite").parquet(f"{tmp}/warm")
    spark.read.parquet(f"{tmp}/warm").count()
    _warm_python_workers(spark)
    timings: dict[str, float] = {}
    rps: dict[str, float] = {}
    loads: dict[str, float] = {}

    def evict_rdd_blocks() -> None:
        # clearCache() only evicts SQL-cached relations. Blocks pinned by
        # the operators' lazy localCheckpoints belong to per-rep RDD ids
        # that are never referenced again (every rep constructs a fresh
        # DataFrame), yet they linger in storage memory until the
        # ContextCleaner gets to them — by the tail of the 107-workload
        # run the session carries ~100 queries of dead blocks, and the
        # late queries (dedup_minhash_clusters, stream_curate) were paying
        # that pressure inside their timed reps (r11 advice #4; measured:
        # stream_curate 4.98 s at bench-tail vs 2.3 s steady-state in a
        # clean session). Eviction runs OUTSIDE the timed window, exactly
        # like the existing clearCache + System.gc.
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)

    def timed(name: str, fn, reps: int = 2) -> None:
        # 1-min load BEFORE the workload: the round-over-round common-set
        # comparison is only meaningful between idle-box runs, so every
        # recorded number carries its own idle evidence (r9 watch item:
        # a shared-bench regression that was really machine load)
        loads[name] = round(os.getloadavg()[0], 2)
        best, rows = None, None
        for _ in range(reps):
            spark.catalog.clearCache()  # queries are independent; don't let
            # one query's caches skew the next. Full GC OUTSIDE the timed
            # window: in a shared JVM the heap left by a previous query's
            # caches/codegen otherwise lands as GC pauses inside whichever
            # query runs next (observed 2-5x swings on the dedup block)
            evict_rdd_blocks()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            rows = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        if rows:
            rps[name] = round(rows / best)

    # reps=5 on the two headline workloads: these define the vs-baseline
    # ratio, and best-of-5 shields the recorded number from transient
    # machine load (observed: best-of-3 landed 2.0s on a loaded box where
    # the isolated steady state is 1.26s)
    for name in HEADLINES:
        timed(name, make_workload(name, spark, sf_dir, tmp), reps=5)

    # -- operator queries (end-to-end: plan + execute + materialize count) ---
    # best-of-3: the similarity/dedup queries carry large generated-code
    # footprints (unrolled dot chains) whose Janino-compile + C2-JIT cost
    # dominates rep 1 and fades by rep 3 (measured 11.9 -> 7.5 -> 2.6 -> 1.8s
    # for similarity_topk_lsh); best-of reports the steady state a
    # long-running engine actually delivers, not the JVM's warm-up transient
    for name in BENCH_QUERIES:
        timed(name, make_workload(name, spark, sf_dir, tmp), reps=3)

    # streaming drain last: it spins its own cloned session + state store
    for name in STREAMING_WORKLOADS:
        timed(name, make_workload(name, spark, sf_dir, tmp), reps=2)

    shutil.rmtree(tmp, ignore_errors=True)

    # full per-query map → file; compact headline JSON → final stdout line.
    # The recording driver keeps only a 2000-char stdout tail, so the final
    # line must stay small (round 3's full map overflowed it → parsed:null).
    load_vals = list(loads.values())
    # idle = nothing else was running when the bench started. r10 verdict
    # wrong-list #2: the old < 8.0 bar blessed a box with 7 runnable
    # threads as "idle" — the repo's own measurement protocol demands
    # load1 < 1 for official numbers, so the flag now means what the
    # protocol means (load1 < 2 leaves headroom for the daemon tail of a
    # just-finished settle). The 15-min average is stamped too: r10's
    # EVIDENCE showed it is the better warmth predictor (load1 0.05 /
    # 15-min 17 read 336k rows/s vs 525k settled). The per-workload
    # series is diagnostic only — it includes the bench's own self-load
    # and cannot gate idleness.
    idle = load_at_start < 2.0
    full = {
        "metric": "olake_spark end-to-end wall seconds (headlines + operator queries)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows_per_sec": rps,
        "load_at_start": load_at_start,
        "load15_at_start": load15_at_start,
        "load_before_each": loads,
        "load_max": round(max(load_vals), 2) if load_vals else None,
        "idle_box": idle,
    }
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=2)
    compact = {
        "metric": (
            f"olake_spark wall sec, sum of all {len(timings)} tracked workloads"
            " (headline subset below; full map in BENCH_FULL.json)"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": {
            n: timings[n]
            for n in list(HEADLINES) + COMPACT_WATCHLIST
            if n in timings
        },
        "sf": full["sf"],
        "rows_per_sec": {n: rps[n] for n in HEADLINES if n in rps},
        "load_at_start": load_at_start,
        "load15_at_start": load15_at_start,
        "idle_box": full["idle_box"],
    }
    line = json.dumps(compact)
    if len(line) > 1800:  # hard guard: never overflow the driver's tail again
        compact["queries"] = {n: timings[n] for n in HEADLINES if n in timings}
        line = json.dumps(compact)
    print(line)


def _flag_value(flag: str, default):
    if flag in sys.argv:
        return type(default)(sys.argv[sys.argv.index(flag) + 1])
    return default


if __name__ == "__main__":
    if "--isolated" in sys.argv:
        best_of = _flag_value("--best-of", 3)
        cooldown = _flag_value("--cooldown", 0.0)
        names = [
            a
            for i, a in enumerate(sys.argv[1:], 1)
            if not a.startswith("--")
            and sys.argv[i - 1] not in ("--best-of", "--cooldown")
        ]
        run_isolated(names or list(HEADLINES) + BENCH_QUERIES,
                     best_of=best_of, cooldown=cooldown)
    else:
        main()
