"""Physical-plan assertions — the scale contract, enforced in CI.

Correctness gates prove WHAT each operator computes; these prove HOW:
filters and projections must reach the parquet scan, joins must never
degenerate to nested loops (except the two intentionally-broadcast
cross-join probes), and the hot path must stay inside whole-stage codegen.
"""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from olake_spark.plans.state import SyncState, cursor_less_than, cursor_to_json
from olake_spark.plans.stream import Catalog
from olake_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

# cross joins that are BY DESIGN (small side broadcast, bounded fan-out):
# brute-force knn probes, IVF centroid assignment, and 1-row scalar
# broadcasts (a corpus-level aggregate — avg doc length, mixture cap —
# joined back to every row; the broadcast side is exactly one row)
_CROSS_OK = {
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_ivf_nprobe",
    "similarity_topk_ivf_trained",
    "similarity_topk_ivfpq",  # ivf_assign's broadcast-centroid scoring
    "similarity_topk_pq_trained",  # k-means assign: broadcast-codebook scoring
    "ivf_kmeans_quantized",
    "similarity_topk_ivfpq_trained",  # trained coarse assign: broadcast centroids
    "similarity_topk_ivfpq_residual",  # ivf_assign broadcast-centroid scoring
    "bpe_train_merges",  # per-iteration 1-row broadcast argmax cross join
    "bm25_keyword_scores",
    "audit_referential",  # 1-row agg x 1-row orphan count per relation
    "text_rare_token_ratio",  # 1-row corpus-count broadcast (lazy threshold)
    "text_unigram_info",  # 1-row total-token-count broadcast
    "tfidf_top_terms",  # 1-row doc-count broadcast (lazy N for idf)
    "vocab_coverage",  # 1-row total-occurrence broadcast over <= top-k rows
    "graph_pagerank",  # 1-row node-count broadcast (lazy N for rank mass)
    "fuzzy_join_jaccard",  # two 1-row candidate-count audit broadcasts
    "basket_pair_lift",  # 1-row basket-total broadcast (lazy lift denominator)
    "dsir_importance_weights",  # 1-row corpus-total broadcasts (R, T)
    "scd2_time_weighted_avg",  # 1-row max-LSN broadcast (open-interval clamp)
    "similarity_topk_ivf_filtered",  # ivf_assign broadcast-centroid scoring
    "similarity_topk_ivf_appended",  # ivf_assign broadcast-centroid scoring
    "orders_chi2_independence",  # 1-row chi2-total broadcast onto the cells
    "graph_personalized_pagerank",  # 1-row seed-count broadcast (lazy mass)
    "feature_binning_frozen_edges",  # 9-row frozen-edge broadcast bin map
    "events_survival_km",  # 1-row corpus-horizon broadcast (lazy cutoff)
    "orders_target_encoding_loo",  # 1-row global-LOO-stats broadcast
    "tpch_q22_global_sales_opportunity",  # 1-row avg-balance broadcast
    "customer_rfm_segments",  # 1-row customer-count broadcast (NTILE denominator)
    "feature_quantile_normalize",  # 1-row pooled-count broadcast (target rank)
    # bucket-sized pair cartesian BY DESIGN (C(n_buckets, 2) over the
    # aggregated daily series, never raw rows) + a 1-row tie-table broadcast
    "events_mann_kendall",
    # derived-partsupp TPC-H: 1-row supplier-count broadcast (the closed-form
    # ps_suppkey needs |supplier| — joined onto the part dim, never a fact)
    "tpch_q02_min_cost_supplier",
    "tpch_q09_product_type_profit",
    "tpch_q11_important_stock",  # + 1-row stock-value-total broadcast
    "tpch_q16_supplier_part_counts",
    "tpch_q20_promotion_suppliers",
    # domain-sized cell×cell theta-join BY DESIGN (concordance over the
    # (x, y) histogram — |cells|² ≤ (50·11)², never the O(n²) row pairs
    # the brute-force oracle walks) + tie-table broadcasts
    "lineitem_kendall_tau",
    # same complete-grid spine + 1-row chi2-total broadcast as the
    # chi2_independence query it wraps
    "orders_cramers_v",
    # 1-row revenue-total broadcast onto the 12-month relation
    "orders_monthly_seasonal_index",
    # r11: 1-row broadcasts onto group-sized relations, the established
    # lazy-scalar pattern — ties total (kruskal), censoring-cutoff
    # (logrank), marginal cross-product (kappa)
    "lineitem_kruskal_wallis",
    "events_logrank_by_parity",
    "events_cohens_kappa",
    # r11 wave 2: 1-row (min, max) id broadcast (heaps bucketing) and
    # group-size-total broadcast (jonckheere μ/σ²) — same lazy-scalar
    # pattern; the JT pair relation is the kendall domain-grid
    # theta-join, 7 × 50 cells, never row pairs
    "documents_heaps_law",
    "lineitem_jonckheere_shipmode",
    # r11 proof #7: ivf_assign broadcast-centroid scoring (query ×
    # 155-centroid broadcast, the same shape as every ivf query above)
    "similarity_topk_exact_pruned",
    # r11 wave 2: lazy-scalar broadcasts — 3-row treatment list ×
    # user universe (complete-design construction) and the guarded-k
    # 1-row check (cochran), two 1-row U broadcasts (cronbach), the
    # 1-row corpus-horizon broadcast shared with events_survival_km
    # (nelson_aalen)
    "events_cochran_q_reach",
    "events_cronbach_alpha",
    "events_nelson_aalen",
    # isotonic minimax: the (j, k) segment grid is a B²/2 theta-join
    # over the BUCKET relation (20 buckets → 210 cells), the kendall
    # domain-grid discipline — never row pairs
    "lineitem_isotonic_price_by_qty",
}


def _plan(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_no_accidental_nested_loop(spark):
    """Every registry query's executed plan, checked for cartesian /
    nested-loop degeneration. Plans are BUILT CONCURRENTLY (Catalyst
    analysis is driver-side and thread-safe) — at 115+ queries the serial
    parametrized form alone cost ~2 minutes of suite wall; failures are
    still reported per-query in the assertion message."""
    from concurrent.futures import ThreadPoolExecutor

    def check(name: str) -> str | None:
        try:
            plan = _plan(spark, name)
        except Exception as exc:  # surface build failures with their name
            return f"{name}: plan build failed: {exc}"
        if name in _CROSS_OK:
            return None
        if "CartesianProduct" in plan:
            return f"{name}: plans a cartesian product"
        if "BroadcastNestedLoopJoin" in plan:
            return f"{name}: plans a nested loop join"
        return None

    # 16 workers: plan building is driver-side py4j + Catalyst, which
    # releases the GIL on every Java call; 8 left ~40% of the wall idle
    with ThreadPoolExecutor(max_workers=16) as pool:
        failures = [f for f in pool.map(check, sorted(QUERIES)) if f]
    assert not failures, "\n".join(failures)


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "filter_structured_and")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan or "o_totalprice" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan(spark):
    plan = _plan(spark, "projection_selected_columns")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 3 selected columns are read from parquet
    assert "c_custkey" in read_schema and "c_acctbal" in read_schema
    assert "c_address" not in read_schema and "c_comment" not in read_schema


def test_full_load_stays_in_codegen(spark):
    plan = _plan(spark, "full_load_lineitem")
    # "*(n)" prefixes mark whole-stage-codegen spans in executedPlan output
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "range_join_ship_window")
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_ngram_cap_reuses_cached_relation(spark):
    # the df-capped inverted index is cached; BOTH self-join sides must read
    # the cache instead of re-running the explode + window-df pass
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert plan.count("InMemoryTableScan") >= 2


def test_registry_decode_is_arrow_batched(spark):
    # registry-driven Avro decode runs Python, but only Arrow-batched
    # mapInPandas — never row-at-a-time BatchEvalPython
    plan = _plan(spark, "kafka_registry_decode")
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_profile_is_single_scan_no_join(spark):
    # all per-column stats ride ONE aggregation over ONE scan
    plan = _plan(spark, "profile_numeric_stats")
    assert "Join" not in plan


def test_banded_lsh_is_hash_join_on_bands(spark):
    plan = _plan(spark, "similarity_topk_lsh")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_mixture_filter_side_broadcasts(spark):
    # the k-strata fraction relation must broadcast to the corpus scan —
    # the big side never shuffles for the join (one hash exchange total:
    # the tiny strata-count aggregation)
    plan = _plan(spark, "mixture_weighted_sample")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_curation_pipeline_bounded_shuffles_no_python(spark):
    # the composed pipeline must stay one lazy plan: a handful of narrow
    # shuffles (fingerprint window, strata count + its AQE reads, shard
    # window) and zero Python evaluation
    plan = _plan(spark, "curation_pipeline")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_query_construction_is_lazy(spark):
    # building a registry query must trigger ZERO Spark actions — any
    # driver-side count/collect during construction makes planning eager
    # (round-2 verdict item 6). Jobs launched while building would land in
    # the probe job group; the group must stay empty.
    sc = spark.sparkContext
    for name in ("text_rare_token_ratio", "mixture_weighted_sample", "curation_pipeline"):
        # first touch of a parquet path runs a one-off footer/listing
        # metadata job; warm it so the probe sees only real data actions
        QUERIES[name](spark, SF)
        sc.setJobGroup("lazy_probe", f"building {name}")
        try:
            QUERIES[name](spark, SF)
        finally:
            sc.setJobGroup("done_probe", "done")
        jobs = sc.statusTracker().getJobIdsForGroup("lazy_probe")
        assert not jobs, f"{name} ran {len(jobs)} Spark job(s) during construction"


def test_pack_sequences_single_shard_shuffle_no_python(spark):
    # packing = one hash shuffle on the shard key + per-shard window; the
    # token count is regex/split built-ins, so no Python eval anywhere
    plan = _plan(spark, "pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_tokens_filter_side_broadcasts(spark):
    # token-weighted form keeps the row-count form's shape: fraction
    # relation broadcasts, the corpus scan never shuffles for the join
    plan = _plan(spark, "mixture_token_weighted")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_unigram_info_no_python_eval(spark):
    # surprisal scoring is pure built-ins: token explode, two aggregations,
    # a broadcast 1-row total — no Python evaluation anywhere
    plan = _plan(spark, "text_unigram_info")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_r8_query_plan_shapes(spark):
    """Pin the round-8 queries' physical shapes — the properties their
    docstrings claim. Checked from ONE plan build each (cheap)."""
    # LOO target encoding: the fact table never shuffles — the only hash
    # exchange carries the 5-row category partial aggregates; facts meet
    # the stats via broadcast only, and nothing sorts
    plan = _plan(spark, "orders_target_encoding_loo")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "Sort " not in plan, plan

    # lag features: ONE exchange + ONE sort feeds every window column
    plan = _plan(spark, "events_lag_features")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan

    # correlation matrix: single partial->final aggregation, zero hash
    # exchanges (the 1-row final agg gathers partials), zero Python
    plan = _plan(spark, "lineitem_correlation_matrix")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "EvalPython" not in plan, plan

    # Holt fold: one hash exchange (the per-key agg), no Sort node (the
    # ordering is array_sort inside the agg, not a shuffle sort)
    plan = _plan(spark, "events_holt_forecast")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Sort " not in plan, plan

    # Kaplan-Meier: subjects cross the network pre-aggregated (two hash
    # exchanges: user agg, duration agg); the single-partition windows
    # run on the tiny period grid AFTER the duration groupBy
    plan = _plan(spark, "events_survival_km")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange SinglePartition") == 2, plan


def test_decode_count_plan_parses_json_once(spark):
    # InferFiltersFromGenerate (excluded in session.py) used to infer a
    # size(from_json(...)) > 0 filter from the decode's explode and push
    # it below the repartition — re-running the whole render+parse
    # serially in the scan stage (wal2json_decode 1.63s -> 0.24s, 2x CPU
    # at sf1x). Pin the fix: the count-shaped optimized plan must hold
    # exactly ONE from_json evaluation.
    cnt = QUERIES["wal2json_decode"](spark, SF).groupBy().count()
    plan = cnt._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1, plan[:2000]


def test_mor_read_is_one_scan_per_schema(spark, tmp_path):
    """Pending merge-on-read deltas that share a schema are read by ONE
    parquet scan (each row's commit seq comes from its file's name), not
    one scan per delta group unioned together."""
    from olake_spark.sinks.table import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "mor"))
    schema = "lsn long, _op_type string, k long, v string"
    t.upsert_mor(spark.createDataFrame([(0, "c", k, "base") for k in range(8)], schema), ["k"], ["lsn"])
    for i in range(1, 7):
        t.upsert_mor(spark.createDataFrame([(i, "u", i, f"d{i}")], schema), ["k"], ["lsn"])
    assert sum(1 for g in t._manifest()["groups"] if g.get("delta")) == 6
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert "Union" not in plan, plan


# -- type-aware cursor ordering ---------------------------------------------


def test_cursor_numeric_string_ordering():
    assert cursor_less_than("9", "100")  # lexicographic would say 100 < 9
    assert not cursor_less_than("100", "9")
    assert cursor_less_than(9, 100)
    assert cursor_less_than("2024-01-02 00:00:00", "2024-01-10 00:00:00")
    assert cursor_less_than(
        datetime(2024, 1, 2), "2024-01-10 00:00:00.500000"
    )
    # genuinely textual cursors still compare lexicographically
    assert cursor_less_than("abc", "abd")


def test_cursor_to_json_round_trip():
    assert cursor_to_json(42) == 42  # numbers stay numbers
    iso = cursor_to_json(datetime(2024, 1, 2, 3, 4, 5, 600000))
    assert iso == "2024-01-02 03:04:05.600000"
    assert json.loads(json.dumps({"c": iso}))["c"] == iso


def test_reconcile_numeric_cursor_adopts_committed():
    st = SyncState()
    st.set_cursor("ev", "id", "9")
    # committed position 100 is AHEAD; lexicographic compare would miss it
    assert st.reconcile("ev", "id", "100") is True
    assert st.get_cursor("ev", "id") == "100"
    # behind/equal positions leave state untouched
    assert st.reconcile("ev", "id", "50") is False
    assert st.reconcile("ev", "id", "100") is False


# -- reference-shaped streams.json / state.json load ------------------------

_REFERENCE_CATALOG = {
    "selected_streams": {
        "public": [
            {
                "stream_name": "events",
                "partition_regex": "",
                "normalization": True,
                "filter": "",
                "selected_columns": {
                    "columns": ["id", "ts", "v"],
                    "sync_new_columns": False,
                },
            }
        ]
    },
    "streams": [
        {
            "stream": {
                "name": "events",
                "namespace": "public",
                "type_schema": {
                    "properties": {
                        "id": {"type": ["integer"]},
                        "ts": {"type": ["timestamp_micro", "null"]},
                        "v": {"type": ["number", "null"]},
                        "tags": {"type": ["array", "null"]},
                    }
                },
                "supported_sync_modes": ["full_refresh", "incremental", "cdc"],
                "source_defined_primary_key": ["id"],
                "available_cursor_fields": [],
                "cursor_field": "ts",
                "sync_mode": "cdc",
                "destination_table": "events_dst",
                "additional_properties": "whatever",
            }
        }
    ],
}


def test_reference_catalog_loads():
    cat = Catalog.from_json(json.dumps(_REFERENCE_CATALOG))
    assert len(cat.streams) == 1
    cs = cat.streams[0]
    assert cs.stream.name == "events"
    assert cs.stream.sync_mode == "cdc"
    # cursor_field seeds available_cursor_fields
    assert cs.stream.available_cursor_fields == ["ts"]
    sch = cs.stream.spark_schema
    by_name = {f.name: f.dataType.simpleString() for f in sch.fields}
    assert by_name["id"] == "bigint"  # OLAKE 'integer' = int64
    assert by_name["ts"] == "timestamp"
    assert by_name["v"] == "double"
    # metadata: nested selected_columns unpacked; stream has no 'metadata'
    # key in the reference shape, so it defaults from the stream name
    assert cs.metadata.stream_name == "events"
    meta = cat.selected_streams["public"][0]
    assert meta.selected_columns == ["id", "ts", "v"]
    assert meta.sync_new_columns is False


def test_reference_state_loads():
    ref_state = {
        "type": "STREAM",
        "streams": [
            {
                "stream": "events",
                "namespace": "public",
                "sync_mode": "incremental",
                "state": {
                    "ts": "2024-01-05 00:00:00",
                    "chunks": [{"min": 0, "max": 100}, {"min": 100, "max": 200}],
                },
            }
        ],
    }
    st = SyncState.from_json(json.dumps(ref_state))
    assert st.get_cursor("events", "ts") == "2024-01-05 00:00:00"
    chunks = st.streams["events"].chunks
    assert [(c.min, c.max) for c in chunks] == [(0, 100), (100, 200)]
    # engine-native shape still loads (round-trip)
    again = SyncState.from_json(st.to_json())
    assert again.get_cursor("events", "ts") == "2024-01-05 00:00:00"
    assert [(c.min, c.max) for c in again.streams["events"].chunks] == [
        (0, 100),
        (100, 200),
    ]
