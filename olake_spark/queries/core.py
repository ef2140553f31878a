"""Registry core: the name -> builder and name -> oracle tables, the fixture
reader every builder shares, and the driver-window order."""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from olake_spark.sources.files import read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


# per-session memo: spark.read.parquet runs a footer-inference job on EVERY
# call, which would make building any registry query non-lazy (and re-plan
# the same immutable fixture repeatedly). DataFrames are immutable lazy
# plans, so reuse per (session, path) is safe.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (sf_dir, name)
    if key not in per_session:
        per_session[key] = read_table(spark, sf_dir, name)
    return per_session[key]


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The external driver verifies only the first DRIVER_WINDOW_SIZE entries of
# ordered_queries(); every other registered name is the tail, certified by
# the local driver-mirror gate (tests/test_registry_tail.py). A new query
# lands in the tail; rotating one in or out means editing this tuple.
DRIVER_WINDOW_SIZE = 50
DRIVER_WINDOW = (
    "full_load_lineitem",
    "cdc_merge_replay",
    "cdc_mor_replay",
    "tpch_q01_pricing_summary",
    "tpch_q03_unshipped_revenue",
    "tpch_q06_forecast_revenue",
    "tpch_q09_product_type_profit",
    "events_runs_test",
    "lineitem_welch_ttest",
    "lineitem_bowley_skewness",
    "events_dispersion_index",
    "orders_cramers_v",
    "lineitem_tukey_fences",
    "events_seasonal_strength",
    "events_wilcoxon_signed_rank",
    "events_markov_entropy",
    "lineitem_loglog_elasticity",
    "orders_skyline_pareto",
    "lineitem_kendall_tau",
    "customer_editdist2_pairs",
    "documents_minhash_jaccard_proof",
    "orders_did_estimator",
    "lineitem_oneway_anova",
    "lineitem_brown_forsythe",
    "events_changepoint_mean_shift",
    "orders_monthly_seasonal_index",
    "graph_cc_reachability_proof",
    "dedup_exact_substr_containment_proof",
    "lineitem_effect_size",
    "lineitem_kruskal_wallis",
    "nation_bh_fdr",
    "orders_ks_uniform_cents",
    "events_logrank_by_parity",
    "events_cohens_kappa",
    "customer_chi2_gof_nations",
    "events_jsd_user_parity",
    "lineitem_trimmed_mean_by_flag",
    "part_power_means_by_brand",
    "events_shewhart_imr",
    "lineitem_msprt_always_valid",
    "customer_eb_shrunk_rates",
    "lineitem_jonckheere_shipmode",
    "documents_heaps_law",
    "lineitem_eta_squared",
    "customer_top_decile_share",
    "documents_flesch_by_lang",
    "lineitem_revenue_bridge",
    "supplier_neyman_allocation",
    "orders_kish_weighted_mean",
    "orders_cochran_armitage",
)


def _gate_order() -> list[str]:
    """Registry names, the driver window first and the tail after it."""
    unknown = [n for n in DRIVER_WINDOW if n not in QUERIES]
    if unknown:
        raise ValueError(f"DRIVER_WINDOW names not registered: {unknown}")
    if len(set(DRIVER_WINDOW)) != len(DRIVER_WINDOW):
        dup = sorted({n for n in DRIVER_WINDOW if DRIVER_WINDOW.count(n) > 1})
        raise ValueError(f"DRIVER_WINDOW names listed twice: {dup}")
    if len(DRIVER_WINDOW) != DRIVER_WINDOW_SIZE:
        raise ValueError(
            f"DRIVER_WINDOW holds {len(DRIVER_WINDOW)} names, not {DRIVER_WINDOW_SIZE}"
        )
    window = set(DRIVER_WINDOW)
    return [*DRIVER_WINDOW, *(n for n in QUERIES if n not in window)]


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _gate_order()}


def ordered_oracles() -> dict[str, str]:
    return {n: ORACLES[n] for n in _gate_order() if n in ORACLES}
