"""Correctness/benchmark suite: the SURVEY §2 operator inventory as
(Spark query, DuckDB oracle SQL) pairs.

Every query runs through the engine's public API (Frame/Series/
operators), not raw Spark — so the suite exercises the engine the way
a reference user would. Oracles are ANSI SQL for DuckDB on the same
parquet views (driver contract, __spark_entry__.py).

Float determinism: money aggregates are summed as decimals (exact,
engine-independent) and cast/rounded at the end; ratio/statistics
columns are rounded to 6 decimals in BOTH engines.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Logical-PLAN memo for METADATA-ONLY query builds (r14, VERDICT r13
# #6 — "memoize the unresolved logical plan per query shape (plan
# object, never results)"). Re-building a join-heavy query like q5
# costs ~1 s of pure driver py4j/Catalyst work per run with a plan
# byte-identical to the last build. The memo returns the SAME lazy
# DataFrame object for the same (session, query, data stamp); every
# action over it still plans, scans and computes from the parquet
# inputs through the normal FileScan — nothing about the DATA is
# cached here.
#
# The guard that keeps this strictly plan-only: a build is memoized
# ONLY if it launched ZERO Spark jobs (DAGScheduler's job counter,
# read before/after). Every way a build can embed data-derived state
# (collect/first/count for carries, split bounds, probes, persists)
# launches a job, so those queries are never memoized and re-derive
# their literals every run; schema/footer reads are metadata and
# launch none. The stamp (file count + max mtime of the sf dir)
# invalidates on data change, the session token (sources/io.py) on
# session change.
_QUERY_PLAN_MEMO: dict = {}
_QUERY_PLAN_MEMO_MAX = 512


def _sf_stamp(sf_dir: str):
    # Full recursive walk (file count, max mtime, total bytes): a
    # top-level listing alone misses in-place rewrites of part-files
    # nested inside table DIRECTORIES (the parent dir's mtime does not
    # change), which would let the memo serve a plan whose scan
    # captured a stale file listing. The walk is a handful of stat
    # calls per build — noise next to one Catalyst analysis.
    import os

    try:
        n, mt, sz = 0, os.path.getmtime(sf_dir), 0
        for root, _dirs, files in os.walk(sf_dir):
            mt = max(mt, os.path.getmtime(root))
            for f in files:
                st = os.stat(os.path.join(root, f))
                n += 1
                mt = max(mt, st.st_mtime)
                sz += st.st_size
        return (n, mt, sz)
    except OSError:
        return None


def _memoized_query(name: str, fn):
    import functools

    @functools.wraps(fn)
    def run(spark, sf_dir):
        from ..sources.io import _session_token

        stamp = _sf_stamp(sf_dir)
        key = (_session_token(spark), name, sf_dir, stamp)
        if stamp is not None:
            df = _QUERY_PLAN_MEMO.get(key)
            if df is not None:
                return df
        try:  # jobs-submitted counter (private API; None = never memo)
            sc = spark.sparkContext._jsc.sc()
            jobs0 = sc.dagScheduler().nextJobId()
        except Exception:  # noqa: BLE001
            sc, jobs0 = None, None
        df = fn(spark, sf_dir)
        if stamp is not None and jobs0 is not None:
            try:
                if sc.dagScheduler().nextJobId() == jobs0:
                    while len(_QUERY_PLAN_MEMO) >= _QUERY_PLAN_MEMO_MAX:
                        _QUERY_PLAN_MEMO.pop(next(iter(_QUERY_PLAN_MEMO)))
                    _QUERY_PLAN_MEMO[key] = df
            except Exception:  # noqa: BLE001
                pass
        return df

    run._gps_inner = fn  # tests / introspection reach the raw builder
    return run


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = _memoized_query(name, fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str):
    from ..sources.io import read_parquet

    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


_MODULES = ["tpch", "tpch2", "relational", "aggregation", "windows", "reshape", "scalars",
            "missing", "llm", "extras", "surface2", "corpus"]

# The driver hash-verifies the FIRST 50 entries of queries() each
# round. Contract: the window leads with every query whose engine path
# the round changed, then the stalest driver evidence. Current window:
# every query whose blocked kernels materialize through
# ``_internal.materialize`` (lineage-truncated leaves instead of
# persisted pins), then the rows whose last recorded verification is
# oldest (r11, then r12).
_VERIFY_FIRST = [
    # materialized leaves (this round's path)
    "cumulative_ungrouped_global", "series_rolling_expression",
    "expanding_moments_global", "ffill_global_limit",
    "merge_asof_global_noby", "corr_spearman", "rank_methods",
    "rolling_ungrouped_global", "expanding_median_approx_global",
    "ewm_var_noadjust_global", "ewm_cov_corr_global",
    "interpolate_global_linear",
    # last verified r11
    "q14_promo_revenue", "q18_large_volume_customers",
    "q2_min_cost_supplier", "q7_volume_shipping",
    "q12_late_shipment_priority", "q17_small_quantity_revenue",
    "filter_isin_project", "concat_union_dedup", "set_ops_index",
    "drop_duplicates_keep_last", "groupby_mad", "groupby_quantiles",
    "value_counts_normalized", "rolling_median_quantile",
    "expanding_stats", "rolling_cov_corr", "pivot_table_margins",
    "get_dummies_onehot", "qcut_quartiles", "ffill_with_limit",
    "replace_values", "interpolate_time_weighted", "dedup_ngram_jaccard",
    "similarity_cosine_topk", "training_data_pipeline",
    "pii_scrub_redact", "temperature_mixture_weights",
    "sample_stratified_deterministic", "rolling_weighted_triang",
    "explode_tokens", "range_interval_join", "ngram_bigram_top50",
    # last verified r12
    "q6_forecast_revenue", "q_priority_order_counts", "q8_market_share",
    "q9_product_profit", "q11_revenue_concentration",
    "q13_customer_distribution", "q15_top_supplier",
    "q16_supplier_part_counts", "q19_disjunctive_revenue",
    "q20_part_volume_suppliers", "q21_last_to_ship", "q22_idle_customers",
    "merge_inner_multikey", "merge_left_nulls", "merge_outer_indicator",
    "join_semi_anti",
]


def register_all() -> None:
    """Import every suite module (side effect: registration)."""
    import importlib

    for m in _MODULES:
        try:
            importlib.import_module(f".{m}", __package__)
        except ModuleNotFoundError as e:
            if f"suite.{m}" not in str(e):
                raise

    # Reorder so the driver's 50-query verification window lands on
    # _VERIFY_FIRST; everything else keeps registration order after it.
    prioritized = {n: QUERIES[n] for n in _VERIFY_FIRST if n in QUERIES}
    rest = {n: fn for n, fn in QUERIES.items() if n not in prioritized}
    QUERIES.clear()
    QUERIES.update(prioritized)
    QUERIES.update(rest)
