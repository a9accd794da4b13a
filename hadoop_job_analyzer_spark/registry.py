"""Single source of truth for the engine's query inventory.

Operator modules register ``(key, query_fn, oracle_sql)`` via the
``@query`` decorator; ``queries()`` / ``oracle_sql()`` assemble the
dicts the driver contract (__spark_entry__.py) re-exports. A unit test
asserts key parity between the two dicts and SURVEY.md §2.

Every registered callable is wrapped so that the correctness-critical
session confs (UTC timezone, nanosAsLong, Arrow) are applied even when
the caller passes a session we did not build.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .session import apply_session_conf

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# All modules that register queries. Imported lazily, once. Their order
# is the registration order of every key outside ``_PINNED_HEAD``.
# Import-order constraints: neardup composes llm oracles; corpus composes
# textops oracles.
_OP_MODULES = (
    "hadoop_job_analyzer_spark.operators.windows",
    "hadoop_job_analyzer_spark.operators.llm",
    "hadoop_job_analyzer_spark.operators.neardup",
    "hadoop_job_analyzer_spark.operators.textops",
    "hadoop_job_analyzer_spark.operators.corpus",
    "hadoop_job_analyzer_spark.operators.sketches",
    "hadoop_job_analyzer_spark.operators.multimodal",
    "hadoop_job_analyzer_spark.operators.udfs",
    "hadoop_job_analyzer_spark.operators.setops",
    "hadoop_job_analyzer_spark.operators.sorts",
    "hadoop_job_analyzer_spark.functions.scalars",
    "hadoop_job_analyzer_spark.streaming.streams",
    "hadoop_job_analyzer_spark.operators.scans",
    "hadoop_job_analyzer_spark.operators.filters",
    "hadoop_job_analyzer_spark.operators.joins",
    "hadoop_job_analyzer_spark.operators.aggs",
    "hadoop_job_analyzer_spark.operators.quality",
)

_loaded = False

# Keys that lead ``queries()`` and ``oracle_sql()``, in this order; every
# other key follows in registration order. External callers that take a
# prefix of ``queries()`` see these keys first, so the order is pinned
# (tests/test_registry.py).
_PINNED_HEAD = (
    "ts_gapfill_hourly",
    "funnel_stages",
    "cohort_retention",
    "win_trailing_hour",
    "win_nth_value",
    "win_transition_matrix",
    "ts_ohlc_hourly",
    "ts_resample_interp",
    "ts_anomaly_zscore",
    "win_rolling_median",
    "ts_ewma_daily",
    "win_activity_streaks",
    "ts_changepoint_cusum",
    "win_gap_distribution",
    "ts_autocorr_lag",
    "dedup_exact",
    "dedup_near_minhash",
    "sim_cosine_topk",
    "sim_knn_join",
    "text_ngram",
    "text_tfidf",
    "text_stats",
    "multimodal_join",
    "emb_centroid_per_label",
    "dedup_prefix",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "dedup_embedding_bucketed",
    "sim_ann_ivf",
    "dedup_components",
    "minhash_jaccard_estimate",
    "emb_quantize_int8",
    "graph_pagerank",
    "sim_ann_recall",
    "dedup_family_compare",
    "dedup_cluster_sizes",
    "emb_label_separation",
    "text_fingerprint",
    "sample_hash_stratified",
    "sample_fixed_per_stratum",
    "agg_weighted_median",
    "text_casing_profile",
    "emb_pca_top_component",
    "split_train_test",
    "decon_ngram_overlap",
    "pack_sequences",
    "text_remove_stopwords",
    "corpus_dedup_apply",
    "corpus_pipeline_e2e",
)


def _pinned_order(d: dict[str, Any]) -> dict[str, Any]:
    """Return ``d`` with the ``_PINNED_HEAD`` keys first, then the rest in
    registration order."""
    head = {k: d[k] for k in _PINNED_HEAD if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``key`` with an optional DuckDB oracle SQL.

    Queries with ``oracle=None`` get the driver's weaker rows-only check;
    our own tests must then provide a stronger self-check (SURVEY.md §5.4).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in _QUERIES:
            raise ValueError(f"duplicate query key {key!r}")

        def wrapped(spark: SparkSession, sf_dir: str, _fn: QueryFn = fn) -> DataFrame:
            apply_session_conf(spark)
            return _fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # type: ignore[attr-defined]
        _QUERIES[key] = wrapped
        if oracle is not None:
            _ORACLES[key] = oracle.strip()
        return fn

    return deco


def _load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _OP_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _pinned_order(dict(_QUERIES))


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _pinned_order(dict(_ORACLES))


def metadata() -> dict[str, Any]:
    """Introspection: which keys have oracles vs rows-only."""
    _load_all()
    return {
        "n_queries": len(_QUERIES),
        "n_oracles": len(_ORACLES),
        "rows_only": sorted(set(_QUERIES) - set(_ORACLES)),
    }
