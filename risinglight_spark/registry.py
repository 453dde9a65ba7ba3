"""Query registry: the single source of truth the driver contract
(`__spark_entry__.py`) exposes.

Each entry pairs a Spark implementation (``fn(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle string that DuckDB runs on the same
parquet tables.  Column names are aliased identically on both sides —
the driver's compare sorts columns by name before hashing.

Entries whose semantics are not SQL-expressible (LSH bucketing with
engine-specific hashes, streaming) set ``oracle=None`` and get a weaker
rows-only check from the driver.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryEntry:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QueryEntry] = {}

# Modules that register queries on import.
_OPERATOR_MODULES = (
    "risinglight_spark.operators.relational",
    "risinglight_spark.operators.joins",
    "risinglight_spark.operators.aggregates",
    "risinglight_spark.operators.window",
    "risinglight_spark.operators.subquery",
    "risinglight_spark.operators.scalar_exprs",
    "risinglight_spark.operators.setops",
    "risinglight_spark.operators.tpch",
    "risinglight_spark.operators.vector_search",
    "risinglight_spark.operators.dedup",
    "risinglight_spark.operators.pipeline_ops",
    "risinglight_spark.operators.text_analysis",
    "risinglight_spark.operators.events_ops",
    "risinglight_spark.operators.multimodal",
    "risinglight_spark.operators.catalog_ops",
    "risinglight_spark.streaming.ops",
)


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add ``fn(spark, sf_dir) -> DataFrame`` to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver may pass a vanilla Spark 4 session (ANSI on);
            # reference semantics are non-ANSI — pin before running.
            from risinglight_spark.tables import pin_semantics

            pin_semantics(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QueryEntry(name=name, fn=wrapped, oracle=oracle, doc=doc)
        return fn

    return deco


# The driver's correctness gate grades exactly the first 50 entries of
# collect(), in this order.  Rotation rule: entries rewritten (or added)
# since their last green driver row go first, then the entries whose
# latest green CORRECTNESS_r*.json row is oldest, alphabetical within a
# round.  Next staleness candidates (all last green in round 10):
# agg_percentiles, agg_pivot, agg_rollup, agg_salted_skew, agg_simple,
# agg_sorted_key, agg_stats_library, agg_string_listagg, avg_rewrite,
# count_distinct.
GATE: tuple[str, ...] = (
    "ml_knn_eval",
    "ml_knn_eval_ivf",
    "text_dsir_importance",
    "sample_dsir_resample",
    "join_fuzzy_levenshtein",
    "events_cooccurrence_lift",
    "dedup_substring_contained",
    "text_decontaminate",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_minhash_verified",
    "dedup_minhash_index_materialized",
    "dedup_incremental_minhash",
    "dedup_multi_signal",
    "dedup_duplicate_ngram_spans",
    "dedup_span_removal",
    "ml_naive_bayes_langid",
    "dedup_semdedup",
    "events_user_daily",
    "events_windowed_topk",
    "mix_source_weights",
    "mm_audio_wav_features",
    "mm_binary_payload",
    "mm_decode_pixels",
    "mm_frame_sample",
    "mm_image_dhash_dedup",
    "mm_metadata_struct",
    "mm_resize_pixels",
    "mm_resize_stub",
    "pack_sequences",
    "sample_reservoir_weighted",
    "sample_token_budget",
    "streaming_dropdup_within_watermark",
    "streaming_interval_join",
    "streaming_session_window",
    "streaming_sliding_counts",
    "streaming_stateful_max",
    "streaming_static_enrich",
    "text_ccnet_buckets",
    "text_gopher_rules",
    "text_kl_source_divergence",
    "text_repetition_filter",
    "vector_dim_variance_rank",
    "agg_bool_logical",
    "agg_cube",
    "agg_grouping_id",
    "agg_grouping_sets",
    "agg_hash_group",
    "agg_having",
    "agg_min_max_types",
)


def collect() -> dict[str, QueryEntry]:
    """Import all operator modules (which self-register) and return the
    full registry: GATE entries first, then the rest in registration
    order."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    missing = [n for n in GATE if n not in REGISTRY]
    if missing:
        raise KeyError(f"GATE names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in GATE}
    ordered.update((n, e) for n, e in REGISTRY.items() if n not in ordered)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in collect().items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in collect().items() if e.oracle}
