"""gcp_map_reduce_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference repo
``niravraje/gcp-map-reduce`` (a two-stage MapReduce framework over GCP VMs
with a file-backed KV store; see SURVEY.md) as an idiomatic Spark
DataFrame/SQL engine, extended with the large-scale training-data pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (SURVEY.md §7):
- DataFrame / Spark SQL first; Catalyst plans everything; RDDs nowhere.
- Every operator is registered in :mod:`gcp_map_reduce_spark.plans.registry`
  with a matching DuckDB oracle SQL string where ANSI-SQL-expressible.
- Scale posture: no driver-side collect inside operators, broadcast hints for
  dimension tables, AQE on, map-side partial aggregation everywhere.
"""

from gcp_map_reduce_spark.session import get_spark


def __getattr__(name):
    """Lazy re-exports of the generic operator API — keeps
    ``import gcp_map_reduce_spark`` light (no Spark-plan imports at
    package import time) while letting users write
    ``from gcp_map_reduce_spark import asof_join``."""
    lazy = {
        "asof_join": "gcp_map_reduce_spark.operators.relational_ext",
        "with_session_id": "gcp_map_reduce_spark.operators.relational",
        "connected_components": "gcp_map_reduce_spark.operators.dedup",
        "grouped_topk": "gcp_map_reduce_spark.operators.scale",
        "salted_groupby_count": "gcp_map_reduce_spark.operators.scale",
        "ensure_parallelism": "gcp_map_reduce_spark.operators.scale",
        "materialize": "gcp_map_reduce_spark.operators.scale",
        "pack_sequences": "gcp_map_reduce_spark.operators.sampling",
        "weighted_sample": "gcp_map_reduce_spark.operators.sampling",
        "events_sliding_window": "gcp_map_reduce_spark.operators.timeseries",
        "token_rarity_scores": "gcp_map_reduce_spark.operators.text_analysis",
        "lang_token_sketches": "gcp_map_reduce_spark.operators.sketches",
        "union_distinct_estimate": "gcp_map_reduce_spark.operators.sketches",
        "upsert_snapshot": "gcp_map_reduce_spark.sinks.writers",
        "upsert_snapshot_bucketed": "gcp_map_reduce_spark.sinks.writers",
        "read_snapshot_bucketed": "gcp_map_reduce_spark.sinks.writers",
        "migrate_snapshot_to_bucketed": "gcp_map_reduce_spark.sinks.writers",
        "suggest_n_buckets": "gcp_map_reduce_spark.sinks.writers",
        "write_sorted_layout": "gcp_map_reduce_spark.sinks.writers",
        "dataset_stats": "gcp_map_reduce_spark.sinks.writers",
        "embedding_near_dup_pairs_ivf": "gcp_map_reduce_spark.operators.similarity",
        "publish_atomic": "gcp_map_reduce_spark.sinks.writers",
    }
    if name in lazy:
        import importlib

        return getattr(importlib.import_module(lazy[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = [
    "get_spark",
    "asof_join",
    "with_session_id",
    "connected_components",
    "grouped_topk",
    "salted_groupby_count",
    "ensure_parallelism",
    "materialize",
    "pack_sequences",
    "weighted_sample",
    "events_sliding_window",
    "token_rarity_scores",
    "lang_token_sketches",
    "union_distinct_estimate",
    "upsert_snapshot",
    "upsert_snapshot_bucketed",
    "read_snapshot_bucketed",
    "migrate_snapshot_to_bucketed",
    "suggest_n_buckets",
    "write_sorted_layout",
    "dataset_stats",
    "embedding_near_dup_pairs_ivf",
    "publish_atomic",
]
__version__ = "0.1.0"
