"""Query registry — the engine's "query lifecycle".

The reference has no query language: a "query" is the ``operation_name``
key in ``config.json:9`` selecting one of two hard-wired map/reduce module
pairs (``master.py:234-240``, dynamic import at ``master.py:26-42``). This
registry is the Spark-native generalization of that plug-in surface
(operator O18): a named catalog of logical plans, each a callable
``(spark, sf_dir) -> DataFrame``, with an optional DuckDB oracle SQL string
used by the driver's correctness harness.

Importing :mod:`gcp_map_reduce_spark.plans.catalog` populates the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is equivalent DuckDB ANSI SQL
    (omit for genuinely non-SQL-expressible ops — the driver then records a
    weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_catalog() -> None:
    """Import every operator module for its registration side effects,
    then order ``QUERIES`` by ``catalog.MODULES`` (within a module, by
    registration order), so the order does not depend on which operator
    module the process imported first."""
    from gcp_map_reduce_spark.plans import catalog

    rank = {name: i for i, name in enumerate(catalog.MODULES)}
    ordered = sorted(
        QUERIES.items(), key=lambda kv: rank.get(kv[1].__module__, len(rank))
    )
    QUERIES.clear()
    QUERIES.update(ordered)
