"""Parquet table sources for the driver-provided synthetic star schema.

Replaces the reference's KV-store "catalog" (directory-per-category JSON
files read back by ``("get", category, key)`` commands,
``scripts/kv_store_server.py:197-244``) with Spark's parquet reader +
temp-view catalog. Filters and projections over these sources reach the
scan as PushedFilters/ReadSchema — the reference's accidental storage-side
filter (``scripts/kv_store_server.py:79,103``) becomes real pushdown.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session-scoped DataFrame memo (r16): ``spark.read.parquet`` pays a
# driver-side footer/listing pass (~100-150 ms measured) on EVERY call,
# and multi-table queries re-load the same tables on every invocation —
# at bench that tax dominated several sub-second queries' wall. A
# DataFrame is an immutable plan, so handing every caller the same
# object is safe; the DATA is still read from parquet at execution (this
# caches plan metadata, never results — the same discipline as the
# session probe cache, plans/probes.py). Keys fold the parquet
# mtime/size fingerprint (:func:`corpus_key`), so an in-place
# regeneration self-invalidates.
#
# r17 (ADVICE fix): the r16 WeakKeyDictionary keyed on the session never
# actually freed anything — the cached DataFrames hold strong references
# back to their session (df._session), so the value dict kept every key
# alive forever. Entries are now keyed on (applicationId, id(session))
# — id() is safe here because the entry holds the session strongly, so
# the id cannot be reused while the entry lives — and swept, on each
# insert, when their SparkContext is stopped (the ``_NARROW_SESSIONS``
# eviction discipline, dedup.py). Per (sf_dir, table) only the LATEST corpus
# generation is kept, so in-place regenerations replace instead of
# accumulate. Each generation's record is ``(corpus_key, scan,
# fanned-out scan or None)``; :func:`load_corpus` fills the third slot.
_DF_CACHE: dict[tuple, tuple[SparkSession, dict]] = {}
_DF_CACHE_LOCK = threading.Lock()


def _sweep_stopped_entries() -> None:
    """Drop cache entries whose SparkContext is stopped (caller holds
    the lock)."""
    for k in [
        k
        for k, (s, _) in _DF_CACHE.items()
        if s.sparkContext._jsc is None or s.sparkContext._jsc.sc().isStopped()
    ]:
        del _DF_CACHE[k]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Schema comes from parquet footer metadata —
    explicit and columnar; no inference pass (contrast the reference's
    schema-by-convention dicts, SURVEY.md §1.3)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    # engine policy (session.py): timestamps are UTC everywhere so
    # date_format/epoch results can't drift vs the oracle on a
    # caller-provided session with a different local timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which the
        # vectorized reader rejects by default. Set the legacy conf at
        # runtime (it is session-scoped, not static) so the engine works
        # on ANY caller-provided session — e.g. the correctness driver's —
        # not just ones built by session.get_spark.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from gcp_map_reduce_spark.plans.probes import corpus_key

    key = corpus_key(sf_dir, name)
    cache_id = (spark.sparkContext.applicationId, id(spark))
    with _DF_CACHE_LOCK:
        entry = _DF_CACHE.get(cache_id)
        hit = None if entry is None else entry[1].get((sf_dir, name))
        df = hit[1] if hit is not None and hit[0] == key else None
    if df is None:
        df = _canonicalize_timestamps(
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")), name
        )
        with _DF_CACHE_LOCK:
            # sweep on insert only: records are only added here, so the
            # bound is the same and a cache hit makes no py4j call
            _sweep_stopped_entries()
            _, per_session = _DF_CACHE.setdefault(cache_id, (spark, {}))
            per_session[(sf_dir, name)] = (key, df, None)
    return df


def load_corpus(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The scan the per-row text and embedding operators start from:
    :func:`load_table`, fanned out to ``defaultParallelism`` only when
    the scan is split- or row-group-starved (the
    :func:`~gcp_map_reduce_spark.operators.scale.ensure_parallelism`
    probe).

    The probe plans the scan on the driver (26-50 ms on fresh sf0.01
    copies), so its result is kept in the scan's own ``_DF_CACHE``
    record: one probe per session and corpus generation, dropped with
    the record on regeneration or session stop. Callers project and
    filter AFTER this call; Spark pushes projections and deterministic
    filters below the round-robin repartition, so the scan still reads
    only what they ask for."""
    # imported here: operators.scale imports this module
    from gcp_map_reduce_spark.operators.scale import ensure_parallelism

    df = load_table(spark, sf_dir, name)
    cache_id = (spark.sparkContext.applicationId, id(spark))
    with _DF_CACHE_LOCK:
        per_session = _DF_CACHE.get(cache_id, (spark, {}))[1]
        rec = per_session.get((sf_dir, name))
    if rec is not None and rec[1] is df and rec[2] is not None:
        return rec[2]
    fanned = ensure_parallelism(df, spark.sparkContext.defaultParallelism)
    with _DF_CACHE_LOCK:
        rec = per_session.get((sf_dir, name))
        if rec is not None and rec[1] is df:
            per_session[(sf_dir, name)] = (rec[0], df, fanned)
    return fanned


def _canonicalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Canonicalize every temporal column to TIMESTAMP (local-tz
    semantics; session pinned UTC above) regardless of how the parquet
    writer encoded it. The physical encoding has drifted across testdata
    generations — ``events.ts`` went from INT64 TIMESTAMP(NANOS) to plain
    TIMESTAMP micros, which Spark's ``inferTimestampNTZ`` reads as
    TIMESTAMP_NTZ — and NTZ refuses the epoch arithmetic
    (``cast("double")``/``cast("long")``) downstream operators do. One
    normalization here heals every consumer; queries never see the
    encoding du jour, and the DuckDB oracle (which has no NTZ notion)
    sees matching semantics. The session timezone is pinned UTC, so
    NTZ -> TZ is a pure type-tag change with no instant shift."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # INT64 TIMESTAMP(NANOS) read via nanosAsLong; values are whole
        # microseconds, so `div 1000` is lossless. Integer division on
        # longs — float math would lose precision at 1e18 nanos.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (so ``spark.sql`` works) and
    return the DataFrames keyed by name."""
    out = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
