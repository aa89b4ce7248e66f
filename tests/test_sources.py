"""Source-layer contracts that keep environment drift out of the queries.

Round 4 postmortem: the driver regenerated ``events.parquet`` with a
different physical encoding for ``ts`` (INT64 TIMESTAMP(NANOS) -> plain
TIMESTAMP micros, which Spark reads as TIMESTAMP_NTZ) and every
downstream bare ``ts.cast("double")`` failed analysis. These tests pin
the two contracts that prevent a recurrence:

1. ``load_table`` canonicalizes ``events.ts`` to TIMESTAMP no matter how
   the parquet writer encoded it.
2. No query source does bare epoch math on ``ts`` (``ts.cast("double")``
   / direct ``cast("long")`` without the NTZ-safe ``cast("timestamp")``
   hop), so the next encoding shift fails here, loudly, not in the
   driver.
"""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

from gcp_map_reduce_spark.sources.tables import TABLE_NAMES, load_table
from tests.conftest import SF_ORACLE, SF_SMALL

PKG_ROOT = pathlib.Path(__file__).resolve().parents[1] / "gcp_map_reduce_spark"


def test_events_ts_is_timestamp(spark):
    for sf_dir in (SF_SMALL, SF_ORACLE):
        dtypes = dict(load_table(spark, sf_dir, "events").dtypes)
        assert dtypes["ts"] == "timestamp", (
            f"events.ts must canonicalize to TIMESTAMP, got {dtypes['ts']!r} "
            f"for {sf_dir} — fix sources/tables.py:_canonicalize_timestamps"
        )


def test_no_table_exposes_timestamp_ntz(spark):
    # the drift guard covers EVERY temporal column of EVERY table (orders
    # and lineitem dates arrive NTZ too under inferTimestampNTZ)
    for name in TABLE_NAMES:
        bad = [
            (c, t)
            for c, t in load_table(spark, SF_SMALL, name).dtypes
            if t == "timestamp_ntz"
        ]
        assert not bad, f"{name}: NTZ columns leaked through load_table: {bad}"


def test_events_ts_epoch_math_works(spark):
    # the exact idiom the queries use must analyze and execute
    ev = load_table(spark, sf_dir=SF_SMALL, name="events")
    row = ev.select(
        F.col("ts").cast("timestamp").cast("long").alias("epoch")
    ).agg(F.min("epoch").alias("lo"), F.max("epoch").alias("hi")).first()
    assert row.lo is not None and row.hi >= row.lo


def test_ntz_input_canonicalized(spark, tmp_path):
    # simulate the round-4 drift directly: write an NTZ ts, read it back
    # through the canonicalizer
    from gcp_map_reduce_spark.sources.tables import _canonicalize_timestamps

    src = load_table(spark, SF_SMALL, "events").limit(10)
    ntz_path = str(tmp_path / "events_ntz")
    src.withColumn("ts", F.to_timestamp_ntz(F.col("ts"))).write.parquet(ntz_path)
    back = _canonicalize_timestamps(spark.read.parquet(ntz_path), "events")
    assert dict(back.dtypes)["ts"] == "timestamp"
    assert back.filter(F.col("ts").cast("long").isNull()).count() == 0


_BARE_TS_CAST = re.compile(
    r"""(?:\bcol\(\s*)?["'](?:ts|last_click_ts|click_ts|hour
        |o_orderdate|l_shipdate)["']\s*
        (?:\)|\])\s*\.cast\(\s*["'](?:double|long|int|float)["']\s*\)
    """,
    re.VERBOSE,
)
# the sanctioned idiom contains a cast("timestamp") hop immediately before
# the numeric cast; strip those before scanning
_SAFE_HOP = re.compile(r"""\.cast\(\s*["']timestamp["']\s*\)""")


def test_no_bare_ts_epoch_casts_in_package():
    offenders: list[str] = []
    for py in sorted(PKG_ROOT.rglob("*.py")):
        text = _SAFE_HOP.sub(".SAFE", py.read_text())
        for i, line in enumerate(text.splitlines(), 1):
            if ".SAFE" in line:
                continue
            if _BARE_TS_CAST.search(line):
                offenders.append(f"{py.relative_to(PKG_ROOT)}:{i}: {line.strip()}")
    assert not offenders, (
        "bare numeric cast on a timestamp column (breaks under "
        "TIMESTAMP_NTZ inputs); use .cast('timestamp').cast('long'):\n"
        + "\n".join(offenders)
    )


class _StoppedSC:
    """Stub mimicking a stopped SparkContext (``_jsc is None`` is the
    post-stop state py4j leaves behind)."""

    applicationId = "app-dead"
    _jsc = None


class _StoppedSession:
    sparkContext = _StoppedSC()


def test_df_cache_sweeps_stopped_sessions(spark, tmp_path):
    # r17 ADVICE fix: the plan memo must not pin dead sessions' entries.
    # The sweep runs when a record is inserted (a miss), never on a hit.
    from gcp_map_reduce_spark.sources import tables

    load_table(spark, SF_ORACLE, "documents")
    dead_key = ("app-dead", 0)
    with tables._DF_CACHE_LOCK:
        tables._DF_CACHE[dead_key] = (_StoppedSession(), {})
    load_table(spark, SF_ORACLE, "documents")  # a hit does not sweep
    with tables._DF_CACHE_LOCK:
        assert dead_key in tables._DF_CACHE
    _copy_documents(str(tmp_path))
    load_table(spark, str(tmp_path), "documents")  # a miss sweeps
    with tables._DF_CACHE_LOCK:
        assert dead_key not in tables._DF_CACHE
        live = [
            k for k, (s, _) in tables._DF_CACHE.items() if s is spark
        ]
    assert live, "live session's entry must survive the sweep"


def _copy_documents(sf_dir: str) -> pathlib.Path:
    """Copy the oracle corpus's documents table into ``sf_dir``."""
    import shutil

    src = pathlib.Path(SF_ORACLE, "documents.parquet")
    dst = pathlib.Path(sf_dir, "documents.parquet")
    if src.is_dir():
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return dst


def _regenerate_in_place(dst: pathlib.Path) -> None:
    """Bump the dataset mtime (5 s forward — the fingerprint must
    actually change), as an in-place regeneration would."""
    import os
    import time

    later = time.time() + 5
    for p in list(dst.rglob("*")) if dst.is_dir() else [dst]:
        os.utime(p, (later, later))


def test_df_cache_drops_stale_corpus_generation(spark, tmp_path):
    # regenerating a corpus in place must REPLACE the cached plan, not
    # accumulate a second generation
    from gcp_map_reduce_spark.sources import tables

    sf_dir = str(tmp_path)
    dst = _copy_documents(sf_dir)
    load_table(spark, sf_dir, "documents")
    _regenerate_in_place(dst)
    load_table(spark, sf_dir, "documents")
    with tables._DF_CACHE_LOCK:
        entry = next(
            e for k, e in tables._DF_CACHE.items() if e[0] is spark
        )
        gens = [k for k in entry[1] if k == (sf_dir, "documents")]
    assert len(gens) == 1


def test_load_corpus_probes_once_per_corpus_generation(
    spark, tmp_path, monkeypatch
):
    # the fan-out probe plans the scan on the driver; it must run once
    # per corpus generation, and again after an in-place regeneration
    from gcp_map_reduce_spark.operators import scale
    from gcp_map_reduce_spark.sources.tables import load_corpus

    calls = []
    probe = scale.ensure_parallelism

    def counting_probe(df, min_partitions):
        calls.append(min_partitions)
        return probe(df, min_partitions)

    monkeypatch.setattr(scale, "ensure_parallelism", counting_probe)
    sf_dir = str(tmp_path)
    dst = _copy_documents(sf_dir)
    first = load_corpus(spark, sf_dir, "documents")
    load_table(spark, sf_dir, "documents")  # a plain load keeps the decision
    assert load_corpus(spark, sf_dir, "documents") is first
    assert calls == [spark.sparkContext.defaultParallelism]

    _regenerate_in_place(dst)
    second = load_corpus(spark, sf_dir, "documents")
    assert second is not first
    assert load_corpus(spark, sf_dir, "documents") is second
    assert len(calls) == 2
    # the one-file corpus is split-starved: the kept decision fans out
    assert second.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
