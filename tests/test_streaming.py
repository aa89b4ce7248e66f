"""Streaming tests: file-trigger full-recompute parity with the batch
wordcount, and incremental watermarked aggregation vs the batch answer."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _ingest_in_name_order(src) -> None:
    """The file source takes new files in mtime order (ms), and files
    written within one ms tie in directory-listing order. Give each file
    in ``src`` its own second, in name order, so that a
    ``max_files_per_trigger=1`` stream ingests f0, f1, ... as the
    order-dependent assertions below assume."""
    for i, p in enumerate(sorted(src.iterdir())):
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))


def test_file_trigger_full_recompute(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_file_trigger_wordcount

    inp = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    inp.mkdir()

    (inp / "doc1.txt").write_text("Hello, world!\nhello AGAIN\n")
    q = run_file_trigger_wordcount(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)
    got = {
        r["word"]: r["cnt"]
        for r in spark.read.parquet(str(out / "final")).collect()
    }
    assert got == {"hello": 2, "world": 1, "again": 1}

    # second upload triggers full recompute over BOTH files (reference
    # semantics: every upload recomputes the final output)
    (inp / "doc2.txt").write_text("world — encore\n")
    q2 = run_file_trigger_wordcount(spark, str(inp), str(out), str(ckpt))
    q2.awaitTermination(120)
    got2 = {
        r["word"]: r["cnt"]
        for r in spark.read.parquet(str(out / "final")).collect()
    }
    assert got2 == {"hello": 2, "world": 2, "again": 1, "encore": 1}

    # replay idempotence: foreachBatch is at-least-once, so a crashed
    # checkpoint commit replays batches. Simulate by wiping the checkpoint
    # and re-draining — every file re-arrives under the same batch ids and
    # must OVERWRITE its corpus subdir, leaving the counts unchanged
    import shutil

    shutil.rmtree(str(ckpt))
    q3 = run_file_trigger_wordcount(spark, str(inp), str(out), str(ckpt))
    q3.awaitTermination(120)
    got3 = {
        r["word"]: r["cnt"]
        for r in spark.read.parquet(str(out / "final")).collect()
    }
    assert got3 == got2, "replayed batches must not inflate the corpus"


def test_incremental_event_counts_matches_batch(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_incremental_event_counts
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "events"
    ckpt = tmp_path / "ckpt2"
    # stage the sf0.001 events as the "arriving" files
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(src))

    q = run_incremental_event_counts(
        spark, str(src), str(ckpt), query_name="evcounts_test"
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM evcounts_test")

    batch = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    # availableNow + append emits only windows sealed by the watermark;
    # verify every emitted window matches the batch answer exactly.
    emitted = {
        (r["window_start"], r["event_type"]): r["n"] for r in got.collect()
    }
    assert emitted, "stream should finalize at least the early windows"
    want = {(r["w"]["start"], r["event_type"]): r["n"] for r in batch.collect()}
    for key, n in emitted.items():
        assert want.get(key) == n, key


def test_stateful_sessionize_emits_closed_sessions(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_stateful_sessionize
    from gcp_map_reduce_spark.operators.relational import sessionize_events
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "events_stateful"
    ckpt = tmp_path / "ckpt3"
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # two time-ordered files so the second micro-batch's watermark closes
    # the first batch's stale sessions
    pdf = ev.orderBy("ts").toPandas()
    # micros precision: the stream schema declares `ts timestamp` and the
    # session reads nanos-typed parquet as bigint
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    mid = len(pdf) // 2
    src.mkdir()
    # plain FILES directly under src — the file-stream source does not
    # descend into directory-shaped spark parquet output
    pdf.iloc[:mid].to_parquet(str(src / "a.parquet"), index=False)
    pdf.iloc[mid:].to_parquet(str(src / "b.parquet"), index=False)

    q = run_stateful_sessionize(
        spark,
        str(src),
        str(ckpt),
        query_name="sessions_test",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM sessions_test").collect()
    assert got, "watermark advance across micro-batches should close sessions"

    # per-session ground truth, computed directly: sort per user by ts,
    # split at gaps > 30 min — every emitted session must match one of
    # these EXACTLY (start, end, n_events, total), which fails if the
    # operator ever merges across an intra-batch gap
    gap_us = 30 * 60 * 1_000_000
    truth = set()
    last_per_user = set()
    for uid, g in pdf.sort_values("ts").groupby("user_id"):
        ts = g["ts"].astype("int64").to_numpy()  # microseconds
        brk = [0] + [i for i in range(1, len(ts)) if ts[i] - ts[i - 1] > gap_us]
        bounds = brk + [len(ts)]
        for j in range(len(brk)):
            lo, hi = bounds[j], bounds[j + 1]
            key = (
                uid,
                int(ts[lo] // 1000),
                int(ts[hi - 1] // 1000),
                hi - lo,
                round(float(g["value"].iloc[lo:hi].sum()), 6),
            )
            truth.add(key)
            if j == len(brk) - 1:
                last_per_user.add(key)
    emitted = set()
    for r in got:
        key = (
            r["user_id"],
            int(pd.Timestamp(r["session_start"]).value // 1_000_000),
            int(pd.Timestamp(r["session_end"]).value // 1_000_000),
            r["n_events"],
            round(r["total_value"], 6),
        )
        assert key not in emitted, f"duplicate session emission: {key}"
        emitted.add(key)
        assert key in truth, f"emitted session not in batch truth: {key}"
    # everything except (possibly) each user's trailing open session must
    # have been closed and emitted by the drain
    assert truth - last_per_user <= emitted, (
        "closed sessions missing from the stream output: "
        f"{sorted(truth - last_per_user - emitted)[:5]}"
    )
    # sanity on aggregate counts vs the registered batch operator
    batch = {
        r["user_id"]: r["n_sessions"]
        for r in sessionize_events(spark, "/root/testdata/sf0.001").collect()
    }
    from collections import Counter

    per_user = Counter(k[0] for k in emitted)
    for uid, n_sess in per_user.items():
        assert n_sess <= batch[uid], (uid, n_sess, batch[uid])


def test_streaming_dedup_emits_each_hash_once(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_streaming_dedup
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "docs_dedup"
    ckpt = tmp_path / "ckpt4"
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas()
    src.mkdir()
    # duplicate content across two "arriving" files: the second batch must
    # add NO rows for hashes already emitted
    pdf.to_parquet(str(src / "a.parquet"), index=False)
    pdf.assign(doc_id=pdf["doc_id"] + 100000).to_parquet(
        str(src / "b.parquet"), index=False
    )

    q = run_streaming_dedup(
        spark,
        str(src),
        str(ckpt),
        query_name="dedup_stream_test",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM dedup_stream_test").collect()
    n_distinct_content = docs.select("text").distinct().count()
    assert len(got) == n_distinct_content
    hashes = [r["text_hash"] for r in got]
    assert len(hashes) == len(set(hashes))


def test_stream_static_enrich_matches_batch_join(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_stream_static_enrich
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "events_enrich"
    ckpt = tmp_path / "ckpt5"
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src.mkdir()
    pdf.to_parquet(str(src / "a.parquet"), index=False)

    q = run_stream_static_enrich(
        spark,
        str(src),
        "/root/testdata/sf0.001/customer.parquet",
        str(ckpt),
        query_name="enrich_test",
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM enrich_test")

    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    want = ev.join(cust, ev.user_id == cust.c_custkey).count()
    assert got.count() == want
    # every emitted row carries a real segment
    assert got.filter(F.col("c_mktsegment").isNull()).count() == 0


def test_streaming_dedup_restart_resumes_from_checkpoint(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_streaming_dedup
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "docs_restart"
    ckpt = tmp_path / "ckpt6"
    out = tmp_path / "dedup_out"
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas()
    src.mkdir()
    pdf.to_parquet(str(src / "a.parquet"), index=False)

    # first run drains file a and stops (availableNow); durable sink
    q1 = run_streaming_dedup(spark, str(src), str(ckpt), output_dir=str(out))
    q1.awaitTermination(120)
    n_distinct = docs.select("text").distinct().count()
    assert spark.read.parquet(str(out)).count() == n_distinct

    # new file lands with ALL duplicate content; a restarted query on the
    # SAME checkpoint must recover its dedup state and emit nothing new
    pdf.assign(doc_id=pdf["doc_id"] + 500000).to_parquet(
        str(src / "b.parquet"), index=False
    )
    q2 = run_streaming_dedup(spark, str(src), str(ckpt), output_dir=str(out))
    q2.awaitTermination(120)
    after = spark.read.parquet(str(out)).count()
    assert after == n_distinct, (after, n_distinct)


def test_streaming_near_dup_dedup(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_streaming_near_dup_dedup
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "docs_nd"
    ckpt = tmp_path / "ckpt_nd"
    store = tmp_path / "nd_store"
    out = tmp_path / "nd_out"
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id")
    src.mkdir()
    # batch 1: the corpus as-is
    pdf.to_parquet(str(src / "a.parquet"), index=False)
    q1 = run_streaming_near_dup_dedup(
        spark, str(src), str(ckpt), str(store), str(out)
    )
    q1.awaitTermination(180)
    first = {
        r["doc_id"] for r in spark.read.parquet(str(out / "*")).collect()
    }
    assert first, "first batch should accept documents"

    # batch 2 (restart from checkpoint): lightly-perturbed COPIES of
    # accepted docs (append two words -> jaccard stays ~1) plus one
    # genuinely novel document
    dup = pdf[pdf["doc_id"].isin(sorted(first)[:20])].copy()
    dup["doc_id"] = dup["doc_id"] + 700000
    dup["text"] = dup["text"] + " trailing perturbation"
    novel_id = 990001
    novel = dup.iloc[:1].copy()
    novel["doc_id"] = novel_id
    novel["text"] = "completely novel zebra quantum discourse " * 30
    import pandas as pd

    pd.concat([dup, novel]).to_parquet(str(src / "b.parquet"), index=False)
    q2 = run_streaming_near_dup_dedup(
        spark, str(src), str(ckpt), str(store), str(out)
    )
    q2.awaitTermination(180)
    after = {
        r["doc_id"] for r in spark.read.parquet(str(out / "*")).collect()
    }
    new_ids = after - first
    assert novel_id in new_ids, "novel content must be accepted"
    # every perturbed copy must be suppressed as a near-dup of the store
    assert not (new_ids & set(dup["doc_id"])), sorted(new_ids)[:5]


def _bound_mirrors(monkeypatch, bound: int | None) -> list[int]:
    """Set ``near_dup.STORE_MIRROR_MAX_ROWS`` (None keeps the shipped
    value) and return a list that collects the rows the mirror dict held
    after every fit — the points where a mirror grows."""
    from gcp_map_reduce_spark.streaming import near_dup as nd

    monkeypatch.undo()
    if bound is not None:
        monkeypatch.setattr(nd, "STORE_MIRROR_MAX_ROWS", bound)
    seen: list[int] = []
    fit = nd._fit_mirrors

    def checked(mirrors, store_dir):
        fit(mirrors, store_dir)
        seen.append(nd._mirror_rows(mirrors))

    monkeypatch.setattr(nd, "_fit_mirrors", checked)
    return seen


def test_near_dup_mirror_equals_store_probe(spark, tmp_path, monkeypatch):
    """The driver mirror probe and the store-side probe (the one-job
    mapInPandas a remote store, or one over STORE_MIRROR_MAX_ROWS,
    takes) must make IDENTICAL decisions, store rows included, on a
    multi-batch drain with real cross-batch and within-batch near-dups:
    with the shipped bound (mirror throughout), a bound of 0 (no mirror
    kept) and a bound crossed mid-stream. The mirror dict never holds
    more rows than the bound."""
    import pandas as pd

    from gcp_map_reduce_spark.sources.tables import load_table
    from gcp_map_reduce_spark.streaming import near_dup as nd
    from gcp_map_reduce_spark.streaming.near_dup import (
        run_streaming_near_dup_dedup,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    # add perturbed copies so batches carry both within-batch and
    # cross-batch suppressions
    dup = pdf.iloc[:30].copy()
    dup["doc_id"] += 800000
    dup["text"] += " tail words"
    full = pd.concat([pdf, dup]).sort_values("doc_id").reset_index(drop=True)

    results = {}
    for name, bound in (("mirror", None), ("none", 0),
                        ("crossed", len(full) // 3)):
        seen = _bound_mirrors(monkeypatch, bound)
        root = tmp_path / name
        src = root / "docs"
        src.mkdir(parents=True)
        per = (len(full) + 3) // 4
        for b in range(4):
            sl = full.iloc[b * per : (b + 1) * per]
            sl.to_parquet(str(src / f"f{b}.parquet"), index=False)
        _ingest_in_name_order(src)
        q = run_streaming_near_dup_dedup(
            spark, str(src), str(root / "ckpt"), str(root / "store"),
            str(root / "out"), max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        out_ids = {
            r["doc_id"]
            for r in spark.read.parquet(str(root / "out" / "*")).collect()
        }
        store_rows = {
            (r["doc_id"], tuple(r["sig"]))
            for r in spark.read.parquet(
                str(root / "store" / "batch_id=*")
            ).collect()
        }
        results[name] = (out_ids, store_rows)
        assert seen and max(seen) <= nd.STORE_MIRROR_MAX_ROWS
        mirror = nd._SIG_CACHE[str(root / "store")]["chunks"]
        if bound is None:
            assert sum(len(c[0]) for c in mirror.values()) == len(store_rows)
        else:
            assert mirror is None  # over the bound: probed store-side
    monkeypatch.undo()
    for name in ("none", "crossed"):
        assert results[name][0] == results["mirror"][0]  # accepted ids
        assert results[name][1] == results["mirror"][1]  # store rows


def test_stream_stream_join_matches_batch_interval_join(spark, tmp_path):
    from gcp_map_reduce_spark.streaming import run_stream_stream_join
    from gcp_map_reduce_spark.sources.tables import load_table

    src = tmp_path / "events_ssj"
    ckpt = tmp_path / "ckpt7"
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src.mkdir()
    pdf.to_parquet(str(src / "a.parquet"), index=False)

    q = run_stream_stream_join(
        spark, str(src), str(ckpt), query_name="ssj_test"
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["buy_id"])
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id").alias("bu"),
        F.col("ts").alias("bts"),
    )
    want = {
        (r["click_id"], r["buy_id"])
        for r in clicks.join(
            buys,
            (F.col("cu") == F.col("bu"))
            & (F.col("bts") >= F.col("cts"))
            & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert want, "fixture should contain click->purchase pairs"
    # single-batch availableNow drain: inner interval join emits complete
    # results (no rows were dropped as late)
    assert got == want


def test_sliding_event_counts_matches_batch(spark, tmp_path):
    """The streaming sliding-window rollup (same F.window expression as
    the batch operator, plus a watermark) must agree with
    events_sliding_window on every window it seals."""
    from gcp_map_reduce_spark.operators.timeseries import events_sliding_window
    from gcp_map_reduce_spark.sources.tables import load_table
    from gcp_map_reduce_spark.streaming.file_trigger import (
        run_sliding_event_counts,
    )

    src = tmp_path / "events"
    ckpt = tmp_path / "ckpt_sliding"
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(str(src))

    q = run_sliding_event_counts(
        spark, str(src), str(ckpt), query_name="sliding_test"
    )
    q.awaitTermination(120)
    emitted = {
        (r.w_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    assert emitted, "stream should seal at least the early windows"
    want = {
        (r.w_start, r.event_type): (r.n, r.total_value)
        for r in events_sliding_window(spark, "/root/testdata/sf0.001").collect()
    }
    for key, v in emitted.items():
        assert want.get(key) == v, key


def test_streaming_upsert_matches_batch_merge(spark, tmp_path):
    """CDC apply: two micro-batch waves of update files merged into a
    parquet snapshot must equal one batch upsert of all updates — and a
    second wave must supersede the first on version."""
    from gcp_map_reduce_spark.sinks.writers import upsert_snapshot
    from gcp_map_reduce_spark.streaming.file_trigger import run_streaming_upsert

    schema = "k bigint, v bigint, payload string"
    updates = tmp_path / "updates"
    snapshot = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt_upsert")
    updates.mkdir()

    import glob as _glob
    import shutil as _shutil

    def land(df, name):
        # the file stream source ignores non-partition subdirectories:
        # stage the write, then move its part files to the watched root
        stage = str(updates) + f".stage_{name}"
        df.coalesce(1).write.parquet(stage)
        for i, f in enumerate(_glob.glob(f"{stage}/part-*.parquet")):
            _shutil.move(f, str(updates / f"{name}_{i}.parquet"))
        _shutil.rmtree(stage)

    wave1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], schema
    )
    land(wave1, "w1")
    q = run_streaming_upsert(
        spark, str(updates), snapshot, ckpt, key="k", version_col="v",
        schema=schema,
    )
    q.awaitTermination(120)
    first = {r.k: (r.v, r.payload) for r in spark.read.parquet(snapshot).collect()}
    assert first == {1: (10, "a"), 2: (10, "b"), 3: (10, "c")}

    wave2 = spark.createDataFrame(
        [(2, 20, "b2"), (4, 5, "d"), (3, 10, "c2")], schema
    )
    land(wave2, "w2")
    q = run_streaming_upsert(
        spark, str(updates), snapshot, ckpt, key="k", version_col="v",
        schema=schema,
    )
    q.awaitTermination(120)
    got = {r.k: (r.v, r.payload) for r in spark.read.parquet(snapshot).collect()}

    batch = upsert_snapshot(wave1, wave2, key="k", version_col="v")
    want = {r.k: (r.v, r.payload) for r in batch.collect()}
    assert got == want
    assert got[2] == (20, "b2") and got[4] == (5, "d") and got[3] == (10, "c2")


def test_streaming_upsert_idempotent_and_crash_safe(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying the SAME updates to the
    snapshot must be a no-op (keep-latest + deterministic tiebreak), and
    a crash mid-promote (leftover .old / .staging dirs) must recover to
    the previous snapshot, never the first-batch path."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from gcp_map_reduce_spark.streaming.file_trigger import run_streaming_upsert

    schema = "k bigint, v bigint, payload string"
    updates = tmp_path / "updates"
    snapshot = str(tmp_path / "snapshot")
    updates.mkdir()

    def land(df, name):
        stage = str(updates) + f".stage_{name}"
        df.coalesce(1).write.parquet(stage)
        for i, f in enumerate(_glob.glob(f"{stage}/part-*.parquet")):
            _shutil.move(f, str(updates / f"{name}_{i}.parquet"))
        _shutil.rmtree(stage)

    # duplicate (key, version) rows INSIDE one batch: winner must be
    # deterministic so retries converge
    wave = spark.createDataFrame(
        [(1, 10, "x"), (1, 10, "y"), (2, 7, "b")], schema
    )
    land(wave, "w1")
    q = run_streaming_upsert(
        spark, str(updates), snapshot, str(tmp_path / "ck1"),
        key="k", version_col="v", schema=schema,
    )
    q.awaitTermination(120)
    first = sorted(map(tuple, spark.read.parquet(snapshot).collect()))
    assert len(first) == 2

    # replay: fresh checkpoint => the SAME files are re-applied to the
    # existing snapshot (exactly what an at-least-once redelivery does)
    q = run_streaming_upsert(
        spark, str(updates), snapshot, str(tmp_path / "ck2"),
        key="k", version_col="v", schema=schema,
    )
    q.awaitTermination(120)
    replayed = sorted(map(tuple, spark.read.parquet(snapshot).collect()))
    assert replayed == first

    # crash between the two promote renames: only .old exists — the next
    # batch must roll it back instead of treating it as a first batch
    _os.rename(snapshot, snapshot + ".old")
    land(spark.createDataFrame([(3, 1, "c")], schema), "w2")
    q = run_streaming_upsert(
        spark, str(updates), snapshot, str(tmp_path / "ck3"),
        key="k", version_col="v", schema=schema,
    )
    q.awaitTermination(120)
    got = {r.k: (r.v, r.payload) for r in spark.read.parquet(snapshot).collect()}
    assert set(got) == {1, 2, 3}  # base survived the simulated crash
    assert not _os.path.isdir(snapshot + ".old")
    assert not _os.path.isdir(snapshot + ".staging")

    # crash after promote but before .old cleanup: snapshot AND .old —
    # recovery drops .old and keeps the live snapshot
    _shutil.copytree(snapshot, snapshot + ".old")
    land(spark.createDataFrame([(4, 1, "d")], schema), "w3")
    q = run_streaming_upsert(
        spark, str(updates), snapshot, str(tmp_path / "ck4"),
        key="k", version_col="v", schema=schema,
    )
    q.awaitTermination(120)
    got = {r.k for r in spark.read.parquet(snapshot).collect()}
    assert got == {1, 2, 3, 4}
    assert not _os.path.isdir(snapshot + ".old")


def test_streaming_upsert_bucketed_rewrites_only_affected_buckets(
    spark, tmp_path
):
    """The n_buckets mode of the streaming CDC apply: micro-batches merge
    into the hash-bucketed snapshot; untouched bucket files stay
    byte-identical; replaying the same files is a no-op; a crash between
    a bucket's promote renames recovers."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from gcp_map_reduce_spark.sinks.writers import (
        BUCKET_COL,
        read_snapshot_bucketed,
        upsert_snapshot,
    )
    from gcp_map_reduce_spark.streaming.file_trigger import run_streaming_upsert
    from tests.test_sinks import _snapshot_digests

    schema = "k bigint, v bigint, payload string"
    updates = tmp_path / "updates"
    snapshot = str(tmp_path / "snapshot")
    updates.mkdir()
    n_buckets = 8

    def land(df, name):
        stage = str(updates) + f".stage_{name}"
        df.coalesce(1).write.parquet(stage)
        for i, f in enumerate(_glob.glob(f"{stage}/part-*.parquet")):
            _shutil.move(f, str(updates / f"{name}_{i}.parquet"))
        _shutil.rmtree(stage)

    def run(ck):
        q = run_streaming_upsert(
            spark, str(updates), snapshot, str(tmp_path / ck),
            key="k", version_col="v", schema=schema, n_buckets=n_buckets,
        )
        q.awaitTermination(120)

    wave1 = spark.createDataFrame([(i, 1, f"p{i}") for i in range(40)], schema)
    land(wave1, "w1")
    run("ckA")
    buckets = {
        e for e in _os.listdir(snapshot) if e.startswith(f"{BUCKET_COL}=")
    }
    assert buckets

    # SAME checkpoint: the next trigger sees only the new files — that
    # is the steady-state trickle whose rewrite must stay bucket-bounded
    wave2 = spark.createDataFrame([(7, 2, "seven"), (41, 1, "new")], schema)
    before = _snapshot_digests(snapshot)
    land(wave2, "w2")
    run("ckA")
    after = _snapshot_digests(snapshot)
    changed_dirs = {
        rel.split(_os.sep)[0]
        for rel in set(before) | set(after)
        if before.get(rel) != after.get(rel)
        and rel.split(_os.sep)[0].startswith(f"{BUCKET_COL}=")
    }
    assert 1 <= len(changed_dirs) <= 2  # two keys -> at most two buckets
    # value parity with the monolithic batch merge
    want = sorted(
        map(
            tuple,
            upsert_snapshot(wave1, wave2, key="k", version_col="v").collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            read_snapshot_bucketed(spark, snapshot)
            .select("k", "v", "payload")
            .collect(),
        )
    )
    assert got == want

    # at-least-once replay: a fresh checkpoint re-applies ALL landed
    # files in one batch — the snapshot's VALUES must not change (file
    # identities do change: every affected bucket is rewritten)
    run("ckB")
    got2 = sorted(
        map(
            tuple,
            read_snapshot_bucketed(spark, snapshot)
            .select("k", "v", "payload")
            .collect(),
        )
    )
    assert got2 == want

    # crash between a bucket's two promote renames: only .old exists —
    # the next merge must restore it before proceeding
    victim = sorted(buckets)[0]
    _os.rename(
        _os.path.join(snapshot, victim),
        _os.path.join(snapshot, "." + victim + ".old"),
    )
    land(spark.createDataFrame([(42, 1, "postcrash")], schema), "w3")
    run("ckA")
    assert _os.path.isdir(_os.path.join(snapshot, victim))
    assert not any(e.endswith(".old") for e in _os.listdir(snapshot))
    keys = {r.k for r in read_snapshot_bucketed(spark, snapshot).collect()}
    assert keys == set(range(40)) | {41, 42}


_STORE_SCHEMA = "doc_id bigint, sig array<bigint>"


def _write_store_dir(spark, path, ids):
    spark.createDataFrame(
        [(i, [i, i + 1]) for i in ids], _STORE_SCHEMA
    ).coalesce(1).write.parquet(str(path))


def _store_ids(spark, store_dir):
    from gcp_map_reduce_spark.streaming.near_dup import read_store

    df = read_store(spark, _STORE_SCHEMA, str(store_dir))
    assert df.columns == ["doc_id", "sig"]
    return sorted(r["doc_id"] for r in df.collect())


def test_read_store_missing_dir_is_empty(spark, tmp_path):
    assert _store_ids(spark, tmp_path / "no_store") == []
    (tmp_path / "empty_store").mkdir()
    assert _store_ids(spark, tmp_path / "empty_store") == []


def test_read_store_batch_dirs_only(spark, tmp_path):
    """Only `batch_id=*` exists: its rows are read, and neither a
    `_codebook` dir nor a leftover `.compact-staging` dir leaks in."""
    store = tmp_path / "store"
    _write_store_dir(spark, store / "batch_id=0", [1, 2])
    _write_store_dir(spark, store / "batch_id=1", [3])
    _write_store_dir(spark, store / ".compact-staging", [100])
    spark.createDataFrame([("x",)], "c string").write.parquet(
        str(store / "_codebook")
    )
    assert _store_ids(spark, store) == [1, 2, 3]


def test_read_store_batch_and_compacted_dirs(spark, tmp_path):
    store = tmp_path / "store"
    _write_store_dir(spark, store / "compacted=1", [1, 2, 3])
    _write_store_dir(spark, store / "batch_id=2", [4])
    assert _store_ids(spark, store) == [1, 2, 3, 4]


def test_signature_store_compaction_preserves_acceptance(spark, tmp_path):
    """r11: `compact_signature_store` must (a) reduce the store to one
    compacted dir + `keep_last` batch dirs with identical row content,
    (b) leave the STREAM's acceptance decisions unchanged when ingest
    continues over the compacted store (the _bid=-1 default keeps
    compacted rows in the join), and (c) self-heal the
    crash-between-write-and-delete window (duplicate rows are merged
    away on the next call, never lost)."""
    import glob
    import os
    import shutil

    import pandas as pd

    from gcp_map_reduce_spark.sources.tables import load_table
    from gcp_map_reduce_spark.streaming.near_dup import (
        compact_signature_store,
        run_streaming_near_dup_dedup,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    per = (len(pdf) + 3) // 4

    def drain(root, files):
        src = root / "docs"
        src.mkdir(exist_ok=True)
        for name, sl in files:
            sl.to_parquet(str(src / name), index=False)
        _ingest_in_name_order(src)
        q = run_streaming_near_dup_dedup(
            spark, str(src), str(root / "ckpt"), str(root / "store"),
            str(root / "out"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        return {
            r["doc_id"]
            for r in spark.read.parquet(str(root / "out" / "*")).collect()
        }

    slices = [
        (f"f{b}.parquet", pdf.iloc[b * per : (b + 1) * per]) for b in range(4)
    ]
    # follow-up batch: perturbed copies of early docs + one novel doc
    dup = pdf.iloc[:15].copy()
    dup["doc_id"] += 900000
    dup["text"] += " tail tweak"
    novel = dup.iloc[:1].copy()
    novel["doc_id"] = 990009
    novel["text"] = "utterly novel walrus cadenza " * 40
    follow = ("g.parquet", pd.concat([dup, novel]))

    # reference: no compaction anywhere
    ref_root = tmp_path / "ref"
    ref_root.mkdir()
    drain(ref_root, slices)
    ref = drain(ref_root, [follow])

    # compacted: drain 4 batches, compact, then the same follow-up batch
    c_root = tmp_path / "cmp"
    c_root.mkdir()
    drain(c_root, slices)
    store = str(c_root / "store")
    before = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(f"{store}/*").collect()
    }
    merged = compact_signature_store(spark, store, keep_last=1)
    assert merged == 3  # 4 batch dirs - keep_last
    assert len(glob.glob(f"{store}/compacted=*")) == 1
    assert len(glob.glob(f"{store}/batch_id=*")) == 1
    after = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(f"{store}/*").collect()
    }
    assert after == before  # content-identical store
    got = drain(c_root, [follow])
    assert got == ref  # acceptance decisions unchanged over compacted store

    # crash window: compacted dir written but an input survived the kill
    # -> duplicate rows; the next call merges everything and self-heals
    leftover = glob.glob(f"{store}/compacted=*")[0]
    dup_dir = f"{store}/batch_id=0"
    shutil.copytree(leftover, dup_dir)  # plant subsumed duplicate input
    n_dup = spark.read.parquet(f"{store}/*").count()
    assert n_dup > len(after)  # duplicates really present
    expected_rows = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(f"{store}/compacted=*").collect()
    } | {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(f"{store}/batch_id=[1-9]*").collect()
    }
    # keep_last=0 is rejected outright (r12 advice fix: the newest batch
    # may be uncommitted; compacting it breaks all-docs-store replay)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_last"):
        compact_signature_store(spark, store, keep_last=0)
    # ... and a remote-scheme store_dir is refused rather than no-opped
    with _pytest.raises(ValueError, match="scheme"):
        compact_signature_store(spark, "s3a://bucket/store")
    compact_signature_store(spark, store, keep_last=1)
    healed_rows = [
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(f"{store}/*").collect()
    ]
    # the newest batch dir stays uncompacted (keep_last=1); the planted
    # subsumed duplicate and every older input merged into compacted=
    remaining = glob.glob(f"{store}/batch_id=*")
    assert [p.rsplit("=", 1)[1] for p in remaining] == ["4"], remaining
    # nothing lost, duplicates collapsed (row COUNT equals the set size)
    assert set(healed_rows) == expected_rows
    assert len(healed_rows) == len(expected_rows)


def test_streaming_embedding_near_dup_parity_with_batch_ivf(spark, tmp_path):
    """r11: the streaming embedding near-dup's acceptance policy must
    replay EXACTLY over the batch IVF pair graph (same codebook — the
    stream persists first-batch rank seeds, and id-ordered slicing makes
    them the corpus rank seeds the batch op uses): a vector is suppressed
    iff it cell-collides at cosine >= threshold with an earlier-batch
    ACCEPTED vector or a lower-id same-batch vector. Also checks restart
    + replay-guard behavior (second drain continues from checkpoint) and
    the store compactor generalization."""
    import glob
    import os

    import duckdb

    from gcp_map_reduce_spark.operators.similarity import (
        embedding_near_dup_pairs_ivf,
    )
    from gcp_map_reduce_spark.streaming.embedding_near_dup import (
        EMB_STORE_SCHEMA,
        run_streaming_embedding_near_dup,
    )
    from gcp_map_reduce_spark.streaming.near_dup import (
        compact_signature_store,
    )

    # corpus: base + scaled copies (cosine exactly 1.0 with originals)
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    duckdb.sql(
        "COPY (SELECT vec_id, embedding"
        " FROM '/root/testdata/sf0.001/embeddings.parquet'"
        " UNION ALL"
        " SELECT vec_id + 1000,"
        "   list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT))"
        " FROM '/root/testdata/sf0.001/embeddings.parquet')"
        f" TO '{corpus}/embeddings.parquet' (FORMAT PARQUET)"
    )

    # id-ordered 4-batch slicing
    pdf = (
        spark.read.parquet(f"{corpus}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    per = (len(pdf) + 3) // 4
    batch_of = {}
    for b in range(4):
        sl = pdf.iloc[b * per : (b + 1) * per]
        sl.to_parquet(str(src / f"f{b}.parquet"), index=False)
        for v in sl["vec_id"]:
            batch_of[int(v)] = b
    _ingest_in_name_order(src)

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    # r12: the stream sizes its codebook from the planned ingest volume
    # via the SAME probe-scaled formula as the batch op — that identity
    # (not a shared constant) is what keeps the parity below exact
    q = run_streaming_embedding_near_dup(
        spark, str(src), str(tmp_path / "ckpt"), store, out,
        max_files_per_trigger=1, expected_corpus_size=len(pdf),
    )
    q.awaitTermination(300)
    accepted = {
        int(r["vec_id"]) for r in spark.read.parquet(f"{out}/*").collect()
    }

    # replay the acceptance policy over the batch IVF pair graph
    nbr: dict[int, set] = {}
    for r in embedding_near_dup_pairs_ivf(spark, corpus).collect():
        a, b = int(r["vec_a"]), int(r["vec_b"])
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    sim: set = set()
    for b in range(4):
        ids = sorted(v for v, bb in batch_of.items() if bb == b)
        in_batch = set(ids)
        for v in ids:
            hits = nbr.get(v, set())
            if any(h in sim and batch_of[h] < b for h in hits):
                continue
            if any(h in in_batch and h < v for h in hits):
                continue
            sim.add(v)
    assert accepted == sim, (
        sorted(accepted - sim)[:5],
        sorted(sim - accepted)[:5],
    )
    # the scaled copies arrive after their originals -> suppressed
    assert accepted and not any(v >= 1000 for v in accepted if v - 1000 in accepted)

    # compactor generalization: merge the embedding store, content intact
    before = {
        int(r["vec_id"])
        for r in spark.read.parquet(f"{store}/batch_id=*").collect()
    }
    merged = compact_signature_store(
        spark, store, keep_last=1, schema=EMB_STORE_SCHEMA, key="vec_id"
    )
    assert merged == 3
    paths = sorted(glob.glob(f"{store}/batch_id=*")) + sorted(
        glob.glob(f"{store}/compacted=*")
    )
    after = {
        int(r["vec_id"])
        for r in spark.read.schema(EMB_STORE_SCHEMA).parquet(*paths).collect()
    }
    assert after == before
    # and a post-compaction batch still dedups against the merged store:
    # replay the SAME stream dir into a new checkpoint/out — every doc is
    # now a store near-dup of itself's twin? No: same ids are excluded;
    # instead append one more batch of fresh scaled copies (ids +5000)
    extra = pdf.iloc[:40].copy()
    extra["vec_id"] = extra["vec_id"] + 5000
    extra.to_parquet(str(src / "g.parquet"), index=False)
    q2 = run_streaming_embedding_near_dup(
        spark, str(src), str(tmp_path / "ckpt"), store, out,
        max_files_per_trigger=1, expected_corpus_size=len(pdf),
    )
    q2.awaitTermination(300)
    accepted2 = {
        int(r["vec_id"]) for r in spark.read.parquet(f"{out}/*").collect()
    }
    new_ids = accepted2 - accepted
    # the fresh copies are parallel to stored originals -> all suppressed
    assert not (new_ids & set(int(v) for v in extra["vec_id"])), sorted(new_ids)[:5]


def test_embedding_mirror_equals_distributed(spark, tmp_path, monkeypatch):
    """The driver-centric embedding acceptance (numpy d-sequential
    folds + driver store mirror) must make IDENTICAL decisions to the
    store-side plan a remote store, or one over STORE_MIRROR_MAX_ROWS,
    runs — store rows included (vec_id, e, n2, cells) — on a
    multi-batch drain with true near-dups: with the shipped bound, a
    bound of 0 and a bound crossed after the first trigger (which also
    moves the stream from the driver codebook loader to the plan-side
    one). The mirror dict never holds more rows than the bound."""
    import duckdb
    import os

    from gcp_map_reduce_spark.streaming import embedding_near_dup as end
    from gcp_map_reduce_spark.streaming import near_dup as nd

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    duckdb.sql(
        "COPY (SELECT vec_id, embedding"
        " FROM '/root/testdata/sf0.001/embeddings.parquet'"
        " UNION ALL"
        " SELECT vec_id + 1000,"
        "   list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT))"
        " FROM '/root/testdata/sf0.001/embeddings.parquet')"
        f" TO '{corpus}/embeddings.parquet' (FORMAT PARQUET)"
    )
    pdf = (
        spark.read.parquet(f"{corpus}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    results = {}
    for name, bound in (("mirror", None), ("none", 0),
                        ("crossed", len(pdf) // 6)):
        seen = _bound_mirrors(monkeypatch, bound)
        root = tmp_path / name
        src = root / "vecs"
        src.mkdir(parents=True)
        per = (len(pdf) + 3) // 4
        for b in range(4):
            pdf.iloc[b * per : (b + 1) * per].to_parquet(
                str(src / f"f{b}.parquet"), index=False
            )
        q = end.run_streaming_embedding_near_dup(
            spark, str(src), str(root / "ckpt"), str(root / "store"),
            str(root / "out"), max_files_per_trigger=1,
            expected_corpus_size=len(pdf),
        )
        q.awaitTermination(300)
        out_ids = {
            int(r["vec_id"])
            for r in spark.read.parquet(str(root / "out" / "*")).collect()
        }
        store_rows = {
            (int(r["vec_id"]), tuple(r["e"]), r["n2"], tuple(r["cells"]))
            for r in spark.read.schema(end.EMB_STORE_SCHEMA)
            .parquet(str(root / "store" / "batch_id=*"))
            .collect()
        }
        results[name] = (out_ids, store_rows)
        assert seen and max(seen) <= nd.STORE_MIRROR_MAX_ROWS
        mirror = end._EMB_CACHE[str(root / "store")]["chunks"]
        if bound is None:
            assert sum(len(c[0]) for c in mirror.values()) == len(store_rows)
        else:
            assert mirror is None  # over the bound: store-side plan
    monkeypatch.undo()
    for name in ("none", "crossed"):
        assert results[name][0] == results["mirror"][0]  # accepted ids
        assert results[name][1] == results["mirror"][1]  # store rows


def test_embedding_stream_reseeds_codebook_after_store_removed(
    spark, tmp_path
):
    """A store removed and re-created under the same path is seeded
    from ITS first batch: the driver codebook cache is keyed to the
    committed ``_codebook`` dir, so it must not hand back the removed
    store's cells (nor skip writing the new ``_codebook``)."""
    import duckdb
    import shutil

    from gcp_map_reduce_spark.operators.similarity import IVF_DEDUP_CELLS
    from gcp_map_reduce_spark.streaming.embedding_near_dup import (
        run_streaming_embedding_near_dup,
    )

    store = tmp_path / "store"

    def drain(name: str, offset: int) -> None:
        src = tmp_path / name / "vecs"
        src.mkdir(parents=True)
        duckdb.sql(
            f"COPY (SELECT vec_id + {offset} AS vec_id, embedding"
            " FROM '/root/testdata/sf0.001/embeddings.parquet')"
            f" TO '{src}/a.parquet' (FORMAT PARQUET)"
        )
        q = run_streaming_embedding_near_dup(
            spark, str(src), str(tmp_path / name / "ckpt"), str(store),
            str(tmp_path / name / "out"),
        )
        q.awaitTermination(300)

    drain("first", 0)
    shutil.rmtree(store)
    drain("second", 5000)
    assert (store / "_codebook").is_dir()
    cells = sorted(
        r.cell_id for r in spark.read.parquet(str(store / "_codebook")).collect()
    )
    lowest = sorted(
        r.vec_id + 5000
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
    )[:IVF_DEDUP_CELLS]
    assert cells == lowest


@pytest.mark.parametrize("driver", [False, True], ids=["plan", "driver"])
def test_embedding_codebook_commit_rules(spark, tmp_path, driver):
    """The stream's one seed step decides "is there a codebook" by one
    listing, not by a failed read, on both trigger paths (the store-side
    plan and the driver mirror, each with its own seed rows and codebook
    reader): an uncommitted (`_temporary`-only) codebook is reseeded
    from the batch and then kept; an empty first batch raises; a
    committed codebook that cannot be read raises and is left as is."""
    from gcp_map_reduce_spark.operators.ann_index import _codebook_driver
    from gcp_map_reduce_spark.streaming.embedding_near_dup import (
        _CODEBOOK_SCHEMA,
        _stream_codebook,
    )

    def cell_ids(store_dir, batch) -> list[int]:
        if driver:
            cb_dir = _stream_codebook(spark, str(store_dir), batch.toPandas, 3)
            return sorted(int(c) for c in _codebook_driver(spark, cb_dir)[0])
        cb_dir = _stream_codebook(
            spark, str(store_dir),
            lambda: batch.orderBy("vec_id").limit(3).toPandas(), 3,
        )
        cb = spark.read.schema(_CODEBOOK_SCHEMA).parquet(cb_dir)
        return sorted(r.cell_id for r in cb.collect())

    schema = "vec_id bigint, e array<double>, n2 double"
    feats = spark.createDataFrame(
        [(i, [float(i), 1.0], float(i * i + 1)) for i in range(10, 0, -1)],
        schema,
    )

    # a first trigger killed mid-write: readable parquet, but only
    # under _temporary
    killed = tmp_path / "killed"
    spark.createDataFrame(
        [(100, [1.0, 0.0], 1.0)], "cell_id bigint, ce array<double>, cn2 double"
    ).write.parquet(str(killed / "_codebook" / "_temporary" / "0"))
    assert cell_ids(killed, feats) == [1, 2, 3]
    assert cell_ids(killed, feats.filter("vec_id > 5")) == [1, 2, 3]

    with pytest.raises(ValueError, match="first batch is empty"):
        cell_ids(tmp_path / "fresh", spark.createDataFrame([], schema))

    broken = tmp_path / "broken" / "_codebook"
    broken.mkdir(parents=True)
    (broken / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        cell_ids(broken.parent, feats)
    assert sorted(os.listdir(broken)) == ["part-00000.parquet"]
    assert (broken / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_curated_dense_latch_bounded(monkeypatch):
    """The per-driver dense-store latch holds at most DENSE_STORES_MAX
    store dirs: a new dense store past the bound starts it over."""
    from gcp_map_reduce_spark.streaming import curated

    monkeypatch.setattr(curated, "DENSE_STORES_MAX", 2)
    monkeypatch.setattr(curated, "_DENSE_STORES", set())
    for i in range(5):
        curated._latch_dense(f"store{i}")
        assert f"store{i}" in curated._DENSE_STORES
        assert len(curated._DENSE_STORES) <= 2
    assert curated._DENSE_STORES == {"store4"}


def test_streaming_curated_corpus_equals_batch_pipeline(spark, tmp_path):
    """r11 flagship composition at ingest: the streaming curated corpus
    (quality gate -> first-ever exact dedup -> verified near-dup removal)
    must reproduce the BATCH curated_corpus output ROW-FOR-ROW under
    id-ordered ingest — same hash family, same verified-edge criterion
    (exact gram Jaccard >= 0.8 on band candidates), same quality gate —
    regardless of how many micro-batches the corpus arrives in."""
    from gcp_map_reduce_spark.operators.pipeline import curated_corpus
    from gcp_map_reduce_spark.sources.tables import load_table
    from gcp_map_reduce_spark.streaming.curated import (
        run_streaming_curated_corpus,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text", "lang")
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    src = tmp_path / "docs"
    src.mkdir()
    per = (len(pdf) + 3) // 4
    for b in range(4):
        pdf.iloc[b * per : (b + 1) * per].to_parquet(
            str(src / f"f{b}.parquet"), index=False
        )
    _ingest_in_name_order(src)

    out = str(tmp_path / "out")
    q = run_streaming_curated_corpus(
        spark, str(src), str(tmp_path / "ckpt"),
        str(tmp_path / "hashes"), str(tmp_path / "sigs"), out,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/*")
        .select("doc_id", "lang", "n_chars", "n_tokens")
        .collect()
    }
    want = {
        tuple(r)
        for r in curated_corpus(
            spark, sf, near_dup_source="minhash", fast_hash=True
        ).collect()
    }
    assert want  # the batch pipeline accepts documents on this corpus
    assert got == want, (
        sorted(got - want)[:5],
        sorted(want - got)[:5],
    )

    # continuation: an exact dup, a near-dup revision, and a novel doc
    import pandas as pd

    survivors = sorted(r[0] for r in want)
    base_row = pdf[pdf["doc_id"] == survivors[0]]
    exact_dup = base_row.copy(); exact_dup["doc_id"] = 800001
    near_dup = base_row.copy(); near_dup["doc_id"] = 800002
    near_dup["text"] = near_dup["text"] + " tail"
    novel = base_row.copy(); novel["doc_id"] = 800003
    novel["text"] = (
        "a genuinely novel document about walruses and the various "
        "cadenzas they compose during the long polar night season " * 8
    )
    pd.concat([exact_dup, near_dup, novel]).to_parquet(
        str(src / "g.parquet"), index=False
    )
    q2 = run_streaming_curated_corpus(
        spark, str(src), str(tmp_path / "ckpt"),
        str(tmp_path / "hashes"), str(tmp_path / "sigs"), out,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(300)
    after = {
        r["doc_id"] for r in spark.read.parquet(f"{out}/*").collect()
    }
    assert 800001 not in after  # exact dup of an accepted doc
    assert 800002 not in after  # verified near-dup (tail tweak)
    assert 800003 in after      # novel content admitted


def test_streaming_index_maintenance_parity_and_replay(spark, tmp_path):
    """The ANN-index maintenance stream: an index grown by draining two
    embedding files equals a fresh build over the full corpus
    bit-for-bit (fixed codebook + shared assignment expression), and a
    full replay (wiped checkpoint, same files) is a NO-OP — the
    if_exists='skip' idempotency contract."""
    import shutil

    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_build,
        ann_index_meta,
        ann_index_search,
    )
    from gcp_map_reduce_spark.streaming import run_streaming_index_maintenance

    SF = "/root/testdata/sf0.01"
    base = tmp_path / "basesf"
    base.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id < 400 "
        f"ORDER BY vec_id) TO '{base}/embeddings.parquet' (FORMAT PARQUET)"
    )
    src = tmp_path / "arriving"
    src.mkdir()
    for lo, hi, name in [(400, 450, "a"), (450, 500, "b")]:
        duckdb.sql(
            f"COPY (SELECT * FROM '{SF}/embeddings.parquet' "
            f"WHERE vec_id >= {lo} AND vec_id < {hi}) "
            f"TO '{src}/{name}.parquet' (FORMAT PARQUET)"
        )
    idx = str(tmp_path / "idx")
    ann_index_build(spark, str(base), idx, n_cells=8)

    # missing index fails fast, before any stream machinery
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no ANN index"):
        run_streaming_index_maintenance(
            spark, str(src), str(tmp_path / "nope"), str(tmp_path / "ck0")
        )

    ckpt = tmp_path / "ckpt_idx"
    q = run_streaming_index_maintenance(
        spark, str(src), idx, str(ckpt), max_files_per_trigger=1
    )
    q.awaitTermination(180)
    meta = ann_index_meta(idx)
    assert meta["n_vec"] == 500
    assert len(meta["segments"]) == 3  # base + one per drained file

    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, SF, fresh, n_cells=8)
    rows_grown = sorted(
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, idx).select("vec_id", "cell_id").collect()
    )
    rows_fresh = sorted(
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, fresh).select("vec_id", "cell_id").collect()
    )
    assert rows_grown == rows_fresh

    def queries():
        return (
            spark.read.parquet(SF + "/embeddings.parquet")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )

    res_grown = sorted(
        map(tuple, ann_index_search(spark, idx, queries()).collect())
    )
    res_fresh = sorted(
        map(tuple, ann_index_search(spark, fresh, queries()).collect())
    )
    assert res_grown == res_fresh and len(res_grown) == 50

    # replay from scratch: same files, wiped checkpoint -> skip-all no-op
    shutil.rmtree(str(ckpt))
    q2 = run_streaming_index_maintenance(
        spark, str(src), idx, str(tmp_path / "ckpt_idx2")
    )
    q2.awaitTermination(180)
    meta2 = ann_index_meta(idx)
    assert meta2["n_vec"] == 500
    assert meta2["segments"] == meta["segments"]  # no new segment


def test_streaming_index_takedowns(spark, tmp_path):
    """r15: the delete-side maintenance stream. Draining takedown files
    tombstones their LIVE ids (folded single dir, search equals a fresh
    build over the corpus minus them), never-present ids are skipped,
    a wiped-checkpoint replay is a no-op, and compact_at_deleted
    materializes the deletes in-stream."""
    import shutil

    import duckdb
    import pytest as _pytest

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_build,
        ann_index_meta,
        ann_index_search,
    )
    from gcp_map_reduce_spark.streaming import run_streaming_index_takedowns

    SF = "/root/testdata/sf0.01"
    idx = str(tmp_path / "idx")
    ann_index_build(spark, SF, idx, n_cells=8)

    with _pytest.raises(FileNotFoundError, match="no ANN index"):
        run_streaming_index_takedowns(
            spark, str(tmp_path / "td0"), str(tmp_path / "nope"),
            str(tmp_path / "ck0"),
        )

    # two takedown batches (ids >= 64: non-seeds, so the reduced fresh
    # build shares the codebook) + one never-present id (skip path)
    batches = [[450, 451, 452], [460, 470, 10**9]]
    dead = [450, 451, 452, 460, 470]
    td = tmp_path / "takedowns"
    td.mkdir()
    for i, ids in enumerate(batches):
        duckdb.sql(
            f"COPY (SELECT CAST(x AS BIGINT) AS vec_id FROM "
            f"(VALUES {', '.join(f'({v})' for v in ids)}) t(x)) "
            f"TO '{td}/batch{i}.parquet' (FORMAT PARQUET)"
        )
    ckpt = tmp_path / "ck_td"
    q = run_streaming_index_takedowns(
        spark, str(td), idx, str(ckpt), max_files_per_trigger=1
    )
    q.awaitTermination(180)
    meta = ann_index_meta(idx)
    assert meta["n_vec"] == 495 and meta["n_deleted"] == 5
    assert len(meta["tombstones"]) == 1  # folded across drained batches
    assert _load_vectors(spark, idx).count() == 495
    assert _load_vectors(spark, idx, include_deleted=True).count() == 500

    # search equals a fresh build over the corpus minus the takedowns
    reduced = tmp_path / "reduced"
    reduced.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id NOT IN "
        f"({', '.join(map(str, dead))}) ORDER BY vec_id) "
        f"TO '{reduced}/embeddings.parquet' (FORMAT PARQUET)"
    )
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, str(reduced), fresh, n_cells=8)

    def queries():
        return (
            spark.read.parquet(SF + "/embeddings.parquet")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )

    res = lambda p: sorted(  # noqa: E731
        map(tuple, ann_index_search(spark, p, queries()).collect())
    )
    assert res(idx) == res(fresh)

    # wiped checkpoint, same files: every id is no longer live -> no-op
    shutil.rmtree(str(ckpt))
    q2 = run_streaming_index_takedowns(
        spark, str(td), idx, str(tmp_path / "ck_td2")
    )
    q2.awaitTermination(180)
    meta2 = ann_index_meta(idx)
    assert meta2["n_deleted"] == 5
    assert meta2["tombstones"] == meta["tombstones"]  # no new commit

    # compact_at_deleted: a fresh index + one drained batch past the
    # threshold materializes in-stream (tombstones cleared, rows gone)
    idx2 = str(tmp_path / "idx2")
    ann_index_build(spark, SF, idx2, n_cells=8)
    q3 = run_streaming_index_takedowns(
        spark, str(td), idx2, str(tmp_path / "ck_td3"),
        compact_at_deleted=4,
    )
    q3.awaitTermination(180)
    meta3 = ann_index_meta(idx2)
    assert meta3["tombstones"] == [] and meta3["n_deleted"] == 0
    assert _load_vectors(spark, idx2, include_deleted=True).count() == 495
    assert res(idx2) == res(fresh)


def test_streaming_index_compaction_and_rebuild_hook(spark, tmp_path):
    """r13 maintenance hooks: a 16-batch drain with
    compact_at_segments=4 fires in-stream compaction repeatedly, the
    final index holds the SAME rows/results as a fresh build, and its
    physical file count returns to the fresh-build floor (the
    deterministic form of 'search wall returns to its pre-append
    floor': files opened per probed cell is what segment growth
    inflates). The rebuild criterion — which compaction cannot satisfy
    — surfaces through on_rebuild_due."""
    import glob
    import os

    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_build,
        ann_index_meta,
        ann_index_search,
    )
    from gcp_map_reduce_spark.streaming import run_streaming_index_maintenance

    SF = "/root/testdata/sf0.01"
    base = tmp_path / "basesf"
    base.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id < 400 "
        f"ORDER BY vec_id) TO '{base}/embeddings.parquet' (FORMAT PARQUET)"
    )
    src = tmp_path / "arriving"
    src.mkdir()
    for i in range(16):
        lo, hi = 400 + 6 * i, 406 + 6 * i
        duckdb.sql(
            f"COPY (SELECT * FROM '{SF}/embeddings.parquet' "
            f"WHERE vec_id >= {lo} AND vec_id < {hi}) "
            f"TO '{src}/f{i:02d}.parquet' (FORMAT PARQUET)"
        )
    idx = str(tmp_path / "idx")
    ann_index_build(spark, str(base), idx, n_cells=8)

    flagged = []
    q = run_streaming_index_maintenance(
        spark, str(src), idx, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compact_at_segments=4,
        on_rebuild_due=flagged.append,
        rebuild_cell_target=2,  # 2*8*2=32 < n_vec: due from the start
    )
    q.awaitTermination(600)
    meta = ann_index_meta(idx)
    assert meta["n_vec"] == 496
    # 16 appended segments were folded down mid-drain; never >= 4 left
    assert len(meta["segments"]) < 4, meta["segments"]
    # rebuild-due fired (every trigger here) with the live manifest
    assert flagged and flagged[-1]["n_vec"] == 496

    # the floor: same rows, same search results, same FILE COUNT as a
    # fresh build over the identical 496-row corpus + codebook
    full = tmp_path / "fullsf"
    full.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id < 496 "
        f"ORDER BY vec_id) TO '{full}/embeddings.parquet' (FORMAT PARQUET)"
    )
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, str(full), fresh, n_cells=8)
    rows = lambda d: sorted(  # noqa: E731
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, d).select("vec_id", "cell_id").collect()
    )
    assert rows(idx) == rows(fresh)

    def queries():
        return (
            spark.read.parquet(SF + "/embeddings.parquet")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )

    assert sorted(
        map(tuple, ann_index_search(spark, idx, queries()).collect())
    ) == sorted(
        map(tuple, ann_index_search(spark, fresh, queries()).collect())
    )
    n_files = lambda d: len(  # noqa: E731
        glob.glob(os.path.join(d, "vectors*", "cell_id=*", "*.parquet"))
    )
    if meta["segments"] == ["vectors"]:
        assert n_files(idx) == n_files(fresh)
    else:  # drain ended 1-2 triggers past the last fold
        assert n_files(idx) <= n_files(fresh) + 2 * 8


def test_streaming_rebuild_callback_resizes_index(spark, tmp_path):
    """r14 (verdict task 6): the on_rebuild_due callback rebuilds INLINE
    with ann_index_rebuild — a drain grows the index past the criterion,
    the callback (which owns the full corpus snapshot) rebuilds, and the
    published index returns to the fresh-build shape: n_cells re-sized
    from the new corpus, one base segment, rows and search results
    bit-identical to a from-scratch build, remaining drained batches
    no-oping via if_exists='skip' against the rebuilt index."""
    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_build,
        ann_index_meta,
        ann_index_rebuild,
        ann_index_search,
    )
    from gcp_map_reduce_spark.streaming import run_streaming_index_maintenance

    SF = "/root/testdata/sf0.01"
    base = tmp_path / "basesf"
    base.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id < 400 "
        f"ORDER BY vec_id) TO '{base}/embeddings.parquet' (FORMAT PARQUET)"
    )
    src = tmp_path / "arriving"
    src.mkdir()
    for i in range(4):
        lo, hi = 400 + 25 * i, 425 + 25 * i
        duckdb.sql(
            f"COPY (SELECT * FROM '{SF}/embeddings.parquet' "
            f"WHERE vec_id >= {lo} AND vec_id < {hi}) "
            f"TO '{src}/f{i}.parquet' (FORMAT PARQUET)"
        )
    idx = str(tmp_path / "idx")
    ann_index_build(spark, str(base), idx, n_cells=2)

    # the operator's corpus snapshot: everything that will have landed
    # (the realistic callback materializes base + ingested files)
    full = tmp_path / "fullsf"
    full.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' "
        f"ORDER BY vec_id) TO '{full}/embeddings.parquet' (FORMAT PARQUET)"
    )
    rebuilt = []

    def rebuild_once(meta):
        if not rebuilt:
            rebuilt.append(ann_index_rebuild(spark, str(full), idx))

    q = run_streaming_index_maintenance(
        spark, str(src), idx, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        on_rebuild_due=rebuild_once,
        rebuild_cell_target=100,  # due once n_vec > 2*2*100 = 400
    )
    q.awaitTermination(600)
    assert rebuilt, "the grown index never tripped ann_index_rebuild_due"
    meta = ann_index_meta(idx)
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, str(full), fresh)
    fresh_meta = ann_index_meta(fresh)
    # n_cells re-sized from the full corpus (not the build-time 2)
    assert meta["n_cells"] == fresh_meta["n_cells"]
    assert rebuilt[0]["n_cells"] == fresh_meta["n_cells"]
    assert meta["n_vec"] == 500 and meta["segments"] == ["vectors"]
    rows = lambda d: sorted(  # noqa: E731
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, d).select("vec_id", "cell_id").collect()
    )
    assert rows(idx) == rows(fresh)
    queries = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assert sorted(
        map(tuple, ann_index_search(spark, idx, queries).collect())
    ) == sorted(
        map(tuple, ann_index_search(spark, fresh, queries).collect())
    )


def test_streaming_index_maintenance_double_typed_corpus(spark, tmp_path):
    """r12 ADVICE: the stream reader schema was hardcoded array<float>;
    an index built over array<double> started the stream fine and
    misread inside the first trigger. The manifest now records the
    build corpus's embedding type and the reader is typed from it."""
    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_build,
        ann_index_meta,
        ann_index_search,
    )
    from gcp_map_reduce_spark.streaming import run_streaming_index_maintenance

    SF = "/root/testdata/sf0.01"
    base = tmp_path / "dblsf"
    base.mkdir()
    duckdb.sql(
        f"COPY (SELECT vec_id, embedding::DOUBLE[] AS embedding "
        f"FROM '{SF}/embeddings.parquet' WHERE vec_id < 400 ORDER BY vec_id) "
        f"TO '{base}/embeddings.parquet' (FORMAT PARQUET)"
    )
    src = tmp_path / "arriving"
    src.mkdir()
    duckdb.sql(
        f"COPY (SELECT vec_id, embedding::DOUBLE[] AS embedding "
        f"FROM '{SF}/embeddings.parquet' WHERE vec_id >= 400) "
        f"TO '{src}/a.parquet' (FORMAT PARQUET)"
    )
    idx = str(tmp_path / "idx")
    ann_index_build(spark, str(base), idx, n_cells=8)
    assert ann_index_meta(idx)["embedding_ddl"] == "array<double>"
    q = run_streaming_index_maintenance(
        spark, str(src), idx, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    meta = ann_index_meta(idx)
    assert meta["n_vec"] == 500
    res = ann_index_search(
        spark, idx,
        spark.read.parquet(str(base) + "/embeddings.parquet")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding"),
    ).collect()
    assert len(res) == 25
    # the drained half is searchable (doubles read as doubles, not junk)
    assert {r.cand_id for r in res} | {
        r.cand_id
        for r in ann_index_search(
            spark, idx,
            spark.sql("SELECT 900 AS query_id").crossJoin(
                spark.read.parquet(str(src) + "/a.parquet")
                .filter(F.col("vec_id") == 450).select("embedding")
            ),
        ).collect()
    }


def test_streaming_index_maintenance_int8_storage(spark, tmp_path):
    """The maintenance stream grows an int8-quantized index with exact
    parity to a fresh int8 build: the append quantizes with the
    build's own expression, so n2 is float-equal, and the stored form
    stays tinyint codes."""
    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_build,
        ann_index_meta,
    )
    from gcp_map_reduce_spark.streaming import run_streaming_index_maintenance

    SF = "/root/testdata/sf0.01"
    base = tmp_path / "basesf"
    base.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id < 400 "
        f"ORDER BY vec_id) TO '{base}/embeddings.parquet' (FORMAT PARQUET)"
    )
    src = tmp_path / "arriving"
    src.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id >= 400) "
        f"TO '{src}/a.parquet' (FORMAT PARQUET)"
    )
    idx = str(tmp_path / "idx")
    ann_index_build(spark, str(base), idx, n_cells=8, storage="int8")
    q = run_streaming_index_maintenance(
        spark, str(src), idx, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    assert ann_index_meta(idx)["n_vec"] == 500
    seg = spark.read.parquet(idx + "/vectors-seg0001")
    assert "ec" in seg.columns and "e" not in seg.columns
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, SF, fresh, n_cells=8, storage="int8")
    rows = lambda d: sorted(  # noqa: E731
        map(
            tuple,
            _load_vectors(spark, d).select("vec_id", "n2", "cell_id").collect(),
        )
    )
    assert rows(idx) == rows(fresh)
