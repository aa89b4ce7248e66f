"""Sink + store lifecycle tests (reference O13-O17 parity)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F


def test_sorted_single_json_sink(spark, tmp_path):
    from gcp_map_reduce_spark.sinks import write_sorted_single_json

    df = spark.createDataFrame(
        [("b", 2), ("a", 1), ("c", 3)], ["word", "cnt"]
    )
    out = str(tmp_path / "final")
    write_sorted_single_json(df, out, "word")
    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1, "fidelity sink must produce exactly one file"
    rows = [json.loads(line) for line in open(parts[0])]
    assert [r["word"] for r in rows] == ["a", "b", "c"]


def test_sorted_single_json_sink_merges_many_partitions(spark, tmp_path):
    """Many input partitions with shuffled keys still give ONE part file,
    sorted across what were different partitions."""
    import random

    from gcp_map_reduce_spark.sinks import write_sorted_single_json

    keys = [f"w{i:04d}" for i in range(400)]
    random.Random(7).shuffle(keys)
    df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)], ["word", "cnt"])
    df = df.repartition(9)
    assert df.rdd.getNumPartitions() >= 8
    out = str(tmp_path / "final")
    write_sorted_single_json(df, out, "word")
    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1
    rows = [json.loads(line) for line in open(parts[0])]
    assert [r["word"] for r in rows] == sorted(keys)


def test_launch_on_all_blank_corpus_writes_one_empty_file(spark, tmp_path):
    """Lines that normalize to nothing give no tokens: each operation
    still publishes exactly one (empty) part file, read back as 0 rows
    that still carry the operation's columns."""
    from gcp_map_reduce_spark.api import get_final_output, launch_map_reduce

    inp = tmp_path / "raw"
    inp.mkdir()
    (inp / "blank.txt").write_text("\n   \n!!!\n")
    store = str(tmp_path / "store")
    for op in ("wordcount", "invertedindex"):
        out = launch_map_reduce(spark, op, str(inp), store)
        parts = glob.glob(os.path.join(out, "part-*"))
        assert len(parts) == 1, (op, parts)
        assert os.path.getsize(parts[0]) == 0, op
        got = get_final_output(spark, op, store)
        cols = ("word", "cnt") if op == "wordcount" else ("word", "docs")
        assert got.select(*cols).count() == 0, op


def test_partitioned_write_and_point_lookup(spark, tmp_path):
    from gcp_map_reduce_spark.sinks import (
        cleanup_store,
        point_lookup,
        write_partitioned,
    )
    from gcp_map_reduce_spark.operators.wordcount import inverted_index_pairs

    pairs = inverted_index_pairs(spark, "/root/testdata/sf0.001").withColumn(
        "first_letter", F.substring("word", 1, 1)
    )
    out = str(tmp_path / "index")
    write_partitioned(pairs, out, ["first_letter"])
    # hive partition dirs exist (the scalable analog of per-letter files)
    assert any(
        p.startswith("first_letter=") for p in os.listdir(out)
    )

    hit = point_lookup(spark, out, "word", "spark")
    words = {r["word"] for r in hit.collect()}
    assert words == {"spark"}
    # the key predicate must reach the parquet scan (pushdown, O16 analog
    # of the reference's storage-side filter)
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(word,spark)" in plan, plan

    cleanup_store(out)
    assert not os.path.isdir(out)


def test_upsert_snapshot_keep_latest_semantics(spark):
    from gcp_map_reduce_spark.sinks.writers import upsert_snapshot

    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], ["k", "v", "payload"]
    )
    updates = spark.createDataFrame(
        [
            (2, 20, "b2"),   # newer version -> replaces
            (3, 10, "c2"),   # SAME version -> update wins the tie
            (4, 5, "d"),     # new key -> inserted
        ],
        ["k", "v", "payload"],
    )
    got = {
        r.k: (r.v, r.payload)
        for r in upsert_snapshot(base, updates, key="k", version_col="v").collect()
    }
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (10, "c2"), 4: (5, "d")}


def _snapshot_digests(snap: str) -> dict:
    """sha256 per file under the snapshot, keyed by relative path."""
    import hashlib

    out = {}
    for root, _dirs, files in os.walk(snap):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, snap)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def test_upsert_snapshot_bucketed_prunes_and_matches_monolithic(spark, tmp_path):
    """The bucketed CDC merge must (a) rewrite ONLY the buckets the
    update keys hash into — every file in an untouched bucket stays
    byte-identical — (b) produce the exact monolithic upsert_snapshot
    result, and (c) refuse a mismatched bucket count."""
    import pytest

    from gcp_map_reduce_spark.sinks.writers import (
        BUCKET_COL,
        read_snapshot_bucketed,
        upsert_snapshot,
        upsert_snapshot_bucketed,
    )

    schema = "k bigint, v bigint, payload string"
    snap = str(tmp_path / "snap")
    n_buckets = 8
    w1 = spark.createDataFrame([(i, 1, f"p{i}") for i in range(50)], schema)
    seeded = upsert_snapshot_bucketed(
        spark, w1, snap, "k", "v", n_buckets=n_buckets
    )
    assert seeded  # every present key bucket written

    w2 = spark.createDataFrame(
        [(3, 2, "x3"), (3, 2, "x3dup"), (60, 1, "new")], schema
    )
    before = _snapshot_digests(snap)
    touched = upsert_snapshot_bucketed(
        spark, w2, snap, "k", "v", n_buckets=n_buckets
    )
    after = _snapshot_digests(snap)
    # 2 distinct keys -> at most 2 buckets rewritten
    assert 1 <= len(touched) <= 2
    untouched = {
        f"{BUCKET_COL}={b}" for b in range(n_buckets)
    } - {f"{BUCKET_COL}={b}" for b in touched}
    assert untouched
    checked = 0
    for rel, h in before.items():
        if rel.split(os.sep)[0] in untouched:
            assert after.get(rel) == h, rel
            checked += 1
    assert checked  # the byte-identity loop actually saw files

    mono = upsert_snapshot(
        upsert_snapshot(w1.limit(0), w1, key="k", version_col="v"),
        w2,
        key="k",
        version_col="v",
    )
    got = sorted(
        map(tuple, read_snapshot_bucketed(spark, snap).select("k", "v", "payload").collect())
    )
    assert got == sorted(map(tuple, mono.collect()))

    # read-side pruning: a bucket filter reaches the partition index
    plan = (
        spark.read.parquet(snap)
        .filter(f"{BUCKET_COL} = {touched[0]}")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and BUCKET_COL in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan

    with pytest.raises(ValueError, match="mis-route"):
        upsert_snapshot_bucketed(spark, w2, snap, "k", "v", n_buckets=16)
    with pytest.raises(ValueError, match="layout column"):
        upsert_snapshot_bucketed(
            spark,
            w2.withColumnRenamed("payload", BUCKET_COL),
            snap,
            "k",
            "v",
            n_buckets=n_buckets,
        )


def test_read_snapshot_bucketed_recovers_half_promoted_bucket(spark, tmp_path):
    """A crash between a bucket's two promote renames leaves only the
    hidden ``.bucket_id=N.old`` dir; the read side must roll it back
    instead of silently returning a snapshot missing that bucket."""
    import shutil

    from gcp_map_reduce_spark.sinks.writers import (
        BUCKET_COL,
        read_snapshot_bucketed,
        upsert_snapshot_bucketed,
    )

    snap = str(tmp_path / "snap")
    rows = [(i, 1, f"p{i}") for i in range(40)]
    upsert_snapshot_bucketed(
        spark,
        spark.createDataFrame(rows, "k bigint, v bigint, payload string"),
        snap,
        "k",
        "v",
        n_buckets=4,
    )
    # simulate the crash window: live dir renamed aside, staged move lost
    victim = next(e for e in os.listdir(snap) if e.startswith(f"{BUCKET_COL}="))
    os.rename(
        os.path.join(snap, victim), os.path.join(snap, "." + victim + ".old")
    )
    got = {r.k for r in read_snapshot_bucketed(spark, snap).collect()}
    assert got == {k for k, _, _ in rows}
    # recovery restored the live dir (no hidden .old left behind)
    assert victim in os.listdir(snap)
    assert not any(e.endswith(".old") for e in os.listdir(snap))
    # completed-promote case: .old alongside a live dir is just dropped
    shutil.copytree(
        os.path.join(snap, victim), os.path.join(snap, "." + victim + ".old")
    )
    assert {r.k for r in read_snapshot_bucketed(spark, snap).collect()} == {
        k for k, _, _ in rows
    }
    assert not any(e.endswith(".old") for e in os.listdir(snap))


def test_bucketed_merge_refuses_monolithic_base_and_migrates(spark, tmp_path):
    """Pointing the bucketed merge at a monolithic snapshot (root part-*
    files, no marker) must raise, not silently drop the base rows; after
    migrate_snapshot_to_bucketed the merge works and keeps them."""
    import pytest

    from gcp_map_reduce_spark.sinks.writers import (
        migrate_snapshot_to_bucketed,
        read_snapshot_bucketed,
        upsert_snapshot_bucketed,
    )

    snap = str(tmp_path / "snap")
    schema = "k bigint, v bigint, payload string"
    base = spark.createDataFrame([(i, 1, f"p{i}") for i in range(20)], schema)
    base.write.parquet(snap)  # monolithic layout
    upd = spark.createDataFrame([(3, 2, "x3"), (99, 1, "new")], schema)
    with pytest.raises(ValueError, match="monolithic"):
        upsert_snapshot_bucketed(spark, upd, snap, "k", "v", n_buckets=4)

    migrate_snapshot_to_bucketed(spark, snap, "k", n_buckets=4)
    upsert_snapshot_bucketed(spark, upd, snap, "k", "v", n_buckets=4)
    got = {
        r.k: (r.v, r.payload)
        for r in read_snapshot_bucketed(spark, snap).collect()
    }
    assert len(got) == 21 and got[3] == (2, "x3") and got[99] == (1, "new")
    assert got[0] == (1, "p0")  # pre-migration row survived


def test_bucketed_merge_cleans_staging_on_failure(spark, tmp_path, monkeypatch):
    """A merge failure AFTER the updates landed in .staging-updates must
    not orphan the sibling dir (r8 advice: cleanup used to run only on
    the empty-affected early return and the success path)."""
    import pytest

    from gcp_map_reduce_spark.sinks import writers

    schema = "k bigint, v bigint, payload string"
    upd = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema)
    snap = str(tmp_path / "snap")

    def boom(*a, **kw):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(writers, "upsert_snapshot", boom)
    with pytest.raises(RuntimeError, match="merge failed"):
        writers.upsert_snapshot_bucketed(spark, upd, snap, "k", "v", n_buckets=4)
    assert not os.path.isdir(snap + ".staging-updates")


def test_migration_recovers_from_crash_between_renames(spark, tmp_path):
    """Crash window in migrate_snapshot_to_bucketed: between the two
    os.renames the snapshot dir is ABSENT and the data sits in
    .premigration. The next call must roll back and complete the
    migration instead of failing on the missing dir (r8 advice)."""
    from gcp_map_reduce_spark.sinks.writers import (
        migrate_snapshot_to_bucketed,
        read_snapshot_bucketed,
    )

    snap = str(tmp_path / "snap")
    schema = "k bigint, v bigint, payload string"
    base = spark.createDataFrame([(i, 1, f"p{i}") for i in range(20)], schema)
    base.write.parquet(snap)
    # simulate the crash: first rename done, second never happened
    os.rename(snap, snap + ".premigration")
    assert not os.path.isdir(snap)
    migrate_snapshot_to_bucketed(spark, snap, "k", n_buckets=4)
    got = {r.k: r.payload for r in read_snapshot_bucketed(spark, snap).collect()}
    assert got == {i: f"p{i}" for i in range(20)}
    assert not os.path.isdir(snap + ".premigration")


def test_migration_drops_stale_premigration_leftover(spark, tmp_path):
    """Crash window after the swap completed but before the cleanup: the
    live snapshot is the migrated copy and .premigration is a stale
    duplicate — the next call must remove it (previously the retry's
    os.rename failed outright on the existing dir)."""
    import pytest

    from gcp_map_reduce_spark.sinks.writers import migrate_snapshot_to_bucketed

    snap = str(tmp_path / "snap")
    schema = "k bigint, v bigint, payload string"
    base = spark.createDataFrame([(i, 1, f"p{i}") for i in range(10)], schema)
    base.write.parquet(snap)
    migrate_snapshot_to_bucketed(spark, snap, "k", n_buckets=4)
    # simulate the leftover from a crash before the final rmtree
    base.write.parquet(snap + ".premigration")
    with pytest.raises(ValueError, match="already bucketed"):
        migrate_snapshot_to_bucketed(spark, snap, "k", n_buckets=4)
    assert not os.path.isdir(snap + ".premigration")


def test_migration_refuses_to_drop_rollback_for_foreign_live_dir(spark, tmp_path):
    """r10 (r9 advice): .premigration may be the ONLY pre-migration copy.
    If the live snapshot_dir is NOT the completed bucketed layout (e.g.
    an operator manually restored a monolithic copy, or a foreign dir
    landed at the path), deleting .premigration would destroy the
    rollback data — the sweep must refuse and raise instead."""
    import pytest

    from gcp_map_reduce_spark.sinks.writers import migrate_snapshot_to_bucketed

    snap = str(tmp_path / "snap")
    schema = "k bigint, v bigint, payload string"
    base = spark.createDataFrame([(i, 1, f"p{i}") for i in range(10)], schema)
    # the rollback copy holds the real data...
    base.write.parquet(snap + ".premigration")
    # ...and the live path holds a MONOLITHIC (non-bucketed) dir
    base.limit(3).write.parquet(snap)
    with pytest.raises(RuntimeError, match="not a bucketed layout"):
        migrate_snapshot_to_bucketed(spark, snap, "k", n_buckets=4)
    # the rollback copy survived the refusal
    assert os.path.isdir(snap + ".premigration")
    assert spark.read.parquet(snap + ".premigration").count() == 10


def test_bucketed_merge_freezes_nondeterministic_updates(spark, tmp_path):
    """The affected-bucket probe and the merged rewrite must see the SAME
    update rows even when the source is non-deterministic — otherwise
    rows staged into buckets outside ``affected`` are deleted with the
    staging dir instead of promoted."""
    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.sinks.writers import (
        read_snapshot_bucketed,
        upsert_snapshot_bucketed,
    )

    # rand() re-draws per evaluation: without materialization the probe
    # and the write would each sample DIFFERENT keys
    upd = (
        spark.range(200)
        .withColumn("k", (F.rand() * 1000).cast("bigint"))
        .withColumn("v", F.lit(1))
        .withColumn("payload", F.col("k").cast("string"))
        .drop("id")
    )
    snap = str(tmp_path / "snap")
    touched = upsert_snapshot_bucketed(spark, upd, snap, "k", "v", n_buckets=8)
    snap_keys = {r.k for r in read_snapshot_bucketed(spark, snap).collect()}
    # every row the merge evaluated landed in a promoted bucket: the
    # snapshot is internally consistent (each key's bucket was promoted)
    assert snap_keys and touched
    # and no staging leftovers survive
    assert not os.path.isdir(snap + ".staging")
    assert not os.path.isdir(snap + ".staging-updates")


def test_stress_gate_exemption_list_is_pinned():
    """Empty since r9: the old dedup_clusters/curated_corpus exemption
    covered their exact-edge quadratic straggler, and the stress gate
    times both with explicit minhash edges (tools/stress_bench.py; max
    tasks ~1-3 s, no by-design straggler left). Growing the set requires
    a visible diff here plus a rationale in stress_ci.py."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_ci",
        os.path.join(os.path.dirname(__file__), "..", "tools", "stress_ci.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod._MAX_TASK_EXEMPT == set()


def test_stress_bench_covers_full_headline_set():
    """Every bench.py headline query must have a stress-gate row —
    a query outside the stress set can regress at skew invisibly."""
    import re

    with open(os.path.join(os.path.dirname(__file__), "..", "tools", "stress_bench.py")) as fh:
        src = fh.read()
    assert re.search(r"from bench import HEADLINE", src)
    assert re.search(r"headline = list\(HEADLINE\)", src)


def test_dataset_stats_counts_files_bytes_rows(spark, tmp_path):
    from gcp_map_reduce_spark.sinks.writers import dataset_stats

    path = str(tmp_path / "ds")
    spark.range(1000).repartition(4).write.parquet(path)
    stats = dataset_stats(spark, path)
    assert stats["rows"] == 1000
    assert stats["files"] >= 4  # 4 part files + _SUCCESS
    assert stats["bytes"] > 0


def test_write_sorted_layout_produces_prunable_row_groups(spark, tmp_path):
    """The sorted layout must make parquet row-group min/max statistics
    selective: within every file the sort key's row-group ranges are
    non-overlapping and in order, and the total span covered per group
    is a small fraction of the full key range — the property any
    parquet reader's row-group pruning keys on. Also: same rows back."""
    import glob

    import pyarrow.parquet as pq

    from gcp_map_reduce_spark.sinks.writers import write_sorted_layout
    from gcp_map_reduce_spark.sources.tables import load_table
    SF_BENCH = "/root/testdata/sf0.1"

    import pytest

    raw = load_table(spark, SF_BENCH, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    # INT96 timestamps carry no row-group stats — the helper must refuse
    with pytest.raises(ValueError, match="INT96"):
        write_sorted_layout(raw, str(tmp_path / "x"), ["o_orderdate"])
    orders = raw.withColumn("o_orderdate", F.to_date("o_orderdate"))
    path = str(tmp_path / "sorted_orders")
    write_sorted_layout(
        orders, path, ["o_orderdate"], n_files=4, row_group_bytes=256 * 1024
    )

    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) >= 2
    spans, total_groups = [], 0
    lo, hi = None, None
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        idx = names.index("o_orderdate")
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            # in-order, non-overlapping within the file
            if prev_max is not None:
                assert st.min >= prev_max
            prev_max = st.max
            spans.append((st.min, st.max))
            total_groups += 1
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    assert total_groups >= 8, total_groups
    full = (hi - lo).days or 1
    avg_span = sum((b - a).days for a, b in spans) / len(spans)
    # each group covers a narrow slice, not the full range — this is what
    # lets a range predicate skip most groups
    assert avg_span <= full / 4, (avg_span, full, total_groups)

    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    a = {tuple(r) for r in orders.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_bucketed_merge_survives_crash_at_every_rename(spark, tmp_path, monkeypatch):
    """Exhaustive crash-point sweep: fail the merge at the 1st, 2nd, ...
    Nth filesystem rename and assert that (recovery +) replaying the
    SAME batch always converges to the correct snapshot with no
    leftover .old/staging state — the keep-latest idempotency contract
    under every possible promote-interruption point, not just the
    hand-picked windows the targeted tests cover."""
    import os as _os

    from gcp_map_reduce_spark.sinks.writers import (
        read_snapshot_bucketed,
        upsert_snapshot_bucketed,
    )

    schema = "k bigint, v bigint, payload string"
    base_rows = [(i, 1, f"p{i}") for i in range(30)]
    upd_rows = [(3, 2, "x3"), (7, 2, "x7"), (90, 1, "new")]
    expected = {k: (v, p) for k, v, p in base_rows}
    expected.update({k: (v, p) for k, v, p in upd_rows})

    real_rename = _os.rename
    crash_at = 0

    def flaky_rename(src, dst):
        nonlocal crash_at
        crash_at -= 1
        if crash_at == 0:
            raise OSError("injected crash")
        real_rename(src, dst)

    n = 1
    while True:
        snap = str(tmp_path / f"snap{n}")
        upsert_snapshot_bucketed(
            spark,
            spark.createDataFrame(base_rows, schema),
            snap,
            "k",
            "v",
            n_buckets=4,
        )
        upd = spark.createDataFrame(upd_rows, schema)
        crash_at = n
        monkeypatch.setattr(_os, "rename", flaky_rename)
        try:
            upsert_snapshot_bucketed(spark, upd, snap, "k", "v", n_buckets=4)
            crashed = False
        except OSError:
            crashed = True
        finally:
            monkeypatch.setattr(_os, "rename", real_rename)
        # replay the batch (the streaming at-least-once contract)
        upsert_snapshot_bucketed(spark, upd, snap, "k", "v", n_buckets=4)
        got = {
            r.k: (r.v, r.payload)
            for r in read_snapshot_bucketed(spark, snap).collect()
        }
        assert got == expected, (n, crashed, got)
        assert not any(
            e.endswith(".old") for e in _os.listdir(snap)
        ), (n, _os.listdir(snap))
        assert not _os.path.isdir(snap + ".staging"), n
        if not crashed:  # the Nth rename never happened: sweep complete
            break
        n += 1
    assert n >= 3  # the sweep actually exercised multiple crash points


def test_suggest_n_buckets_bounds_rewrite_and_bucket_size():
    from gcp_map_reduce_spark.sinks.writers import suggest_n_buckets

    # size-bound: 100 GB snapshot, tiny batches -> ~400 buckets of 256 MB
    n = suggest_n_buckets(100 * 2**30, typical_batch_keys=10)
    assert n == 512 and (100 * 2**30) / n <= 256 * 2**20
    # batch-bound: 1k-key batches must not saturate the layout (the
    # measured failure mode: 1k keys touched all 64 buckets)
    n = suggest_n_buckets(32 * 2**20, typical_batch_keys=1000)
    assert n >= 4000  # expected touched fraction k/n <= 0.25
    # power of two, floor of 1
    assert suggest_n_buckets(1, 0) == 1
    import pytest

    with pytest.raises(ValueError):
        suggest_n_buckets(0, 1)


# -- r10 kill-audit: every disk-mutating helper either self-heals on --
# -- retry or refuses the unsafe call (VERDICT r9 task #2) -----------


def test_overwrite_sinks_self_heal_from_killed_run(spark, tmp_path):
    """Plant the debris a killed Spark write leaves (a _temporary
    staging dir + a stray committed part file) at each sink's
    destination; the retried overwrite must delete it wholesale and
    produce a correct, garbage-free dataset."""
    import glob

    from gcp_map_reduce_spark.sinks.writers import (
        write_partitioned,
        write_sorted_layout,
        write_sorted_single_json,
    )

    df = spark.createDataFrame(
        [(i, f"p{i}", i % 3) for i in range(50)], "k bigint, payload string, g int"
    )

    def plant_debris(dest):
        os.makedirs(os.path.join(dest, "_temporary", "0"), exist_ok=True)
        with open(os.path.join(dest, "part-00099-dead.parquet"), "wb") as fh:
            fh.write(b"garbage from a killed task")

    d1 = str(tmp_path / "json_sink")
    plant_debris(d1)
    write_sorted_single_json(df, d1, "k")
    assert not os.path.isdir(os.path.join(d1, "_temporary"))
    assert not glob.glob(os.path.join(d1, "*dead*"))
    assert spark.read.json(d1).count() == 50

    d2 = str(tmp_path / "parquet_sink")
    plant_debris(d2)
    write_partitioned(df, d2, ["g"])
    assert not os.path.isdir(os.path.join(d2, "_temporary"))
    assert not glob.glob(os.path.join(d2, "*dead*"))
    assert spark.read.parquet(d2).count() == 50

    d3 = str(tmp_path / "sorted_layout")
    plant_debris(d3)
    write_sorted_layout(df, d3, ["k"], n_files=2)
    assert not os.path.isdir(os.path.join(d3, "_temporary"))
    assert not glob.glob(os.path.join(d3, "*dead*"))
    assert spark.read.parquet(d3).count() == 50


def test_compact_parquet_refuses_in_place(spark, tmp_path):
    import pytest

    from gcp_map_reduce_spark.operators.scale import compact_parquet

    src = str(tmp_path / "data")
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="refuses dest_path == src_path"):
        compact_parquet(spark, src, src)


def test_publish_atomic_swaps_and_sweeps_every_crash_window(spark, tmp_path):
    import pytest

    from gcp_map_reduce_spark.sinks.writers import publish_atomic

    live = str(tmp_path / "ds")
    old, staging = live + ".old-publish", live + ".staging-publish"

    def write_v(n):
        return lambda p: spark.range(n).write.parquet(p)

    # happy path: first publish, then replace under a "reader"
    publish_atomic(live, write_v(10))
    assert spark.read.parquet(live).count() == 10
    publish_atomic(live, write_v(20))
    assert spark.read.parquet(live).count() == 20
    assert not os.path.isdir(old) and not os.path.isdir(staging)

    # window 1: died during write_fn -> stale staging is swept
    os.makedirs(os.path.join(staging, "_temporary"), exist_ok=True)
    publish_atomic(live, write_v(30))
    assert spark.read.parquet(live).count() == 30
    assert not os.path.isdir(staging)

    # window 2: died between the two renames -> rollback from .old
    os.rename(live, old)
    publish_atomic(live, write_v(40))
    assert spark.read.parquet(live).count() == 40
    assert not os.path.isdir(old)

    # window 3: died before final cleanup (live has our own marker,
    # written by the publish above) -> drop .old
    assert os.path.isfile(os.path.join(live, ".publish-complete"))
    spark.range(5).write.parquet(old)
    publish_atomic(live, write_v(50))
    assert spark.read.parquet(live).count() == 50
    assert not os.path.isdir(old)

    # window 3 with a NON-Spark write_fn (no _SUCCESS anywhere): our own
    # marker alone must drive the recovery (r10 ADVICE — previously the
    # recovery keyed on the committer's _SUCCESS and a healthy live dir
    # could strand behind the RuntimeError)
    def write_plain(p):
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as fh:
            fh.write("v55\n")

    publish_atomic(live, write_plain)
    assert not os.path.isfile(os.path.join(live, "_SUCCESS"))
    assert os.path.isfile(os.path.join(live, ".publish-complete"))
    os.makedirs(old)  # simulate a leftover rollback dir
    publish_atomic(live, write_plain)  # recovery sweeps it, no raise
    assert not os.path.isdir(old)

    # pre-marker datasets (Spark's _SUCCESS only) still recover
    publish_atomic(live, write_v(50))
    os.remove(os.path.join(live, ".publish-complete"))
    assert os.path.isfile(os.path.join(live, "_SUCCESS"))
    spark.range(5).write.parquet(old)
    publish_atomic(live, write_v(51))
    assert spark.read.parquet(live).count() == 51
    assert not os.path.isdir(old)

    # foreign live dir without either commit marker + rollback present:
    # refuse rather than guess which copy is the real one
    spark.range(5).write.parquet(old)
    os.remove(os.path.join(live, "_SUCCESS"))
    os.remove(os.path.join(live, ".publish-complete"))
    with pytest.raises(RuntimeError, match="commit marker"):
        publish_atomic(live, write_v(60))
    assert os.path.isdir(old)  # rollback copy survived the refusal


def test_stress_gate_load_adjudication_rules():
    """The r12 wall-vs-cpu arbitration, pinned as pure logic: a wall
    trip with steady cpu adjudicates as load only when CORROBORATED by
    another query's steady wall trip (r13, closing the r12 ADVICE gap:
    a solo steady wall trip can be a local wait-time regression and now
    fails); grown cpu (beyond the TIGHT CPU_STEADY_FACTOR, not the
    loose wall ratio) fails; missing cpu keeps the strict gate; and
    max_task trips — the spill/wait backstop — adjudicate only under
    BROAD load evidence (>= BROAD_LOAD_MIN_QUERIES other cpu-steady
    wall trips), never on their own row alone."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_ci2",
        os.path.join(os.path.dirname(__file__), "..", "tools", "stress_ci.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def row(sec, task, cpu=None):
        r = {"sec": sec, "max_task_ms": task}
        if cpu is not None:
            r["cpu_sec"] = cpu
        return r

    def run(base_q, cur_q):
        return mod.diff(
            {"queries": base_q}, {"queries": cur_q},
            ratio=1.5, min_sec=0.0, min_task_ms=0.0,
        )

    # 1: SOLO wall trip, cpu steady -> regression (r13: no corroborating
    #    steady wall trip elsewhere = local evidence, not box load)
    reg, load = run({"a": row(1, 100, cpu=10)}, {"a": row(3, 120, cpu=10.5)})
    assert [r["kind"] for r in reg] == ["wall_sec"] and not load
    # 1b: the same trip WITH a second steady wall trip -> both adjudicated
    reg, load = run(
        {"a": row(1, 100, cpu=10), "b": row(1, 100, cpu=10)},
        {"a": row(3, 120, cpu=10.5), "b": row(3, 120, cpu=10.2)},
    )
    assert not reg and sorted(r["kind"] for r in load) == ["wall_sec"] * 2
    # 2: wall trip, cpu grown 1.4x (> CPU_STEADY_FACTOR, < wall ratio)
    #    -> REGRESSION (the loose wall ratio must not leak into cpu)
    reg, load = run({"a": row(1, 100, cpu=10)}, {"a": row(3, 120, cpu=14)})
    assert [r["kind"] for r in reg] == ["wall_sec"] and not load
    # 3: wall trip, no cpu reference on the base row -> strict gate
    reg, load = run({"a": row(1, 100)}, {"a": row(3, 120, cpu=10)})
    assert [r["kind"] for r in reg] == ["wall_sec"] and not load
    # 4: SOLO max_task trip with steady cpu -> regression (a spill/lock
    #    regression has flat cpu by nature; one inflated row is local
    #    evidence, not load)
    reg, load = run({"a": row(1, 100, cpu=10)}, {"a": row(1.2, 400, cpu=10)})
    assert [r["kind"] for r in reg] == ["max_task_ms"] and not load
    # 5: max_task trip during BROAD load (>= 3 other cpu-steady wall
    #    trips) -> adjudicated along with the wall trips
    base = {n: row(1, 100, cpu=10) for n in ("a", "b", "c", "d")}
    cur = {n: row(3, 120, cpu=10) for n in ("b", "c", "d")}
    cur["a"] = row(3, 400, cpu=10)
    reg, load = run(base, cur)
    assert not reg
    kinds = sorted((r["query"], r["kind"]) for r in load)
    assert ("a", "max_task_ms") in kinds and ("a", "wall_sec") in kinds
    assert len([k for k in kinds if k[1] == "wall_sec"]) == 4
    # 6: broad load but THIS query's cpu grew -> its rows still fail
    cur["a"] = row(3, 400, cpu=20)
    reg, load = run(base, cur)
    assert sorted(r["kind"] for r in reg) == ["max_task_ms", "wall_sec"]
    assert all(r["query"] == "a" for r in reg)
    # 7 (r14, verdict task 3): the canary scales the wall/task bars —
    # a 1.8x-slower box (canary 0.18 vs 0.1 at baseline) absorbs a 2x
    # wall inflation (bar = 1.5 * 1.8 = 2.7x) ...
    cb = {"canary_sec": 0.1, "queries": {"a": row(1, 100)}}
    cc = {"canary_sec": 0.18, "queries": {"a": row(2.0, 200)}}
    reg, load = mod.diff(cb, cc, ratio=1.5, min_sec=0.0, min_task_ms=0.0)
    assert not reg and not load
    # ... but a 4x inflation still trips, carrying the corr used
    cc = {"canary_sec": 0.18, "queries": {"a": row(4.0, 100)}}
    reg, _ = mod.diff(cb, cc, ratio=1.5, min_sec=0.0, min_task_ms=0.0)
    assert [r["kind"] for r in reg] == ["wall_sec"]
    assert reg[0]["canary_corr"] == 1.8
    # 8 (r14 review): a merged baseline row stamped with ITS OWN canary
    # overrides the top-level one — this row's floor was banked on the
    # slow box (0.18), so the same 2x inflation is NOT excused by the
    # top-level fast-day canary (0.1)
    cb = {"canary_sec": 0.1,
          "queries": {"a": dict(row(1, 100), canary_sec=0.18)}}
    cc = {"canary_sec": 0.18, "queries": {"a": row(2.0, 100)}}
    reg, _ = mod.diff(cb, cc, ratio=1.5, min_sec=0.0, min_task_ms=0.0)
    assert [r["kind"] for r in reg] == ["wall_sec"]
    assert reg[0]["canary_corr"] == 1.0


def test_publish_atomic_staging_unique_and_pid_swept(spark, tmp_path):
    """r12 ADVICE: concurrent publishers shared one fixed staging path
    and rmtree'd each other's in-flight write. Staging is now unique per
    call (pid + random suffix); entry sweeps the legacy fixed name and
    dead-pid leftovers but leaves a LIVE sibling's staging alone; a
    failed write_fn cleans its own staging up."""
    import subprocess

    import pytest

    from gcp_map_reduce_spark.sinks.writers import publish_atomic

    live = str(tmp_path / "ds")
    legacy = live + ".staging-publish"
    os.makedirs(os.path.join(legacy, "junk"))
    dead = subprocess.Popen(["true"])
    dead.wait()
    dead_dir = f"{live}.staging-publish-{dead.pid}-deadbeef"
    os.makedirs(dead_dir)
    alive_dir = f"{live}.staging-publish-{os.getpid()}-cafef00d"
    os.makedirs(alive_dir)

    publish_atomic(live, lambda p: spark.range(7).write.parquet(p))
    assert spark.read.parquet(live).count() == 7
    assert not os.path.isdir(legacy)      # legacy relic swept
    assert not os.path.isdir(dead_dir)    # crashed sibling swept
    assert os.path.isdir(alive_dir)       # live sibling untouched
    os.rmdir(alive_dir)

    # failed write_fn: no staging leftover for this process's lifetime
    with pytest.raises(RuntimeError, match="boom"):
        publish_atomic(
            live, lambda p: (_ for _ in ()).throw(RuntimeError("boom"))
        )
    leftovers = [
        n for n in os.listdir(str(tmp_path))
        if n.startswith(os.path.basename(live) + ".staging-publish")
    ]
    assert leftovers == []
    assert spark.read.parquet(live).count() == 7  # live dataset intact


def test_publish_atomic_skips_foreign_scope_staging(tmp_path):
    """r13 ADVICE: os.kill(pid, 0) liveness only means anything inside
    OUR pid namespace — a staging dir stamped with another namespace's
    scope (a sibling container on a shared filesystem) must survive the
    sweep even though its pid looks dead locally; same-scope dead-pid
    dirs and pre-scope (r13-format) dirs are still swept."""
    import subprocess

    from gcp_map_reduce_spark.sinks import writers

    target = str(tmp_path / "ds2")
    dead = subprocess.Popen(["true"])
    dead.wait()
    scope = writers._publish_scope()
    foreign_scope = "0" * 8 if scope != "0" * 8 else "1" * 8
    foreign = f"{target}.staging-publish-{dead.pid}-deadbeef-{foreign_scope}"
    local = f"{target}.staging-publish-{dead.pid}-deadbeef-{scope}"
    legacy_fmt = f"{target}.staging-publish-{dead.pid}-deadbeef"
    for p in (foreign, local, legacy_fmt):
        os.makedirs(p)
    writers.publish_atomic(target, os.makedirs)
    assert os.path.isdir(foreign)        # unknowable liveness: kept
    assert not os.path.isdir(local)      # our namespace, dead pid: swept
    assert not os.path.isdir(legacy_fmt)  # pre-scope format: old behavior
    assert os.path.isdir(target)


def test_publish_atomic_sweeps_ancient_foreign_scope_staging(tmp_path):
    """r15 (r14 verdict finding 4): a FOREIGN-scope staging dir older
    than FOREIGN_STAGING_TTL_S is a crash relic whose namespace never
    ran a sweeper — swept by age; a fresh foreign dir is still kept
    (could be a live sibling write), and same-scope behavior is
    unchanged."""
    import subprocess
    import time as _time

    from gcp_map_reduce_spark.sinks import writers

    target = str(tmp_path / "ds3")
    dead = subprocess.Popen(["true"])
    dead.wait()
    scope = writers._publish_scope()
    foreign_scope = "0" * 8 if scope != "0" * 8 else "1" * 8
    old_foreign = (
        f"{target}.staging-publish-{dead.pid}-0ld0ld0l-{foreign_scope}"
    )
    new_foreign = (
        f"{target}.staging-publish-{dead.pid}-fresh123-{foreign_scope}"
    )
    live_local = f"{target}.staging-publish-{os.getpid()}-cafef00d-{scope}"
    for p in (old_foreign, new_foreign, live_local):
        os.makedirs(p)
    ancient = _time.time() - writers.FOREIGN_STAGING_TTL_S - 3600
    os.utime(old_foreign, (ancient, ancient))
    writers.publish_atomic(target, os.makedirs)
    assert not os.path.isdir(old_foreign)  # aged past the TTL: swept
    assert os.path.isdir(new_foreign)      # fresh foreign: kept
    assert os.path.isdir(live_local)       # our namespace, live pid: kept
    assert os.path.isdir(target)


def test_publish_atomic_keeps_foreign_staging_with_fresh_subtree(tmp_path):
    """r16 ADVICE fix: Spark writers land files in SUBDIRECTORIES of the
    staging dir (staging/vectors/part-*), which do not refresh the
    top-level dir's mtime — a live foreign publish older than the TTL
    at the top level must still survive the sweep when anything under
    it is fresh. An all-old tree is still swept."""
    import subprocess
    import time as _time

    from gcp_map_reduce_spark.sinks import writers

    target = str(tmp_path / "ds4")
    dead = subprocess.Popen(["true"])
    dead.wait()
    scope = writers._publish_scope()
    foreign_scope = "0" * 8 if scope != "0" * 8 else "1" * 8
    live_mid_write = (
        f"{target}.staging-publish-{dead.pid}-11vewr1t-{foreign_scope}"
    )
    relic = f"{target}.staging-publish-{dead.pid}-o1drel1c-{foreign_scope}"
    ancient = _time.time() - writers.FOREIGN_STAGING_TTL_S - 3600
    for p in (live_mid_write, relic):
        sub = os.path.join(p, "vectors")
        os.makedirs(sub)
        with open(os.path.join(sub, "part-00000"), "w") as fh:
            fh.write("x")
        # age the top-level dir AND the subdir past the TTL
        os.utime(p, (ancient, ancient))
        os.utime(sub, (ancient, ancient))
        os.utime(os.path.join(sub, "part-00000"), (ancient, ancient))
    # the live publish just landed a fresh part file deep in the tree
    with open(os.path.join(live_mid_write, "vectors", "part-00001"), "w") as fh:
        fh.write("y")
    os.utime(live_mid_write, (ancient, ancient))  # top stays old
    writers.publish_atomic(target, os.makedirs)
    assert os.path.isdir(live_mid_write)  # fresh leaf: kept
    assert not os.path.isdir(relic)       # whole tree old: swept
    assert os.path.isdir(target)
