"""Streaming near-duplicate dedup: MinHash-LSH against a durable
signature store.

The ingest-time counterpart of the batch ``dedup_minhash`` operator (the
reference has nothing comparable — its streaming story is whole-corpus
recompute per upload): documents arrive as files; each micro-batch
computes its docs' minhash signatures, band-joins them against the
ACCEPTED-signature store accumulated so far (plus the batch itself), and
emits only documents that are not near-duplicates of anything earlier.
Accepted docs' signatures append to the store.

State is the store itself — one k-long signature row per accepted doc,
partitioned by the batch that accepted it. That is bounded by DISTINCT
content (not stream length), lives in parquet (not executor memory, so
restarts and scale-out are free). Each trigger collects its batch once
and decides acceptance on the driver (:func:`minhash_accept_collected`)
against a driver-side MIRROR of the store (``_SIG_CACHE`` — parquet
stays the source of truth; the mirror reloads on restart or whenever
the store dir's layout changes), so a steady-state trigger runs THREE
Spark actions total. A remote store, or one holding more than
``STORE_MIRROR_MAX_ROWS`` rows, is probed store-side instead: one
map-side job, the batch shipped to it, zero store shuffle.
At 100 TB/day, run :func:`compact_signature_store` between stream runs
so per-trigger listing/open cost stays O(1) in stream age instead of
O(batches); at band-join selectivity pressure beyond that, the next
step is a band-exploded store layout partitioned by band prefix so the
probe prunes to colliding buckets (the `write_partitioned` layout tool
applies; not needed at the measured store sizes — 4,761 rows for the
50k-doc stress drain).

Replay safety (foreachBatch is at-least-once): both the store and the
output are written to ``batch_id=N`` subdirectories with overwrite — a
replayed batch rewrites its own subdir instead of appending a second
copy. Cross-batch matching excludes same-doc_id rows, so a replay that
re-sees a doc whose signature already landed does not flag the doc as a
duplicate of itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.operators.dedup import (
    BANDS,
    NUM_HASHES,
    minhash_features_for,
)

NEAR_DUP_EST_JACCARD = 0.7  # same acceptance threshold as dedup_minhash

# The most store rows one mirror dict (``_SIG_CACHE`` here, the
# embedding stream's ``_EMB_CACHE``) holds across all its store dirs:
# ~264 B per signature row, ~550 B per d=64 embedding row, so ~0.3 and
# ~0.6 GB of driver memory, twice that with the merged probe arrays.
# A store above it is probed store-side, with identical decisions.
STORE_MIRROR_MAX_ROWS = 1_000_000


def glob_paths(ss: SparkSession, pattern: str) -> list[str]:
    """Paths matching a Hadoop glob ``pattern`` on any filesystem scheme;
    empty when nothing matches or the parent dir is missing. One
    ``FileSystem.globStatus`` listing, so a missing path costs no
    failed read and no logged stack trace."""
    path = ss.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = path(pattern).getFileSystem(ss.sparkContext._jsc.hadoopConfiguration())
    return [st.getPath().toString() for st in fs.globStatus(path(pattern)) or []]


def read_store(ss: SparkSession, schema: str, store_dir: str) -> DataFrame:
    """Read a streaming signature/feature store: the `batch_id=*` dirs
    plus any `compacted=*` dir, via Spark's Hadoop glob (works on any
    filesystem scheme — a driver-local glob would silently return an
    EMPTY store for hdfs://gs://s3a:// paths and disable cross-batch
    dedup). Explicit patterns, not `store_dir/*`: the wildcard would
    also match `_codebook` (wrong schema -> silent NULL columns) and a
    `.compact-staging` dir a killed compaction left behind (a full
    duplicate copy of the store scanned every trigger until the next
    compact call). The dirs are listed with :func:`glob_paths` and read
    by name; no store at all yields an empty relation."""
    paths = [
        p
        for pat in ("batch_id=*", "compacted=*")
        for p in glob_paths(ss, f"{store_dir}/{pat}")
    ]
    if not paths:
        return ss.createDataFrame([], schema)
    return ss.read.schema(schema).parquet(*paths)


def store_batch_id() -> Column:
    """The N of the ``batch_id=N`` dir a store row was read from; -1 for
    rows of a ``compacted=K`` dir. Those carry no batch id in their
    path, so regexp_extract yields '' -> NULL after the cast, and a bare
    ``_bid != batch_id`` would silently DROP them."""
    return F.coalesce(
        F.regexp_extract(
            F.input_file_name(), r"batch_id=(\d+)", 1
        ).try_cast("long"),  # '' under ANSI: NULL, not throw
        F.lit(-1),
    )


# Driver-side store mirrors: the store is rows the STREAM itself wrote
# (one 32-long signature row per accepted doc here), so a driver mirror
# (numpy chunks per batch dir + a band index) turns the per-trigger store
# probe into pure python and removes one Spark job per trigger (~0.5 s
# of worker/scheduling cost at the measured floor). Parquet remains the
# source of truth: a mirror is (re)loaded with ONE Spark read when absent
# or when the store dir's layout (the SET of batch_id=/compacted= entry
# names, checked per trigger with a driver listing) differs from what
# the mirror wrote/loaded — that detects compaction and any writer that
# adds or removes dirs. It does NOT detect an in-place rewrite of an
# existing dir under the same name: the store contract is single-writer
# (this stream, plus the offline compactor, both layout-changing); an
# external tool rewriting batch dirs in place must be followed by a
# process restart or a compact call. Remote stores get no mirror, and
# each mirror dict holds at most STORE_MIRROR_MAX_ROWS rows: an entry is
# {"layout", "chunks": {batch_id: (ids, ...)} or None}, None marking a
# store over the bound (kept so it is not re-read every trigger).
_SIG_CACHE: dict[str, dict] = {}


def _store_layout(store_dir: str) -> tuple | None:
    """Sorted (batch_id=*/compacted=*) entries of a LOCAL store dir, or
    None when the path is remote/unlistable (cache disabled)."""
    import os
    import re as _re

    if _re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", store_dir):
        return None
    try:
        return tuple(
            sorted(
                e
                for e in os.listdir(store_dir)
                if e.startswith(("batch_id=", "compacted="))
            )
        )
    except OSError:
        return ()  # store not created yet: empty layout


def _mirror_rows(mirrors: dict) -> int:
    return sum(
        len(chunk[0])
        for m in mirrors.values()
        for chunk in (m["chunks"] or {}).values()
    )


def _fit_mirrors(mirrors: dict, store_dir: str) -> None:
    """Keep ``mirrors`` within STORE_MIRROR_MAX_ROWS rows: drop the other
    stores' entries first (each reloads on its next trigger), then this
    store's chunks, keeping its layout as the over-bound marker."""
    if _mirror_rows(mirrors) <= STORE_MIRROR_MAX_ROWS:
        return
    for other in [k for k in mirrors if k != store_dir]:
        del mirrors[other]
    if _mirror_rows(mirrors) > STORE_MIRROR_MAX_ROWS:
        mirrors[store_dir] = {
            "layout": mirrors[store_dir]["layout"], "chunks": None,
        }


def load_mirror(
    ss: SparkSession, store_dir: str, schema: str, mirrors: dict, chunk_of
) -> dict | None:
    """The driver mirror of ``store_dir`` in ``mirrors``, (re)loaded with
    one Spark read when the store's layout changed; ``chunk_of`` turns
    one batch dir's pandas rows into its chunk tuple (ids first). None
    — probe store-side — for a remote store or one holding more than
    STORE_MIRROR_MAX_ROWS rows; the read fetches at most one row past
    the bound, so an over-bound store never reaches the driver."""
    layout = _store_layout(store_dir)
    if layout is None:
        return None
    m = mirrors.get(store_dir)
    if m is None or m["layout"] != layout:
        pdf = (
            read_store(ss, schema, store_dir)
            .withColumn("_bid", store_batch_id())
            .limit(STORE_MIRROR_MAX_ROWS + 1)
            .toPandas()
        )
        m = {"layout": layout, "chunks": None}
        if len(pdf) <= STORE_MIRROR_MAX_ROWS:
            m["chunks"] = {
                int(bid): chunk_of(grp) for bid, grp in pdf.groupby("_bid")
            }
        mirrors[store_dir] = m
        _fit_mirrors(mirrors, store_dir)
        m = mirrors[store_dir]
    return m if m["chunks"] is not None else None


def record_batch(
    mirrors: dict, store_dir: str, batch_id: int, chunk: tuple | None = None
) -> dict | None:
    """Note the ``batch_id=N`` dir this trigger writes in the store's
    mirror entry (so the next layout check still matches) and, while
    mirrored, its accepted rows as ``chunk``. Returns the mirror when it
    still fits under the bound, else None."""
    m = mirrors.get(store_dir)
    if m is None:
        return None
    m["layout"] = tuple(sorted(set(m["layout"]) | {f"batch_id={batch_id}"}))
    if m["chunks"] is None or chunk is None:
        return None
    m["chunks"][batch_id] = chunk
    _fit_mirrors(mirrors, store_dir)
    m = mirrors[store_dir]
    return m if m["chunks"] is not None else None


def _sig_chunk(grp) -> tuple:
    import numpy as np

    ids = grp["doc_id"].to_numpy(dtype=np.int64)
    sigs = (
        np.stack([np.asarray(s, dtype=np.int64) for s in grp["sig"]])
        if len(grp)
        else np.empty((0, NUM_HASHES), dtype=np.int64)
    )
    return ids, sigs


def _cache_ensure_merged(cache: dict, exclude_bid: int) -> None:
    """Make the cache's flat (all_ids, all_sigs, index) cover exactly
    the chunks minus ``exclude_bid`` (the replayed batch's own rows,
    mirroring the store probe's ``_bid != batch_id`` guard).
    Normal appends extend the merged form incrementally; a replay or a
    layout reload rebuilds it (rare)."""
    import numpy as np

    want = frozenset(b for b in cache["chunks"] if b != exclude_bid)
    if cache.get("merged_bids") == want:
        return
    r = NUM_HASHES // BANDS
    parts = [cache["chunks"][b] for b in sorted(want)]
    if parts:
        all_ids = np.concatenate([p[0] for p in parts])
        all_sigs = np.concatenate([p[1] for p in parts])
    else:
        all_ids = np.empty(0, dtype=np.int64)
        all_sigs = np.empty((0, NUM_HASHES), dtype=np.int64)
    index: dict[tuple, list[int]] = {}
    for b in range(BANDS):
        sl = all_sigs[:, b * r : (b + 1) * r]
        for i in range(len(all_ids)):
            index.setdefault((b, *sl[i]), []).append(i)
    cache.update(
        merged_bids=want, all_ids=all_ids, all_sigs=all_sigs, index=index
    )


def _cache_append(store_dir: str, batch_id: int, ids, sigs) -> None:
    """Record a just-accepted batch in the mirror: new chunk + layout
    entry + incremental index extension (offsets into the flat arrays)."""
    import numpy as np

    cache = record_batch(_SIG_CACHE, store_dir, batch_id, (ids, sigs))
    if cache is None or cache.get("merged_bids") is None:
        return
    r = NUM_HASHES // BANDS
    off = len(cache["all_ids"])
    cache["all_ids"] = np.concatenate([cache["all_ids"], ids])
    cache["all_sigs"] = np.concatenate([cache["all_sigs"], sigs])
    index = cache["index"]
    for b in range(BANDS):
        sl = sigs[:, b * r : (b + 1) * r]
        for i in range(len(ids)):
            index.setdefault((b, *sl[i]), []).append(off + i)
    cache["merged_bids"] = cache["merged_bids"] | {batch_id}


def _cache_probe(cache: dict, batch_id: int, ids, sigs) -> set:
    """Batch doc_ids suppressed by a store row (excluding the replayed
    batch's own chunk) — pure python over the driver mirror, identical
    candidate generation (exact band-tuple equality) and est-Jaccard
    (integer position agreement / k) to the distributed probe."""
    import numpy as np

    _cache_ensure_merged(cache, batch_id)
    r = NUM_HASHES // BANDS
    thr = NEAR_DUP_EST_JACCARD
    all_ids, all_sigs, index = (
        cache["all_ids"], cache["all_sigs"], cache["index"],
    )
    hits: set = set()
    if len(all_ids) == 0:
        return hits
    for i in range(len(ids)):
        if int(ids[i]) in hits:
            continue
        for b in range(BANDS):
            cand = index.get((b, *sigs[i, b * r : (b + 1) * r]))
            if not cand:
                continue
            c = np.asarray(cand)
            eq = (all_sigs[c] == sigs[i]).sum(axis=1)
            ok = c[eq >= thr * NUM_HASHES]
            if len(ok) and (all_ids[ok] != ids[i]).any():
                hits.add(int(ids[i]))
                break
    return hits


def minhash_accept_collected(
    ss: SparkSession, sig_pdf, store_dir: str, batch_id: int
):
    """The micro-batch MinHash-LSH acceptance core: given this batch's
    signatures as a pandas frame, return the subset that is NOT a
    near-dup (est-Jaccard >= NEAR_DUP_EST_JACCARD over a shared band)
    of (a) an earlier-batch ACCEPTED doc in ``store_dir`` or (b) a
    lower-id doc in the same batch — decided with at most ONE Spark job
    (plus the mirror's one read after a restart or a layout change).

    Why (r12 trigger-floor profile): a plan-side decision's per-trigger
    cost is dominated by DRIVER work, not compute — 8 jobs/trigger
    whose summed duration was 0.64 s against 1.7 s wall (Catalyst
    analysis + scheduling per action ~0.1 s each). That plan also
    broadcast the batch THREE times (band rows, candidate payload, dup
    list), and a broadcast IS a driver collect. Collecting the batch
    once and keeping only the STORE distributed removes every broadcast
    exchange:

    - within-batch pairs: band buckets on the EXACT (band_id, r-tuple)
      key — the same struct-equality key as ``minhash_band_rows`` — and
      vectorized est-Jaccard (integer position-equality count / k,
      exact) inside each bucket; the higher doc_id of a qualifying pair
      is suppressed, lower-id-wins, multiplicity-blind.
    - vs the store: the driver mirror (zero Spark jobs) while the store
      is local and within STORE_MIRROR_MAX_ROWS; otherwise ONE job — the
      store scan (minus the replayed batch's own ``batch_id=N`` dir)
      feeds ``mapInPandas`` with the batch's arrays attached as an
      ``sc.broadcast`` (driver-side torrent, no exchange job); each
      store partition probes its rows' band tuples against the batch
      index and emits the batch doc_ids it suppresses.

    The store — the unbounded side — never has to leave the executors,
    and the per-partition python pass is a dict probe + one vectorized
    compare per band row."""
    import numpy as np
    import pandas as pd

    r = NUM_HASHES // BANDS
    thr = NEAR_DUP_EST_JACCARD
    sig_schema = "doc_id bigint, sig array<bigint>"
    if len(sig_pdf) == 0:
        # the caller still writes an (empty) batch dir, so the mirror
        # must record the chunk too or the next trigger's layout check
        # would force a full O(store) reload (r12 review catch)
        _cache_append(
            store_dir, batch_id,
            np.empty(0, dtype=np.int64),
            np.empty((0, NUM_HASHES), dtype=np.int64),
        )
        return sig_pdf
    ids = sig_pdf["doc_id"].to_numpy(dtype=np.int64)
    sigs = np.stack([np.asarray(s, dtype=np.int64) for s in sig_pdf["sig"]])

    # ---- within-batch: band buckets -> vectorized est per bucket -----
    dup = np.zeros(len(ids), dtype=bool)
    index: dict[tuple, list[int]] = {}
    for b in range(BANDS):
        sl = sigs[:, b * r : (b + 1) * r]
        for i in range(len(ids)):
            index.setdefault((b, *sl[i]), []).append(i)
    for members in index.values():
        if len(members) < 2:
            continue
        m = np.array(members)
        eq = (sigs[m][:, None, :] == sigs[m][None, :, :]).sum(axis=2)
        est_ok = eq >= thr * NUM_HASHES
        lower = ids[m][:, None] < ids[m][None, :]
        hit = est_ok & lower  # (a, b): a suppresses b
        dup[m[np.unique(np.nonzero(hit)[1])]] = True

    # ---- vs the store: driver mirror when usable (zero Spark jobs) --
    cache = load_mirror(ss, store_dir, sig_schema, _SIG_CACHE, _sig_chunk)
    if cache is not None:
        store_hits = _cache_probe(cache, batch_id, ids, sigs)
        keep = ~dup & ~np.isin(
            ids, np.fromiter(store_hits, dtype=np.int64, count=len(store_hits))
        )
        _cache_append(store_dir, batch_id, ids[keep], sigs[keep])
        return sig_pdf[keep]

    # ---- store-side: one map-side job over the distributed store -----
    store = read_store(ss, sig_schema, store_dir).filter(
        store_batch_id() != batch_id
    )
    # broadcast the RAW arrays, not the band index: numpy buffers pickle
    # compactly (~32 longs/doc) where the dict of np.int64-tuple keys
    # pickled to tens of MB per trigger — rebuilding the index per task
    # costs ~70 ms per 3k batch docs, far less than shipping it
    bc = ss.sparkContext.broadcast((ids, sigs))

    def probe(batches):
        b_ids, b_sigs = bc.value
        b_index: dict[tuple, list[int]] = {}
        for b in range(BANDS):
            sl = b_sigs[:, b * r : (b + 1) * r]
            for i in range(len(b_ids)):
                b_index.setdefault((b, *sl[i]), []).append(i)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            s_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            s_sigs = np.stack(
                [np.asarray(s, dtype=np.int64) for s in pdf["sig"]]
            )
            hits: set = set()
            for b in range(BANDS):
                sl = s_sigs[:, b * r : (b + 1) * r]
                for i in range(len(s_ids)):
                    cand = b_index.get((b, *sl[i]))
                    if not cand:
                        continue
                    c = np.array(cand)
                    eq = (b_sigs[c] == s_sigs[i]).sum(axis=1)
                    for k in c[eq >= thr * NUM_HASHES]:
                        if b_ids[k] != s_ids[i]:
                            hits.add(int(b_ids[k]))
            if hits:
                yield pd.DataFrame({"doc_b": sorted(hits)})

    try:
        store_hits = {
            int(row["doc_b"])
            for row in store.mapInPandas(probe, "doc_b bigint").collect()
        }
    finally:
        # deterministic teardown even when the probe job fails (a retried
        # trigger creates a fresh broadcast each attempt): without it the
        # per-trigger broadcasts pile up until a python GC destroys them
        # from arbitrary call sites
        bc.destroy()
    record_batch(_SIG_CACHE, store_dir, batch_id)
    keep = ~dup & ~np.isin(ids, np.fromiter(store_hits, dtype=np.int64, count=len(store_hits)))
    return sig_pdf[keep]


def run_streaming_near_dup_dedup(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    output_dir: str,
    max_files_per_trigger: int | None = None,
    fast_hash: bool = True,
):
    """Start the stream (availableNow trigger: drains pending files and
    stops). ``output_dir`` accumulates accepted (doc_id) rows;
    ``store_dir`` accumulates their signatures. Defaults to the xxhash64
    family — there is no oracle in the loop, so the production hash is
    the right default (``fast_hash=False`` matches batch
    ``dedup_minhash`` signatures exactly for cross-checking).

    Acceptance is :func:`minhash_accept_collected`: 3 Spark actions per
    trigger (kernel+collect and two tiny local-data writes; the store
    probe runs on the driver mirror, or as one more job store-side).
    Measured on the 50k-doc stress drain @16 batches against the r11
    plan-side decision: warm 1,929 → 2,943 docs/s, fresh-process
    1,100 → 1,882."""
    schema = "doc_id bigint, text string"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_dir)

    sig_schema = "doc_id bigint, sig array<bigint>"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        # no fan-out: at 3k-doc triggers a repartition cost more than
        # the single-task kernel it spreads (r11 A/B)
        sigs = minhash_features_for(
            batch_df, fast_hash=fast_hash, want_arr=False
        )
        # one job: kernel + collect (a micro-batch is driver-sized)
        acc_pdf = minhash_accept_collected(
            ss, sigs.toPandas(), store_dir, batch_id
        )
        acc_pdf = acc_pdf.assign(
            sig=[[int(x) for x in s] for s in acc_pdf["sig"]]
        )
        accepted = ss.createDataFrame(acc_pdf[["doc_id", "sig"]], sig_schema)
        if len(acc_pdf):
            accepted = accepted.coalesce(1)
        # else: an all-duplicates trigger — write the empty batch dir
        # WITHOUT coalesce: coalesce(1) over an empty local relation
        # deterministically stalls each write job ~5 s (measured; the
        # uncoalesced empty write is ~0.2 s and there is nothing to
        # compact into one file anyway)
        accepted.write.mode("overwrite").parquet(f"{store_dir}/batch_id={batch_id}")
        accepted.select("doc_id").write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def compact_signature_store(
    spark: SparkSession,
    store_dir: str,
    keep_last: int = 1,
    schema: str = "doc_id bigint, sig array<bigint>",
    key: str = "doc_id",
) -> int:
    """Compact the per-batch signature store between stream runs: merge
    the `batch_id=N` dirs (and any prior `compacted=K` dir) into ONE
    `compacted=<max merged N>` dir, then drop the merged inputs. Returns
    the number of input dirs merged (0 = nothing to do).

    Why: every trigger re-lists and re-scans the whole store, so a
    long-running ingest accumulating one dir (one file since r11) per
    batch pays O(batches) listing + open cost per trigger — the exact
    small-files decay `compact_parquet` exists for, applied to this
    store's layout. Run it between stream runs (the stream holds no
    lock; but compaction must not race a LIVE stream, whose replayed
    batch could rewrite a dir mid-merge).

    Correctness under the stream's replay guard: compacted rows carry no
    `batch_id=` in their path, so the store read assigns them _bid=-1
    and they are never excluded. For ACCEPTED-only stores (the minhash
    and embedding near-dup streams) that is safe for ANY batch: a
    replayed doc's own row is excluded by `doc_a != doc_b`, and two
    same-batch accepted docs are by construction not near-dups. For
    ALL-DOCS stores (the curated stream's feature store, which holds
    rejected higher-id near-dups too) the argument FAILS for exactly one
    batch: the newest, possibly-uncommitted one — compact it and replay
    it, and a doc's own-batch higher-id near-dup re-enters via the
    store-side `doc_a != doc_b` filter with _bid=-1, suppressing a
    previously-accepted doc (r11 advice). `keep_last >= 1` is therefore
    ENFORCED (ValueError on 0): the newest batch dir always stays
    uncompacted, so an uncommitted-final-batch replay rewrites its own
    dir — which also keeps accepted-only compaction duplicate-free
    rather than merely harmless (the consumer anti-join is
    multiplicity-blind). Committed older batches are replay-dead under
    availableNow checkpointing, so compacting THEM is safe for every
    store kind.

    Local filesystem ONLY: the listing/rename/delete steps are
    driver-local (`glob`/`os.rename`/`shutil`). On an object-store or
    HDFS scheme the glob would silently match nothing and the call
    would no-op — exactly the failure mode `read_store` warns about —
    so a non-local `store_dir` raises instead (port the listing to the
    Hadoop FileSystem API, as `read_store` does for reads, before
    lifting this).

    Crash posture (the kill-audit pattern): the merged dir is written to
    a `.compact-staging` sibling and renamed into place BEFORE any
    input is deleted — a kill mid-way leaves duplicate rows, never lost
    ones, and the next call self-heals: inputs subsumed by an existing
    `compacted=K` (batch ids <= K, or older compacted dirs) are re-merged
    and dropped."""
    import glob
    import os
    import re
    import shutil

    if keep_last < 1:
        raise ValueError(
            "compact_signature_store: keep_last must be >= 1 — the newest "
            "batch may be uncommitted, and for all-docs stores (the "
            "curated feature store) compacting it breaks replay parity "
            "(see docstring)"
        )
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", store_dir):
        raise ValueError(
            f"compact_signature_store: {store_dir!r} has a filesystem "
            "scheme, but compaction is driver-local (glob/os.rename) and "
            "would silently no-op on a remote store — run it against a "
            "local mount, or port the listing to the Hadoop FileSystem API"
        )

    staging = os.path.join(store_dir, ".compact-staging")
    shutil.rmtree(staging, ignore_errors=True)

    batch_dirs = {
        int(m.group(1)): p
        for p in glob.glob(os.path.join(store_dir, "batch_id=*"))
        if (m := re.search(r"batch_id=(\d+)$", p))
    }
    old_compacted = sorted(glob.glob(os.path.join(store_dir, "compacted=*")))
    merge_batches = sorted(batch_dirs)[: max(0, len(batch_dirs) - keep_last)]
    inputs = [batch_dirs[b] for b in merge_batches] + old_compacted
    if len(inputs) < 2:
        return 0
    hi = max(
        merge_batches
        + [
            int(m.group(1))
            for p in old_compacted
            if (m := re.search(r"compacted=(\d+)$", p))
        ]
    )
    (
        spark.read.schema(schema)
        .parquet(*inputs)
        # crash-window duplicates (an input dir that survived a kill
        # after the merged dir was renamed in) collapse here: a doc_id
        # appears in one accepting batch, so its sig rows are identical
        .dropDuplicates([key])
        .coalesce(1)
        # key-sorted file -> tight per-row-group min/max stats, so the
        # curated stream's per-candidate gram fetch (doc_id IN (...)
        # pushdown) skips non-matching row groups of the compacted file
        # just like it skips non-matching batch files (r12)
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(staging)
    )
    dest = os.path.join(store_dir, f"compacted={hi}")
    shutil.rmtree(dest, ignore_errors=True)  # re-compaction of same hi
    os.rename(staging, dest)
    for p in inputs:
        if p != dest:
            shutil.rmtree(p, ignore_errors=True)
    return len(inputs)
