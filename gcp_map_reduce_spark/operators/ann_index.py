"""Persisted IVF-Flat ANN index: build ONCE, query MANY times.

Every ANN plan in :mod:`similarity` recomputes its coarse quantizer and
cell assignment per call — correct for one-shot analytics, wasteful for
the serving-adjacent pattern a training-data platform actually runs:
an embedding corpus is (re)indexed once per ingest cycle and then
queried thousands of times (decontamination probes, near-dup lookups
for incoming batches, semantic retrieval for eval set construction).
This module persists the IVF structure so a search touches ONLY the
probed cells' files, never the corpus:

Layout (all under one index dir, published atomically)::

    index_dir/
      codebook/            parquet: (cell_id, ce: array<double>, cn2)
      vectors/             parquet, partitionBy(cell_id):
                             (vec_id, e: array<double>, n2)
      vectors-segNNNN/     appended batches, same layout (LSM-style;
                             see ann_index_append / compact_ann_index)
      tombstones-tNNNN/    deleted vec_ids (ann_index_delete) — readers
                             anti-join them out; each delete FOLDS the
                             prior batch, so at most one dir is live
                             (r15); compaction rewrites live rows only
                             and drops it
      _cell_counts-*.json  exact per-cell populations (content-
                             addressed sidecar, r15) for the screening
                             join's hot-cell sub-splitting — lazily
                             loaded via ann_index_cell_counts
      _index_meta.json     {version, n_cells, n_vec, dim, segments,
                             attrs, attrs_ddl, embedding_ddl, storage,
                             cell_counts_file, tombstones, n_deleted},
                             every key required, version exactly
                             INDEX_VERSION (anything else: "rebuild
                             the index"); optional cache_key_source
                             and stream_marks. The manifest is the
                             COMMIT POINT: a segment, tombstone batch,
                             or counts sidecar exists iff listed here

Why ``partitionBy(cell_id)`` is the load-bearing choice: the partition
column becomes a DIRECTORY level, so a search's cell restriction is a
static ``PartitionFilters: [cell_id IN (...)]`` at the parquet scan —
the files of un-probed cells are never opened (plan-gated in
``tests/test_ann_index.py``). At 100 TB that is the difference between
an O(n_probe x |Q| x cell) read and a corpus scan per query batch.
(Dynamic partition pruning can't carry this: Spark only plants a DPP
subquery when the dimension side has a selective filter, and a query
batch is an arbitrary relation — measured on this layout, the
broadcast-join plan scans all cells. The probed-cell set is collected
driver-side instead: it is bounded by ``n_cells`` longs — tiny by
construction — and yields compile-time pruning, strictly better than
runtime DPP here.)

Assignment/probe consistency: both the build-time single-cell
assignment and the query-time ``n_probe``-cell probe call the SHARED
:func:`similarity.ivf_probe_cells` expression, so a vector's home cell
and a query's probe ranking can never disagree on distance arithmetic
(bit-identical by construction, asserted in the tests, not by two
copies staying in sync).

Scale posture:
- build: one corpus scan for assignment (broadcast codebook argmin —
  zero shuffle), one ``repartition(cell_id)`` shuffle to lay files out
  one-per-cell. n_cells defaults to ``ivf_dedup_n_cells(N, n_probe=1)``
  (= ceil(N/640)) up to the 65536-cell broadcast cap, about 42M
  vectors; past the cap, shard the corpus.
- search: cost is |Q| x n_cells x d for probing (broadcast codebook)
  plus the probed cells' rows x |Q_cell| x d for exact re-rank. The
  query relation is broadcast — the documented contract is query
  batches small enough to broadcast (decontam probes, eval queries);
  corpus-scale "query" sets are a JOIN, not a search: use the batch
  IVF near-dup plan (`embedding_near_dup_pairs_ivf`).
- crash safety: the whole index publishes via
  :func:`sinks.writers.publish_atomic` — readers see the complete old
  index until the swap; a killed build leaves a sweepable staging dir.

Reference parity: the reference has no ANN at all — this extends the
LLM-pipeline surface (SURVEY §2 "similarity search" family) with the
build-once/query-many shape its one-shot plans lack.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import tempfile
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_map_reduce_spark.operators.similarity import (
    TOP_K,
    _dot,
    _emb,
    _np_n2,
    _seq_dot,
    _with_norm2,
    ivf_dedup_n_cells,
    ivf_probe_cells,
    ivf_seed_codebook,
)
from gcp_map_reduce_spark.sinks.writers import publish_atomic

# The one manifest format this module writes and reads. An index written
# under any other version is a derived artifact of an older format:
# ann_index_meta rejects it with "rebuild the index", and the cache
# digest embeds the version, so ann_index_for_corpus never resolves one.
INDEX_VERSION = 5
META_FILE = "_index_meta.json"
# every key the build writes; a manifest missing any of them is not this
# format (storage type and tombstones are plain fields, not versions)
MANIFEST_KEYS = (
    "version", "n_cells", "n_vec", "dim", "segments", "attrs", "attrs_ddl",
    "embedding_ddl", "storage", "cell_counts_file", "tombstones",
    "n_deleted",
)


class FullyTombstonedError(ValueError):
    """Every physical row of the index is tombstoned — compaction would
    publish an empty, unreadable vectors dir. The index itself still
    serves (readers anti-join to empty results); drop or rebuild it.
    A dedicated type so the streaming maintainer's in-stream compaction
    can recognize the condition instead of crash-looping on it."""


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, META_FILE)


def ann_index_meta(index_dir: str) -> dict:
    """Read and validate the index manifest; raise an actionable error
    on a missing index, or on one whose manifest is not exactly
    ``INDEX_VERSION`` with every key of ``MANIFEST_KEYS``, rather than
    scanning garbage."""
    path = _meta_path(index_dir)
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"no ANN index at {index_dir} ({META_FILE} missing) — "
            "build one with ann_index_build()"
        )
    with open(path) as fh:
        meta = json.load(fh)
    missing = [k for k in MANIFEST_KEYS if k not in meta]
    if meta.get("version") != INDEX_VERSION or missing:
        raise ValueError(
            f"ANN index at {index_dir} has manifest version "
            f"{meta.get('version')!r}"
            + (f" without {missing}" if missing else "")
            + f", this reader speaks version {INDEX_VERSION} only — "
            "rebuild the index"
        )
    return meta


def _embedding_ddl(spark: SparkSession, sf_dir: str) -> str:
    """The SOURCE corpus's embedding column type (e.g. "array<float>"),
    recorded in the manifest so the streaming maintainer can type its
    file reader from the manifest instead of hardcoding array<float> —
    an index built over array<double> otherwise starts the stream fine
    and misreads inside the first trigger (r12 ADVICE)."""
    return _emb(spark, sf_dir).schema["embedding"].dataType.simpleString()


def _attrs_ddl(feats, attrs: list[str]) -> str:
    """DDL fragment for the persisted attr columns ("label int, ...") —
    recorded in the manifest so a streaming maintainer can extend its
    reader schema without guessing types."""
    by_name = {f.name: f for f in feats.schema.fields}
    # backtick-quote: a legal-but-nonidentifier attr name ("my-label")
    # would otherwise build fine and break the stream at schema parse
    return ", ".join(
        f"`{c}` {by_name[c].dataType.simpleString()}" for c in attrs
    )


def _meta_write(index_dir: str, meta: dict) -> None:
    """Atomic manifest update (tmp + os.replace): the manifest is the
    COMMIT POINT for appends — a segment directory exists to readers iff
    it is listed here, so a crash anywhere before this replace leaves
    the index exactly as it was."""
    path = _meta_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def _write_cell_counts(dir_path: str, counts: dict) -> str:
    """Write per-cell populations as a content-addressed sidecar beside
    the manifest and return its filename (recorded in the manifest as
    ``cell_counts_file``). Counts used to ride the manifest inline,
    which made the one piece of per-commit work that grows with INDEX
    size rather than batch size: every append/delete/compact rewrote —
    and every meta read parsed — a JSON of up to 65536 cells (r14
    verdict finding 1). As a sidecar,
    commits that don't change counts (tombstone deletes) never touch it,
    reads are lazy (:func:`ann_index_cell_counts` — only the screen's
    sizing loads it), and the sha embedded in the name is the integrity
    check. tmp+replace keeps the file atomic; the manifest replace that
    references it remains the commit point."""
    payload = json.dumps(counts, sort_keys=True).encode()
    sha = hashlib.sha1(payload).hexdigest()[:16]
    fname = f"_cell_counts-{sha}.json"
    path = os.path.join(dir_path, fname)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, path)
    return fname


# Dirs each per-index driver cache (_CELL_COUNTS_CACHE,
# _CODEBOOK_CACHE, _IDS_MIRROR) holds before it starts over: one entry
# per index dir (per codebook dir in _CODEBOOK_CACHE, which also holds
# the embedding streams' codebooks), and every corpus generation
# ann_index_for_corpus resolves is a new dir that
# _sweep_stale_generations removes from disk but not from these dicts.
# A reset costs re-reads, never a different answer.
INDEX_CACHE_MAX_DIRS = 64


def _cache_put(cache: dict, index_dir: str, value) -> None:
    if index_dir not in cache and len(cache) >= INDEX_CACHE_MAX_DIRS:
        cache.clear()
    cache[index_dir] = value


# Driver-side sidecar cache: the content-addressed filename is a
# perfect cache key (the sha IS the content), so each generation's
# counts are read+verified+parsed once per process instead of per
# screen call (review catch). Keyed per index_dir (one live entry each,
# like _CODEBOOK_CACHE) so superseded sidecars of one dir don't pile up.
_CELL_COUNTS_CACHE: dict = {}


def ann_index_cell_counts(index_dir: str, meta: dict | None = None):
    """The index's exact per-cell populations as a READ-ONLY mapping
    (``types.MappingProxyType`` — consumers that accumulate copy with
    ``dict(...)``, see ``_commit_segment``). Lazily loads the
    ``cell_counts_file`` sidecar, verifying the content sha embedded in
    its name (a mismatch is external mutation/corruption and raises).
    A MISSING sidecar returns None rather than raising: counts are a
    sizing hint, and a lock-free reader can race a commit's sidecar
    sweep — the screen then sizes from the mean, which keeps results
    identical, just less balanced."""
    from types import MappingProxyType

    if meta is None:
        meta = ann_index_meta(index_dir)
    fname = meta["cell_counts_file"]
    hit = _CELL_COUNTS_CACHE.get(index_dir)
    if hit and hit[0] == fname:
        return hit[1]
    try:
        with open(os.path.join(index_dir, fname), "rb") as fh:
            payload = fh.read()
    except FileNotFoundError:
        return None
    sha = hashlib.sha1(payload).hexdigest()[:16]
    if f"_cell_counts-{sha}.json" != fname:
        raise ValueError(
            f"cell-counts sidecar {fname} at {index_dir} does not hash "
            "to its recorded name — the index was mutated outside the "
            "writer lock or the file is corrupt; rebuild or re-append"
        )
    # an immutable VIEW goes in the cache and to callers: the natural
    # consumer pattern mutates counts in place (the append path's
    # accumulate), and a shared mutable dict would silently corrupt
    # every later read of this generation (2nd review pass) — writers
    # that need to accumulate copy explicitly (dict(cc))
    counts = MappingProxyType(json.loads(payload))
    _cache_put(_CELL_COUNTS_CACHE, index_dir, (fname, counts))
    return counts


def _sweep_old_count_files(index_dir: str, keep: set[str]) -> None:
    """Remove superseded ``_cell_counts-*.json`` sidecars after a commit
    (the caller keeps the current AND previous names, so a lock-free
    reader holding the just-replaced manifest still resolves its file;
    one commit later it re-reads the manifest per the usual per-burst
    contract). Crash orphans — sidecars written before a manifest
    replace that never happened — are reclaimed here too."""
    try:
        names = os.listdir(index_dir)
    except FileNotFoundError:
        return
    for n in names:
        if (
            n.startswith("_cell_counts-")
            and n.endswith(".json")
            and n not in keep
        ):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(index_dir, n))


def _carry_cache_key(index_dir: str, meta: dict) -> dict:
    """Carry an existing manifest's ``cache_key_source`` into a
    rebuild's fresh manifest: an in-place rebuild of a cache generation
    (``ann_index_rebuild`` on a dir ``ann_index_for_corpus`` resolved)
    must not demote the dir from provably-live to unprovable-LRU sweep
    candidacy (r15, ADVICE fix). No-op when the dir has no manifest or
    no recorded source (user-directed index paths)."""
    try:
        with open(_meta_path(index_dir)) as fh:
            src = json.load(fh).get("cache_key_source")
    except (OSError, ValueError):
        return meta
    if src:
        meta["cache_key_source"] = src
    return meta


WRITE_LOCK_TIMEOUT_S = 300.0


@contextlib.contextmanager
def _write_lock(index_dir: str, timeout: float | None = None):
    """Exclusive inter-process WRITER lock for one index (appends and
    compactions; readers never take it), implemented as a kernel
    ``flock`` on a lock file BESIDE the index dir — beside, not inside,
    so it survives compaction's whole-directory publish swap and exists
    even while the dir is mid-rename. Mutating an index concurrently
    without this was the r12 ADVICE lost-update: two appenders
    computing the same next segment slot, one rmtree-ing the other's
    in-flight write, and the last manifest replace silently dropping
    the other's committed rows.

    Why ``flock`` and not an O_EXCL pid file: the kernel releases the
    lock the instant the holder dies (crash, kill -9, clean exit
    alike), so there is NO stale-lock state and therefore no breaking
    protocol — and every pid-file breaking protocol this module tried
    had an unfixable race (the r13 review catch: a bare unlink could
    discard a fresh holder's lock whose pid write hadn't flushed, and
    even a rename-claim breaker could clobber a newer waiter on
    restore). The lock file itself persists empty-or-pid-stamped
    between holds — its EXISTENCE means nothing, only the kernel lock
    state does. Local-FS semantics (flock over NFS is not a contract);
    object stores need a lease service instead, same caveat as the
    module's other local-FS contracts. Waiters poll non-blocking;
    exceeding ``timeout`` raises rather than deadlocking a stream
    forever."""
    import fcntl

    if timeout is None:
        timeout = WRITE_LOCK_TIMEOUT_S  # read at call time: patchable
    path = index_dir.rstrip("/") + ".writer-lock"
    deadline = time.monotonic() + timeout
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire the writer lock {path} "
                        f"within {timeout:.0f}s — held by pid "
                        f"{_lock_pid(path)}; if that process is not a "
                        "legitimate writer of this index, investigate it "
                        "(the lock dies with it)"
                    )
                time.sleep(0.05)
        # pid stamp is DIAGNOSTIC only (the timeout message above);
        # correctness lives entirely in the kernel lock
        os.ftruncate(fd, 0)
        os.write(fd, str(os.getpid()).encode())
        yield
    finally:
        os.close(fd)  # releases the flock


def _lock_pid(path: str) -> int | None:
    """The pid stamped in the lock file by its last holder — purely
    diagnostic (see _write_lock: kernel flock state is the lock)."""
    try:
        with open(path) as fh:
            txt = fh.read().strip()
        return int(txt) if txt else None
    except (OSError, ValueError):
        return None


# Cache-generation GC (ann_index_for_corpus): the resolved digest dir
# plus this many most-recently-used OTHER *candidate* generations
# survive a resolve; older candidates are swept. A generation is a
# candidate only if it is provably superseded — its manifest records
# the source corpus it was built from (``cache_key_source``, r15) and
# that file no longer fingerprints to the dir's digest (changed,
# deleted, or built under an older INDEX_VERSION) — or if it records
# no source (a crash between build and source record; LRU decides). A
# generation whose corpus still fingerprints to its digest is LIVE
# (some other corpus / storage variant resolves to it) and is never a
# victim: with >K actively-resolved corpora in one cache root the old
# pure-LRU sweep rmtree'd the least-recently-used live index every
# resolve — rebuild thrash (r14 ADVICE). Without any sweep a long-lived maintenance host
# leaks one full index per corpus change forever (r13 verdict).
ANN_INDEX_KEEP_GENERATIONS = 3
# Grace window: a generation used (resolved OR appended) within the
# TTL is skipped even when provably stale — lock-free readers hold a
# resolved path for one query burst, and yanking files mid-scan is the
# one eviction hazard keep-last-K alone cannot bound once candidacy is
# staleness-based.
ANN_INDEX_SWEEP_TTL_S = 900.0


def _touch_last_used(index_dir: str) -> None:
    """Stamp resolve-time recency on a sidecar BESIDE the dir (inside
    would die with every publish swap) — what keep-last-K orders by."""
    path = index_dir.rstrip("/") + ".last-used"
    with open(path, "a"):
        pass
    os.utime(path, None)


def _last_used_ns(root: str, name: str) -> int:
    """A generation's recency: the NEWER of the resolve-time sidecar and
    the dir's own mtime. The max matters (r14 review catch): a process
    that resolved once and then keeps APPENDING through the returned
    path updates the dir mtime (manifest replace) but never the sidecar
    — ordering by the stale sidecar alone would age an actively-mutated
    index to the bottom and sweep it between its appends."""
    stamps = []
    for p in (os.path.join(root, name + ".last-used"),
              os.path.join(root, name)):
        try:
            stamps.append(os.stat(p).st_mtime_ns)
        except OSError:
            continue
    return max(stamps, default=0)


def _corpus_cache_digest(src: str, storage: str, attrs=()) -> str:
    """The cache-generation name for a corpus file state: a fingerprint
    of (realpath, size, mtime_ns, INDEX_VERSION, storage variant, attr
    columns). One formula shared by resolve (``ann_index_for_corpus``)
    and the sweep's liveness check — recomputing it from a candidate's
    recorded source and getting the dir's own name back proves the
    corpus is unchanged and the generation still resolvable. Raises
    OSError if ``src`` is gone (provably stale, to the sweep)."""
    st = os.stat(src)
    return hashlib.sha1(
        f"{os.path.realpath(src)}|{st.st_size}|{st.st_mtime_ns}|"
        f"v{INDEX_VERSION}|{storage}|attrs:{','.join(attrs)}".encode()
    ).hexdigest()[:16]


def _generation_is_live(root: str, name: str) -> bool:
    """True iff generation ``name``'s recorded source corpus still
    fingerprints to ``name`` — i.e. a resolve of that corpus today
    would land HERE, so sweeping it would destroy a live index (r14
    ADVICE: distinct corpora / storage variants coexist in one root).
    Manifest read is raw JSON, not :func:`ann_index_meta`: a version
    above INDEX_VERSION means NEWER code owns the dir — treat as live,
    never as garbage. A lower version is stale: its digest embeds the
    old version, so no resolve can land on it again. A manifest with
    no recorded source returns False: liveness unprovable, LRU
    decides."""
    try:
        with open(os.path.join(root, name, META_FILE)) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return False  # unreadable manifest: let LRU + lock decide
    version = meta.get("version")
    if isinstance(version, int) and version < INDEX_VERSION:
        return False
    if version != INDEX_VERSION:
        return True
    src = meta.get("cache_key_source")
    if not src:
        return False
    try:
        return _corpus_cache_digest(
            src, meta["storage"], meta["attrs"]
        ) == name
    except (OSError, KeyError):
        return False  # corpus deleted or manifest malformed: stale


def _sweep_stale_generations(
    root: str, keep_dir: str, keep: int | None = None
) -> None:
    """Delete superseded cache generations under ``root``, keeping the
    just-resolved ``keep_dir`` plus the ``keep - 1`` most recently used
    other CANDIDATES. Candidacy (r15, was pure LRU): a generation used
    within ``ANN_INDEX_SWEEP_TTL_S`` is skipped outright (grace for
    lock-free readers mid-burst), one whose recorded corpus still
    fingerprints to its digest is LIVE and skipped
    (:func:`_generation_is_live` — another corpus resolves to it; LRU
    alone evicted live indexes when >K corpora shared a root), and the
    rest — provably superseded or unprovable — age out by
    recency as before. Each victim is claimed via its own writer lock
    NON-blocking — a held lock means a live builder/appender owns it
    and it is skipped this pass, never broken (flock dies with its
    holder, so a skipped dir is reclaimable the moment that process
    exits). Only pure 16-hex digest names with a manifest are
    candidates: staging / rollback siblings (``.staging-publish-*``,
    ``.old-publish``) belong to publish_atomic's own sweep, and
    lock/sidecar files are tiny and deliberately never unlinked
    (unlinking a lock file a waiter is blocked on would split the lock
    across two inodes — the r13 review class of race this module
    refuses to reopen).

    Readers take no lock by design, so a reader STILL scanning a
    swept generation can lose its files mid-plan — the TTL bounds the
    window, and the contract stands: consumers hold the resolved path
    for one query burst and re-resolve per batch (the façade and every
    operator here do)."""
    if keep is None:
        keep = ANN_INDEX_KEEP_GENERATIONS
    keep_name = os.path.basename(keep_dir.rstrip("/"))
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return
    fresh_ns = (time.time() - ANN_INDEX_SWEEP_TTL_S) * 1e9
    gens = [
        n
        for n in names
        if n != keep_name
        and len(n) == 16
        and all(c in "0123456789abcdef" for c in n)
        and os.path.isfile(os.path.join(root, n, META_FILE))
        and _last_used_ns(root, n) < fresh_ns
        and not _generation_is_live(root, n)
    ]
    gens.sort(key=lambda n: _last_used_ns(root, n), reverse=True)
    import shutil

    for name in gens[max(0, keep - 1):]:
        victim = os.path.join(root, name)
        try:
            with _write_lock(victim, timeout=0):
                shutil.rmtree(victim, ignore_errors=True)
                with contextlib.suppress(OSError):
                    os.remove(victim + ".last-used")
        except TimeoutError:
            continue  # live writer owns it — not stale, skip this pass


def _nearest_cells():
    """Build ``nearest(E, En2, cell_ids, C, Cn2, k)``: column indices of
    each row's ``k`` nearest codebook rows by squared L2 distance
    ``(n2 - 2*dot) + cn2`` with the (d, cell_id) tie-break — the one
    numpy distance definition the Arrow build assignment, the append,
    the driver-side probe and the embedding stream's driver-side
    triggers share, so they cannot disagree. Built as
    a closure so the Arrow build kernel that calls it pickles it by
    value and runs where Spark's Python workers cannot import this
    package."""

    def nearest(E, En2, cell_ids, C, Cn2, k: int):
        import numpy as np

        dist = (En2[:, None] - 2.0 * _seq_dot(E, C)) + Cn2[None, :]
        return np.lexsort(
            (np.broadcast_to(cell_ids, dist.shape), dist), axis=1
        )[:, :k]

    return nearest


_np_nearest = _nearest_cells()


def _assign_cells(
    feats: DataFrame, seeds: DataFrame, n_cells: int
) -> DataFrame:
    """Add the home ``cell_id`` (nearest codebook cell) to every feats
    row — the N x n_cells x d term of a build.

    Below ``ARROW_ASSIGN_MIN_CELLS`` cells this is the broadcast-codebook
    ``ivf_probe_cells`` expression: zero extra jobs, but higher-order
    array folds are CodegenFallback — ~n_cells x d interpreted ops per
    row, the build bottleneck once n_cells grows with the corpus. From
    the crossover on it collects the codebook once (bounded: <=
    IVF_DEDUP_CELLS_CAP x d doubles, the same 32 MB broadcast ceiling)
    and assigns per Arrow batch with the d-sequential numpy fold —
    bit-identical distances and (d, cell_id) tie-breaks to the
    expression path (the ``_probes_driver`` arithmetic, pytest-gated),
    at GEMM speed. Measured builds, best-of-3: 94 cells/60k rows 12.3 s
    plan vs 4.3 s arrow (2.8x); 4 cells/2k rows 2.5 s plan vs 4.8 s
    arrow (the Arrow exchange costs more than the small fold).
    """
    if n_cells < ARROW_ASSIGN_MIN_CELLS:
        return _assign_cells_plan(feats, seeds)
    return _assign_cells_arrow(feats, seeds)


def _assign_cells_plan(feats: DataFrame, seeds: DataFrame) -> DataFrame:
    cb = seeds.agg(
        F.collect_list(F.struct("cell_id", "ce", "cn2")).alias("cb")
    )
    return feats.crossJoin(F.broadcast(cb)).select(
        *feats.columns, ivf_probe_cells(1)[0].alias("cell_id")
    )


def _assign_cells_arrow(feats: DataFrame, seeds: DataFrame) -> DataFrame:
    import numpy as np

    rows = seeds.orderBy("cell_id").collect()
    cell_ids = np.array([r.cell_id for r in rows], dtype=np.int64)
    CE = np.array([r.ce for r in rows], dtype=np.float64)
    CN2 = np.array([r.cn2 for r in rows], dtype=np.float64)
    # NB: StructType.add mutates in place — mutating feats.schema would
    # desync the df's cached Python schema from the JVM plan; build a
    # fresh StructType instead
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(feats.schema.fields) + [StructField("cell_id", LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
                n2 = pdf["n2"].to_numpy(dtype=np.float64)
                home = cell_ids[
                    _np_nearest(E, n2, cell_ids, CE, CN2, 1)[:, 0]
                ]
                pdf = pdf.assign(cell_id=home)
            else:
                pdf = pdf.assign(cell_id=np.array([], dtype=np.int64))
            yield pdf

    return feats.mapInPandas(kernel, schema=out_schema)


# Arrow-assignment crossover (cells): measured 94 cells -> arrow 2.8x
# faster, 4 cells -> plan ~2x faster (numbers in _assign_cells); 32
# splits the measured gap conservatively. The assignment term stays
# GEMM-bounded exactly where it starts to matter: n_cells grows with
# the corpus (ivf_dedup_n_cells), so every at-scale build takes the
# arrow path.
ARROW_ASSIGN_MIN_CELLS = 32


def _quantize_stored(assigned: DataFrame, attrs: list[str]) -> DataFrame:
    """Int8-quantize the float rows a build/append is about to persist:
    per-vector ``scale = max|e| / 127``, ``ec = floor(e / scale)``
    (tinyint codes), ``n2`` = the DECODED squared norm — the storage
    side of the ``embedding_quantize_error`` audit, applied. Everything
    downstream ranks on ``decode(ec) = ec * scale`` exactly: floor,
    divide and multiply are single correctly-rounded IEEE ops, so the
    quantized index is a DETERMINISTIC function of its inputs and the
    SQL oracle can replicate it bit-for-bit (unlike true approximate
    storage). A zero vector quantizes to zero codes with scale 0; any
    NONZERO vector keeps a nonzero decoded norm (its max element's code
    is ±127 by construction), so quantization can never create new
    zero-norm candidates."""
    scale = (
        F.aggregate(
            F.transform("e", lambda x: F.abs(x)),
            F.lit(0.0),
            lambda a, b: F.when(b > a, b).otherwise(a),
        )
        / 127
    ).alias("scale")
    staged = assigned.select(
        "vec_id", "e", scale, *attrs, "cell_id"
    )
    ec = F.when(
        F.col("scale") == 0,
        F.transform("e", lambda x: F.lit(0).cast("byte")),
    ).otherwise(
        F.transform("e", lambda x: F.floor(x / F.col("scale")).cast("byte"))
    )
    staged = staged.select(
        "vec_id", ec.alias("ec"), "scale", *attrs, "cell_id"
    )
    decoded = F.transform("ec", lambda c: c.cast("double") * F.col("scale"))
    return staged.select(
        "vec_id",
        "ec",
        "scale",
        _dot(decoded, decoded).alias("n2"),
        *attrs,
        "cell_id",
    )


def ann_index_build(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int | None = None,
    attrs: list[str] | None = None,
    storage: str = "float64",
) -> dict:
    """Build and atomically publish the IVF index for ``sf_dir``'s
    embeddings table; return the written meta dict.

    The codebook is the first ``n_cells`` vectors by vec_id. One corpus
    scan assigns each vector to its single nearest cell
    (:func:`_assign_cells` — zero shuffle); one ``repartition(cell_id)``
    shuffle lays the cells out one file per cell so the partition dirs
    don't fragment (at real scale swap this for ``repartitionByRange`` +
    a files-per-cell cap).

    ``attrs`` persists extra metadata columns from the embeddings table
    (e.g. ``["label"]``) alongside each vector — the storage side of
    FILTERED search: a predicate over these columns reaches the parquet
    scan of the probed cells as a ``PushedFilters`` entry (see
    ``ann_index_search(where=...)``), so a filtered search reads even
    less than an unfiltered one, instead of post-filtering collected
    candidates.

    Concurrency: the whole build holds the index's exclusive writer
    lock, exactly like appends and compactions — a rebuild OVER A LIVE
    index (the documented reindex pattern) otherwise races a locked
    append: ``publish_atomic``'s dir swap can land mid-append, dropping
    the append's committed segment or publishing a manifest that lists
    a segment absent from the swapped-in dir (r13 ADVICE). Internal
    callers that already hold the lock (``ann_index_for_corpus``,
    ``ann_index_rebuild``) call :func:`_build_unlocked` instead — flock
    is per-open-file-description, so a nested acquire in the same
    process would deadlock until timeout, not recurse.
    """
    with _write_lock(index_dir):
        return _build_unlocked(
            spark, sf_dir, index_dir, n_cells, attrs, storage
        )


def _build_unlocked(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int | None = None,
    attrs: list[str] | None = None,
    storage: str = "float64",
) -> dict:
    """:func:`ann_index_build` minus the writer lock — for callers that
    already hold it (lock acquisition is non-reentrant by design)."""
    from gcp_map_reduce_spark.operators.similarity import corpus_vec_count

    attrs = list(attrs or [])
    # every internal column any build/append/search plan introduces —
    # an attr shadowing one would build fine and break later operations
    # (e.g. attrs=['query_id'] makes the probe join ambiguous on every
    # subsequent search)
    reserved = {
        "vec_id", "e", "n2", "cell_id", "embedding", "cb",
        "query_id", "qe", "qn2", "cand_id", "cosine", "rn",
        "ec", "scale",
    }
    if reserved & set(attrs):
        raise ValueError(
            f"attrs may not shadow index columns; reserved: {sorted(reserved)}"
        )
    if storage not in ("float64", "int8"):
        raise ValueError(
            f"storage must be 'float64' or 'int8', got {storage!r}"
        )
    n_vec = corpus_vec_count(spark, sf_dir)
    if n_cells is None:
        # one home cell per vector -> n_probe=1 in the sizing formula;
        # expected cell population ~IVF_DEDUP_CELL_TARGET rows
        n_cells = ivf_dedup_n_cells(n_vec, n_probe=1)
    seeds = ivf_seed_codebook(spark, sf_dir, n_cells)
    feats = _with_norm2(_emb(spark, sf_dir)).select("vec_id", "e", "n2", *attrs)
    assigned = _assign_cells(feats, seeds, n_cells)
    dim = len(
        _emb(spark, sf_dir).select("embedding").head()["embedding"]
    )
    meta = {
        "version": INDEX_VERSION,
        "n_cells": int(n_cells),
        "n_vec": int(n_vec),
        "dim": int(dim),
        "segments": ["vectors"],
        "attrs": attrs,
        "attrs_ddl": _attrs_ddl(feats, attrs),
        "embedding_ddl": _embedding_ddl(spark, sf_dir),
        "storage": storage,
        "tombstones": [],
        "n_deleted": 0,
    }
    _carry_cache_key(index_dir, meta)
    if storage == "int8":
        assigned = _quantize_stored(assigned, attrs)

    def write(staging: str) -> None:
        seeds.coalesce(1).write.parquet(os.path.join(staging, "codebook"))
        (
            assigned.repartition("cell_id")
            .write.partitionBy("cell_id")
            .parquet(os.path.join(staging, "vectors"))
        )
        _write_seg_ids(
            spark, os.path.join(staging, "vectors"), meta["n_vec"]
        )
        meta["cell_counts_file"] = _write_cell_counts(
            staging, _seg_cell_counts(spark, os.path.join(staging, "vectors"))
        )
        with open(os.path.join(staging, META_FILE), "w") as fh:
            json.dump(meta, fh)

    publish_atomic(index_dir, write)
    return meta


def ann_index_for_corpus(
    spark: SparkSession,
    sf_dir: str,
    cache_root: str | None = None,
    storage: str = "float64",
    attrs: list[str] | None = None,
) -> str:
    """Resolve (building if needed) the persisted index for ``sf_dir``'s
    embeddings corpus and return its index_dir — the session-spanning
    face of build-once/query-many: the FIRST caller per corpus version
    pays the build, every later search (this session or the next) reuses
    the published files.

    The cache key is a fingerprint of the corpus file itself (realpath,
    size, mtime_ns), baked into the directory NAME — a changed corpus
    can never alias a stale index, and staleness needs no sidecar
    state. Concurrent resolvers are safe: the build runs under the
    index's exclusive writer lock (:func:`_write_lock` on the digest
    dir), so the first caller builds while losers wait on the lock,
    re-check the manifest, and reuse the winner's published index —
    they never write at all (r12 ADVICE: two unsynchronized builders
    could previously cross-delete staging writes). Local-FS keying only
    — on object stores key on the ingest snapshot id instead (mtimes
    are not a contract there; same caveat class as read_store's
    docstring).
    """
    attrs = list(attrs or [])
    src = os.path.join(sf_dir, "embeddings.parquet")
    digest = _corpus_cache_digest(src, storage, attrs)
    root = cache_root or os.path.join(
        tempfile.gettempdir(), "gcp_mrs_ann_index"
    )
    os.makedirs(root, exist_ok=True)
    index_dir = os.path.join(root, digest)
    try:
        ann_index_meta(index_dir)
        _touch_last_used(index_dir)
        _sweep_stale_generations(root, index_dir)
        return index_dir
    except (FileNotFoundError, ValueError):
        pass
    with _write_lock(index_dir):
        try:
            ann_index_meta(index_dir)  # a concurrent winner built it
        except (FileNotFoundError, ValueError):
            # _build_unlocked: this frame already holds the writer lock
            _build_unlocked(
                spark, sf_dir, index_dir, storage=storage, attrs=attrs
            )
            # record the source corpus (realpath, same as the digest
            # formula) so a later sweep can PROVE this generation live
            # or stale by re-fingerprinting it — the manifest update is
            # atomic and still under our writer lock
            meta = ann_index_meta(index_dir)
            meta["cache_key_source"] = os.path.realpath(src)
            _meta_write(index_dir, meta)
    # recency stamp + GC of superseded generations (keep-last-K, each
    # victim claimed via its own writer lock non-blocking) — the sweep
    # runs OUTSIDE our own dir's lock: it never touches index_dir
    _touch_last_used(index_dir)
    _sweep_stale_generations(root, index_dir)
    return index_dir


def _load_vectors(
    spark: SparkSession,
    index_dir: str,
    meta: dict | None = None,
    decode: bool = True,
    include_deleted: bool = False,
) -> DataFrame:
    """(vec_id, e, n2, cell_id) over every COMMITTED segment (base +
    appended batches, per the manifest). cell_id comes back as the
    inferred partition-column type (int); normalize to long so joins
    against the probe column never insert a cast above the scan. The
    union is segment-wise scans of identically-partitioned layouts, so
    a downstream cell_id filter pushes into EVERY leg's
    PartitionFilters (Catalyst pushes filters through Union).

    Int8 indexes (``storage="int8"``) store codes, not floats; with
    ``decode=True`` (the default every consumer wants) the stored
    ``(ec, scale)`` pair decodes to ``e = ec * scale`` IN THE PLAN —
    one expression above the pruned scan, so search/screen/dup-check
    code is storage-agnostic and column pruning still drops the decode
    entirely for ids-only reads. ``decode=False`` returns the raw
    stored columns — compaction MUST use it, or it would silently
    rewrite a quantized index as float64.

    Tombstoned rows (``ann_index_delete``) are excluded by a BROADCAST
    anti-join on vec_id — the tombstone set is bounded by deletes,
    never by the corpus, and compaction folds it to zero. The default
    is what every reader (search, range, screen) wants;
    ``include_deleted=True`` exposes the PHYSICAL rows — the dup
    checks need it (a deleted vec_id still occupies its slot until a
    compaction materializes the delete; see ann_index_delete)."""
    meta = meta or ann_index_meta(index_dir)
    df = None
    for seg in meta["segments"]:
        leg = spark.read.parquet(os.path.join(index_dir, seg)).withColumn(
            "cell_id", F.col("cell_id").cast("long")
        )
        df = leg if df is None else df.unionByName(leg)
    if not include_deleted and meta["tombstones"]:
        tombs = None
        for t in meta["tombstones"]:
            leg = spark.read.parquet(os.path.join(index_dir, t))
            tombs = leg if tombs is None else tombs.unionByName(leg)
        df = df.join(F.broadcast(tombs), "vec_id", "left_anti")
    if decode and meta["storage"] == "int8":
        decoded = F.transform(
            "ec", lambda c: c.cast("double") * F.col("scale")
        )
        df = df.select(
            "vec_id",
            decoded.alias("e"),
            "n2",
            *meta["attrs"],
            "cell_id",
        )
    return df


def _write_seg_ids(spark: SparkSession, seg_dir: str, n_rows: int) -> None:
    """Write a segment's ids-only sidecar: ``<seg_dir>/_ids`` holding
    exactly the segment's ``vec_id`` column (r16, closes the r15 scale
    finding: the delete commit's live-intersection scan opened one file
    per CELL, so a single takedown's wall grew with index size —
    measured 0.50 -> 5.43 s as n_cells grew 32 -> 2048. With the
    sidecar the live-ids read opens a few files per SEGMENT, a count
    bounded by compaction cadence, not index size).

    The underscore prefix makes the dir invisible to every partitioned
    read of the segment (parquet hidden-file convention, pinned by
    test), so scans/compaction/counts are untouched, and the sidecar
    lives and dies with its segment: the crash-leftover sweep, the
    publish_atomic dir swap and compaction's rewrite all handle it for
    free. Written BEFORE the manifest commit — a crash in between
    leaves an unregistered segment the next commit sweeps whole. Ids
    are read back from the just-written files (metadata-cheap ids-only
    columnar read, paid once per commit), sized to ~8M ids/file."""
    import math

    files = max(1, math.ceil(int(n_rows) / 8_000_000))
    (
        spark.read.parquet(seg_dir)
        .select(F.col("vec_id").cast("long"))
        .coalesce(files)
        .write.parquet(os.path.join(seg_dir, "_ids"))
    )


def _live_ids(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    """(vec_id) of every LIVE row — the delete path's membership read,
    from each segment's ``_ids`` sidecar (a few file opens per segment,
    not one per cell)."""
    df = None
    for seg in meta["segments"]:
        leg = spark.read.parquet(os.path.join(index_dir, seg, "_ids"))
        df = leg if df is None else df.unionByName(leg)
    if meta["tombstones"]:
        tombs = None
        for t in meta["tombstones"]:
            tleg = spark.read.parquet(os.path.join(index_dir, t)).select(
                F.col("vec_id").cast("long")
            )
            tombs = tleg if tombs is None else tombs.unionByName(tleg)
        df = df.join(F.broadcast(tombs), "vec_id", "left_anti")
    return df


def _seg_cell_counts(spark: SparkSession, seg_dir: str) -> dict:
    """{str(cell_id): rows} of ONE written segment dir, read from the
    parquet FOOTERS (the projection is the partition column alone, so no
    data page is ever decoded — one metadata-weight job). Build and
    compaction record these in the counts sidecar (appends add the
    batch's driver-side histogram): the exact per-cell populations the
    screening join sizes its sub-blocks from —
    sizing from the MEAN left a Zipf-hot cell's worst task bounded by
    its own population instead of the tile target (r13 verdict task 5),
    and at 100 TB the hot cell IS the workload. JSON object keys are
    strings by spec, hence str(cell_id)."""
    rows = spark.read.parquet(seg_dir).groupBy("cell_id").count().collect()
    return {str(int(r["cell_id"])): int(r["count"]) for r in rows}


def _ids_df(spark: SparkSession, ids) -> DataFrame:
    """A driver-side vec_id list as an Arrow-backed single-batch
    DataFrame (column ``vec_id long``). NOT ``createDataFrame(list)``:
    that parallelizes across defaultParallelism python slices, and the
    tombstone path's ``coalesce(1).write`` then pays ~32 SEQUENTIAL
    python-worker round-trips inside one task — a measured ~5 s to
    write 4 ids (r15 profile). The Arrow path ships one record batch
    and scans JVM-side (~0.2 s)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"vec_id": pd.array(sorted(ids), dtype="int64")})
    )


def _generation(index_dir: str) -> int:
    """The published codebook dir's st_mtime_ns — the index GENERATION
    fingerprint: appends never touch the codebook, so within one
    generation it is constant, and every rebuild republishes it
    (publish_atomic swaps the whole dir), so two generations can never
    share it (ns resolution, same reason _mirror_key uses it)."""
    return os.stat(os.path.join(index_dir, "codebook")).st_mtime_ns


def _commit_segment(
    index_dir: str,
    meta: dict,
    assigned: DataFrame,
    seg_counts: dict,
    expected_gen: int,
) -> dict:
    """Write ``assigned`` as the next segment dir and commit it into the
    manifest (atomic replace = the commit point; a pre-existing dir at
    the slot is an unregistered crash leftover and is swept).
    ``seg_counts`` is the batch's ``{str(cell_id): rows}`` histogram,
    already known on the driver. Callers hold the writer lock; the
    manifest re-read below turns a NON-locking external mutation (which
    the lock cannot see) into a loud error instead of a silent lost
    update. ``expected_gen`` is the :func:`_generation` fingerprint
    captured when ``meta`` was read — it catches the mutation the
    segments list alone cannot: an external REBUILD that lands
    segments==['vectors'] while our stale meta also reads ['vectors']
    (first append on a fresh index) swapped the codebook underneath,
    and committing would register rows assigned against the OLD
    codebook (r13 ADVICE)."""
    on_disk = ann_index_meta(index_dir)
    if (
        on_disk["segments"] != meta["segments"]
        # an external delete between our meta read and this commit
        # would have its tombstone registration silently dropped by
        # the manifest replace below
        or on_disk["tombstones"] != meta["tombstones"]
        or _generation(index_dir) != expected_gen
    ):
        raise RuntimeError(
            f"index at {index_dir} was mutated outside the writer lock "
            f"during this append (manifest segments {meta['segments']} "
            f"-> {on_disk['segments']}, tombstones changed, or the "
            "codebook generation changed — an external rebuild) — "
            "aborting before overwriting its commit; retry the append"
        )
    prev_file = meta["cell_counts_file"]
    cc = ann_index_cell_counts(index_dir, meta)
    if cc is None:
        # r16 ADVICE fix: UNDER THE WRITER LOCK a manifest-referenced
        # sidecar cannot be missing via the sweep race that excuses
        # lock-free readers — it is external mutation, the same class
        # the sha-mismatch path raises on. Committing would carry the
        # dangling reference forward.
        raise ValueError(
            f"cell-counts sidecar {prev_file} referenced by the manifest "
            f"at {index_dir} is missing under the writer lock — the "
            "index was mutated externally; rebuild the index"
        )
    n_batch = sum(seg_counts.values())
    seg = f"vectors-seg{len(meta['segments']):04d}"
    seg_dir = os.path.join(index_dir, seg)
    if os.path.exists(seg_dir):
        import shutil

        shutil.rmtree(seg_dir)
    (
        assigned.repartition("cell_id")
        .write.partitionBy("cell_id")
        .parquet(seg_dir)
    )
    _write_seg_ids(assigned.sparkSession, seg_dir, n_batch)
    meta["segments"] = list(meta["segments"]) + [seg]
    meta["n_vec"] = int(meta["n_vec"]) + n_batch
    # accumulate exact per-cell populations (the screening join's
    # sub-split sizing) into a new sidecar, written BEFORE the manifest
    # replace: a crash between leaves an orphan the next commit's sweep
    # reclaims, never a manifest pointing at nothing
    cc = dict(cc)
    for k, v in seg_counts.items():
        cc[k] = cc.get(k, 0) + int(v)
    meta["cell_counts_file"] = _write_cell_counts(index_dir, cc)
    _meta_write(index_dir, meta)
    _sweep_old_count_files(index_dir, {meta["cell_counts_file"], prev_file})
    return meta


# driver-side PER-CELL ids mirror for the append's dup check: it needs
# ONLY membership of vec_ids within the batch's HOME CELLS — a replayed
# batch carries the same embeddings, hence the same home cells under
# the fixed codebook, so every already-present id is found there; a
# vec_id reused with a DIFFERENT embedding violates the append contract
# (vec_ids are unique by contract — appends are inserts, not upserts).
# So the mirror holds id sets for TOUCHED CELLS only, seeded lazily by
# one cell-pruned ids-only scan per newly-touched cell set
# (_ids_scan_df: the cell restriction is a static PartitionFilters IN
# on every segment leg — scanned bytes scale with the batch's cells,
# not n_vec; plan- and file-gated in tests). Between appends the sets
# change exactly by the batches THIS process committed, so commits
# update the cache in place. Keyed on the manifest's segment tuple (any
# external append or compaction changes it) PLUS the codebook dir's
# mtime as the generation fingerprint — a REBUILD restores
# segments==['vectors'], identical to a fresh index's tuple, and only
# the republished codebook mtime distinguishes the generations (without
# it a long-lived driver would dup-check a new corpus against the old
# one's ids). Driver memory is bounded by IDS_MIRROR_MAX_IDS cached ids
# (LRU over cells, batch's own cells never evicted mid-append) — a
# long-running stream that eventually touches every cell of a huge
# index re-fetches cold cells instead of mirroring the corpus.
_IDS_MIRROR: dict = {}

# ~60 B/entry as a Python int set -> ~120 MB ceiling; cells evict LRU
# past it. Raise for dedicated maintenance drivers with RAM to spare.
IDS_MIRROR_MAX_IDS = 2_000_000


def _ids_scan_df(
    spark: SparkSession, index_dir: str, meta: dict, cells
) -> DataFrame:
    """(vec_id, cell_id) of ONLY the given cells across every committed
    segment — the dup-check's read. The isin pushes into each segment
    leg's PartitionFilters (cell_id is the partition column), so
    un-listed cells' files are never opened. PHYSICAL rows on purpose
    (include_deleted): a tombstoned vec_id still occupies its slot
    until compaction, so appends must not re-use it (ann_index_delete
    docstring)."""
    return (
        _load_vectors(spark, index_dir, meta, include_deleted=True)
        .where(F.col("cell_id").isin([int(c) for c in cells]))
        .select("vec_id", "cell_id")
    )


def _ids_for_cells(
    spark: SparkSession, index_dir: str, meta: dict, cells
) -> dict:
    """{cell_id: set(vec_ids)} for the given cells via one cell-pruned
    collect. Cells with no rows yet come back as empty sets (they are
    KNOWN-empty, not unknown — the cache must remember that)."""
    out = {int(c): set() for c in cells}
    if out:
        for r in _ids_scan_df(spark, index_dir, meta, cells).collect():
            out[int(r.cell_id)].add(int(r.vec_id))
    return out


def _ids_mirror_evict(by_cell: "OrderedDict") -> None:
    """Drop least-recently-touched cells until the cached id count fits
    IDS_MIRROR_MAX_IDS — the driver-memory bound of the append's dup
    check (evicted cells re-fetch via _ids_for_cells on next
    touch)."""
    total = sum(len(s) for s in by_cell.values())
    while total > IDS_MIRROR_MAX_IDS and len(by_cell) > 1:
        _, dropped = by_cell.popitem(last=False)
        total -= len(dropped)


def _mirror_key(index_dir: str, segments) -> tuple:
    # st_mtime_ns, not float seconds: on coarse-timestamp filesystems a
    # rebuild landing in the same second would alias the old generation
    # (the same reason ann_index_for_corpus fingerprints with mtime_ns)
    return (index_dir, _generation(index_dir), tuple(segments))


def _tombstoned_ids(spark: SparkSession, index_dir: str, meta: dict) -> set:
    """Every tombstoned vec_id, collected — bounded by DELETES, never
    the corpus (the ann_index_delete contract), and read only when a
    dup clash needs attribution."""
    out: set = set()
    for t in meta["tombstones"]:
        for r in spark.read.parquet(os.path.join(index_dir, t)).collect():
            out.add(int(r.vec_id))
    return out


def _raise_dup_append(clash_ids, tombstoned: set) -> None:
    """The dup-check rejection, attributing tombstoned clashes to the
    right remedy: 'rebuild to replace' is the wrong prescription for a
    deleted id whose slot a compaction frees (review catch)."""
    dead = [i for i in clash_ids if i in tombstoned]
    if dead and len(dead) == len(clash_ids):
        raise ValueError(
            "append batch contains vec_ids that are DELETED (tombstoned) "
            "in this index — their slots stay occupied until a "
            "compaction materializes the delete; run compact_ann_index, "
            "then re-append the replacements"
        )
    raise ValueError(
        "append batch contains vec_ids already in the index — "
        "appends are inserts, not upserts; rebuild to replace "
        "(or pass if_exists='skip' for idempotent ingest)"
        + (f"; {len(dead)} of the sampled clashes are tombstoned ids "
           "whose slots a compact_ann_index would free" if dead else "")
    )


def _warn_tombstoned_skips(n: int) -> None:
    import warnings

    warnings.warn(
        f"append(if_exists='skip') dropped {n} row(s) whose vec_ids are "
        "DELETED (tombstoned) in this index. An at-least-once REPLAY of "
        "since-deleted rows is safe to ignore; a REPLACEMENT row for a "
        "deleted id is being discarded — run compact_ann_index to free "
        "the slots, then re-send the replacements.",
        stacklevel=3,
    )


def _append_locked(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    if_exists: str,
) -> dict:
    import numpy as np

    meta = ann_index_meta(index_dir)
    # generation fingerprint captured WITH the manifest read: the two
    # together define what "unchanged index" means to _commit_segment
    expected_gen = _generation(index_dir)
    attrs = meta["attrs"]
    missing = [c for c in attrs if c not in vectors.columns]
    if missing:
        raise ValueError(
            f"index persists attrs {attrs} but the append batch lacks "
            f"{missing} — every segment must carry the same columns"
        )
    pdf = vectors.select("vec_id", "embedding", *attrs).toPandas()
    if pdf.empty:
        return meta
    if pdf["vec_id"].duplicated().any():
        raise ValueError("append batch contains duplicate vec_ids")
    E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n2 = _np_n2(E)
    cell_ids, CE, CN2 = _codebook_driver(
        spark, os.path.join(index_dir, "codebook")
    )
    home = cell_ids[_np_nearest(E, n2, cell_ids, CE, CN2, 1)[:, 0]]
    mirror_key = _mirror_key(index_dir, meta["segments"])
    hit = _IDS_MIRROR.get(index_dir)
    if hit and hit[0] == mirror_key:
        by_cell = hit[1]
    else:
        by_cell = OrderedDict()
        _cache_put(_IDS_MIRROR, index_dir, (mirror_key, by_cell))
    batch_cells = sorted({int(c) for c in home})
    cold = [c for c in batch_cells if c not in by_cell]
    if cold:
        by_cell.update(_ids_for_cells(spark, index_dir, meta, cold))
    existing = set()
    for c in batch_cells:
        by_cell.move_to_end(c)  # newest = last to evict
        existing |= by_cell[c]
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    if existing:
        clash = np.isin(
            ids, np.fromiter(existing, dtype=np.int64, count=len(existing))
        )
    else:
        clash = np.zeros(len(ids), dtype=bool)
    if if_exists == "error":
        if clash.any():
            _raise_dup_append(
                [int(i) for i in ids[clash][:20]],
                _tombstoned_ids(spark, index_dir, meta)
                if meta["tombstones"] else set(),
            )
        keep = np.ones(len(ids), dtype=bool)
    else:
        keep = ~clash
        if clash.any() and meta["tombstones"]:
            n_dead = len(
                set(int(i) for i in ids[clash])
                & _tombstoned_ids(spark, index_dir, meta)
            )
            if n_dead:
                _warn_tombstoned_skips(n_dead)
    if not keep.any():
        return meta
    out = pdf.loc[keep].copy()
    out["cell_id"] = home[keep]
    out["e"] = [list(map(float, row)) for row in E[keep]]
    out["n2"] = n2[keep]
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # attrs ORDER, not vectors.schema order: createDataFrame pairs an
    # explicit StructType with pandas columns POSITIONALLY, so a batch
    # whose columns arrive as (b, a) for attrs ['a', 'b'] would
    # otherwise silently persist each attr under the other's name
    fields_by_name = {f.name: f for f in vectors.schema.fields}
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("e", ArrayType(DoubleType())),
            StructField("n2", DoubleType()),
            *[fields_by_name[c] for c in attrs],
            StructField("cell_id", LongType()),
        ]
    )
    assigned = spark.createDataFrame(
        out[["vec_id", "e", "n2", *attrs, "cell_id"]], schema=schema
    )
    if meta["storage"] == "int8":
        # the build's own quantizer: a segment's stored form is a pure
        # function of its float rows, whichever commit wrote it
        assigned = _quantize_stored(assigned, attrs)
    # per-cell histogram is already on the driver — no footer job needed
    uniq, cnts = np.unique(home[keep], return_counts=True)
    seg_counts = {str(int(c)): int(n) for c, n in zip(uniq, cnts)}
    new_meta = _commit_segment(
        index_dir, meta, assigned, seg_counts, expected_gen
    )
    for c, v in zip(home[keep], ids[keep]):
        by_cell[int(c)].add(int(v))
    _ids_mirror_evict(by_cell)
    _cache_put(
        _IDS_MIRROR, index_dir,
        (_mirror_key(index_dir, new_meta["segments"]), by_cell),
    )
    return new_meta


def ann_index_append(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    if_exists: str = "error",
) -> dict:
    """Append a batch of new ``(vec_id, embedding)`` rows into a
    published index WITHOUT rebuilding — the ingest-cycle shape: the
    corpus grows by a batch, the codebook stays FIXED, and only the
    batch is assigned and written.

    Contract: the batch must fit on the driver, the same contract as a
    search's query batch. It is collected once, assigned in numpy
    against the session-cached codebook (:func:`_np_nearest`, the
    arithmetic the build's Arrow assignment and the search's probes
    share), so an index grown by appends equals a fresh build over the
    same rows with the same codebook (pytest-gated, float64 and int8),
    and written as a NEW ``partitionBy(cell_id)`` segment directory;
    the manifest update (atomic ``os.replace``) is the commit point.
    Crash anywhere before it leaves the old index intact; an
    unregistered leftover segment dir is swept by the next append to
    that slot. Bulk growth goes through :func:`ann_index_rebuild`,
    which also re-sizes ``n_cells``. Two Spark jobs per append whose
    cells are cold in the ids mirror, one when they are warm.

    Concurrency: the whole append (manifest read -> dup check -> segment
    write -> manifest commit) holds the index's exclusive writer lock
    (:func:`_write_lock`) — two appenders, or an appender racing a
    compaction, serialize instead of computing the same segment slot and
    silently dropping each other's rows (r12 ADVICE). Readers take no
    lock: they see whichever manifest the last commit published.

    Duplicate vec_ids are rejected up front — checked against the
    batch itself and against ONLY the batch's home cells, through a
    driver-side per-cell ids mirror whose cold cells are fetched by one
    cell-pruned ids-only scan (PartitionFilters on every segment leg),
    so the check's read scales with the batch's cells, never ``n_vec``;
    driver memory is bounded by ``IDS_MIRROR_MAX_IDS`` (LRU over cells).
    ``if_exists`` governs the index-side check: ``"error"`` (default)
    raises; ``"skip"`` drops already-present ids and appends the rest —
    appends become IDEMPOTENT, which is what an at-least-once streaming
    caller needs (a replayed batch whose manifest commit already
    happened skips everything and is a no-op; see
    streaming/ann_index_stream.py).

    The fixed codebook is the documented trade: cell populations grow
    ~uniformly (expected target+N_appended/n_cells rows/cell), so
    search cost per probe rises linearly until
    :func:`compact_ann_index` (or a rebuild, which also re-sizes
    n_cells) — same regime as any IVF system's reindex cycle. The
    returned meta carries ``n_vec`` so callers can trigger rebuild at
    e.g. ``n_vec > 2 x n_cells x cell_target``.
    """
    if if_exists not in ("error", "skip"):
        raise ValueError(
            f"if_exists must be 'error' or 'skip', got {if_exists!r}"
        )
    with _write_lock(index_dir):
        return _append_locked(spark, index_dir, vectors, if_exists)


def ann_index_delete(
    spark: SparkSession,
    index_dir: str,
    vec_ids,
    if_missing: str = "error",
    stream_mark: tuple[str, int] | None = None,
) -> dict:
    """Delete vectors from a published index WITHOUT rewriting it — the
    takedown / contamination-removal shape a training-data platform
    runs between reindex cycles: a batch of vec_ids must stop matching
    searches NOW, and the physical rewrite can wait for the next
    compaction.

    Mechanics (tombstones, the LSM twin of the append segments): the
    batch is FOLDED with every previously-registered tombstone id and
    written as one fresh ``tombstones-tNNNN`` parquet dir (monotonic
    NNNN, never reusing an on-disk name), and the manifest update
    (atomic ``os.replace``) is the commit point — a reader sees the
    index before-delete or after-delete, never a partial delete; a
    crash before the commit leaves an unregistered dir the next
    delete's post-commit sweep reclaims. The manifest therefore lists
    AT MOST ONE tombstone dir (r15 — per-batch dirs previously
    accumulated until compaction, growing reader fan-in and manifest
    entries with every takedown). Every reader (:func:`_load_vectors`
    default) excludes tombstoned rows via a BROADCAST anti-join — the
    tombstone set is bounded by deletes, never the corpus, so search
    plans stay exchange-free and the
    probed-cell pruning is untouched. :func:`compact_ann_index`
    MATERIALIZES deletes: it rewrites only live rows, clears the
    tombstone list, and re-records cell_counts.

    Contract notes:
    - ``vec_ids`` is a driver-sized iterable of ids (deletes are
      takedown batches, not corpus-scale relations).
    - A deleted vec_id CANNOT be re-appended until a compaction
      physically frees its slot — the dup checks deliberately see
      physical rows, because a tombstone keyed on vec_id alone would
      otherwise also kill the replacement row. ``if_exists="skip"``
      appends silently skip such ids (idempotence wins); ``"error"``
      appends raise.
    - ``if_missing="error"`` (default) raises when any id is not a
      LIVE row (catches typos and double-deletes); ``"skip"`` deletes
      the intersection. Accounting costs one ids-only column scan of
      the live index per delete batch — the price of exact ``n_vec``.
    - ``n_vec`` becomes the LIVE count; ``cell_counts`` stays PHYSICAL
      (it sizes the screen's sub-blocks by rows actually scanned) and
      returns to live == physical at compaction.

    Holds the writer lock; the same external-mutation guard as appends
    (segments + tombstones + codebook generation) runs before the
    commit."""
    if if_missing not in ("error", "skip"):
        raise ValueError(
            f"if_missing must be 'error' or 'skip', got {if_missing!r}"
        )
    with _write_lock(index_dir):
        return _delete_locked(
            spark, index_dir, vec_ids, if_missing, stream_mark
        )


# Bound on recorded stream watermarks: one entry per checkpoint
# lineage, least-recently-advanced evicted past the cap. Losing an
# ancient lineage's mark only weakens replay protection for a stream
# that has not committed in ages — acceptable; an unbounded dict would
# grow the manifest with every retired checkpoint forever.
# More than 8 lineages interleaving deletes on one index would evict an
# ACTIVE stream's watermark each commit, voiding its replay protection;
# the eviction below warns when the evicted mark was recently advanced.
STREAM_MARKS_CAP = 8


def _mark_streams(meta: dict, stream_mark: tuple[str, int] | None) -> None:
    """Record ``stream_mark`` = (lineage key, batch id) into
    ``meta["stream_marks"]`` (see the watermark comment in
    :func:`_delete_locked`); no-op when None. Recency is a LOGICAL
    sequence (max existing + 1), not wall clock — clock ties or steps
    backwards could otherwise evict the mark being recorded in this
    very commit, silently voiding its replay protection (5th review
    pass); the just-written key is additionally never an eviction
    candidate."""
    if stream_mark is None:
        return
    marks = dict(meta.get("stream_marks", {}))
    seq = 1 + max((m["at"] for m in marks.values()), default=-1)
    marks[stream_mark[0]] = {"batch": int(stream_mark[1]), "at": seq}
    while len(marks) > STREAM_MARKS_CAP:
        victim = min(
            (k for k in marks if k != stream_mark[0]),
            key=lambda k: marks[k]["at"],
        )
        dropped = marks.pop(victim)
        if seq - dropped["at"] <= STREAM_MARKS_CAP:
            # advanced within the last CAP commits: likely an ACTIVE
            # lineage whose replay protection is being voided — say so
            # (r16 ADVICE fix) instead of silently dropping it
            import warnings

            warnings.warn(
                f"stream watermark for lineage {victim!r} evicted while "
                f"recently active ({seq - dropped['at']} commits ago) — "
                "more than ann_index.STREAM_MARKS_CAP="
                f"{STREAM_MARKS_CAP} takedown lineages are interleaving "
                "on this index; raise the cap or its replay protection "
                "is silently void",
                stacklevel=4,
            )
    meta["stream_marks"] = marks


def _delete_locked(
    spark: SparkSession,
    index_dir: str,
    vec_ids,
    if_missing: str,
    stream_mark: tuple[str, int] | None = None,
) -> dict:
    import shutil

    meta = ann_index_meta(index_dir)
    expected_gen = _generation(index_dir)
    # stream watermark (r15 review catch on the takedown stream): an
    # at-least-once REDELIVERY of a takedown batch is only naturally
    # idempotent while its ids stay tombstoned — after an in-stream
    # compaction materialized them AND a legitimate replacement row
    # re-appended, the redelivered batch would find the replacement
    # LIVE and silently kill it. The stream passes (stream_key,
    # batch_id), where the key identifies the CHECKPOINT LINEAGE (the
    # streaming query id — batch numbering is only meaningful within
    # one lineage; a wiped checkpoint re-numbers from 0 and a
    # lineage-blind watermark would swallow NEW takedowns repacked
    # with old files, 4th review pass): a batch at or below the key's
    # recorded watermark is a proven replay and skips, and the
    # watermark commits ATOMICALLY with the delete (same manifest
    # replace), so the crash window between manifest commit and
    # checkpoint commit is closed. The mark advances on NO-OP batches
    # too — an all-already-dead batch left unrecorded would redeliver
    # after a compaction + re-append and kill the replacements (4th
    # review pass). Compaction carries the marks (meta spread); a
    # rebuild drops them along with the tombstones themselves —
    # consistent: a rebuild resurrects deleted rows by design (the
    # corpus owns it). Marks are bounded: the STREAM_MARKS_CAP
    # least-recently-advanced lineages age out.
    if stream_mark is not None:
        key, batch_id = stream_mark
        rec = meta.get("stream_marks", {}).get(key)
        if rec is not None and rec["batch"] >= int(batch_id):
            return meta
    ids = sorted({int(v) for v in vec_ids})
    if not ids:
        return meta
    ids_df = _ids_df(spark, ids)
    # _live_ids (r16): segment ids sidecars bound this read's file opens
    # by SEGMENT count, not cell count — the r15 scale finding
    live = _live_ids(spark, index_dir, meta)
    # the LIVE intersection, collected (bounded by the driver-sized
    # batch): ONLY these ids may be tombstoned — writing the full
    # requested set would also tombstone never-present ids, silently
    # killing a later legitimate append of them (review catch)
    hit_ids = sorted(
        int(r.vec_id)
        for r in live.join(F.broadcast(ids_df), "vec_id", "left_semi")
        .collect()
    )
    n_hit = len(hit_ids)
    if n_hit != len(ids) and if_missing == "error":
        raise ValueError(
            f"{len(ids) - n_hit} of {len(ids)} vec_ids are not live "
            "rows of this index (missing, or already deleted) — pass "
            "if_missing='skip' to delete the intersection"
        )
    if n_hit == 0 and stream_mark is None:
        return meta
    # external-mutation guard BEFORE touching the slot (the
    # _commit_segment discipline): checking after the write would fire
    # only once an externally-committed tombstone batch had already
    # been destroyed and overwritten (review catch)
    on_disk = ann_index_meta(index_dir)
    if (
        on_disk["segments"] != meta["segments"]
        or on_disk["tombstones"] != meta["tombstones"]
        or _generation(index_dir) != expected_gen
    ):
        raise RuntimeError(
            f"index at {index_dir} was mutated outside the writer lock "
            "during this delete — aborting before overwriting its "
            "commit; retry the delete"
        )
    if n_hit == 0:
        # all ids already dead: the WATERMARK must still advance, or
        # this no-op batch redelivers after a compaction + re-append
        # and kills the replacements (4th review pass)
        _mark_streams(meta, stream_mark)
        _meta_write(index_dir, meta)
        return meta
    # FOLD at commit (r15, r14 verdict finding 2): the new batch is
    # unioned with every already-registered tombstone id and committed
    # as ONE dir, so reader fan-in stays one file-open per search no
    # matter how many delete batches accumulate between compactions
    # (previously each batch wrote its own tombstones-tNNNN dir and
    # readers unioned K dirs). The union is a SPARK plan — the
    # accumulated set never round-trips through the driver (review
    # catch: collecting it made every later delete's driver cost grow
    # with total prior deletes); the prior ids are disjoint from
    # hit_ids by construction (hits are LIVE, tombstoned rows are not),
    # so plain union needs no dedup.
    prev_slots = list(meta["tombstones"])
    fold_df = _ids_df(spark, hit_ids)
    if prev_slots:
        fold_df = spark.read.parquet(
            *[os.path.join(index_dir, s) for s in prev_slots]
        ).select(F.col("vec_id").cast("long")).unionByName(fold_df)
    # slot numbers are MONOTONIC over both registered and on-disk names
    # — reusing a just-superseded name would swap contents under a
    # lock-free reader still holding the previous manifest
    seq = 1 + max(
        [
            int(n.rsplit("-t", 1)[1])
            for n in os.listdir(index_dir)
            if n.startswith("tombstones-t")
            and n.rsplit("-t", 1)[1].isdigit()
        ],
        default=-1,
    )
    slot = f"tombstones-t{seq:04d}"
    t_dir = os.path.join(index_dir, slot)
    fold_df.coalesce(1).write.parquet(t_dir)
    meta["tombstones"] = [slot]
    meta["n_vec"] = int(meta["n_vec"]) - n_hit
    meta["n_deleted"] = int(meta["n_deleted"]) + n_hit
    _mark_streams(meta, stream_mark)
    _meta_write(index_dir, meta)
    # superseded + crash-orphan tombstone dirs: keep the dirs the
    # PREVIOUS manifest registered (a lock-free reader mid-plan may
    # still scan them — same one-commit grace as the counts sidecars),
    # sweep everything older
    for n in os.listdir(index_dir):
        if (
            n.startswith("tombstones-t")
            and n != slot
            and n not in prev_slots
        ):
            shutil.rmtree(os.path.join(index_dir, n), ignore_errors=True)
    return meta


# Cap on ids a predicate delete may resolve: takedowns are bounded by
# contract ("everything from source X / license Y"), and the resolved
# ids round-trip through the driver into the tombstone commit. A
# predicate matching more than this is not a takedown — it is most of
# a reindex, and a rebuild over the filtered corpus is both cheaper
# and leaves no tombstone debt.
DELETE_WHERE_MAX_IDS = 1_000_000


def ann_index_delete_where(
    spark: SparkSession, index_dir: str, where: str
) -> dict:
    """Delete every LIVE row matching a SQL predicate over the index's
    persisted attr columns — the shape takedowns actually arrive in
    ("everything from source X", "license Y") rather than id lists.
    Resolves the ids INDEX-side (an ids+attrs column scan, so the
    vector payload is never read), then reuses the tombstone commit
    path (:func:`ann_index_delete` mechanics: folded single tombstone
    dir, broadcast anti-join readers, compaction materializes).

    The resolved id set is driver-collected — bounded by
    ``DELETE_WHERE_MAX_IDS`` (default 1M): past that the operation
    refuses and tells you to rebuild over the filtered corpus instead.
    A predicate matching nothing is a no-op (idempotent replays of the
    same takedown are expected). Needs attrs persisted at build time
    (``ann_index_build(attrs=[...])``)."""
    with _write_lock(index_dir):
        meta = ann_index_meta(index_dir)
        if not meta["attrs"]:
            raise ValueError(
                "where= deletes need attrs persisted at build time "
                "(ann_index_build(attrs=[...])) — this index has none"
            )
        live = (
            _load_vectors(spark, index_dir, meta)
            .where(F.expr(where))
            .select("vec_id")
        )
        rows = live.limit(DELETE_WHERE_MAX_IDS + 1).collect()
        if len(rows) > DELETE_WHERE_MAX_IDS:
            raise ValueError(
                f"predicate {where!r} matches more than "
                f"{DELETE_WHERE_MAX_IDS} live rows — that is a reindex, "
                "not a takedown; rebuild over the filtered corpus "
                "instead of tombstoning most of the index"
            )
        if not rows:
            return meta
        # ids are live by construction (resolved under the lock we
        # still hold); skip-mode keeps concurrent replays idempotent
        return _delete_locked(
            spark, index_dir, [int(r.vec_id) for r in rows], "skip"
        )


def ann_index_rebuild_due(
    meta: dict, cell_target: int | None = None
) -> bool:
    """True when the grown index has outrun its fixed codebook:
    ``n_vec > 2 x n_cells x cell_target`` — the rebuild criterion the
    append docstring documents. Appends keep the codebook FIXED, so
    expected rows scanned per probe grow ~``n_vec / n_cells``; past 2x
    the sizing target a rebuild (which re-derives ``n_cells`` from the
    new corpus size) is cheaper than the accumulated per-search
    overscan. Compaction does NOT reset this — it folds segments but
    keeps the same cells; only a rebuild re-sizes the codebook."""
    if cell_target is None:
        from gcp_map_reduce_spark.operators.similarity import (
            IVF_DEDUP_CELL_TARGET,
        )

        cell_target = IVF_DEDUP_CELL_TARGET
    return int(meta["n_vec"]) > 2 * int(meta["n_cells"]) * cell_target


def ann_index_rebuild(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> dict:
    """Rebuild a published index over its (grown) corpus IN PLACE — the
    action :func:`ann_index_rebuild_due` calls for, packaged so the
    streaming maintainer's ``on_rebuild_due`` callback (or a nightly
    cron) is one corpus-owning line instead of a hand-rolled build.

    ``sf_dir`` is the FULL current corpus (the caller owns the snapshot
    — the stream deliberately doesn't know it, see
    ``run_streaming_index_maintenance``). The rebuild always produces a
    single-level index with a fresh sampled codebook, preserves the
    published index's storage mode and attrs, and RE-DERIVES
    ``n_cells`` from the new corpus size — the one
    thing appends and compaction cannot do, and the whole point of a
    rebuild: per-probe scan cost returns to the fresh-build
    ``~cell_target`` rows instead of the grown ``n_vec / n_cells``.

    Runs under the index's writer lock (calling the non-reentrant inner
    build) and publishes atomically, so concurrent appenders fully
    serialize around it: an in-flight append commits before the
    rebuild's corpus scan, and one arriving after the swap reads the
    NEW manifest and appends against the new codebook. Only a
    NON-locking external writer can interleave, and the generation
    guard in ``_commit_segment`` turns that into a loud abort."""
    with _write_lock(index_dir):
        meta = ann_index_meta(index_dir)
        return _build_unlocked(
            spark,
            sf_dir,
            index_dir,
            attrs=meta["attrs"],
            storage=meta["storage"],
        )


def compact_ann_index(spark: SparkSession, index_dir: str) -> dict:
    """Fold every appended segment back into a single base segment
    (same codebook, same rows, atomically published) — the reindex-lite
    that caps segment-count growth between full rebuilds. Search
    results are unchanged by construction: assignment lives in the
    stored rows, and compaction only re-partitions them. Holds the
    index's writer lock for the duration: a compaction racing an append
    would otherwise republish a manifest that drops the append's
    freshly committed segment."""
    with _write_lock(index_dir):
        return _compact_locked(spark, index_dir)


def _compact_locked(spark: SparkSession, index_dir: str) -> dict:
    meta = ann_index_meta(index_dir)
    if meta["segments"] == ["vectors"] and not meta["tombstones"]:
        return meta
    # decode=False: compaction re-partitions the STORED representation
    # verbatim — decoding here would silently rewrite an int8 index as
    # float64 (and 5x its footprint). Default tombstone exclusion =
    # the delete MATERIALIZES here: only live rows are rewritten.
    vecs = _load_vectors(spark, index_dir, meta, decode=False)
    if meta["tombstones"] and vecs.limit(1).count() == 0:
        # a fully-tombstoned index would compact to an EMPTY partitioned
        # parquet dir — no part files, no schema, unreadable by every
        # later scan (review catch). "Delete everything" is a drop, not
        # a compaction; the tombstoned index itself keeps working
        # (readers anti-join to empty results).
        raise FullyTombstonedError(
            f"every row of {index_dir} is tombstoned — compaction would "
            "publish an empty, unreadable vectors dir; drop or rebuild "
            "the index instead"
        )
    cb = spark.read.parquet(os.path.join(index_dir, "codebook"))
    new_meta = {
        **meta,
        "segments": ["vectors"],
        "tombstones": [],
        "n_deleted": 0,
    }

    def write(staging: str) -> None:
        cb.coalesce(1).write.parquet(os.path.join(staging, "codebook"))
        (
            vecs.repartition("cell_id")
            .write.partitionBy("cell_id")
            .parquet(os.path.join(staging, "vectors"))
        )
        _write_seg_ids(
            spark, os.path.join(staging, "vectors"), new_meta["n_vec"]
        )
        # re-record rather than carry: materialized deletes change the
        # physical per-cell populations (live == physical again), and
        # the old sidecar dies with the swapped dir
        new_meta["cell_counts_file"] = _write_cell_counts(
            staging,
            _seg_cell_counts(spark, os.path.join(staging, "vectors")),
        )
        with open(os.path.join(staging, META_FILE), "w") as fh:
            json.dump(new_meta, fh)

    publish_atomic(index_dir, write)
    return new_meta


# driver-side codebook cache: a codebook is immutable once committed
# (an index's is swapped whole by publish_atomic and appends add
# SEGMENTS, never touch it; the embedding stream's is written once, by
# its first batch), so one collect per committed codebook dir serves
# every later search, append and trigger in the session. Keyed on the
# codebook DIRECTORY's mtime, not the manifest's: the manifest is
# rewritten by every append, and invalidating on it would re-collect an
# unchanged codebook once per streamed batch (r12 measured: the
# per-trigger codebook job was ~1/4 of the maintenance stream's floor);
# a dir removed and reseeded under the same path is a new mtime, hence
# a miss.
_CODEBOOK_CACHE: dict = {}


def _codebook_driver(spark: SparkSession, cb_dir: str):
    """(cell_ids int64[n], CE float64[n, d], CN2 float64[n]) sorted by
    cell_id, collected once per committed codebook dir: an index's
    ``<index_dir>/codebook`` or an embedding stream's
    ``<store_dir>/_codebook``. A committed codebook that cannot be read
    raises."""
    import numpy as np

    key = os.stat(cb_dir).st_mtime_ns
    hit = _CODEBOOK_CACHE.get(cb_dir)
    if hit and hit[0] == key:
        return hit[1]
    rows = spark.read.parquet(cb_dir).orderBy("cell_id").collect()
    val = (
        np.array([r.cell_id for r in rows], dtype=np.int64),
        np.array([r.ce for r in rows], dtype=np.float64),
        np.array([r.cn2 for r in rows], dtype=np.float64),
    )
    _cache_put(_CODEBOOK_CACHE, cb_dir, (key, val))
    return val


def _probes_rel(spark: SparkSession, out: list) -> DataFrame:
    """Driver-computed probe rows ``(query_id, qe, qn2, cell_id)`` as
    ONE Arrow record batch — createDataFrame(list) would parallelize
    them across defaultParallelism python slices and every search would
    pay the python-worker round-trips just to ship a broadcast-small
    relation (same lesson as _ids_df)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "query_id": pd.array([r[0] for r in out], dtype="int64"),
            "qe": [r[1] for r in out],
            "qn2": pd.array([r[2] for r in out], dtype="float64"),
            "cell_id": pd.array([r[3] for r in out], dtype="int64"),
        }
    )
    return spark.createDataFrame(
        pdf, "query_id long, qe array<double>, qn2 double, cell_id long"
    )


def _probes_driver(
    spark: SparkSession, index_dir: str, queries: DataFrame, n_probe: int
) -> DataFrame:
    """Probe assignment computed driver-side over the collected query
    batch (broadcast-small by contract) against the cached codebook:
    zero Spark jobs per search for assignment, and the probed-cell set
    falls out for free. Returns ``(probes_df, sorted probed cell ids)``.
    Arithmetic mirrors ``ivf_probe_cells`` exactly — ``(n2 - 2*dot) +
    cn2`` in doubles with the d-sequential fold, ties on cell_id —
    asserted bit-identical to the plan-side assignment of
    :func:`ann_index_screen_batch` in ``tests/test_ann_index.py``."""
    import numpy as np

    cell_ids, CE, CN2 = _codebook_driver(
        spark, os.path.join(index_dir, "codebook")
    )
    qrows = queries.select("query_id", "embedding").collect()
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, qe array<double>, qn2 double, cell_id long"
        ), []
    qids = [r.query_id for r in qrows]
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    # n2 via the same sequential fold (d loop), not np.dot's pairwise sum
    qn2 = _np_n2(Q)
    nearest = _np_nearest(Q, qn2, cell_ids, CE, CN2, n_probe)
    out = [
        (int(qid), [float(x) for x in Q[i]], float(qn2[i]), int(cell_ids[j]))
        for i, qid in enumerate(qids)
        for j in nearest[i]
    ]
    probes = _probes_rel(spark, out)
    return probes, sorted({row[3] for row in out})


def ann_index_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    n_probe: int = 2,
    where: str | None = None,
) -> DataFrame:
    """Exact-cosine top-``k`` within the ``n_probe`` probed cells per
    query, reading ONLY those cells' files.

    ``queries`` must carry ``query_id`` (long) and ``embedding``
    (numeric array); candidates with ``vec_id == query_id`` are excluded
    (self-match, same convention as ``similarity_bruteforce``). Returns
    (query_id, cand_id, cosine).

    Probes are assigned on the driver from the cached codebook: the
    query batch is collected and broadcast, so it must be driver-sized
    (fewest jobs per search). A batch too large to collect goes through
    :func:`ann_index_screen_batch`, the range form whose pairs and
    cosines equal :func:`ann_index_range_search`'s bit for bit
    (pytest-gated).

    ``where`` is an optional SQL predicate over the index's persisted
    ``attrs`` columns (``ann_index_build(attrs=[...])``) — FILTERED
    search with post-filter-then-rank semantics: top-``k`` among
    candidates SATISFYING the predicate. It is applied to the vector
    relation below the probe join, so simple comparisons reach the
    probed cells' parquet scan as ``PushedFilters`` (plan-gated) — a
    filtered search reads row-group-pruned data, not collected
    candidates. The known IVF caveat applies and is the caller's trade:
    a highly selective predicate can empty the probed cells while
    matches exist in un-probed ones — raise ``n_probe`` for selective
    filters.
    """
    cand = _search_candidates(spark, index_dir, queries, n_probe, where)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ann_index_range_search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    threshold: float,
    n_probe: int = 2,
    where: str | None = None,
) -> DataFrame:
    """All candidates with exact ``cosine >= threshold`` within the
    probed cells per query — the RANGE-query twin of
    :func:`ann_index_search` ("everything similar enough", the shape
    semantic decontamination and near-dup screens actually ask).
    Returns (query_id, cand_id, cosine).

    Deliberately has NO top-k window: a per-query row_number is a
    shuffle over all candidates, and a range query doesn't rank — the
    threshold filter runs where the cosine is computed, so this plan is
    scan -> broadcast-join -> filter with zero exchanges after the
    probe join. Same filtered-search (``where=``) and probe knobs, and
    the same driver-sized query contract: :func:`ann_index_screen_batch`
    is the form for batches too large to collect. The IVF recall trade
    documented on the top-k search applies: matches in un-probed cells
    are missed, raise ``n_probe`` to trade cost for recall.
    """
    cand = _search_candidates(spark, index_dir, queries, n_probe, where)
    return cand.filter(F.col("cosine") >= threshold)


def ann_index_screen_batch(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    threshold: float,
    n_probe: int = 2,
    where: str | None = None,
    tile_target: int | None = None,
) -> DataFrame:
    """Screen an ARBITRARY-size incoming batch against the persisted
    index — the join form of :func:`ann_index_range_search`, and the
    ingest-gatekeeper shape a training-data platform runs hourly: "which
    of these N new vectors are near-dups (cosine >= threshold) of
    anything already indexed?". ``batch`` carries ``vec_id`` (long) and
    ``embedding``; returns (query_id, cand_id, cosine) with
    ``query_id`` = the batch vec_id, self-matches excluded.

    Why a separate entry point: the search functions broadcast the
    query relation by contract (driver-sized probe batches), so a
    corpus-scale batch through them would either OOM the broadcast or
    collect the batch. Here nothing about the batch ever reaches the
    driver except its DISTINCT probed-cell ids (bounded by ``n_cells``
    longs, the same compile-time pruning trick as the search): cell
    assignment runs in the plan — the shared
    :func:`similarity.ivf_probe_cells` expression. The probed segments
    are still partition-pruned: a batch that only touches some cells reads only
    those cells' files on every segment leg (same PartitionFilters gate
    as the search; a batch spread over every cell legitimately reads
    every cell — that is the work, not a missed optimization).

    Scoring is the grouped-GEMM kernel, not a pair join: candidate
    volume is |batch| x n_probe x rows/cell pairs, and both plumbing
    alternatives measured badly at the 60k-vector stress point — a
    per-pair expression cosine is CodegenFallback (pairs x dim
    interpreted ops: adjudicated e=1.16, 11.7 s max task), and a
    per-pair Arrow UDF ships BOTH vectors to Python per pair (~pairs x
    2d x 8 B socket bytes: 21 s max tasks). Instead both sides shuffle
    ONCE on (cell, sub-block) and each group runs one numpy GEMM over
    its cell's batch rows x index rows — each vector crosses the wire
    once per sub-block pairing, not once per pair (the
    ``embedding_near_dup_pairs_ivf`` kernel shape, d-sequential chunked
    fold, so every emitted cosine is bit-identical to the expression
    form). Sub-blocking bounds a hot cell's worst task at
    ~``tile_target`` rows per side (default
    ``similarity.DEDUP_TILE_TARGET``). A (query, candidate) pair emits
    at most once: the candidate lives in exactly one home cell, and the
    (query-block, index-block) grid covers each (cell, q, v) triple
    exactly once — no dedup pass needed.

    ``where`` filters the INDEX side on persisted attrs, pushed to the
    probed cells' scans like the filtered search."""
    import math

    from gcp_map_reduce_spark.operators.similarity import DEDUP_TILE_TARGET

    if tile_target is None:
        tile_target = DEDUP_TILE_TARGET
    meta = ann_index_meta(index_dir)
    feats = _with_norm2(
        batch.select(F.col("vec_id").alias("query_id"), "embedding")
    )
    cb = (
        spark.read.parquet(os.path.join(index_dir, "codebook"))
        .agg(F.collect_list(F.struct("cell_id", "ce", "cn2")).alias("cb"))
    )
    assigned_q = feats.crossJoin(F.broadcast(cb)).select(
        "query_id",
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
        ivf_probe_cells(n_probe).alias("cells"),
    )
    # pin the assignment BEFORE deriving anything from it (the same
    # hazard ann_index_append pins against): the probed-cells list, the
    # sizing counts, and the returned plan must all see the same rows —
    # an unpinned landing-directory source re-lists per job, and a file
    # arriving between the cells collect and execution would have its
    # rows in the final plan but its home cells missing from the prune
    # list, silently screening them against NOTHING (r13 review catch).
    # Pinned PRE-explode — one row per query with its probe-cell ARRAY —
    # so each embedding is materialized once, not n_probe times (second
    # review catch); the eager checkpoint also computes the assignment
    # once instead of per downstream job.
    assigned_q = assigned_q.localCheckpoint(eager=True)
    probes = assigned_q.select(
        "query_id", "qe", "qn2", F.explode("cells").alias("cell_id")
    )
    # one bounded job yields the probed-cell list AND exact per-cell
    # probe counts (<= n_cells rows) — the batch side of the per-cell
    # sub-split sizing below
    count_rows = probes.groupBy("cell_id").count().collect()
    cells = sorted(int(r["cell_id"]) for r in count_rows)
    vecs = _load_vectors(spark, index_dir, meta)
    if where is not None:
        if not meta["attrs"]:
            raise ValueError(
                "where= needs attrs persisted at build time "
                "(ann_index_build(attrs=[...])) — this index has none"
            )
        vecs = vecs.where(F.expr(where))
    if len(cells) < meta["n_cells"]:
        vecs = vecs.where(F.col("cell_id").isin(cells))
    # PER-CELL sub-block counts (r14, verdict task 5): the batch side's
    # probe count per cell is exact (the bounded job above); the index
    # side's population per cell rides the counts sidecar (accumulated
    # at every build/append commit), so a Zipf-hot cell
    # splits into proportionally more sub-blocks and its worst task is
    # bounded by ~tile_target rows per side like everyone else's —
    # sizing from the MEAN left the hot cell's task bounded by its own
    # population, the 100 TB worst-task killer. A lock-free reader
    # that lost the race with a commit's sidecar sweep (counts None)
    # falls back to the mean for the index side: same results, less
    # balanced.
    # The sizing relation is <= |probed cells| rows, broadcast onto both
    # sides; coverage is unchanged — within one cell every (q, v) pair
    # still meets in exactly one (bq, bv) group because both sides read
    # THE SAME per-cell (n_sub_q, n_sub_v).
    cell_counts = ann_index_cell_counts(index_dir, meta)
    per_cell_v_mean = meta["n_vec"] / max(1, meta["n_cells"])
    probe_counts = {int(r["cell_id"]): int(r["count"]) for r in count_rows}
    sizing = []
    for c in cells:
        vc = (
            int(cell_counts.get(str(c), 0))
            if cell_counts is not None
            else per_cell_v_mean
        )
        sizing.append((
            int(c),
            max(1, math.ceil(probe_counts[c] / tile_target)),
            max(1, math.ceil(vc / tile_target)),
        ))
    if not sizing:  # empty batch: nothing probed, nothing to screen
        return spark.range(0).select(
            F.col("id").alias("query_id"),
            F.col("id").alias("cand_id"),
            F.lit(0.0).alias("cosine"),
        )
    # a VALUES LocalRelation, not createDataFrame: the screen's plan
    # gate asserts no Scan ExistingRDD (nothing batch-sized round-trips
    # through the driver) — this relation is bounded by |probed cells|
    # (<= n_cells, the same bound as the pruning list) and LocalRelation
    # keeps it literal data instead of an RDD scan
    rows_sql = ", ".join(f"({c}, {nq}, {nv})" for c, nq, nv in sizing)
    sub = F.broadcast(
        spark.sql(
            f"SELECT * FROM VALUES {rows_sql} AS t(cell_id, n_sub_q, n_sub_v)"
        ).select(
            F.col("cell_id").cast("long").alias("cell_id"),
            "n_sub_q",
            "n_sub_v",
        )
    )
    q_side = probes.join(sub, "cell_id").select(
        F.col("query_id").alias("id"),
        F.col("qe").alias("e"),
        F.col("qn2").alias("n2"),
        "cell_id",
        F.lit(True).alias("is_q"),
        F.pmod(F.xxhash64("query_id"), F.col("n_sub_q").cast("long"))
        .cast("int").alias("bq"),
        F.explode(F.sequence(F.lit(0), F.col("n_sub_v") - 1)).alias("bv"),
    )
    v_side = vecs.join(sub, "cell_id").select(
        F.col("vec_id").alias("id"),
        "e",
        "n2",
        "cell_id",
        F.lit(False).alias("is_q"),
        F.explode(F.sequence(F.lit(0), F.col("n_sub_q") - 1)).alias("bq"),
        F.pmod(F.xxhash64("vec_id"), F.col("n_sub_v").cast("long"))
        .cast("int").alias("bv"),
    )
    from pyspark.sql.types import (
        DoubleType as _D,
        LongType as _L,
        StructField as _SF,
        StructType as _ST,
    )

    out_schema = _ST(
        [_SF("query_id", _L()), _SF("cand_id", _L()), _SF("cosine", _D())]
    )
    thr = float(threshold)

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        q = pdf[pdf["is_q"]]
        v = pdf[~pdf["is_q"]]
        if len(q) == 0 or len(v) == 0:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "cand_id": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        Q = np.stack(q["e"].to_numpy()).astype(np.float64)
        V = np.stack(v["e"].to_numpy()).astype(np.float64)
        # the engine's one shared d-sequential fold (similarity._seq_dot,
        # bit-identical to the JVM _dot expression), so the SQL oracle
        # stays exact
        acc = _seq_dot(Q, V)
        qn2 = q["n2"].to_numpy(dtype=np.float64)
        vn2 = v["n2"].to_numpy(dtype=np.float64)
        cos = acc / np.sqrt(qn2[:, None] * vn2[None, :])
        qi = q["id"].to_numpy(dtype=np.int64)
        vi = v["id"].to_numpy(dtype=np.int64)
        qm = np.broadcast_to(qi[:, None], cos.shape)
        vm = np.broadcast_to(vi[None, :], cos.shape)
        keep = (cos >= thr) & (qm != vm)
        return pd.DataFrame(
            {"query_id": qm[keep], "cand_id": vm[keep], "cosine": cos[keep]}
        )

    return (
        q_side.unionByName(v_side)
        .groupBy("cell_id", "bq", "bv")
        .applyInPandas(kernel, schema=out_schema)
    )


def _search_candidates(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_probe: int,
    where: str | None,
) -> DataFrame:
    """(query_id, cand_id, cosine) over the probed cells — the shared
    candidate plan under both the top-k and the range search."""
    meta = ann_index_meta(index_dir)
    # static pruning: the distinct probed-cell set is bounded by n_cells
    # (<= 65536 longs) and usually far smaller — known for free from the
    # driver-side probes; repaid by the scan never opening un-probed
    # cells' files (PartitionFilters IN, plan-gated in tests)
    probes, cells = _probes_driver(spark, index_dir, queries, n_probe)
    vecs = _load_vectors(spark, index_dir, meta)
    if where is not None:
        if not meta["attrs"]:
            raise ValueError(
                "where= needs attrs persisted at build time "
                "(ann_index_build(attrs=[...])) — this index has none"
            )
        vecs = vecs.where(F.expr(where))
    if len(cells) < meta["n_cells"]:
        vecs = vecs.where(F.col("cell_id").isin(cells))
    cand = vecs.join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cosine = _dot(F.col("qe"), F.col("e")) / F.sqrt(
        F.col("qn2") * F.col("n2")
    )
    return cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        cosine.alias("cosine"),
    )
