"""Streaming EMBEDDING near-duplicate dedup: IVF cell pruning against a
durable accepted-vector store — semantic dedup at ingest time.

The ingest-time counterpart of the batch ``dedup_embedding_cosine``
(whose r11 registered plan is the same cell-pruned candidate generator,
``operators/similarity.py:embedding_near_dup_pairs_ivf``): vectors
arrive as parquet files; each micro-batch assigns its vectors to their
``n_probe`` nearest codebook cells, matches them against the ACCEPTED
vectors sharing a cell (exact cosine >= NEAR_DUP_COSINE decides), and
emits only vectors that are not semantic near-dups of anything earlier.
Accepted vectors (with their features and cell assignments) append to
the store.

Codebook stability across batches: the coarse quantizer is seeded
ONCE, from the first batch's ``n_cells`` lowest vec_ids (the batch op's
rank-based seed convention), and persisted under ``store_dir/_codebook``
— every later batch (and every replay) reads the same centroids, so
cell recall is a fixed property of the stream, not of batch order. When
ingest is id-ordered the codebook equals the batch op's, which is what
the parity test exploits to replay the streaming acceptance policy over
``embedding_near_dup_pairs_ivf``'s pair graph EXACTLY. Both trigger
paths seed through :func:`_stream_codebook`.

Per trigger the batch is collected once, and cells and acceptance are
decided in numpy against a driver mirror of the store: the codebook
comes from ``ann_index._codebook_driver`` (the one bounded driver cache
of every IVF codebook) and cells from ``ann_index._np_nearest``. A
remote store, or one over ``near_dup.STORE_MIRROR_MAX_ROWS`` rows,
takes the store-side plan instead (the r11 minhash-stream lessons): it
reads the codebook lazily and assigns cells with ``ivf_probe_cells``;
the batch side is broadcast, so the growing store is only ever touched
MAP-SIDE (scan -> broadcast hash join on cell_id — zero store shuffle);
the dups relation has no shuffle at all (the anti-join consumer is
multiplicity-blind); accepted rows are localCheckpointed once and
written coalesce(1) per batch dir. Both assignments compute the same
distances with the same (d, cell_id) tie-break, so both paths make
identical decisions and write identical store rows (pytest-asserted).

Replay safety mirrors ``near_dup``: per-batch ``batch_id=N`` dirs are
rewritten on replay; same-id store rows are excluded by
``vec_a != vec_b``; and two same-batch accepted vectors are by
construction not near-dups, so re-seeing them via the store cannot flip
a decision. ``compact_signature_store(..., schema=EMB_STORE_SCHEMA,
key="vec_id")`` applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.operators.ann_index import (
    _codebook_driver,
    _np_nearest,
)
from gcp_map_reduce_spark.operators.similarity import (
    IVF_DEDUP_CELLS,
    IVF_DEDUP_NPROBE,
    NEAR_DUP_COSINE,
    _cosine_arrow,
    _seq_dot,
    embed_features_arrow,
    ivf_dedup_n_cells,
    ivf_probe_cells,
)
from gcp_map_reduce_spark.streaming.near_dup import (
    glob_paths,
    load_mirror,
    read_store,
    record_batch,
    store_batch_id,
)

EMB_STORE_SCHEMA = (
    "vec_id bigint, e array<double>, n2 double, cells array<bigint>"
)
_CODEBOOK_SCHEMA = "cell_id bigint, ce array<double>, cn2 double"


def _codebook_committed(ss: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a committed codebook: at least one visible
    (not ``_``- or ``.``-prefixed) entry, i.e. a file a parquet read
    would scan. A missing dir and a first trigger killed mid-write
    (``_codebook/_temporary`` only) both read False, so both reseed.
    One listing (:func:`near_dup.glob_paths`, as ``read_store`` lists
    the store): neither case costs a failed read or a logged stack
    trace. A committed codebook that cannot be read is NOT reseeded —
    the read raises, because a new codebook over an existing store
    would fork the cell space and disable dedup against everything
    accepted so far."""
    return bool(glob_paths(ss, f"{path}/[!_.]*"))


def _stream_codebook(ss: SparkSession, store_dir: str, batch_seeds,
                     n_cells: int) -> str:
    """The stream's codebook dir ``store_dir/_codebook``, seeded first
    when it is not committed (first batch / replayed first batch —
    deterministic either way): one row per cell (cell_id, ce, cn2) from
    the ``n_cells`` lowest vec_ids of ``batch_seeds()``, a pandas frame
    of (vec_id, e, n2) rows that is built only then.

    Dir existence is NOT commitment (:func:`_codebook_committed`): a
    first trigger killed mid-write leaves ``_codebook/_temporary`` only,
    and treating that as a codebook would assign every later vector an
    empty probe list and disable dedup forever. A committed-but-empty
    codebook is impossible: an empty first batch raises instead of
    seeding."""
    import pandas as pd

    path = f"{store_dir}/_codebook"
    if _codebook_committed(ss, path):
        return path
    seeds = batch_seeds().nsmallest(n_cells, "vec_id")
    if len(seeds) == 0:
        raise ValueError(
            "run_streaming_embedding_near_dup: the first batch is empty — "
            "cannot seed the IVF codebook"
        )
    cb_pdf = pd.DataFrame(
        {
            "cell_id": seeds["vec_id"].astype("int64").to_numpy(),
            "ce": [[float(x) for x in e] for e in seeds["e"]],
            "cn2": seeds["n2"].astype("float64").to_numpy(),
        }
    )
    # overwrite heals a killed prior write's _temporary debris
    ss.createDataFrame(cb_pdf, _CODEBOOK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return path


# Driver-side store mirror (r12 — the minhash stream's ``_SIG_CACHE``
# pattern applied to vectors, sharing its loader and its row bound,
# ``near_dup.STORE_MIRROR_MAX_ROWS``): the store holds only rows this
# stream wrote, so a driver mirror (numpy chunks + a cell index) turns
# the per-trigger candidate join into pure python and collapses the
# trigger to THREE Spark actions. Parquet stays the source of truth
# (reload on restart or layout change). A remote store, or one over the
# bound, runs the store-side plan instead.
_EMB_CACHE: dict[str, dict] = {}


def _emb_chunk(grp) -> tuple:
    import numpy as np

    return (
        grp["vec_id"].to_numpy(dtype=np.int64),
        np.stack([np.asarray(e, dtype=np.float64) for e in grp["e"]])
        if len(grp)
        else np.empty((0, 0)),
        grp["n2"].to_numpy(dtype=np.float64),
        [list(map(int, c)) for c in grp["cells"]],
    )


def _emb_cache_merged(cache: dict, exclude_bid: int) -> tuple:
    """Flat (ids, E, n2, cell_index) over chunks minus the replayed
    batch's own rows; rebuilt only when the wanted chunk set changes."""
    import numpy as np

    want = frozenset(b for b in cache["chunks"] if b != exclude_bid)
    if cache.get("merged_bids") != want:
        parts = [cache["chunks"][b] for b in sorted(want)]
        nonempty = [p for p in parts if len(p[0])]
        if nonempty:
            ids = np.concatenate([p[0] for p in nonempty])
            E = np.concatenate([p[1] for p in nonempty])
            n2 = np.concatenate([p[2] for p in nonempty])
            cells: list[list[int]] = []
            for p in nonempty:
                cells.extend(p[3])
        else:
            ids = np.empty(0, dtype=np.int64)
            E = np.empty((0, 0))
            n2 = np.empty(0)
            cells = []
        index: dict[int, list[int]] = {}
        for i, cs in enumerate(cells):
            for c in cs:
                index.setdefault(c, []).append(i)
        cache.update(
            merged_bids=want, ids=ids, E=E, n2=n2, cell_index=index
        )
    return cache["ids"], cache["E"], cache["n2"], cache["cell_index"]


def _emb_cache_append(store_dir: str, batch_id: int, ids, E, n2, cells) -> None:
    import numpy as np

    cache = record_batch(_EMB_CACHE, store_dir, batch_id, (ids, E, n2, cells))
    if cache is None or cache.get("merged_bids") is None:
        return
    off = len(cache["ids"])
    if len(ids):
        cache["ids"] = np.concatenate([cache["ids"], ids])
        cache["E"] = E.copy() if off == 0 else np.concatenate([cache["E"], E])
        cache["n2"] = np.concatenate([cache["n2"], n2])
        for i, cs in enumerate(cells):
            for c in cs:
                cache["cell_index"].setdefault(c, []).append(off + i)
    cache["merged_bids"] = cache["merged_bids"] | {batch_id}


def run_streaming_embedding_near_dup(
    spark: SparkSession,
    emb_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    output_dir: str,
    n_probe: int = IVF_DEDUP_NPROBE,
    threshold: float = NEAR_DUP_COSINE,
    max_files_per_trigger: int | None = None,
    expected_corpus_size: int | None = None,
):
    """Start the stream (availableNow trigger: drains pending files and
    stops). ``output_dir`` accumulates accepted (vec_id) rows;
    ``store_dir`` accumulates accepted feature rows (EMB_STORE_SCHEMA)
    plus the one-time ``_codebook``.

    Codebook sizing (r12, threading the batch op's probe-scaled
    ``ivf_dedup_n_cells``): a stream cannot observe the final corpus
    size, and the codebook is pinned at the FIRST batch — so pass
    ``expected_corpus_size`` (the planned ingest volume) and the stream
    sizes its codebook exactly as the batch op would on that corpus
    (``ceil(N·n_probe/IVF_DEDUP_CELL_TARGET)``, clamped) — what the
    batch-parity test and the throughput bench do. Without it the
    ``IVF_DEDUP_CELLS`` constant applies (documented mid-scale default —
    undersized codebooks degrade throughput, never correctness:
    precision is the exact cosine gate either way).

    Triggers run driver-centric (r12, the minhash stream's pattern) —
    batch features collected once, cell assignment and acceptance
    decided in numpy with bit-identical folds (``similarity._seq_dot``
    = the JVM left fold; cells by ``ann_index._np_nearest``, whose
    (d, cell_id) tie-break is the plan's) against a driver mirror of
    the store; three Spark actions per steady-state trigger. Measured
    on the 20k-vector stress drain @16 batches: 518 → 632 vecs/s fresh,
    823 warm. A remote store, or one over ``STORE_MIRROR_MAX_ROWS``
    rows, runs the store-side plan; decisions AND store rows are
    pytest-asserted identical."""
    n_cells = (
        ivf_dedup_n_cells(expected_corpus_size, n_probe)
        if expected_corpus_size is not None
        else IVF_DEDUP_CELLS
    )
    reader = spark.readStream.schema("vec_id bigint, embedding array<float>")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vecs = reader.parquet(emb_dir)

    def _process_collected(ss: SparkSession, feats: DataFrame,
                           batch_id: int, cache: dict) -> None:
        """Driver-centric trigger (r12, the minhash stream's pattern):
        collect the batch's features (ONE job — the old plan broadcast
        the batch twice, each broadcast a driver collect), assign cells
        and decide acceptance in numpy against the driver store mirror
        (bit-identical folds: `_np_nearest` for the cells, `_seq_dot`
        for pair cosines), then write the two batch dirs. Steady state
        = three Spark actions; the batch-parity test pins exactness."""
        import numpy as np

        feats_pdf = feats.toPandas()
        cell_ids, C, cn2 = _codebook_driver(
            ss, _stream_codebook(ss, store_dir, lambda: feats_pdf, n_cells)
        )
        ids = feats_pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(feats_pdf):
            E = np.stack(
                [np.asarray(e, dtype=np.float64) for e in feats_pdf["e"]]
            )
            n2 = feats_pdf["n2"].to_numpy(dtype=np.float64)
            cells = cell_ids[
                _np_nearest(E, n2, cell_ids, C, cn2, n_probe)
            ].tolist()
        else:
            E = np.empty((0, 0))
            n2 = np.empty(0)
            cells = []

        s_ids, s_E, s_n2, s_index = _emb_cache_merged(cache, batch_id)

        dup = np.zeros(len(ids), dtype=bool)
        # within-batch cell index (lower-id suppresses higher-id)
        b_index: dict[int, list[int]] = {}
        for i, cs in enumerate(cells):
            for c in cs:
                b_index.setdefault(c, []).append(i)
        for i in range(len(ids)):
            cand_store = (
                sorted({j for c in cells[i] for j in s_index.get(c, [])})
                if len(s_ids)
                else []
            )
            hit = False
            if cand_store:
                c = np.asarray(cand_store)
                cos = _seq_dot(E[i : i + 1], s_E[c])[0] / np.sqrt(
                    n2[i] * s_n2[c]
                )
                hit = bool(((cos >= threshold) & (s_ids[c] != ids[i])).any())
            if not hit:
                cand_b = sorted(
                    {j for cc in cells[i] for j in b_index.get(cc, [])}
                )
                cand_b = [j for j in cand_b if ids[j] < ids[i]]
                if cand_b:
                    c = np.asarray(cand_b)
                    cos = _seq_dot(E[i : i + 1], E[c])[0] / np.sqrt(
                        n2[i] * n2[c]
                    )
                    hit = bool((cos >= threshold).any())
            dup[i] = hit

        keep = ~dup
        acc_pdf = feats_pdf[keep].assign(
            e=[[float(x) for x in e] for e in feats_pdf["e"][keep]],
            cells=[cs for cs, k_ in zip(cells, keep) if k_],
        )
        accepted = ss.createDataFrame(
            acc_pdf[["vec_id", "e", "n2", "cells"]], EMB_STORE_SCHEMA
        )
        if len(acc_pdf):
            accepted = accepted.coalesce(1)
        # (empty local-relation coalesce(1) writes stall ~5 s/job — the
        # r12 minhash-stream finding)
        accepted.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )
        accepted.select("vec_id").write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )
        _emb_cache_append(
            store_dir, batch_id, ids[keep],
            E[keep] if len(ids) else E,
            n2[keep] if len(ids) else n2,
            [cs for cs, k_ in zip(cells, keep) if k_],
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        feats = embed_features_arrow(batch_df, sketch=False).select(
            "vec_id", "e", "n2"
        )
        cache = load_mirror(
            ss, store_dir, EMB_STORE_SCHEMA, _EMB_CACHE, _emb_chunk
        )
        if cache is not None:
            _process_collected(ss, feats, batch_id, cache)
            return
        # store-side plan: a remote store, or one over the mirror bound
        cb = ss.read.schema(_CODEBOOK_SCHEMA).parquet(
            _stream_codebook(
                ss, store_dir,
                lambda: feats.orderBy("vec_id").limit(n_cells).toPandas(),
                n_cells,
            )
        )
        cb_row = cb.agg(
            F.collect_list(F.struct("cell_id", "ce", "cn2")).alias("cb")
        )
        batch = (
            feats.crossJoin(F.broadcast(cb_row))
            .select("vec_id", "e", "n2", ivf_probe_cells(n_probe).alias("cells"))
            .localCheckpoint(eager=True)
        )

        store = read_store(ss, EMB_STORE_SCHEMA, store_dir).filter(
            store_batch_id() != batch_id
        )

        def exploded(df: DataFrame, in_batch: bool) -> DataFrame:
            return df.select(
                F.explode("cells").alias("cell_id"),
                F.col("vec_id").alias("vec_a"),
                F.col("e").alias("e_a"),
                F.col("n2").alias("n2_a"),
                F.lit(in_batch).alias("in_batch"),
            )

        probe = F.broadcast(
            batch.select(
                F.explode("cells").alias("cell_id"),
                F.col("vec_id").alias("vec_b"),
                F.col("e").alias("e_b"),
                F.col("n2").alias("n2_b"),
            )
        )
        cand = (
            exploded(store, False)
            .unionByName(exploded(batch, True))
            .join(probe, "cell_id")
            .filter(
                (~F.col("in_batch") & (F.col("vec_a") != F.col("vec_b")))
                | (F.col("in_batch") & (F.col("vec_a") < F.col("vec_b")))
            )
        )
        # a pair sharing both probed cells repeats (<= n_probe^2 rows);
        # each repeat is one more Arrow-batched cosine — no distinct, the
        # anti-join below is multiplicity-blind (the near_dup lesson)
        dups = cand.filter(
            _cosine_arrow(
                F.col("e_a"), F.col("e_b"), F.col("n2_a"), F.col("n2_b")
            )
            >= threshold
        ).select("vec_b")

        accepted = (
            batch.join(
                F.broadcast(dups), batch.vec_id == dups.vec_b, "left_anti"
            )
            .localCheckpoint(eager=True)
            .coalesce(1)
        )
        accepted.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )
        accepted.select("vec_id").write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )
        record_batch(_EMB_CACHE, store_dir, batch_id)

    return (
        vecs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
