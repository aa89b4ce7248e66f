"""Persisted IVF ANN index (operators/ann_index.py): build-once /
query-many with static partition pruning.

The default ``n_cells`` sizing (ceil(N/640)) degenerates to ONE cell at
test scale (500 vectors at sf0.01) — correct but trivial — so these
tests pin ``n_cells=8`` to exercise real cell structure: recall against
the exact brute-force top-k, the PartitionFilters plan gate, file-level
read avoidance, build/probe assignment consistency, rebuild determinism
(publish-over-live included), and the meta version gate.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gcp_map_reduce_spark.operators.ann_index import (
    INDEX_VERSION,
    MANIFEST_KEYS,
    META_FILE,
    ann_index_build,
    ann_index_meta,
    ann_index_search,
)
from gcp_map_reduce_spark.operators.similarity import (
    N_QUERIES,
    ivf_probe_cells,
    similarity_bruteforce,
)

SF = "/root/testdata/sf0.01"
N_CELLS = 8


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ann") / "emb_index")
    meta = ann_index_build(spark, SF, d, n_cells=N_CELLS)
    assert meta["n_cells"] == N_CELLS
    return d


def _queries(spark, n=N_QUERIES):
    return (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def test_layout_and_meta(spark, index_dir):
    meta = ann_index_meta(index_dir)
    assert meta["version"] == INDEX_VERSION
    assert meta["n_vec"] == 500 and meta["dim"] == 64
    # one directory per cell; every vector stored exactly once
    vec_dir = os.path.join(index_dir, "vectors")
    cells = [p for p in os.listdir(vec_dir) if p.startswith("cell_id=")]
    assert len(cells) == N_CELLS
    vecs = spark.read.parquet(vec_dir)
    assert vecs.count() == 500
    assert vecs.select("vec_id").distinct().count() == 500


def test_search_topk_contract_and_recall(spark, index_dir):
    res = ann_index_search(
        spark, index_dir, _queries(spark), k=5, n_probe=2
    ).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.cand_id != r.query_id  # self excluded
    assert set(by_q) == set(range(N_QUERIES))
    assert all(len(v) == 5 for v in by_q.values())
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity_bruteforce(spark, SF).collect()
    }
    approx = {(r.query_id, r.cand_id) for r in res}
    recall = len(exact & approx) / len(exact)
    # 2-of-8 cells probed: measured 0.80 on this corpus; floor below
    assert recall >= 0.5, recall


def test_search_prunes_partitions(spark, index_dir):
    # few queries -> probed-cell set < n_cells -> static IN filter at the
    # scan, and strictly fewer files opened than a full corpus read
    qs = _queries(spark, n=2)
    res = ann_index_search(spark, index_dir, qs, k=5, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    gates = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "cell_id" in line and " IN (" in line
    ]
    assert gates, plan
    probed = {
        r.cell_id
        for r in _probe_assign(spark, index_dir, qs, n_probe=2).collect()
    }
    assert len(probed) < N_CELLS  # otherwise the gate above is vacuous
    full = spark.read.parquet(os.path.join(index_dir, "vectors"))
    pruned = full.where(F.col("cell_id").isin(sorted(probed)))
    n_full = pruned_files(full)
    n_pruned = pruned_files(pruned)
    assert n_pruned == len(probed) and n_full == N_CELLS


def pruned_files(df) -> int:
    return df.select(F.input_file_name()).distinct().count()


def _probe_assign(spark, index_dir, queries, n_probe):
    from gcp_map_reduce_spark.operators.similarity import _with_norm2

    cb = (
        spark.read.parquet(os.path.join(index_dir, "codebook"))
        .agg(F.collect_list(F.struct("cell_id", "ce", "cn2")).alias("cb"))
    )
    return (
        _with_norm2(queries)
        .crossJoin(F.broadcast(cb))
        .select(F.explode(ivf_probe_cells(n_probe)).alias("cell_id"))
    )


def test_stored_assignment_matches_probe_helper(spark, index_dir):
    """A vector's persisted home cell == ivf_probe_cells(1) recomputed
    from the persisted codebook — the shared-expression consistency the
    module docstring claims, asserted on every row."""
    vecs = spark.read.parquet(os.path.join(index_dir, "vectors")).select(
        "vec_id", "e", "n2", F.col("cell_id").cast("long").alias("cell_id")
    )
    cb = (
        spark.read.parquet(os.path.join(index_dir, "codebook"))
        .agg(F.collect_list(F.struct("cell_id", "ce", "cn2")).alias("cb"))
    )
    recomputed = vecs.crossJoin(F.broadcast(cb)).select(
        "vec_id", "cell_id", ivf_probe_cells(1)[0].alias("home")
    )
    assert recomputed.filter(F.col("cell_id") != F.col("home")).count() == 0


def test_rebuild_deterministic_and_publish_over_live(spark, index_dir):
    """Rebuilding INTO THE LIVE DIR publishes atomically and produces a
    bit-identical index (same rows, same cells, same search results)."""
    before = sorted(
        (r.vec_id, r.cell_id)
        for r in spark.read.parquet(os.path.join(index_dir, "vectors"))
        .select("vec_id", F.col("cell_id").cast("long").alias("cell_id"))
        .collect()
    )
    res_before = sorted(
        map(tuple, ann_index_search(spark, index_dir, _queries(spark)).collect())
    )
    ann_index_build(spark, SF, index_dir, n_cells=N_CELLS)  # over live
    after = sorted(
        (r.vec_id, r.cell_id)
        for r in spark.read.parquet(os.path.join(index_dir, "vectors"))
        .select("vec_id", F.col("cell_id").cast("long").alias("cell_id"))
        .collect()
    )
    res_after = sorted(
        map(tuple, ann_index_search(spark, index_dir, _queries(spark)).collect())
    )
    assert before == after
    assert res_before == res_after
    assert not os.path.exists(index_dir + ".staging-publish")
    assert not os.path.exists(index_dir + ".old-publish")


def test_range_search_matches_screen_batch(spark, index_dir):
    """At threshold -1 (every probed candidate) the range search
    (driver-side probes over the collected queries, cached codebook,
    numpy d-sequential fold; JVM cosine) and the batch screen (plan-side
    ``ivf_probe_cells`` assignment; grouped numpy cosine) must return
    the SAME (query_id, cand_id) pairs with bitwise-equal cosines. This
    pins the driver probe assignment against the plan-side one, and the
    range search against the screen ``semantic_decontam`` runs."""
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_range_search,
        ann_index_screen_batch,
    )

    qs = _queries(spark)
    a = sorted(
        map(tuple, ann_index_range_search(
            spark, index_dir, qs, threshold=-1.0).collect())
    )
    b = sorted(
        map(tuple, ann_index_screen_batch(
            spark, index_dir, qs.withColumnRenamed("query_id", "vec_id"),
            threshold=-1.0).collect())
    )
    assert a == b and len(a) > 0  # includes float equality on cosine


def test_for_corpus_caches_and_keys_on_corpus_version(spark, tmp_path):
    """ann_index_for_corpus builds once per corpus fingerprint: the
    second call must return the SAME published dir without rebuilding
    (a rebuild's publish_atomic would swap the dir and drop the
    sentinel), and a corpus with different bytes/mtime must key to a
    DIFFERENT dir rather than alias the stale index."""
    import shutil

    from gcp_map_reduce_spark.operators.ann_index import ann_index_for_corpus

    root = str(tmp_path / "cache")
    d1 = ann_index_for_corpus(spark, SF, cache_root=root)
    sentinel = os.path.join(d1, ".cache-sentinel")
    with open(sentinel, "w") as fh:
        fh.write("x")
    assert ann_index_for_corpus(spark, SF, cache_root=root) == d1
    assert os.path.exists(sentinel)  # no rebuild happened
    # a different corpus version (same rows, new file mtime) -> new key
    alt = tmp_path / "altsf"
    alt.mkdir()
    shutil.copy(
        os.path.join(SF, "embeddings.parquet"),
        str(alt / "embeddings.parquet"),
    )
    d2 = ann_index_for_corpus(spark, str(alt), cache_root=root)
    assert d2 != d1
    # both resolve to valid indexes over the same 500 vectors
    assert ann_index_meta(d2)["n_vec"] == ann_index_meta(d1)["n_vec"] == 500


def test_suite_branch_matches_direct_search(spark):
    """The registered similarity_ann_suite 'ivf_persisted' rows are the
    persisted-index search verbatim (same rows, bitwise-equal cosines) —
    the suite is a tagging wrapper, not a second implementation."""
    from gcp_map_reduce_spark.operators.ann_index import ann_index_for_corpus
    from gcp_map_reduce_spark.operators.similarity import (
        ANN_INDEX_NPROBE,
        TOP_K,
        similarity_ann_suite,
    )

    suite = sorted(
        (r.query_id, r.cand_id, r.cosine)
        for r in similarity_ann_suite(spark, SF)
        .filter(F.col("method") == "ivf_persisted")
        .collect()
    )
    idx = ann_index_for_corpus(spark, SF)
    direct = sorted(
        map(
            tuple,
            ann_index_search(
                spark, idx, _queries(spark), k=TOP_K, n_probe=ANN_INDEX_NPROBE
            ).collect(),
        )
    )
    assert suite == direct and len(suite) > 0


@pytest.fixture()
def split_corpus(tmp_path):
    """A 400-vector subset corpus dir + the remaining 100 rows' source —
    the incremental-ingest scenario: build on the subset, append the
    rest. Both use the SAME sampled codebook (first N_CELLS vec_ids are
    in the subset), so appended == fresh-build is exact, not approximate."""
    import duckdb

    sub = tmp_path / "subsf"
    sub.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id < 400 "
        f"ORDER BY vec_id) TO '{sub}/embeddings.parquet' (FORMAT PARQUET)"
    )
    return str(sub)


def _rest_batch(spark):
    return (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") >= 400)
        .select("vec_id", "embedding")
    )


def test_append_equals_fresh_build(spark, tmp_path, split_corpus):
    """An index grown by append (400 base + 2 batches of 50) holds the
    SAME (vec_id, cell_id) assignment and returns bit-identical search
    results as one built fresh over all 500 rows with the same codebook
    — the shared-expression assignment claim, end to end."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
    )

    grown = str(tmp_path / "grown")
    ann_index_build(spark, split_corpus, grown, n_cells=N_CELLS)
    rest = _rest_batch(spark)
    m1 = ann_index_append(
        spark, grown, rest.filter(F.col("vec_id") < 450)
    )
    m2 = ann_index_append(
        spark, grown, rest.filter(F.col("vec_id") >= 450)
    )
    assert m1["n_vec"] == 450 and m2["n_vec"] == 500
    assert m2["segments"] == ["vectors", "vectors-seg0001", "vectors-seg0002"]
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, SF, fresh, n_cells=N_CELLS)
    rows_g = sorted(
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, grown).select("vec_id", "cell_id").collect()
    )
    rows_f = sorted(
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, fresh).select("vec_id", "cell_id").collect()
    )
    assert rows_g == rows_f
    res_g = sorted(
        map(tuple, ann_index_search(spark, grown, _queries(spark)).collect())
    )
    res_f = sorted(
        map(tuple, ann_index_search(spark, fresh, _queries(spark)).collect())
    )
    assert res_g == res_f and len(res_g) == N_QUERIES * 5
    # pruning survives segmentation: every segment leg carries the
    # static cell_id IN PartitionFilters
    plan = (
        ann_index_search(spark, grown, _queries(spark, n=2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    gates = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "cell_id" in line and " IN (" in line
    ]
    assert len(gates) >= 3, plan  # base + both appended segments


def test_append_rejects_duplicates_and_commits_atomically(
    spark, tmp_path, split_corpus
):
    """Duplicate vec_ids raise (batch-internal and vs the index), and a
    failed/unregistered segment is invisible: the manifest is the commit
    point, so junk on disk under an unlisted segment name changes
    nothing and the next append sweeps the slot."""
    import shutil

    from gcp_map_reduce_spark.operators.ann_index import ann_index_append

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    base_res = sorted(
        map(tuple, ann_index_search(spark, d, _queries(spark)).collect())
    )
    with pytest.raises(ValueError, match="already in the index"):
        ann_index_append(
            spark, d,
            spark.read.parquet(split_corpus + "/embeddings.parquet")
            .limit(5).select("vec_id", "embedding"),
        )
    dup = _rest_batch(spark).limit(5)
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        ann_index_append(spark, d, dup.unionByName(dup))
    # crash leftover: a full-looking segment dir that never got committed
    leftover = os.path.join(d, "vectors-seg0001")
    shutil.copytree(os.path.join(d, "vectors"), leftover)
    assert ann_index_meta(d)["segments"] == ["vectors"]
    assert sorted(
        map(tuple, ann_index_search(spark, d, _queries(spark)).collect())
    ) == base_res  # junk invisible
    meta = ann_index_append(spark, d, _rest_batch(spark))  # sweeps the slot
    assert meta["n_vec"] == 500
    assert meta["segments"] == ["vectors", "vectors-seg0001"]


def test_append_replay_noop_duplicate_errors_and_mirror_reseed(
    spark, tmp_path, split_corpus
):
    """The append's idempotent skip path no-ops on a full replay,
    duplicates raise (vs the index and batch-internal), and the
    driver-side ids mirror re-seeds after a compaction changes the
    segment list instead of serving a stale set."""
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_append,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    rest = _rest_batch(spark)
    ann_index_append(spark, d, rest, if_exists="skip")
    # replayed batch -> skip-all no-op, no new segment
    meta_before = ann_index_meta(d)
    meta_after = ann_index_append(spark, d, rest, if_exists="skip")
    assert meta_after["segments"] == meta_before["segments"]
    assert meta_after["n_vec"] == 500
    with pytest.raises(ValueError, match="already in the index"):
        ann_index_append(spark, d, rest.limit(3))
    # a compaction changes the segment list, forcing a re-seed rather
    # than a stale driver set
    compact_ann_index(spark, d)
    with pytest.raises(ValueError, match="already in the index"):
        ann_index_append(spark, d, rest.limit(3))
    with pytest.raises(ValueError, match="duplicate vec_ids"):
        ann_index_append(
            spark, d,
            rest.limit(2).unionByName(rest.limit(2)).withColumn(
                "vec_id", F.col("vec_id") + 777000
            ),
        )


def test_compact_folds_segments_and_preserves_results(
    spark, tmp_path, split_corpus
):
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_append,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    ann_index_append(spark, d, _rest_batch(spark))
    before = sorted(
        map(tuple, ann_index_search(spark, d, _queries(spark)).collect())
    )
    meta = compact_ann_index(spark, d)
    assert meta["segments"] == ["vectors"] and meta["n_vec"] == 500
    assert not os.path.exists(os.path.join(d, "vectors-seg0001"))
    after = sorted(
        map(tuple, ann_index_search(spark, d, _queries(spark)).collect())
    )
    assert before == after
    # idempotent no-op on a compacted index
    assert compact_ann_index(spark, d)["segments"] == ["vectors"]


def test_arrow_assignment_bit_identical_to_plan(spark):
    """The two build/append assignment paths _assign_cells chooses
    between by n_cells — the Arrow kernel (numpy d-sequential fold per
    batch) and the plan (ivf_probe_cells expression) — must produce the
    SAME home cell for every vector: the mirrored-arithmetic contract
    extended to the build path."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _assign_cells_arrow,
        _assign_cells_plan,
    )
    from gcp_map_reduce_spark.operators.similarity import (
        _emb,
        _with_norm2,
        ivf_seed_codebook,
    )

    seeds = ivf_seed_codebook(spark, SF, N_CELLS)
    feats = _with_norm2(_emb(spark, SF)).select("vec_id", "e", "n2")
    rows = lambda df: sorted(  # noqa: E731
        (r.vec_id, r.cell_id) for r in df.select("vec_id", "cell_id").collect()
    )
    plan = rows(_assign_cells_plan(feats, seeds))
    assert len(plan) == 500 and len({c for _, c in plan}) == N_CELLS
    assert plan == rows(_assign_cells_arrow(feats, seeds))


def test_filtered_search_pushdown_and_semantics(spark, tmp_path):
    """attrs=['label'] persisted at build time: where= filters reach the
    probed cells' parquet scan (PushedFilters gate) and the result is
    exactly post-filter-then-rank — the top-k among label-matching
    candidates of the SAME probed cells, verified against the
    unfiltered search's full candidate ranking."""
    from gcp_map_reduce_spark.operators.ann_index import ann_index_append

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS, attrs=["label"])
    assert ann_index_meta(d)["attrs"] == ["label"]
    qs = _queries(spark)
    filtered = ann_index_search(spark, d, qs, k=5, where="label = 3")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan.split(
        "PushedFilters"
    )[1][:200], plan
    got = sorted(map(tuple, filtered.collect()))
    # expected: rank ALL probed candidates (k >> corpus), keep label=3,
    # take 5 per query — identical probed-cell set by construction
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(SF + "/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    all_ranked = ann_index_search(spark, d, qs, k=10**6).collect()
    by_q: dict[int, list] = {}
    for r in sorted(
        all_ranked, key=lambda r: (r.query_id, -r.cosine, r.cand_id)
    ):
        if labels[r.cand_id] == 3:
            by_q.setdefault(r.query_id, []).append(
                (r.query_id, r.cand_id, r.cosine)
            )
    want = sorted(t for rows in by_q.values() for t in rows[:5])
    assert got == want and len(got) > 0
    # guard rails: where= without attrs raises; append must carry attrs
    plain = str(tmp_path / "plain")
    ann_index_build(spark, SF, plain, n_cells=N_CELLS)
    with pytest.raises(ValueError, match="attrs persisted at build"):
        ann_index_search(spark, plain, qs, where="label = 3").collect()
    with pytest.raises(ValueError, match="lacks"):
        ann_index_append(
            spark, d,
            _queries(spark, n=3).select(
                (F.col("query_id") + 900000).alias("vec_id"), "embedding"
            ),
        )
    # appended rows carry attrs and are visible to filtered search
    batch = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .limit(3)
        .select((F.col("vec_id") + 900000).alias("vec_id"),
                "embedding", F.lit(3).alias("label"))
    )
    ann_index_append(spark, d, batch)
    post = ann_index_search(spark, d, qs, k=10**6, where="label = 3")
    assert post.filter(F.col("cand_id") >= 900000).count() > 0


def test_collected_append_attrs_order_and_reserved_names(spark, tmp_path):
    """Two regressions: (1) the append pairs its
    explicit StructType with pandas columns POSITIONALLY, so attrs
    declared in a different order than the batch's schema must still
    land under their own names; (2) attrs shadowing ANY internal plan
    column are rejected at build time."""
    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
    )

    alt = tmp_path / "twoattr"
    alt.mkdir()
    duckdb.sql(
        f"COPY (SELECT vec_id, embedding, label, "
        f"CAST(vec_id % 7 AS INT) AS bucket "
        f"FROM '{SF}/embeddings.parquet' WHERE vec_id < 300 ORDER BY vec_id) "
        f"TO '{alt}/embeddings.parquet' (FORMAT PARQUET)"
    )
    d = str(tmp_path / "idx")
    # attrs order (bucket, label) deliberately REVERSES the table's
    # column order (label, bucket)
    ann_index_build(spark, str(alt), d, n_cells=4, attrs=["bucket", "label"])
    batch = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") >= 300)
        .select(
            "vec_id", "embedding", "label",
            (F.col("vec_id") % 7).cast("int").alias("bucket"),
        )
    )
    ann_index_append(spark, d, batch)
    got = {
        r.vec_id: (r.bucket, r.label)
        for r in _load_vectors(spark, d)
        .filter(F.col("vec_id") >= 300)
        .select("vec_id", "bucket", "label")
        .collect()
    }
    want = {
        r.vec_id: (r.vec_id % 7, r.label)
        for r in spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") >= 300)
        .collect()
    }
    assert got == want  # a positional swap would scramble these
    with pytest.raises(ValueError, match="reserved"):
        ann_index_build(
            spark, SF, str(tmp_path / "bad"), n_cells=4, attrs=["query_id"]
        )


def test_ids_mirror_invalidated_by_rebuild(spark, tmp_path, split_corpus):
    """A rebuild restores segments==['vectors'] — identical to the tuple
    that seeded the mirror — so the mirror must ALSO key on the index
    generation (codebook publish), or a long-lived driver dup-checks the
    new corpus against the old one's ids and silently double-appends."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    # seed the mirror under the first generation
    ann_index_append(
        spark, d,
        _rest_batch(spark).filter(F.col("vec_id") < 450),
    )
    # rebuild over live from the FULL corpus (new generation, same
    # segments tuple as a fresh index)
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    assert ann_index_meta(d)["n_vec"] == 500
    # these ids exist ONLY in the new generation; a stale mirror
    # (seeded pre-rebuild, ids < 450) would let them append again
    meta = ann_index_append(
        spark, d,
        _rest_batch(spark).filter(F.col("vec_id") >= 450),
        if_exists="skip",
    )
    assert meta["n_vec"] == 500 and meta["segments"] == ["vectors"]
    ids = [
        r.vec_id
        for r in _load_vectors(spark, d).select("vec_id").collect()
    ]
    assert len(ids) == len(set(ids)) == 500


def test_range_search_exact_on_full_probe_and_subset_on_partial(
    spark, tmp_path
):
    """ann_index_range_search with n_probe == n_cells covers every cell,
    so it must equal the exact all-pairs threshold filter; a partial
    probe must return a SUBSET (the documented recall trade) with the
    same exact cosines. The plan has no Window/global exchange after
    the probe join — that's the point of a range query."""
    import numpy as np

    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_range_search,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    t = 0.4
    full = sorted(
        map(
            tuple,
            ann_index_range_search(
                spark, d, _queries(spark), threshold=t, n_probe=N_CELLS
            ).collect(),
        )
    )
    emb = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    E = np.array([r.embedding for r in emb], dtype=np.float64)
    ids = [r.vec_id for r in emb]
    n2 = (E * E).sum(axis=1)
    want = []
    for q in range(N_QUERIES):
        cos = (E @ E[q]) / np.sqrt(n2 * n2[q])
        for j, c in enumerate(cos):
            if ids[j] != ids[q] and c >= t:
                want.append((ids[q], ids[j]))
    got_pairs = {(a, b) for a, b, _ in full}
    assert got_pairs == set(want)
    partial = {
        (r.query_id, r.cand_id)
        for r in ann_index_range_search(
            spark, d, _queries(spark), threshold=t, n_probe=2
        ).collect()
    }
    assert partial <= got_pairs
    plan = (
        ann_index_range_search(spark, d, _queries(spark), threshold=t)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan


def test_semantic_decontam_exact_at_driver_scale(spark):
    """semantic_decontam vs a numpy exact replay: the sf0.01 corpus
    index has ONE cell (probe-scaled sizing), so the range search is
    full-coverage and the operator must match the exact threshold
    screen train-vector-for-train-vector."""
    import numpy as np

    from gcp_map_reduce_spark.operators.decontam import (
        EVAL_MOD,
        semantic_decontam,
    )
    from gcp_map_reduce_spark.operators.similarity import NEAR_DUP_COSINE

    got = {
        r.train_vec: (r.n_eval_hits, r.sample_eval_vec)
        for r in semantic_decontam(spark, SF).collect()
    }
    emb = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    E = np.array([r.embedding for r in emb], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb])
    n2 = (E * E).sum(axis=1)
    is_eval = ids % EVAL_MOD == 0
    want: dict[int, list] = {}
    for qi in np.nonzero(is_eval)[0]:
        cos = (E @ E[qi]) / np.sqrt(n2 * n2[qi])
        for j in np.nonzero((cos >= NEAR_DUP_COSINE) & ~is_eval)[0]:
            if ids[j] != ids[qi]:
                want.setdefault(int(ids[j]), []).append(int(ids[qi]))
    assert got == {
        t: (len(v), min(v)) for t, v in want.items()
    } and len(got) > 0


def test_search_plan_isolated_from_concurrent_append(
    spark, tmp_path, split_corpus
):
    """Reader isolation through the manifest: a search PLANNED before an
    append reads only the segments listed when it was built — collecting
    it after the append returns exactly the pre-append results, and a
    fresh search sees the grown index. This is the 'readers see
    before-batch or after-batch, never between' claim, observed."""
    from gcp_map_reduce_spark.operators.ann_index import ann_index_append

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    pre_plan = ann_index_search(spark, d, _queries(spark))
    pre_expected = sorted(map(tuple, pre_plan.collect()))
    ann_index_append(spark, d, _rest_batch(spark))
    assert sorted(map(tuple, pre_plan.collect())) == pre_expected
    post = sorted(
        map(tuple, ann_index_search(spark, d, _queries(spark)).collect())
    )
    assert post != pre_expected  # the appended half changes top-k
    assert {c for _, c, _ in post} & set(range(400, 500))


def _built_manifest(spark, tmp_path):
    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=2)
    meta_path = os.path.join(d, META_FILE)
    with open(meta_path) as fh:
        return d, meta_path, json.load(fh)


def _assert_rejected(d, meta_path, manifest):
    with open(meta_path, "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="rebuild the index"):
        ann_index_meta(d)


def test_version_gate(spark, tmp_path):
    """The reader speaks exactly one manifest format: every earlier
    version (1-4) and a newer one raise the "rebuild the index" error,
    through search too; a missing manifest is a FileNotFoundError."""
    d, meta_path, good = _built_manifest(spark, tmp_path)
    for version in (1, 2, 3, 4, INDEX_VERSION + 1):
        _assert_rejected(d, meta_path, {**good, "version": version})
    with pytest.raises(ValueError, match="version"):
        ann_index_search(spark, d, _queries(spark, 2))
    os.remove(meta_path)
    with pytest.raises(FileNotFoundError, match="no ANN index"):
        ann_index_search(spark, d, _queries(spark, 2))


def test_multi_level_manifest_rejected(tmp_path):
    """A manifest recording a two-level (coarse + residual) codebook
    must fail the meta gate with the rebuild error: read as flat, its
    composite cell ids would be probed with the coarse codebook."""
    with open(os.path.join(tmp_path, META_FILE), "w") as fh:
        json.dump({"version": 1, "levels": 2, "n_cells": 16}, fh)
    with pytest.raises(ValueError, match="rebuild the index"):
        ann_index_meta(str(tmp_path))


def test_manifest_rejects_missing_keys(spark, tmp_path):
    """A current-version manifest missing any required key raises the
    same "rebuild the index" error."""
    d, meta_path, good = _built_manifest(spark, tmp_path)
    for key in MANIFEST_KEYS:
        _assert_rejected(d, meta_path, {k: v for k, v in good.items() if k != key})


def test_every_manifest_holds_exactly_the_required_keys(
    spark, tmp_path, split_corpus
):
    """Every manifest the writers commit — build (float64, int8, with
    attrs), append, delete, delete_where, compaction and rebuild — holds
    exactly MANIFEST_KEYS at INDEX_VERSION: storage and tombstones are
    plain fields, never version numbers, so no operation leaves a shape
    the reader would reject."""
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_append,
        ann_index_delete,
        ann_index_delete_where,
        ann_index_rebuild,
        compact_ann_index,
    )

    def check(d, returned):
        with open(os.path.join(d, META_FILE)) as fh:
            on_disk = json.load(fh)
        for m in (returned, on_disk):
            assert set(m) == set(MANIFEST_KEYS), sorted(m)
            assert m["version"] == INDEX_VERSION
        assert returned == on_disk

    rest = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") >= 400)
        .select("vec_id", "embedding", "label")
    )
    plain = str(tmp_path / "plain")
    check(plain, ann_index_build(spark, split_corpus, plain, n_cells=N_CELLS))
    check(plain, ann_index_append(spark, plain, rest.drop("label")))
    for storage in ("float64", "int8"):
        d = str(tmp_path / storage)
        check(d, ann_index_build(
            spark, split_corpus, d, n_cells=N_CELLS, attrs=["label"],
            storage=storage,
        ))
        m = ann_index_append(spark, d, rest)
        check(d, m)
        assert m["storage"] == storage
        check(d, ann_index_delete(spark, d, [450]))
        check(d, ann_index_delete_where(spark, d, "label = 3 AND vec_id >= 64"))
        m = compact_ann_index(spark, d)
        check(d, m)
        assert m["tombstones"] == [] and m["storage"] == storage
        check(d, ann_index_rebuild(spark, SF, d))


def test_driver_caches_bounded(spark, tmp_path, monkeypatch):
    """The per-index driver caches hold at most INDEX_CACHE_MAX_DIRS
    index dirs: a new dir past the bound starts the cache over, and a
    cleared entry re-reads to the same value."""
    import pandas as pd

    import gcp_map_reduce_spark.operators.ann_index as ai

    monkeypatch.setattr(ai, "INDEX_CACHE_MAX_DIRS", 2)
    ai._CELL_COUNTS_CACHE.clear()
    ai._CODEBOOK_CACHE.clear()
    cb = pd.DataFrame(
        {"cell_id": [0, 1], "ce": [[1.0, 0.0], [0.0, 1.0]], "cn2": [1.0, 1.0]}
    )
    for i in range(3):
        d = str(tmp_path / f"idx{i}")
        os.makedirs(os.path.join(d, "codebook"))
        fname = ai._write_cell_counts(d, {"0": i, "1": 1})
        counts = ai.ann_index_cell_counts(d, {"cell_counts_file": fname})
        assert dict(counts) == {"0": i, "1": 1}
        assert len(ai._CELL_COUNTS_CACHE) <= 2
        cb.to_parquet(os.path.join(d, "codebook", "part-0.parquet"))
        cb_dir = os.path.join(d, "codebook")
        assert [int(c) for c in ai._codebook_driver(spark, cb_dir)[0]] == [0, 1]
        assert len(ai._CODEBOOK_CACHE) <= 2
    assert list(ai._CODEBOOK_CACHE) == [str(tmp_path / "idx2" / "codebook")]


def test_dup_check_scan_prunes_to_batch_cells(spark, tmp_path, split_corpus):
    """The append's dup check reads ONLY the batch's home
    cells (r13, closing the r12 full-index vec_id collect): the
    ids-only scan carries a cell_id PartitionFilters gate on every
    segment leg, opens strictly the probed cells' files, and the driver
    mirror caches ids for touched cells only — O(batch cells), never
    O(n_vec)."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _IDS_MIRROR,
        _ids_scan_df,
        ann_index_append,
        ann_index_meta,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    # grow one segment so the scan spans a multi-segment index
    rest = _rest_batch(spark)
    ann_index_append(spark, d, rest.filter(F.col("vec_id") < 450))
    meta = ann_index_meta(d)
    assert len(meta["segments"]) == 2
    all_cells = sorted(
        r.cell_id
        for r in spark.read.parquet(os.path.join(d, "vectors"))
        .select("cell_id").distinct().collect()
    )
    subset = all_cells[:2]
    scan = _ids_scan_df(spark, d, meta, subset)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    gates = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "cell_id" in line and " IN (" in line
    ]
    assert len(gates) == len(meta["segments"]), plan
    # file-level: only the subset cells' files are opened, across BOTH
    # segments — the full per-segment dir count stays untouched
    n_read = pruned_files(scan)
    n_total = sum(
        pruned_files(spark.read.parquet(os.path.join(d, seg)))
        for seg in meta["segments"]
    )
    assert n_read < n_total
    per_seg_subset = sum(
        1
        for seg in meta["segments"]
        for c in subset
        if os.path.isdir(os.path.join(d, seg, f"cell_id={c}"))
    )
    assert n_read == per_seg_subset
    # an append touching a few cells seeds the mirror with exactly
    # those cells, not the whole id space
    _IDS_MIRROR.clear()
    batch = rest.filter(F.col("vec_id") >= 450)
    ann_index_append(spark, d, batch)
    key, by_cell = _IDS_MIRROR[d]
    stored = spark.read.parquet(os.path.join(d, "vectors-seg0002"))
    touched = {r.cell_id for r in stored.select("cell_id").distinct().collect()}
    assert set(by_cell) == touched
    assert len(touched) < len(all_cells) or len(all_cells) <= len(touched)
    n_vec = ann_index_meta(d)["n_vec"]
    cached_ids = sum(len(s) for s in by_cell.values())
    assert cached_ids < n_vec  # not the O(index) mirror of r12
    # the cached sets are still a correct dup gate: full replay no-ops
    meta_after = ann_index_append(
        spark, d, batch, if_exists="skip"
    )
    assert meta_after["segments"] == ann_index_meta(d)["segments"]


def test_ids_mirror_evicts_past_cap(spark, tmp_path, split_corpus, monkeypatch):
    """Driver memory of the append's dup check is bounded: past
    IDS_MIRROR_MAX_IDS cached ids, least-recently-touched cells evict
    (and later re-fetch via the cell-pruned scan, still correct)."""
    import gcp_map_reduce_spark.operators.ann_index as ai
    from gcp_map_reduce_spark.operators.ann_index import ann_index_append

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    monkeypatch.setattr(ai, "IDS_MIRROR_MAX_IDS", 20)
    ai._IDS_MIRROR.clear()
    rest = _rest_batch(spark)
    ann_index_append(spark, d, rest, if_exists="skip")
    _, by_cell = ai._IDS_MIRROR[d]
    total = sum(len(s) for s in by_cell.values())
    # eviction leaves at most the cap plus the single newest cell
    assert total <= 20 + max(len(s) for s in by_cell.values())
    assert len(by_cell) >= 1
    # correctness after eviction: a replay of evicted ids still skips
    meta_after = ann_index_append(
        spark, d, rest, if_exists="skip"
    )
    assert meta_after["n_vec"] == 500


def test_writer_lock_serializes_and_releases_on_death(
    spark, tmp_path, split_corpus, monkeypatch
):
    """Appends/compactions hold an exclusive kernel flock beside the
    index (r12 ADVICE: unlocked appenders could drop each other's
    segments; r13 review: pid-file breaking protocols race, flock does
    not): a held lock times the waiter out; a holder's DEATH releases
    it with no stale state; a finished append leaves the lock
    immediately re-acquirable."""
    import fcntl
    import subprocess
    import sys

    import gcp_map_reduce_spark.operators.ann_index as ai
    from gcp_map_reduce_spark.operators.ann_index import ann_index_append

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    lock = d + ".writer-lock"
    rest = _rest_batch(spark)
    # live holder (separate fd in this process) -> TimeoutError
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    monkeypatch.setattr(ai, "WRITE_LOCK_TIMEOUT_S", 0.3)
    with pytest.raises(TimeoutError, match="writer lock"):
        ann_index_append(spark, d, rest)
    os.close(fd)  # release
    # dead holder: a subprocess takes the flock and EXITS mid-hold —
    # the kernel releases it, so the next append needs no breaking
    subprocess.run(
        [sys.executable, "-c",
         "import fcntl, os, sys\n"
         f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR)\n"
         "fcntl.flock(fd, fcntl.LOCK_EX)\n"
         "os._exit(0)\n"],
        check=True,
    )
    meta = ann_index_append(spark, d, rest)
    assert meta["n_vec"] == 500
    # lock re-acquirable immediately after the append returns
    fd2 = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd2, fcntl.LOCK_EX | fcntl.LOCK_NB)  # must not raise
    os.close(fd2)
    # compaction also locks (and releases)
    from gcp_map_reduce_spark.operators.ann_index import compact_ann_index

    compact_ann_index(spark, d)
    fd3 = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd3, fcntl.LOCK_EX | fcntl.LOCK_NB)
    os.close(fd3)


def test_commit_detects_external_mutation(spark, tmp_path, split_corpus):
    """A NON-locking external mutation between an append's manifest read
    and its commit raises instead of silently dropping the other
    writer's segment (the lock can only serialize lock-takers; the
    manifest re-read catches everything else)."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _commit_segment,
        _generation,
        _load_vectors,
        _meta_write,
        ann_index_meta,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    meta = ann_index_meta(d)
    assigned = _load_vectors(spark, d, meta).limit(1).localCheckpoint()
    # simulate: another process committed a segment after our read
    forged = {**meta, "segments": ["vectors", "vectors-seg0001"]}
    _meta_write(d, forged)
    with pytest.raises(RuntimeError, match="mutated outside"):
        _commit_segment(d, meta, assigned, {"0": 1}, _generation(d))


def test_manifest_cell_counts_exact_across_lifecycle(
    spark, tmp_path, split_corpus
):
    """r14 (verdict task 5): the index accumulates EXACT per-cell
    populations at every commit — build and each append — and
    compaction carries them unchanged; they always equal a
    direct count over the stored segments. Since r15 they live in a
    content-addressed sidecar (ann_index_cell_counts), never inline in
    the manifest, and superseded sidecars are swept (keep current +
    previous — the lock-free-reader grace)."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
        ann_index_cell_counts,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)

    def actual():
        return {
            str(r.cell_id): r["count"]
            for r in _load_vectors(spark, d).groupBy("cell_id").count().collect()
        }

    def sidecars():
        return sorted(
            n for n in os.listdir(d) if n.startswith("_cell_counts-")
        )

    meta = ann_index_meta(d)
    assert "cell_counts" not in meta  # never inline since r15
    assert meta["cell_counts_file"] in sidecars()
    assert ann_index_cell_counts(d) == actual()
    rest = _rest_batch(spark)
    m = ann_index_append(spark, d, rest.filter(F.col("vec_id") < 450))
    assert ann_index_cell_counts(d, m) == actual()
    m = ann_index_append(spark, d, rest.filter(F.col("vec_id") >= 450))
    cc = ann_index_cell_counts(d, m)
    assert cc == actual()
    assert sum(cc.values()) == m["n_vec"] == 500
    # sweep keeps at most current + previous
    assert len(sidecars()) <= 2
    m = compact_ann_index(spark, d)
    assert ann_index_cell_counts(d, m) == actual()
    # the publish swap dropped every pre-compaction sidecar
    assert sidecars() == [m["cell_counts_file"]]


def test_cell_counts_sidecar_integrity_and_legacy(spark, tmp_path, split_corpus):
    """A sidecar whose bytes no longer hash to its recorded name raises
    loudly, and a sidecar missing under the writer lock (external
    mutation, not the lock-free reader's sweep race) fails the append
    before it writes a segment."""
    from gcp_map_reduce_spark.operators import ann_index as mod
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_append,
        ann_index_cell_counts,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    m = ann_index_append(spark, d, _rest_batch(spark).limit(20))
    assert sum(ann_index_cell_counts(d).values()) == 420
    # corrupt the sidecar: the FIRST load per process must refuse, not
    # mis-size silently (the driver cache keyed on the content-
    # addressed name legitimately serves later calls without re-reading
    # — clear it to exercise the verification path)
    mod._CELL_COUNTS_CACHE.clear()
    side = os.path.join(d, m["cell_counts_file"])
    with open(side, "a") as fh:
        fh.write(" ")
    with pytest.raises(ValueError, match="hash"):
        ann_index_cell_counts(d)
    mod._CELL_COUNTS_CACHE.clear()
    os.remove(side)
    with pytest.raises(ValueError, match="missing under the writer lock"):
        ann_index_append(
            spark, d, _rest_batch(spark).filter(F.col("vec_id") >= 450)
        )
    assert ann_index_meta(d)["segments"] == m["segments"]
    assert not os.path.exists(os.path.join(d, "vectors-seg0002"))


def test_screen_batch_per_cell_split_is_exact(spark, tmp_path, split_corpus):
    """Hot-cell sub-splitting must not change RESULTS: screening with a
    tile_target small enough to force multi-way per-cell splits returns
    the bit-identical (query, cand, cosine) set as the single-block
    screen; and a lock-free reader whose counts sidecar was swept by a
    concurrent commit falls back to mean sizing and still matches."""
    from gcp_map_reduce_spark.operators import ann_index as mod
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_screen_batch,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    batch = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < 60)
        .select("vec_id", "embedding")
    )
    one_block = sorted(
        map(
            tuple,
            ann_index_screen_batch(
                spark, d, batch, 0.2, n_probe=2, tile_target=10**9
            ).collect(),
        )
    )
    split = sorted(
        map(
            tuple,
            ann_index_screen_batch(
                spark, d, batch, 0.2, n_probe=2, tile_target=16
            ).collect(),
        )
    )
    assert split == one_block and len(one_block) > 0
    # sidecar swept under the reader: counts unknown -> mean fallback
    os.remove(os.path.join(d, ann_index_meta(d)["cell_counts_file"]))
    mod._CELL_COUNTS_CACHE.clear()
    assert mod.ann_index_cell_counts(d) is None
    mean_sized = sorted(
        map(
            tuple,
            ann_index_screen_batch(
                spark, d, batch, 0.2, n_probe=2, tile_target=16
            ).collect(),
        )
    )
    assert mean_sized == one_block


def test_delete_lifecycle_tombstone_then_compaction(spark, tmp_path):
    """r14 ann_index_delete: deleted ids vanish from search and screen
    IMMEDIATELY (tombstone anti-join — results equal a fresh build over
    the corpus minus those rows, same codebook), their physical slots
    stay occupied until compaction (dup checks see them; re-append
    blocked), and compact_ann_index MATERIALIZES the delete: tombstones
    cleared and their dirs gone, physical rows live-only, cell_counts
    re-recorded, the freed ids appendable again."""
    import duckdb

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
        ann_index_delete,
        ann_index_screen_batch,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    dead = [450, 451, 452, 460]
    m = ann_index_delete(spark, d, dead)
    assert m["n_vec"] == 496 and m["n_deleted"] == 4
    assert m["tombstones"] == ["tombstones-t0000"]
    assert m["version"] == INDEX_VERSION
    # ground truth: fresh build over the corpus minus the dead rows —
    # the dead ids are non-seeds, so the codebook is identical and the
    # searches must be bit-identical
    reduced = tmp_path / "reduced"
    reduced.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' WHERE vec_id NOT IN "
        f"({', '.join(map(str, dead))}) ORDER BY vec_id) "
        f"TO '{reduced}/embeddings.parquet' (FORMAT PARQUET)"
    )
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, str(reduced), fresh, n_cells=N_CELLS)
    res = lambda p: sorted(  # noqa: E731
        map(tuple, ann_index_search(spark, p, _queries(spark)).collect())
    )
    assert res(d) == res(fresh)
    batch = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < 40)
        .select("vec_id", "embedding")
    )
    scr = lambda p: sorted(  # noqa: E731
        map(
            tuple,
            ann_index_screen_batch(spark, p, batch, 0.2, n_probe=2).collect(),
        )
    )
    assert scr(d) == scr(fresh)
    # physical slots still occupied: dup check blocks re-append
    rows = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id").isin(dead))
        .select("vec_id", "embedding")
    )
    assert _load_vectors(spark, d, include_deleted=True).count() == 500
    assert _load_vectors(spark, d).count() == 496
    # the rejection names the RIGHT remedy for tombstoned ids
    with pytest.raises(ValueError, match="DELETED .tombstoned."):
        ann_index_append(spark, d, rows)
    # the skip path surfaces replacement-vs-replay ambiguity loudly
    with pytest.warns(UserWarning, match="tombstoned"):
        m2 = ann_index_append(spark, d, rows, if_exists="skip")
    assert m2["n_vec"] == 496  # idempotent skip, no phantom segment
    # double delete: error by default, no-op with skip
    with pytest.raises(ValueError, match="not live"):
        ann_index_delete(spark, d, dead)
    assert ann_index_delete(spark, d, dead, if_missing="skip")[
        "n_deleted"
    ] == 4
    # compaction materializes: tombstones cleared + dirs gone, physical
    # == live, cell_counts exact, search unchanged, ids re-appendable
    m3 = compact_ann_index(spark, d)
    assert m3["tombstones"] == [] and m3["n_deleted"] == 0
    assert m3["version"] == INDEX_VERSION
    assert not [p for p in os.listdir(d) if p.startswith("tombstones")]
    assert _load_vectors(spark, d, include_deleted=True).count() == 496
    actual = {
        str(r.cell_id): r["count"]
        for r in _load_vectors(spark, d).groupBy("cell_id").count().collect()
    }
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_cell_counts,
    )

    assert ann_index_cell_counts(d, m3) == actual
    assert res(d) == res(fresh)
    m4 = ann_index_append(spark, d, rows)
    assert m4["n_vec"] == 500
    full2 = str(tmp_path / "full2")
    ann_index_build(spark, SF, full2, n_cells=N_CELLS)
    assert res(d) == res(full2)  # grown-after-delete == full fresh


def test_delete_batches_fold_to_one_tombstone_dir(spark, tmp_path):
    """r15 (r14 verdict finding 2): N delete batches between compactions
    commit as ONE folded tombstone dir — the manifest lists exactly one
    slot, reader fan-in is one file-open, slot numbers never reuse an
    on-disk name, and the one-commit grace keeps the previous dir for
    lock-free readers mid-plan. Results equal deleting everything in
    one batch."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_delete,
        ann_index_search,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    batches = [[450, 451], [452, 460], [470], [471, 472], [480]]
    for i, batch in enumerate(batches):
        m = ann_index_delete(spark, d, batch)
        assert len(m["tombstones"]) == 1  # always folded
        on_disk = sorted(
            n for n in os.listdir(d) if n.startswith("tombstones-t")
        )
        # current + at most the previous (grace for in-flight readers)
        assert m["tombstones"][0] in on_disk and len(on_disk) <= 2
    assert m["tombstones"] == [f"tombstones-t{len(batches) - 1:04d}"]
    dead = sorted(x for b in batches for x in b)
    assert m["n_deleted"] == len(dead) and m["n_vec"] == 500 - len(dead)
    # the folded dir holds the UNION of every batch
    folded = sorted(
        int(r.vec_id)
        for r in spark.read.parquet(
            os.path.join(d, m["tombstones"][0])
        ).collect()
    )
    assert folded == dead
    assert _load_vectors(spark, d).count() == 500 - len(dead)
    # equivalent single-batch delete on a second index: same searches
    d2 = str(tmp_path / "idx2")
    ann_index_build(spark, SF, d2, n_cells=N_CELLS)
    ann_index_delete(spark, d2, dead)
    res = lambda p: sorted(  # noqa: E731
        map(tuple, ann_index_search(spark, p, _queries(spark)).collect())
    )
    assert res(d) == res(d2)


def test_delete_where_predicate_takedown(spark, tmp_path, monkeypatch):
    """r15 (verdict task 7): ann_index_delete_where resolves a SQL
    predicate over persisted attrs to live ids index-side and reuses
    the tombstone commit — searches equal a fresh build over the
    filtered corpus (same codebook: the deleted rows are non-seeds
    here), replays are no-ops, re-append of a predicate-deleted id is
    blocked until compaction materializes, and attr-less indexes
    refuse."""
    import duckdb

    from gcp_map_reduce_spark.operators import ann_index as mod
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
        ann_index_delete_where,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS, attrs=["label"])
    n_dead = int(
        duckdb.sql(
            f"SELECT count(*) FROM '{SF}/embeddings.parquet' "
            "WHERE label = 3 AND vec_id >= 64"
        ).fetchone()[0]
    )
    # keep seed rows (vec_id < 64 covers every possible seed at
    # n_cells=8) so the fresh-build ground truth shares the codebook
    m = ann_index_delete_where(spark, d, "label = 3 AND vec_id >= 64")
    assert m["n_deleted"] == n_dead and m["n_vec"] == 500 - n_dead
    assert len(m["tombstones"]) == 1
    # replay: same predicate, nothing live matches -> no-op
    m2 = ann_index_delete_where(spark, d, "label = 3 AND vec_id >= 64")
    assert m2["n_deleted"] == n_dead and m2["tombstones"] == m["tombstones"]
    # ground truth: fresh build over the filtered corpus
    reduced = tmp_path / "reduced"
    reduced.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF}/embeddings.parquet' "
        "WHERE NOT (label = 3 AND vec_id >= 64) ORDER BY vec_id) "
        f"TO '{reduced}/embeddings.parquet' (FORMAT PARQUET)"
    )
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, str(reduced), fresh, n_cells=N_CELLS)
    res = lambda p: sorted(  # noqa: E731
        map(tuple, ann_index_search(spark, p, _queries(spark)).collect())
    )
    assert res(d) == res(fresh)
    # re-append of a predicate-deleted id: blocked until compaction
    some_dead = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter((F.col("label") == 3) & (F.col("vec_id") >= 64))
        .limit(2)
        .select("vec_id", "embedding", "label")
    )
    with pytest.raises(ValueError, match="DELETED .tombstoned."):
        ann_index_append(spark, d, some_dead)
    m3 = compact_ann_index(spark, d)
    assert m3["tombstones"] == [] and m3["n_deleted"] == 0
    assert _load_vectors(spark, d, include_deleted=True).count() == 500 - n_dead
    m4 = ann_index_append(spark, d, some_dead)
    assert m4["n_vec"] == 500 - n_dead + 2
    # guard rails: attr-less index refuses; oversize predicate refuses
    plain = str(tmp_path / "plain")
    ann_index_build(spark, SF, plain, n_cells=N_CELLS)
    with pytest.raises(ValueError, match="attrs"):
        ann_index_delete_where(spark, plain, "vec_id > 0")
    monkeypatch.setattr(mod, "DELETE_WHERE_MAX_IDS", 3)
    with pytest.raises(ValueError, match="reindex, not a takedown"):
        ann_index_delete_where(spark, d, "label = 1")


def test_delete_stream_mark_survives_compaction_and_reappend(
    spark, tmp_path
):
    """r15 (review catch on the takedown stream): a redelivered delete
    batch is only naturally idempotent while its ids stay tombstoned —
    after a compaction MATERIALIZED them and a legitimate replacement
    row re-appended, skip-mode alone would find the replacement live
    and kill it. The stream watermark (recorded atomically with the
    delete, carried through compaction) proves the replay and skips;
    a genuinely new batch id still deletes."""
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_append,
        ann_index_delete,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    dead = [450, 451]
    m = ann_index_delete(spark, d, dead, if_missing="skip",
                         stream_mark=("td-abc", 0))
    assert m["n_deleted"] == 2
    assert m["stream_marks"]["td-abc"]["batch"] == 0
    m = compact_ann_index(spark, d)
    # carried through compaction
    assert m["stream_marks"]["td-abc"]["batch"] == 0
    rows = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id").isin(dead))
        .select("vec_id", "embedding")
    )
    m = ann_index_append(spark, d, rows)  # legitimate replacements
    assert m["n_vec"] == 500
    # the redelivered batch 0: watermark proves replay -> replacements live
    m = ann_index_delete(spark, d, dead, if_missing="skip",
                         stream_mark=("td-abc", 0))
    assert m["n_deleted"] == 0 and m["n_vec"] == 500
    # a different stream's batch 0, and this stream's NEXT batch: delete
    m = ann_index_delete(spark, d, [450], if_missing="skip",
                         stream_mark=("td-zzz", 0))
    assert m["n_deleted"] == 1
    # replay of the already-dead 450 under td-abc batch 2: no-op delete
    # but the mark must advance
    m = ann_index_delete(spark, d, [450], if_missing="skip",
                         stream_mark=("td-abc", 2))
    assert m["n_deleted"] == 1  # unchanged: 450 already tombstoned
    assert m["stream_marks"]["td-abc"]["batch"] == 2
    m = ann_index_delete(spark, d, [451], if_missing="skip",
                         stream_mark=("td-abc", 3))
    assert m["n_deleted"] == 2
    assert m["stream_marks"]["td-abc"]["batch"] == 3
    assert m["stream_marks"]["td-zzz"]["batch"] == 0


def test_stream_marks_eviction_and_legacy_format():
    """r15 (5th review pass): the marks dict is bounded at
    STREAM_MARKS_CAP with LOGICAL-sequence LRU — the just-recorded key
    is never evicted even under recency ties."""
    from gcp_map_reduce_spark.operators.ann_index import (
        STREAM_MARKS_CAP,
        _mark_streams,
    )

    meta = {"stream_marks": {"td-old": {"batch": 5, "at": 0}}}
    _mark_streams(meta, ("td-new", 0))
    assert meta["stream_marks"]["td-old"] == {"batch": 5, "at": 0}
    assert meta["stream_marks"]["td-new"] == {"batch": 0, "at": 1}
    # fill past the cap: oldest-by-sequence evicted, newest kept, and
    # the key being recorded survives even when it would tie; evicting
    # a recently active lineage warns
    meta = {}
    with pytest.warns(UserWarning, match="STREAM_MARKS_CAP"):
        for i in range(STREAM_MARKS_CAP + 5):
            _mark_streams(meta, (f"td-{i:02d}", i))
            assert len(meta["stream_marks"]) <= STREAM_MARKS_CAP
            assert f"td-{i:02d}" in meta["stream_marks"]  # never self-evicts
        kept = sorted(meta["stream_marks"])
        assert kept == [
            f"td-{i:02d}" for i in range(5, STREAM_MARKS_CAP + 5)
        ]
        # re-advancing an existing key refreshes its recency
        _mark_streams(meta, ("td-05", 99))
        _mark_streams(meta, ("td-xx", 0))
    assert "td-05" in meta["stream_marks"]  # refreshed, not evicted
    assert "td-06" not in meta["stream_marks"]  # now the oldest: gone


def test_delete_validation_and_locking(spark, tmp_path, split_corpus, monkeypatch):
    """Delete takes the writer lock (held elsewhere -> timeout), rejects
    unknown if_missing, skips cleanly on empty/missing batches, and
    works on int8 indexes (the tombstone join sits below the decode)."""
    import fcntl

    from gcp_map_reduce_spark.operators import ann_index as mod
    from gcp_map_reduce_spark.operators.ann_index import ann_index_delete

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS, storage="int8")
    with pytest.raises(ValueError, match="if_missing"):
        ann_index_delete(spark, d, [1], if_missing="nope")
    assert ann_index_delete(spark, d, [])["n_deleted"] == 0
    assert ann_index_delete(
        spark, d, [10**9], if_missing="skip"
    )["n_deleted"] == 0
    # skip tombstones ONLY the live intersection: a never-present id
    # must stay appendable (2nd review pass on this feature: writing
    # the full batch would silently kill its later legitimate append)
    m = ann_index_delete(spark, d, [398, 10**9 + 7], if_missing="skip")
    assert m["n_vec"] == 399 and m["n_deleted"] == 1
    assert m["version"] == INDEX_VERSION and m["storage"] == "int8"
    tomb = spark.read.parquet(
        os.path.join(d, m["tombstones"][-1])
    ).collect()
    assert [r.vec_id for r in tomb] == [398]
    newrow = spark.createDataFrame(
        [(10**9 + 7, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    from gcp_map_reduce_spark.operators.ann_index import ann_index_append

    ann_index_append(spark, d, newrow)
    probe = spark.createDataFrame(
        [(-1, [0.5] * 64)], "query_id long, embedding array<double>"
    )
    got_new = {
        r.cand_id
        for r in ann_index_search(spark, d, probe, k=1,
                                  n_probe=N_CELLS).collect()
    }
    # the appended row is visible, not tombstone-shadowed
    assert got_new == {10**9 + 7}

    m = ann_index_delete(spark, d, [399])
    assert m["n_vec"] == 399 and m["n_deleted"] == 2
    got = {
        r.cand_id
        for r in ann_index_search(spark, d, _queries(spark), k=400,
                                  n_probe=N_CELLS).collect()
    }
    assert 399 not in got and len(got) > 0
    fd = os.open(d + ".writer-lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    monkeypatch.setattr(mod, "WRITE_LOCK_TIMEOUT_S", 0.2)
    try:
        with pytest.raises(TimeoutError, match="writer lock"):
            ann_index_delete(spark, d, [5])
    finally:
        os.close(fd)
    # full takedown: compaction refuses to publish an empty (hence
    # unreadable) vectors dir; the tombstoned index itself still serves
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_meta as _meta,
        compact_ann_index,
    )

    remaining = [
        r.vec_id
        for r in spark.read.parquet(split_corpus + "/embeddings.parquet")
        .select("vec_id").collect()
        if r.vec_id not in (398, 399)
    ] + [10**9 + 7]
    m = ann_index_delete(spark, d, remaining)
    assert m["n_vec"] == 0
    assert (
        ann_index_search(spark, d, _queries(spark), n_probe=N_CELLS).count()
        == 0
    )
    with pytest.raises(ValueError, match="every row .* tombstoned"):
        compact_ann_index(spark, d)
    assert _meta(d)["n_vec"] == 0  # refused compaction changed nothing


def test_build_over_live_index_takes_writer_lock(
    spark, tmp_path, split_corpus, monkeypatch
):
    """r13 ADVICE (medium): a direct rebuild over a live index must
    serialize on the writer lock like appends/compactions — otherwise
    its publish swap can land mid-append and drop the append's
    committed segment. With the lock held elsewhere the build times
    out; once released it proceeds."""
    import fcntl

    from gcp_map_reduce_spark.operators import ann_index as mod

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    fd = os.open(d + ".writer-lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    monkeypatch.setattr(mod, "WRITE_LOCK_TIMEOUT_S", 0.2)
    try:
        with pytest.raises(TimeoutError, match="writer lock"):
            ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    finally:
        os.close(fd)
    meta = ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    assert meta["n_vec"] == 400  # lock released -> rebuild lands


def test_commit_detects_external_rebuild_same_segments(
    spark, tmp_path, split_corpus
):
    """r13 ADVICE: an external rebuild that restores
    segments==['vectors'] is invisible to the segments-list guard (our
    stale meta also reads ['vectors'] on a first append) — the codebook
    GENERATION fingerprint must catch it, or the commit would register
    rows assigned against the dead codebook."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _commit_segment,
        _generation,
        _load_vectors,
        ann_index_meta,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    meta = ann_index_meta(d)
    gen = _generation(d)
    assigned = _load_vectors(spark, d, meta).limit(1).localCheckpoint()
    # external (non-locking) rebuild: same segments list, new codebook
    ann_index_build(spark, split_corpus, d, n_cells=N_CELLS)
    assert ann_index_meta(d)["segments"] == meta["segments"] == ["vectors"]
    with pytest.raises(RuntimeError, match="mutated outside"):
        _commit_segment(d, meta, assigned, {"0": 1}, gen)


def _copy_corpus(tmp_path, name: str) -> str:
    import shutil

    alt = tmp_path / name
    alt.mkdir()
    shutil.copy(
        os.path.join(SF, "embeddings.parquet"),
        str(alt / "embeddings.parquet"),
    )
    return str(alt)


def _supersede_corpus(corpus_dir: str) -> None:
    """Mutate the corpus file state (mtime bump) so its fingerprint no
    longer matches any previously-resolved generation — the 'corpus
    changed, old index superseded' event the GC exists for."""
    src = os.path.join(corpus_dir, "embeddings.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_for_corpus_sweeps_stale_generations(spark, tmp_path, monkeypatch):
    """r14 (verdict task 1): superseded cache generations are
    garbage-collected at resolve time — N successive VERSIONS of one
    corpus leave at most ANN_INDEX_KEEP_GENERATIONS digest dirs, with
    the just-resolved one always among the survivors."""
    from gcp_map_reduce_spark.operators import ann_index as mod

    monkeypatch.setattr(mod, "ANN_INDEX_KEEP_GENERATIONS", 2)
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 0.0)
    root = str(tmp_path / "cache")
    corpus = _copy_corpus(tmp_path, "corpus")
    dirs = []
    for _ in range(4):
        dirs.append(mod.ann_index_for_corpus(spark, corpus, cache_root=root))
        _supersede_corpus(corpus)
    assert len(set(dirs)) == 4  # each version resolved a new generation
    gens = [
        n
        for n in os.listdir(root)
        if len(n) == 16 and os.path.isdir(os.path.join(root, n))
    ]
    assert len(gens) <= 2
    assert os.path.basename(dirs[-1]) in gens
    assert not os.path.isdir(dirs[0])  # oldest generation reclaimed
    # survivors are intact, valid indexes
    for g in gens:
        assert ann_index_meta(os.path.join(root, g))["n_vec"] == 500


def test_sweep_spares_live_generations_of_other_corpora(
    spark, tmp_path, monkeypatch
):
    """r15 (ADVICE fix): distinct corpora coexisting in one cache root
    are all LIVE — with more actively-resolved corpora than
    KEEP_GENERATIONS, the sweep must not evict the least-recently-used
    one (the old pure-LRU sweep did, causing rebuild thrash and
    yanking files from lock-free readers)."""
    from gcp_map_reduce_spark.operators import ann_index as mod

    monkeypatch.setattr(mod, "ANN_INDEX_KEEP_GENERATIONS", 2)
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 0.0)
    root = str(tmp_path / "cache")
    dirs = [
        mod.ann_index_for_corpus(
            spark, _copy_corpus(tmp_path, f"corpus{i}"), cache_root=root
        )
        for i in range(4)
    ]
    for d in dirs:  # every generation survives: all corpora unchanged
        assert os.path.isdir(d)
        assert ann_index_meta(d)["n_vec"] == 500


def test_sweep_ttl_protects_recently_used_generations(
    spark, tmp_path, monkeypatch
):
    """A provably-stale generation used within ANN_INDEX_SWEEP_TTL_S is
    skipped (grace for lock-free readers mid-burst) — recency counts
    the NEWER of the resolve sidecar and the dir's own mtime, so an
    actively-APPENDED generation with a stale sidecar is also safe
    (r14 review catch, restated under TTL semantics)."""
    from gcp_map_reduce_spark.operators import ann_index as mod

    monkeypatch.setattr(mod, "ANN_INDEX_KEEP_GENERATIONS", 1)
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 3600.0)
    root = str(tmp_path / "cache")
    corpus = _copy_corpus(tmp_path, "corpus")
    stale = mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    # the resolver never came back, but appends keep landing: sidecar
    # ancient, dir mtime fresh — TTL must read the dir mtime
    os.utime(stale + ".last-used", (1, 1))
    _supersede_corpus(corpus)
    mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    assert os.path.isdir(stale)  # within TTL by dir mtime -> spared
    # age the dir past the TTL too: next resolve reclaims it
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 0.0)
    _supersede_corpus(corpus)
    mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    assert not os.path.isdir(stale)


def test_sweep_reclaims_generation_of_deleted_corpus(
    spark, tmp_path, monkeypatch
):
    """A generation whose recorded corpus file no longer exists is
    provably stale — nothing can ever resolve to it again — and is
    swept regardless of LRU position."""
    import shutil

    from gcp_map_reduce_spark.operators import ann_index as mod

    monkeypatch.setattr(mod, "ANN_INDEX_KEEP_GENERATIONS", 1)
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 0.0)
    root = str(tmp_path / "cache")
    doomed_corpus = _copy_corpus(tmp_path, "doomed")
    doomed = mod.ann_index_for_corpus(spark, doomed_corpus, cache_root=root)
    shutil.rmtree(doomed_corpus)
    other = mod.ann_index_for_corpus(
        spark, _copy_corpus(tmp_path, "other"), cache_root=root
    )
    assert not os.path.isdir(doomed)
    assert os.path.isdir(other)


def test_rebuild_preserves_cache_key_source(spark, tmp_path):
    """An in-place rebuild of a cache generation carries the recorded
    source corpus into the fresh manifest — dropping it would demote
    the dir from provably-live to legacy-LRU sweep candidacy."""
    from gcp_map_reduce_spark.operators import ann_index as mod

    root = str(tmp_path / "cache")
    corpus = _copy_corpus(tmp_path, "corpus")
    d = mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    src = ann_index_meta(d)["cache_key_source"]
    assert src == os.path.realpath(os.path.join(corpus, "embeddings.parquet"))
    mod.ann_index_rebuild(spark, corpus, d)
    assert ann_index_meta(d)["cache_key_source"] == src


def test_sweep_never_claims_a_held_generation(spark, tmp_path, monkeypatch):
    """The sweep claims each victim via its writer lock NON-blocking: a
    stale generation whose lock is held (a live builder/appender) is
    skipped, not broken — and reclaimed by the next resolve after
    release."""
    import fcntl

    from gcp_map_reduce_spark.operators import ann_index as mod

    monkeypatch.setattr(mod, "ANN_INDEX_KEEP_GENERATIONS", 1)
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 0.0)
    root = str(tmp_path / "cache")
    corpus = _copy_corpus(tmp_path, "held")
    first = mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    _supersede_corpus(corpus)  # first is now provably stale
    fd = os.open(first + ".writer-lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        mod.ann_index_for_corpus(spark, corpus, cache_root=root)
        assert os.path.isdir(first)  # lock held -> skipped every pass
    finally:
        os.close(fd)
    _supersede_corpus(corpus)
    mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    assert not os.path.isdir(first)  # lock released -> reclaimed
    mod.ann_index_for_corpus(
        spark, _copy_corpus(tmp_path, "final"), cache_root=root
    )
    assert not os.path.isdir(first)  # released -> reclaimed


def test_sweep_reclaims_older_version_keeps_newer_version(
    spark, tmp_path, monkeypatch
):
    """A generation whose manifest carries an older version is stale —
    its digest embeds that version, so no resolve lands on it again —
    and is swept; one carrying a NEWER version belongs to newer code and
    is kept."""
    import shutil

    from gcp_map_reduce_spark.operators import ann_index as mod

    monkeypatch.setattr(mod, "ANN_INDEX_KEEP_GENERATIONS", 1)
    monkeypatch.setattr(mod, "ANN_INDEX_SWEEP_TTL_S", 0.0)
    root = str(tmp_path / "cache")
    corpus = _copy_corpus(tmp_path, "corpus")
    live = mod.ann_index_for_corpus(spark, corpus, cache_root=root)
    with open(os.path.join(live, META_FILE)) as fh:
        good = json.load(fh)
    gens = {}
    for tag, version in (("a" * 16, INDEX_VERSION - 1),
                         ("b" * 16, INDEX_VERSION + 1)):
        g = os.path.join(root, tag)
        shutil.copytree(live, g)
        with open(os.path.join(g, META_FILE), "w") as fh:
            json.dump({**good, "version": version}, fh)
        os.utime(g, (1, 1))
        gens[version] = g
    assert mod.ann_index_for_corpus(spark, corpus, cache_root=root) == live
    assert not os.path.isdir(gens[INDEX_VERSION - 1])
    assert os.path.isdir(gens[INDEX_VERSION + 1])
    assert os.path.isdir(live)


def test_rebuild_resizes_and_preserves_storage(spark, tmp_path, split_corpus):
    """r14 (verdict task 6): ann_index_rebuild over the grown corpus
    re-derives n_cells, keeps the storage mode, folds back to one base
    segment, and lands exactly the fresh-build index (bit-identical
    rows and search results)."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
        ann_index_rebuild,
        ann_index_rebuild_due,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, split_corpus, d, n_cells=2, storage="int8")
    m = ann_index_append(spark, d, _rest_batch(spark))
    assert ann_index_rebuild_due(m, cell_target=100)  # 500 > 2*2*100
    m2 = ann_index_rebuild(spark, SF, d)
    assert m2["storage"] == "int8"
    assert m2["segments"] == ["vectors"] and m2["n_vec"] == 500
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, SF, fresh, storage="int8")
    assert m2["n_cells"] == ann_index_meta(fresh)["n_cells"] != 2
    rows = lambda p: sorted(  # noqa: E731
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, p).select("vec_id", "cell_id").collect()
    )
    assert rows(d) == rows(fresh)
    res = lambda p: sorted(  # noqa: E731
        map(tuple, ann_index_search(spark, p, _queries(spark)).collect())
    )
    assert res(d) == res(fresh) and len(res(d)) > 0


def test_screen_batch_matches_range_search_and_prunes(
    spark, tmp_path, split_corpus
):
    """r13 batch screening (the JOIN form): for a driver-sized batch the
    screen's (query, cand, cosine) set equals ann_index_range_search's
    over the same probes/threshold (the two share assignment arithmetic
    by construction); the plan contains no Scan ExistingRDD (nothing
    batch-sized ever round-trips through the driver) and keeps the
    static cell PartitionFilters when the batch's probes cover a strict
    subset of cells."""
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_range_search,
        ann_index_screen_batch,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    thr = 0.2
    small = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
    )
    screened = ann_index_screen_batch(spark, d, small, thr, n_probe=2)
    ranged = ann_index_range_search(
        spark, d,
        small.select(F.col("vec_id").alias("query_id"), "embedding"),
        thr, n_probe=2,
    )
    assert sorted(map(tuple, screened.collect())) == sorted(
        map(tuple, ranged.collect())
    )
    plan = screened._jdf.queryExecution().executedPlan().toString()
    # scoring is the grouped-GEMM kernel, and the index side reaches it
    # from the pruned parquet scan (the probes side is the pinned
    # checkpoint — executor storage, not a driver round-trip: the only
    # collect in the operator is the bounded per-cell count)
    assert "FlatMapGroupsInPandas" in plan, plan
    gates = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "cell_id" in line and " IN (" in line
    ]
    assert gates, plan
    # file-level: a localized batch reads only its probed cells' files
    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_meta,
    )

    probed = {
        r.cell_id
        for r in _probe_assign(spark, d, small.select(
            F.col("vec_id").alias("query_id"), "embedding"), 2).collect()
    }
    assert len(probed) < N_CELLS
    scan = _load_vectors(spark, d, ann_index_meta(d)).where(
        F.col("cell_id").isin(sorted(probed))
    )
    assert pruned_files(scan) == len(probed)


def test_int8_storage_end_to_end(spark, tmp_path, split_corpus):
    """r13 quantized storage (ann_index_build(storage='int8')): codes +
    scale persist instead of float64 vectors (measured 3.4x smaller
    files), every consumer reads the exactly-decoded floor(x/scale)*
    scale doubles through _load_vectors' in-plan decode, appends
    quantize bit-identically to the build (n2 float equality),
    compaction preserves the stored form, and search
    quality is measurably intact (top-k overlap and cosine error
    bounds vs the float64 index)."""
    import glob

    from gcp_map_reduce_spark.operators.ann_index import (
        _load_vectors,
        ann_index_append,
        compact_ann_index,
    )

    q8 = str(tmp_path / "q8")
    f64 = str(tmp_path / "f64")
    ann_index_build(spark, SF, q8, n_cells=N_CELLS, storage="int8",
                    attrs=["label"])
    ann_index_build(spark, SF, f64, n_cells=N_CELLS, attrs=["label"])
    meta = ann_index_meta(q8)
    assert meta["storage"] == "int8"
    assert meta["version"] == INDEX_VERSION
    raw = spark.read.parquet(os.path.join(q8, "vectors"))
    assert "ec" in raw.columns and "scale" in raw.columns
    assert "e" not in raw.columns
    assert dict(raw.dtypes)["ec"] == "array<tinyint>"

    def nbytes(d):
        return sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(d, "vectors*", "*", "*.parquet"))
        )

    assert nbytes(f64) / nbytes(q8) >= 2.5  # measured 3.4x
    # same cell structure: assignment runs on full precision both ways
    cells = lambda d: sorted(  # noqa: E731
        (r.vec_id, r.cell_id)
        for r in _load_vectors(spark, d).select("vec_id", "cell_id").collect()
    )
    assert cells(q8) == cells(f64)
    # search quality: decoded ranking stays close to full precision
    qs = _queries(spark)
    r8 = {
        (r.query_id, r.cand_id): r.cosine
        for r in ann_index_search(spark, q8, qs, k=5, n_probe=8).collect()
    }
    rf = {
        (r.query_id, r.cand_id): r.cosine
        for r in ann_index_search(spark, f64, qs, k=5, n_probe=8).collect()
    }
    common = set(r8) & set(rf)
    assert len(common) / len(rf) >= 0.9
    assert max(abs(r8[k] - rf[k]) for k in common) < 0.01
    # filtered search reads the decoded plan through the attr pushdown
    flt = ann_index_search(
        spark, q8, qs, k=3, n_probe=8, where="label = 1"
    ).collect()
    assert flt and all(r.cand_id is not None for r in flt)
    # grown == fresh over two appends, n2 float-equal (the append
    # quantizes with the build's own expression)
    grown = str(tmp_path / "grown")
    ann_index_build(spark, split_corpus, grown, n_cells=N_CELLS,
                    storage="int8")
    rest = _rest_batch(spark)
    ann_index_append(spark, grown, rest.filter(F.col("vec_id") < 450))
    ann_index_append(
        spark, grown, rest.filter(F.col("vec_id") >= 450)
    )
    fresh = str(tmp_path / "fresh")
    ann_index_build(spark, SF, fresh, n_cells=N_CELLS, storage="int8")
    rows = lambda d: sorted(  # noqa: E731
        map(
            tuple,
            _load_vectors(spark, d).select("vec_id", "n2", "cell_id").collect(),
        )
    )
    assert rows(grown) == rows(fresh)
    # compaction keeps the stored form and changes nothing observable
    pre = sorted(
        map(tuple, ann_index_search(spark, grown, qs).collect())
    )
    compact_ann_index(spark, grown)
    raw2 = spark.read.parquet(os.path.join(grown, "vectors"))
    assert "ec" in raw2.columns and "e" not in raw2.columns
    assert pre == sorted(
        map(tuple, ann_index_search(spark, grown, qs).collect())
    )
    # batch screening over int8 storage: the GEMM kernel reads the
    # decoded plan and equals the range search bit-for-bit
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_range_search,
        ann_index_screen_batch,
    )

    small = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
    )
    scr = sorted(map(tuple, ann_index_screen_batch(
        spark, q8, small, 0.2, n_probe=2).collect()))
    rng = sorted(map(tuple, ann_index_range_search(
        spark, q8,
        small.select(F.col("vec_id").alias("query_id"), "embedding"),
        0.2, n_probe=2).collect()))
    assert scr == rng


def test_seg_ids_sidecar_bounds_delete_scan(spark, tmp_path):
    """r16: every segment write lands an ``_ids`` sidecar, the delete's
    live-intersection reads it (file opens follow SEGMENT count, not
    cell count), and the sidecar is invisible to the partitioned segment
    scan."""
    from gcp_map_reduce_spark.operators.ann_index import (
        _live_ids,
        ann_index_append,
        ann_index_delete,
        ann_index_meta,
        compact_ann_index,
    )

    d = str(tmp_path / "idx")
    ann_index_build(spark, SF, d, n_cells=N_CELLS)
    assert os.path.isdir(os.path.join(d, "vectors", "_ids"))
    # sidecar rows == segment rows, and the segment scan doesn't see it
    n = spark.read.parquet(os.path.join(d, "vectors", "_ids")).count()
    seg = spark.read.parquet(os.path.join(d, "vectors"))
    assert n == seg.count() and "vec_id" in seg.columns
    batch = (
        spark.read.parquet(SF + "/embeddings.parquet")
        .withColumn("vec_id", F.col("vec_id") + 10_000)
        .limit(7)
        .select("vec_id", "embedding")
    )
    ann_index_append(spark, d, batch)
    meta = ann_index_meta(d)
    assert all(
        os.path.isdir(os.path.join(d, s, "_ids")) for s in meta["segments"]
    )
    # live ids via sidecars == physical rows (no tombstones yet)
    live = {r.vec_id for r in _live_ids(spark, d, meta).collect()}
    assert len(live) == meta["n_vec"]
    appended_ids = [r.vec_id for r in batch.select("vec_id").collect()]
    m = ann_index_delete(spark, d, appended_ids[:3])
    assert m["n_deleted"] == 3
    m2 = ann_index_delete(spark, d, [450, 451])
    assert m2["n_deleted"] == 5 and m2["n_vec"] == meta["n_vec"] - 5
    # compaction rewrites one segment WITH a fresh sidecar
    m3 = compact_ann_index(spark, d)
    assert m3["segments"] == ["vectors"] and m3["tombstones"] == []
    assert os.path.isdir(os.path.join(d, "vectors", "_ids"))
    n3 = spark.read.parquet(os.path.join(d, "vectors", "_ids")).count()
    assert n3 == m3["n_vec"]
    # deleting an id that only ever existed as a tombstoned row errors
    # (still not live), proving the sidecar path honors tombstones
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ann_index_delete(spark, d, [450])
