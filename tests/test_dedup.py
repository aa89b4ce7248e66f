"""Semantic tests for the non-oracle dedup operators: MinHash-LSH and
SimHash are approximations — verify them against the exact n-gram Jaccard
operator (which IS oracle-checked) instead of an SQL oracle."""

from __future__ import annotations

from tests.conftest import SF_ORACLE, SF_SMALL


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_recall_vs_exact(spark):
    from gcp_map_reduce_spark.operators.dedup import (
        dedup_minhash,
        dedup_ngram_jaccard,
    )

    exact = _pairs(dedup_ngram_jaccard(spark, SF_ORACLE))  # jaccard >= 0.8
    approx = _pairs(dedup_minhash(spark, SF_ORACLE))  # est_jaccard >= 0.7
    assert exact, "fixture should contain planted near-duplicates"
    # With b=8,r=4 bands, P(candidate | j>=0.8) ~ 1-(1-0.8^4)^8 ~ 0.988 per
    # pair; the planted dups are j~0.99 where recall is ~1. Require >= 90%.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(approx))


def test_simhash_engines_bit_identical(spark):
    """The Arrow fingerprint kernel (cached md5 per distinct word +
    numpy sign votes) must produce bit-equal 60-bit fingerprints to the
    60-column aggregate reference for every doc — votes are exact
    integer sums, so any divergence is a normalize/hash parity bug. (The
    ``dedup_pair_scores`` oracle checks only the pairs.)"""
    from gcp_map_reduce_spark.operators.dedup import simhash_fingerprints
    from gcp_map_reduce_spark.sources.tables import load_table
    from tests.text_kernel_reference import simhash_fingerprints_expr

    docs = load_table(spark, SF_ORACLE, "documents")
    a = {r.doc_id: r.simhash for r in simhash_fingerprints_expr(docs).collect()}
    b = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints(spark, SF_ORACLE).collect()
    }
    assert a and a == b


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    """The AllPairs prefix-filtered plan must return the IDENTICAL rows
    (pairs, isect, jaccard doubles) as the full inverted-index self-join
    (``tests/ngram_reference.py``) — prefix filtering is a
    candidate-pruning bound, never a semantics change."""
    from gcp_map_reduce_spark.operators.dedup import dedup_ngram_jaccard
    from tests.ngram_reference import full_ngram_jaccard

    full = full_ngram_jaccard(spark, SF_ORACLE)
    pref = dedup_ngram_jaccard(spark, SF_ORACLE)
    # direct callers write parquet / union results, so isect must stay
    # LongType like the reference's count. Nullability legitimately
    # differs (count(*) is non-null, size(intersect) is nullable) and
    # affects neither parquet nor unions — pin name+type.
    shape = lambda df: [(f.name, f.dataType) for f in df.schema]  # noqa: E731
    assert shape(full) == shape(pref), (full.schema, pref.schema)
    assert full.count() > 0
    assert full.exceptAll(pref).count() == 0
    assert pref.exceptAll(full).count() == 0


def test_simhash_finds_planted_dups(spark):
    from gcp_map_reduce_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_simhash,
    )

    exact = _pairs(dedup_ngram_jaccard(spark, SF_ORACLE))
    sim = _pairs(dedup_simhash(spark, SF_ORACLE))
    assert exact
    # SimHash at hamming<=3 is conservative; it should still find a
    # meaningful share of the ~0.99-jaccard planted dups and not explode.
    assert len(sim & exact) >= max(1, len(exact) // 3), (len(sim & exact), len(exact))


def test_minhash_signatures_shape(spark):
    from gcp_map_reduce_spark.operators.dedup import (
        NUM_HASHES,
        doc_minhash_features,
    )

    sig = doc_minhash_features(spark, SF_SMALL, want_arr=False)
    assert sig.columns == ["doc_id", "sig"]
    row = sig.limit(1).collect()[0]
    assert len(row["sig"]) == NUM_HASHES
    assert all(isinstance(h, int) for h in row["sig"])


def test_minhash_arrow_kernel_bit_identical_to_hof(spark):
    """The vectorized Arrow signature kernel must reproduce the
    higher-order-function reference EXACTLY (same rolling-gram + affine
    min arithmetic in numpy int64) — the oracle's value-hash gate rides
    on this equivalence."""
    from gcp_map_reduce_spark.operators.dedup import doc_minhash_features
    from gcp_map_reduce_spark.sources.tables import load_table
    from tests.text_kernel_reference import (
        gram_hash_arrays_for,
        minhash_signatures_for,
    )

    d = "/root/testdata/sf0.01"
    docs = load_table(spark, d, "documents").select("doc_id", "text")
    for fast in (False, True):
        ref = minhash_signatures_for(
            gram_hash_arrays_for(docs, n=3, fast_hash=fast)
        )
        got = doc_minhash_features(spark, d, fast_hash=fast, want_arr=False)
        assert ref.exceptAll(got).count() == 0
        assert got.exceptAll(ref).count() == 0


def test_minhash_fused_features_kernel_matches_single_kernels(spark):
    """The want_sig/want_arr subsets of the feature kernel must equal the
    full (sig, gh_arr) output column-for-column, in both hash families —
    skipping an output skips work, never changes the other one."""
    from gcp_map_reduce_spark.operators.dedup import doc_minhash_features

    d = "/root/testdata/sf0.01"
    for fast in (False, True):
        feats = {
            r.doc_id: (tuple(r.sig), tuple(r.gh_arr))
            for r in doc_minhash_features(spark, d, fast_hash=fast).collect()
        }
        only_sig = doc_minhash_features(spark, d, fast_hash=fast, want_arr=False)
        only_arr = doc_minhash_features(spark, d, fast_hash=fast, want_sig=False)
        assert only_sig.columns == ["doc_id", "sig"]
        assert only_arr.columns == ["doc_id", "gh_arr"]
        sig = {r.doc_id: tuple(r.sig) for r in only_sig.collect()}
        arrs = {r.doc_id: tuple(r.gh_arr) for r in only_arr.collect()}
        assert feats and set(feats) == set(sig) == set(arrs)
        for k, (s, g) in feats.items():
            assert s == sig[k] and g == arrs[k], k


def test_minhash_fast_hash_mode_agrees_on_pairs(spark):
    from gcp_map_reduce_spark.operators.dedup import dedup_minhash

    # the bench/production path (xxhash64) and the oracle-portable path
    # (md5) are different hash families, so est_jaccard values differ in
    # the tail — but the near-dup PAIR SET they surface must agree on the
    # planted ~0.99-jaccard duplicates
    portable = _pairs(dedup_minhash(spark, SF_ORACLE))
    fast = _pairs(dedup_minhash(spark, SF_ORACLE, fast_hash=True))
    assert portable
    agree = len(portable & fast) / len(portable)
    assert agree >= 0.9, (agree, len(portable), len(fast))


def test_minhash_edge_source_matches_exact_clustering(spark):
    from gcp_map_reduce_spark.operators.dedup import (
        dedup_clusters,
        dedup_ngram_jaccard,
        near_dup_edges_minhash_verified,
    )

    # the scale-path edge set must equal the exact one here (planted dups
    # are j~0.99 where band recall is ~1; precision is exact by the
    # per-pair verification)
    exact_edges = _pairs(dedup_ngram_jaccard(spark, SF_ORACLE))
    mh_edges = _pairs(near_dup_edges_minhash_verified(spark, SF_ORACLE))
    assert mh_edges == exact_edges, (
        exact_edges - mh_edges,
        mh_edges - exact_edges,
    )

    # and therefore the clusterings are identical
    def clustering(edge_source):
        return {
            (r["doc_id"], r["cluster_id"], r["reach_size"])
            for r in dedup_clusters(
                spark, SF_ORACLE, edge_source=edge_source
            ).collect()
        }

    assert clustering("minhash") == clustering("exact")


def test_curated_corpus_minhash_source_matches_exact(spark):
    from gcp_map_reduce_spark.operators.pipeline import curated_corpus

    exact = {
        tuple(r) for r in curated_corpus(spark, SF_ORACLE).collect()
    }
    minhash = {
        tuple(r)
        for r in curated_corpus(
            spark, SF_ORACLE, near_dup_source="minhash", fast_hash=True
        ).collect()
    }
    assert exact
    assert minhash == exact


def test_dedup_clusters_invariants(spark):
    from gcp_map_reduce_spark.operators.dedup import (
        dedup_clusters,
        dedup_ngram_jaccard,
    )

    rows = dedup_clusters(spark, "/root/testdata/sf0.01").collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for cid, members in by_cluster.items():
        # the cluster id IS the minimum member (canonical keeper)
        assert cid == min(members)
        assert len(members) >= 2  # singletons have no near-dup pair
    # node set == docs appearing in at least one pair
    pairs = dedup_ngram_jaccard(spark, "/root/testdata/sf0.01").collect()
    in_pairs = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert {r["doc_id"] for r in rows} == in_pairs


def test_fused_text_kernel_bit_equal_to_expr_front_half(spark):
    """r17: the fused text->features kernel (normalize+tokenize+md5 in
    Python, md5 per DISTINCT token) must be BIT-identical to the r16
    shape (JVM md5 token-hash front half + th_arr kernel) — same
    rows, same sig vectors, same sorted gram arrays."""
    from gcp_map_reduce_spark.operators.dedup import (
        doc_text_features_arrow,
        minhash_features_arrow,
    )
    from gcp_map_reduce_spark.sources.tables import load_table
    from tests.text_kernel_reference import token_hash_expr

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    old = minhash_features_arrow(
        docs.select("doc_id", token_hash_expr().alias("th_arr")), 3
    )
    new = doc_text_features_arrow(docs, 3)
    a = {r["doc_id"]: (list(r["sig"]), list(r["gh_arr"])) for r in old.collect()}
    b = {r["doc_id"]: (list(r["sig"]), list(r["gh_arr"])) for r in new.collect()}
    assert a == b and len(a) > 0


def test_text_kernel_gram_arrays_equal_jvm_md5_reference_n5(spark):
    """Decontamination's shingles (n=5, want_sig=False) come from the
    fused text kernel: its gram arrays must equal the JVM md5 front-half
    reference set-for-set, with docs shorter than n dropped."""
    from gcp_map_reduce_spark.operators.dedup import doc_text_features_arrow
    from gcp_map_reduce_spark.sources.tables import load_table
    from tests.text_kernel_reference import gram_hash_arrays_for

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    ref = {
        r["doc_id"]: sorted(r["gh_arr"])
        for r in gram_hash_arrays_for(docs, n=5).collect()
        if r["gh_arr"]
    }
    got = doc_text_features_arrow(docs, 5, want_sig=False)
    assert got.columns == ["doc_id", "gh_arr"]
    got = {r["doc_id"]: list(r["gh_arr"]) for r in got.collect()}
    assert got == ref and len(got) > 0


def test_token_hash_cache_cap_resets_are_bit_equal(spark, monkeypatch):
    """The per-task md5 memo is bounded: a cap small enough to force
    many resets must leave the feature and SimHash outputs bit-equal to
    the default-cap run."""
    import hashlib

    from gcp_map_reduce_spark.operators import dedup

    docs = dedup.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text"
    )

    def run():
        feats = {
            r["doc_id"]: (list(r["sig"]), list(r["gh_arr"]))
            for r in dedup.doc_text_features_arrow(docs, 3).collect()
        }
        fps = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash_fingerprints(spark, SF_ORACLE).collect()
        }
        return feats, fps

    full = run()
    monkeypatch.setattr(dedup, "TOKEN_HASH_CACHE_MAX", 3)
    h64 = dedup._md5_token_hasher()
    words = "a b c a d b e a".split()
    assert [h64(w) for w in words] == [
        int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words
    ]
    capped = run()
    assert capped == full and full[0] and full[1]


def test_fused_text_kernel_drops_null_and_short_docs(spark, tmp_path):
    """Both front halves drop NULL and sub-n-token docs the same way (a
    NULL text reaches the JVM front half's kernel as a None array)."""
    from gcp_map_reduce_spark.operators.dedup import minhash_features_for

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, "one two"), (3, "")],
        "doc_id bigint, text string",
    )
    for fast in (False, True):
        rows = minhash_features_for(docs, 3, fast_hash=fast).collect()
        assert [r["doc_id"] for r in rows] == [0], fast
