"""Session-scoped probe cache: a plan-time probe (a row count or a
sampled share) must fire ONCE per (probe, corpus, params) and hand every
later caller a dict lookup, re-probe when the corpus is regenerated in
place, and never hold more than ``PROBE_CACHE_MAX`` values."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, SF_SMALL


@pytest.fixture(autouse=True)
def _fresh_cache():
    from gcp_map_reduce_spark.plans import probes

    probes.clear()
    yield
    probes.clear()


def test_cached_probe_unit_semantics():
    from gcp_map_reduce_spark.plans.probes import STATS, cached_probe, clear

    calls = []

    def compute():
        calls.append(1)
        return 42.0

    h0, m0 = STATS["hits"], STATS["misses"]
    assert cached_probe(("k", "a"), compute) == 42.0
    assert cached_probe(("k", "a"), compute) == 42.0
    assert cached_probe(("k", "b"), compute) == 42.0
    assert len(calls) == 2  # one per distinct key
    assert STATS["misses"] - m0 == 2 and STATS["hits"] - h0 == 1
    clear()
    assert cached_probe(("k", "a"), compute) == 42.0
    assert len(calls) == 3


def test_candidate_pair_probe_fires_once(spark):
    from gcp_map_reduce_spark.operators.similarity import corpus_vec_count
    from gcp_map_reduce_spark.plans.probes import STATS

    m0, h0 = STATS["misses"], STATS["hits"]
    a = corpus_vec_count(spark, SF_ORACLE)
    b = corpus_vec_count(spark, SF_ORACLE)
    assert a == b and a > 0
    assert STATS["misses"] - m0 == 1 and STATS["hits"] - h0 == 1
    # a different corpus is a different count -> new key
    corpus_vec_count(spark, SF_SMALL)
    assert STATS["misses"] - m0 == 2


def test_corpus_regeneration_invalidates_probe_cache(spark, tmp_path):
    """The cache key embeds the parquet file's mtime/size, so
    regenerating a corpus IN PLACE under the same path re-probes instead
    of silently serving the stale value."""
    import shutil
    import os

    from gcp_map_reduce_spark.operators.similarity import corpus_vec_count
    from gcp_map_reduce_spark.plans.probes import STATS, corpus_key

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "embeddings.parquet"),
        os.path.join(corpus, "embeddings.parquet"),
    )
    m0 = STATS["misses"]
    corpus_vec_count(spark, corpus)
    corpus_vec_count(spark, corpus)
    assert STATS["misses"] - m0 == 1
    # "regenerate" the corpus in place: same path, new bytes
    k_before = corpus_key(corpus, "embeddings")
    os.utime(os.path.join(corpus, "embeddings.parquet"))
    assert corpus_key(corpus, "embeddings") != k_before
    corpus_vec_count(spark, corpus)
    assert STATS["misses"] - m0 == 2


def test_probe_cache_is_bounded(monkeypatch):
    """Every fresh corpus adds entries; the dict starts over at
    PROBE_CACHE_MAX instead of growing with the corpora seen."""
    from gcp_map_reduce_spark.plans import probes

    monkeypatch.setattr(probes, "PROBE_CACHE_MAX", 4)
    for i in range(11):
        assert probes.cached_probe(("k", i), lambda: float(i)) == float(i)
        assert len(probes._CACHE) <= 4
    # the newest value survives a reset and is served from the cache
    h0 = probes.STATS["hits"]
    assert probes.cached_probe(("k", 10), lambda: -1.0) == 10.0
    assert probes.STATS["hits"] - h0 == 1


def test_corpus_key_directory_layout(tmp_path):
    """Directory-of-part-files parquet layouts fingerprint too (a
    Spark-written dataset is a dir), and hidden/_SUCCESS entries don't
    churn the key."""
    import os

    from gcp_map_reduce_spark.plans.probes import corpus_key

    d = tmp_path / "documents.parquet"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"x")
    k1 = corpus_key(str(tmp_path), "documents")
    (d / "_SUCCESS").write_bytes(b"")
    assert corpus_key(str(tmp_path), "documents") == k1
    os.utime(d / "part-00000.parquet")
    assert corpus_key(str(tmp_path), "documents") != k1
    assert corpus_key(str(tmp_path), "missing")[-1] == "missing"


def test_near_dup_defaults_run_no_probe(spark, tmp_path):
    """The default near-dup plans of dedup_clusters and curated_corpus
    are one exact join: building them on a corpus never seen before
    runs no plan-time probe."""
    import os
    import shutil

    from gcp_map_reduce_spark.operators.dedup import dedup_clusters
    from gcp_map_reduce_spark.operators.pipeline import curated_corpus
    from gcp_map_reduce_spark.plans.probes import STATS

    corpus = str(tmp_path / "fresh")
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_SMALL, "documents.parquet"),
        os.path.join(corpus, "documents.parquet"),
    )
    m0 = STATS["misses"]
    dedup_clusters(spark, corpus)
    curated_corpus(spark, corpus)
    assert STATS["misses"] == m0
