"""Session-scoped probe cache (r9): the density probes behind the
cost-based plan choosers must fire ONCE per (probe, sf_dir, params) and
hand every later caller a dict lookup — the property that makes
``auto`` cheap enough to be the default (the r8 auto-default was
reverted for the +0.3-0.5 s uncached probe cost per bench query)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE


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
    from gcp_map_reduce_spark.operators.dedup import (
        estimate_candidate_pairs_per_doc,
    )
    from gcp_map_reduce_spark.plans.probes import STATS

    m0, h0 = STATS["misses"], STATS["hits"]
    a = estimate_candidate_pairs_per_doc(spark, SF_ORACLE)
    b = estimate_candidate_pairs_per_doc(spark, SF_ORACLE)
    assert a == b and a > 0
    assert STATS["misses"] - m0 == 1 and STATS["hits"] - h0 == 1
    # different sampling params are a different estimate -> new key
    estimate_candidate_pairs_per_doc(spark, SF_ORACLE, seed=7)
    assert STATS["misses"] - m0 == 2


def test_corpus_regeneration_invalidates_probe_cache(spark, tmp_path):
    """r10 (r9 advice): the cache key embeds the parquet file's
    mtime/size, so regenerating a corpus IN PLACE under the same path
    re-probes instead of silently serving the stale density estimate."""
    import shutil
    import os

    from gcp_map_reduce_spark.operators.dedup import (
        estimate_candidate_pairs_per_doc,
    )
    from gcp_map_reduce_spark.plans.probes import STATS, corpus_key

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_ORACLE, "documents.parquet"),
        os.path.join(corpus, "documents.parquet"),
    )
    m0 = STATS["misses"]
    estimate_candidate_pairs_per_doc(spark, corpus)
    estimate_candidate_pairs_per_doc(spark, corpus)
    assert STATS["misses"] - m0 == 1
    # "regenerate" the corpus in place: same path, new bytes
    k_before = corpus_key(corpus, "documents")
    os.utime(os.path.join(corpus, "documents.parquet"))
    assert corpus_key(corpus, "documents") != k_before
    estimate_candidate_pairs_per_doc(spark, corpus)
    assert STATS["misses"] - m0 == 2


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


def test_auto_defaults_share_one_probe_job(spark):
    """dedup_clusters and curated_corpus both default to
    edge_source='auto' (r9); building BOTH plans must run the sampled
    density job at most once."""
    from gcp_map_reduce_spark.operators.dedup import dedup_clusters
    from gcp_map_reduce_spark.operators.pipeline import curated_corpus
    from gcp_map_reduce_spark.plans.probes import STATS

    m0 = STATS["misses"]
    dedup_clusters(spark, SF_ORACLE)  # plan construction triggers probe
    curated_corpus(spark, SF_ORACLE)
    assert STATS["misses"] - m0 == 1
