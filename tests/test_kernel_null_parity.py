"""NULL-text parity for every per-row Arrow kernel.

The corpus fixtures never carry a NULL ``text``, so the DuckDB oracle
gates can't catch a kernel that raises (or silently diverges) on one —
the round-8 advice flagged exactly that latent class: ``t.translate``/
``t.lower`` on a None row raises AttributeError while Spark's JVM
expressions propagate the null (no token rows, or a row of null
outputs). Each test here drives the operator through its parquet seam
with a mixed null/non-null corpus and asserts row identity with the JVM
expression form of ``tests/text_kernel_reference.py`` over the same
table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, None, "en"),
    (2, "b b c c b b c c repeated tokens here", "en"),
    (3, None, "fr"),
    (4, "", "en"),
    (5, "single", "en"),
]


@pytest.fixture(scope="module")
def null_docs_dir(spark):
    work = tempfile.mkdtemp(prefix="null_docs_")
    df = spark.createDataFrame(TEXTS, "doc_id bigint, text string, lang string")
    df = df.withColumn("source", F.lit("synthetic")).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    df.coalesce(1).write.parquet(os.path.join(work, "documents.parquet"))
    yield work
    shutil.rmtree(work, ignore_errors=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _docs(spark, sf_dir):
    from gcp_map_reduce_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents")


def test_pii_scrub_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.curation_rules import pii_scrub
    from tests.text_kernel_reference import pii_scrub_expr

    a = _rows(pii_scrub_expr(_docs(spark, null_docs_dir)))
    b = _rows(pii_scrub(spark, null_docs_dir))
    assert a == b and len(a) == len(TEXTS)


def test_quality_rules_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.curation_rules import quality_rules
    from tests.text_kernel_reference import quality_rules_expr

    a = _rows(quality_rules_expr(_docs(spark, null_docs_dir)))
    b = _rows(quality_rules(spark, null_docs_dir))
    assert a == b and len(a) == len(TEXTS)


def test_simhash_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.dedup import simhash_fingerprints
    from tests.text_kernel_reference import simhash_fingerprints_expr

    a = _rows(simhash_fingerprints_expr(_docs(spark, null_docs_dir)))
    b = _rows(simhash_fingerprints(spark, null_docs_dir))
    # null/empty docs produce NO fingerprint row
    assert a == b and len(a) == 3


def test_corpus_bigrams_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.text_analysis import corpus_bigrams
    from tests.text_kernel_reference import corpus_bigrams_expr

    a = _rows(corpus_bigrams_expr(_docs(spark, null_docs_dir)))
    b = _rows(corpus_bigrams(spark, null_docs_dir))
    assert a == b and a


def test_wordcount_null_parity(spark, null_docs_dir):
    """NULL docs add no token: the counts equal those of the non-NULL
    docs alone (Python normalize twin)."""
    from collections import Counter

    from gcp_map_reduce_spark.functions.text import PY_NORMALIZE
    from gcp_map_reduce_spark.operators.wordcount import wordcount

    want = Counter(
        w for _, t, _ in TEXTS if t is not None for w in PY_NORMALIZE(t).split()
    )
    a = _rows(wordcount(spark, null_docs_dir))
    assert a == sorted(want.items()) and a


def test_decontamination_and_fast_minhash_survive_null_text(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.decontam import corpus_decontamination
    from gcp_map_reduce_spark.operators.dedup import dedup_minhash

    # doc 0 is the eval stand-in; no train doc shares a 5-gram with it
    assert corpus_decontamination(spark, null_docs_dir).collect() == []
    assert dedup_minhash(spark, null_docs_dir, fast_hash=True).collect() == []


def test_text_profile_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.text_analysis import (
        _profile_finalize,
        text_profile,
    )
    from tests.text_kernel_reference import profile_metrics_expr

    a = _rows(_profile_finalize(profile_metrics_expr(_docs(spark, null_docs_dir))))
    b = _rows(text_profile(spark, null_docs_dir))
    assert a == b and len(a) == len(TEXTS)
