"""NULL-text engine parity for every Arrow kernel with an expression twin.

The corpus fixtures never carry a NULL ``text``, so the corpus-wide
engine-equality gates can't catch a kernel that raises (or silently
diverges) on one — the round-8 advice flagged exactly that latent class:
``t.translate``/``t.lower`` on a None row raises AttributeError while the
expression engines propagate the null (no token rows, or a row of null
outputs). Each test here drives BOTH engines through the same parquet
seam with a mixed null/non-null corpus and asserts row identity.
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


def test_pii_scrub_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.curation_rules import pii_scrub

    a = _rows(pii_scrub(spark, null_docs_dir, engine="expr"))
    b = _rows(pii_scrub(spark, null_docs_dir, engine="arrow"))
    assert a == b and len(a) == len(TEXTS)


def test_quality_rules_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.curation_rules import quality_rules

    a = _rows(quality_rules(spark, null_docs_dir, engine="expr"))
    b = _rows(quality_rules(spark, null_docs_dir, engine="arrow"))
    assert a == b and len(a) == len(TEXTS)


def test_simhash_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.dedup import simhash_fingerprints

    a = _rows(simhash_fingerprints(spark, null_docs_dir, engine="expr"))
    b = _rows(simhash_fingerprints(spark, null_docs_dir, engine="arrow"))
    # null/empty docs produce NO fingerprint row in the expr form
    assert a == b and len(a) == 3


def test_corpus_bigrams_null_parity(spark, null_docs_dir):
    from gcp_map_reduce_spark.operators.text_analysis import corpus_bigrams

    a = _rows(corpus_bigrams(spark, null_docs_dir, engine="expr"))
    b = _rows(corpus_bigrams(spark, null_docs_dir, engine="arrow"))
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
    from gcp_map_reduce_spark.operators.text_analysis import text_profile

    a = _rows(text_profile(spark, null_docs_dir, engine="expr"))
    b = _rows(text_profile(spark, null_docs_dir, engine="arrow"))
    assert a == b and len(a) == len(TEXTS)
