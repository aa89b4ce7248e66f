"""End-to-end golden test: run the engine's wordcount over the reference's
own raw corpus and diff against its checked-in final output.

Golden: /root/reference/kv-data-store/final-output/final-output-wordcount.json
(16,107 distinct tokens with exact counts — the only trustworthy end-to-end
oracle the reference ships, SURVEY.md §5). Exact match proves the §1.4
normalization chain (punctuation strip -> trim -> lower -> ASCII-delete ->
whitespace split) is bit-faithful.
"""

from __future__ import annotations

import json
import os

import pytest

GOLDEN = "/root/reference/kv-data-store/final-output/final-output-wordcount.json"
RAW = "/root/reference/raw-dataset"


@pytest.mark.skipif(not os.path.exists(GOLDEN), reason="reference golden absent")
def test_wordcount_matches_reference_golden(spark):
    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.functions.text import tokenize
    from gcp_map_reduce_spark.sources.text import read_text_corpus

    from gcp_map_reduce_spark.functions.text import reference_shuffle_filter

    corpus = read_text_corpus(spark, RAW)
    toks = tokenize(corpus, text_col="line", out_col="word", keep_cols=["doc"])
    # fidelity mode: replicate the reference's a-z-only shuffle key space
    toks = toks.filter(reference_shuffle_filter("word"))
    got = {
        r["word"]: r["cnt"]
        for r in toks.groupBy("word").agg(F.count("*").alias("cnt")).collect()
    }
    with open(GOLDEN) as f:
        want = json.load(f)

    assert len(got) == len(want), (len(got), len(want))
    missing = {k: v for k, v in want.items() if got.get(k) != v}
    extra = {k: v for k, v in got.items() if k not in want}
    assert not missing and not extra, (list(missing.items())[:10], list(extra.items())[:10])


@pytest.mark.skipif(not os.path.exists(GOLDEN), reason="reference golden absent")
def test_wordcount_total_equals_token_count(spark):
    """Property: sum of counts == total token count (FIXTURES.md F3)."""
    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.functions.text import tokenize
    from gcp_map_reduce_spark.sources.text import read_text_corpus

    from gcp_map_reduce_spark.functions.text import reference_shuffle_filter

    corpus = read_text_corpus(spark, RAW)
    toks = tokenize(corpus, text_col="line", out_col="word", keep_cols=[])
    n_tokens = toks.filter(reference_shuffle_filter("word")).count()
    with open(GOLDEN) as f:
        want = json.load(f)
    assert n_tokens == sum(want.values())


def test_wordcount_topk_matches_python_topk(spark):
    """The library top-k helper must equal the plain Python top-20 of the
    registered (oracle-checked) wordcount result — covers the one
    wordcount-family operator without its own driver row (its registered
    top-k siblings are the `topk_orders` suite and the TPC-H LIMIT
    queries; docstring records the rationale)."""
    from tests.conftest import SF_ORACLE

    from gcp_map_reduce_spark.operators.wordcount import wordcount, wordcount_topk

    full = [(r.word, r.cnt) for r in wordcount(spark, SF_ORACLE).collect()]
    want = sorted(full, key=lambda t: (-t[1], t[0]))[:20]
    got = [(r.word, r.cnt) for r in wordcount_topk(spark, SF_ORACLE).collect()]
    assert got == want

