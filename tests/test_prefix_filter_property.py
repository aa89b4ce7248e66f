"""Property test for the exact-Jaccard prefix plan's pruning bounds.

The r9 LENGTH and POSITIONAL filters rest on a proof obligation the two
fixed-corpus exceptAll gates (sf0.01/sf0.1) can't fully cover: for EVERY
corpus, a qualifying pair must survive via its first shared prefix
gram's row — the positional bound `min(|A|-pa, |B|-pb) >= ceil(4(|A|+|B|)/9)`
holds for that row, and the length bound `4*max <= 5*min` holds for the
pair. Hypothesis builds adversarial corpora (tiny shared vocab => hot
shingles, heavy duplication, size mismatches, docs at every boundary
length incl. |A| % 5 == 0 and |A|+|B| % 9 == 0 where the integer-ceil
arithmetic bites) and asserts the prefix plan's output set equals the
full inverted-index self-join's (``tests/ngram_reference.py``), exactly.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

VOCAB = ["alpha", "beta", "gamma", "delta", "x", "y"]

# documents as lists of vocab words: small vocab => colliding 3-grams =>
# dense candidate graphs; lengths straddle the ceil boundaries (3..12
# tokens => 1..10 grams; gram counts hit every residue mod 5 and the
# pair sums cover residues mod 9)
_DOC = st.lists(st.sampled_from(VOCAB), min_size=3, max_size=12)
_CORPUS = st.lists(_DOC, min_size=2, max_size=14)


@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(corpus=_CORPUS)
def test_prefix_plan_equals_full_on_random_corpora(spark, tmp_path_factory, corpus):
    from gcp_map_reduce_spark.operators.dedup import dedup_ngram_jaccard
    from tests.ngram_reference import full_ngram_jaccard

    # duplicate the first doc so every corpus has at least one
    # jaccard==1.0 pair (the filters must never drop those)
    docs = corpus + [corpus[0]]
    d = tmp_path_factory.mktemp("prop_corpus")
    pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [" ".join(words) for words in docs],
            "lang": ["en"] * len(docs),
        }
    ).to_parquet(os.path.join(str(d), "documents.parquet"), index=False)

    full = {tuple(r) for r in full_ngram_jaccard(spark, str(d)).collect()}
    pref = {tuple(r) for r in dedup_ngram_jaccard(spark, str(d)).collect()}
    assert pref == full, (
        f"prefix plan diverged: missing={sorted(full - pref)[:5]} "
        f"extra={sorted(pref - full)[:5]}"
    )
    # the planted duplicate pair must be present with jaccard == 1.0
    if len(docs[0]) >= 3:  # needs at least one 3-gram
        assert any(r[0] == 0 and r[1] == len(docs) - 1 and r[3] == 1.0
                   for r in full)
