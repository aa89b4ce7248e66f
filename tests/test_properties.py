"""Property tests (SURVEY.md §5, strategy item 4).

The §1.4 normalization exists in three implementations that must never
drift: the Spark column expression (`normalize_text`), the DuckDB SQL
fragment (`sql_normalize`), and the Python twin (`PY_NORMALIZE`, used by
the UDTF path). Hypothesis generates adversarial strings (punctuation,
unicode, whitespace runs) and all three must agree byte-for-byte.

Plus conservation laws on real data: token counts are conserved by the
wordcount aggregation, posting lists stay within the document universe,
and similarity estimates stay in range.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import (
    PY_NORMALIZE,
    normalize_text,
    sql_normalize,
)
from tests.conftest import SF_ORACLE

# strings heavy on the normalization edge cases: ASCII punct, unicode,
# control chars, whitespace runs, digits
_TRICKY = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from(list("\t\n  ’“—éß中文🙂")),
    ),
    max_size=40,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_TRICKY, min_size=1, max_size=40))
def test_normalize_three_engines_agree(spark, samples):
    py = [PY_NORMALIZE(s) for s in samples]

    sdf = spark.createDataFrame(pd.DataFrame({"i": range(len(samples)), "t": samples}))
    got_spark = [
        r["n"]
        for r in sdf.select("i", normalize_text(F.col("t")).alias("n"))
        .orderBy("i")
        .collect()
    ]

    con = duckdb.connect()
    con.register("v", pd.DataFrame({"i": range(len(samples)), "t": samples}))
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {sql_normalize('t')} FROM v ORDER BY i"
        ).fetchall()
    ]

    assert got_spark == py
    assert got_duck == py


@settings(max_examples=20, deadline=None)
@given(_TRICKY)
def test_py_normalize_is_idempotent_and_ascii(s):
    once = PY_NORMALIZE(s)
    assert PY_NORMALIZE(once) == once
    assert once == once.strip()
    assert all(ord(c) < 128 for c in once)


def test_wordcount_conserves_tokens(spark):
    from gcp_map_reduce_spark.operators.wordcount import doc_tokens, wordcount

    total_tokens = doc_tokens(spark, SF_ORACLE).count()
    summed = wordcount(spark, SF_ORACLE).agg(F.sum("cnt")).collect()[0][0]
    assert summed == total_tokens


def test_inverted_index_postings_within_doc_universe(spark):
    from gcp_map_reduce_spark.operators.wordcount import inverted_index
    from gcp_map_reduce_spark.sources.tables import load_table

    docs = {
        r["doc_id"]
        for r in load_table(spark, SF_ORACLE, "documents").select("doc_id").collect()
    }
    idx = inverted_index(spark, SF_ORACLE).collect()
    assert idx
    for r in idx:
        ids = [int(d) for d in r["docs"].split(",")]
        assert ids and set(ids) <= docs
        # sort_array determinism: posting lists arrive sorted, deduped
        assert ids == sorted(set(ids))
        assert r["n_docs"] == len(ids)


def test_minhash_estimates_in_unit_interval(spark):
    from gcp_map_reduce_spark.operators.dedup import dedup_minhash

    rows = dedup_minhash(spark, SF_ORACLE).collect()
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_tfidf_score_matches_numpy(spark):
    import math

    from gcp_map_reduce_spark.operators.text_analysis import (
        text_tfidf,
        tfidf_score,
    )

    rows = tfidf_score(text_tfidf(spark, SF_ORACLE)).limit(500).collect()
    assert rows
    for r in rows:
        want = r["tf"] * (math.log((r["n_docs"] + 1) / (r["df"] + 1)) + 1.0)
        assert abs(r["tfidf"] - want) < 1e-12, r


def test_normalize_and_tokenize_handle_null_and_empty(spark):
    import pandas as pd
    from gcp_map_reduce_spark.functions.text import normalize_text, tokenize
    from pyspark.sql import types as T

    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": [None, "", "  \t ", "ok!"]}),
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    norm = {
        r["doc_id"]: r["n"]
        for r in sdf.select(
            "doc_id", normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    assert norm == {1: None, 2: "", 3: "", 4: "ok"}
    toks = tokenize(sdf, text_col="text", out_col="w", keep_cols=["doc_id"]).collect()
    # null/blank docs contribute zero tokens, never null tokens
    assert {(r["doc_id"], r["w"]) for r in toks} == {(4, "ok")}


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_TRICKY, min_size=1, max_size=30))
def test_portable_hash64_spark_duckdb_agree(spark, samples):
    """portable_hash64 is the base of every sketch oracle (minhash,
    simhash, sampling gates): the Spark expression and the DuckDB twin
    must agree on arbitrary strings or every hash-matched sketch row is
    coincidence."""
    from gcp_map_reduce_spark.operators.dedup import (
        portable_hash64,
        sql_portable_hash64,
    )

    pdf = pd.DataFrame({"s": samples})
    sdf = spark.createDataFrame(pdf)
    got = [
        r["h"]
        for r in sdf.select(portable_hash64(F.col("s")).alias("h"))
        .collect()
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    want = [r[0] for r in con.execute(
        f"SELECT {sql_portable_hash64('s')} FROM t"
    ).fetchall()]
    assert got == want


def test_results_invariant_to_shuffle_partitioning(spark):
    """Hash-gated sampling, sketch signatures, and suite unions must be
    byte-identical under a different shuffle-partition count — the
    determinism-under-replanning property that makes retries/AQE safe at
    scale (a df.sample()-style per-partition RNG would fail this)."""
    from gcp_map_reduce_spark.plans import registry
    from tests.conftest import SF_SMALL

    registry.load_catalog()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("3", prev):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for q in ("corpus_sampling", "dedup_pair_scores", "wordcount"):
                rows = registry.QUERIES[q](spark, SF_SMALL).collect()
                results.setdefault(q, []).append(
                    sorted(tuple(r) for r in rows)
                )
        for q, (a, b) in results.items():
            assert a == b, f"{q} changed under different shuffle partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
