"""Mergeable-sketch rollups — the 100 TB pattern for distinct counting.

At scale you never run one global ``countDistinct`` over a corpus: you
compute a CONSTANT-SIZE mergeable sketch per shard/partition (one pass,
map-side), persist the sketches with the shard manifests, and answer
global or any-subset distinct-count questions by UNIONING sketches —
no rescan, no re-shuffle of raw data. Spark ships Apache DataSketches
HLL natively (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``), so the whole path is JVM-side.

Library operators (pytest-covered; the registered approx-sketch surface
is ``customer_profile``'s invariant columns — the registry is capped at
the driver's correctness window):

- :func:`lang_token_sketches` — per-language HLL sketch of distinct
  tokens, with the per-group estimate;
- :func:`union_distinct_estimate` — global estimate from the per-group
  sketches ALONE (proves mergeability: never touches the corpus again).

The estimates are engine-specific, so cross-checks are invariant-style:
tests assert the estimate sits inside the sketch's published error
envelope of the exact answer, and that the union-of-sketches estimate
EQUALS the single-pass global estimate (merge must lose nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import tokenize
from gcp_map_reduce_spark.sources.tables import load_corpus

HLL_LG_K = 14  # 2^14 buckets: ~0.8% relative standard error, ~16 KiB/sketch


def token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, word) token stream of the documents corpus
    (degenerate-split fan-out: tokenize is per-row regex CPU)."""
    docs = load_corpus(spark, sf_dir, "documents").select("lang", "text")
    return tokenize(docs, text_col="text", out_col="word", keep_cols=["lang"])


def lang_token_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, sketch: binary, est: double) — one constant-size HLL sketch
    of the distinct token set per language. One scan, one shuffle on the
    (bounded-cardinality) group key; per-row work is a hash update. At
    100 TB this is the ONLY pass that reads text."""
    toks = token_stream(spark, sf_dir)
    sk = toks.groupBy("lang").agg(
        F.hll_sketch_agg("word", F.lit(HLL_LG_K)).alias("sketch")
    )
    return sk.withColumn("est", F.hll_sketch_estimate("sketch"))


def union_distinct_estimate(sketches: DataFrame) -> float:
    """Global distinct estimate from per-group sketches alone — the merge
    step a shard manifest consumer runs. Input: any DataFrame with a
    ``sketch`` binary column produced by ``hll_sketch_agg``."""
    row = sketches.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg("sketch", F.lit(False))
        ).alias("est")
    ).first()
    return float(row.est)
