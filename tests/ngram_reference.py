"""Reference near-dup join for the exact n-gram Jaccard tests.

The full inverted-index self-join over 3-gram fingerprints: every shared
gram of a pair emits one row, and the pair's intersection is the row
count. It is the plan the DuckDB oracle spells out, and the
prefix-filtered ``dedup_ngram_jaccard`` must return exactly its rows.
Nothing is pruned before the per-pair count, so none of the engine's
bounds is trusted here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def full_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, isect, jaccard) with jaccard >= 0.8, computed by
    the full self-join on the same gram arrays the engine uses."""
    from gcp_map_reduce_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        doc_minhash_features,
    )

    arr = doc_minhash_features(spark, sf_dir, want_sig=False)
    sh = arr.select(
        "doc_id", F.size("gh_arr").alias("sz"), F.explode("gh_arr").alias("gh")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("isect"),
            F.first(F.col("a.sz")).alias("sza"),
            F.first(F.col("b.sz")).alias("szb"),
        )
    )
    jac = F.col("isect").cast("double") / (
        F.col("sza") + F.col("szb") - F.col("isect")
    )
    return inter.select("doc_a", "doc_b", "isect", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
