"""End-to-end training-data curation pipeline — the flagship composition.

One query chaining the engine's pieces the way a real corpus build does:

1. quality gate (``text_quality`` rules: length, stopword density,
   punctuation ratio);
2. exact dedup (keep the lowest doc_id per content hash);
3. near-dup removal (3-shingle Jaccard >= 0.8; keep the lower id of each
   pair);
4. token budgeting (whitespace token count over normalized text).

Everything is integer counts and hash joins — fully DuckDB-oracle-checked
end to end, which is the point: the COMPOSITION is exactly as testable as
the parts. Plan shape at 100 TB: one corpus scan feeds the quality and
hash branches; the near-dup branch is the banded-join candidate set (the
exact Jaccard here doubles as its verifier at test scale); the final
assembly is a semi-join and an anti-join on doc_id, both broadcastable
(survivor and drop lists are small relative to the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.operators.dedup import (
    _gram_hashes_sql,
    dedup_exact_keepers,
    dedup_ngram_jaccard,
    near_dup_edges_minhash_verified,
)
from gcp_map_reduce_spark.operators.text_analysis import text_quality
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_table
from gcp_map_reduce_spark.functions.text import WS_SPLIT, sql_normalize

_QUALITY_SQL = f"""
SELECT doc_id FROM (
  SELECT doc_id, length(text) AS n_chars,
    len(list_filter(regexp_split_to_array({sql_normalize('text')}, '{WS_SPLIT}'),
        t -> t <> '')) AS n_tokens,
    len(list_filter(regexp_split_to_array(lower(text), '{WS_SPLIT}'),
        t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS n_stop,
    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct
  FROM documents
) WHERE n_tokens >= 20
  AND CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) >= 0.01
  AND CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) < 0.2
"""


@query(
    "curated_corpus",
    oracle=f"""
WITH {_gram_hashes_sql()},
quality AS ({_QUALITY_SQL}),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
near AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
drops AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM near JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= 0.8
)
SELECT d.doc_id, d.lang, d.n_chars,
  len(list_filter(regexp_split_to_array({sql_normalize('d.text')}, '{WS_SPLIT}'),
      t -> t <> '')) AS n_tokens
FROM documents d
JOIN quality USING (doc_id)
JOIN keepers USING (doc_id)
ANTI JOIN drops USING (doc_id)
""",
)
def curated_corpus(
    spark: SparkSession,
    sf_dir: str,
    near_dup_source: str = "exact",
    fast_hash: bool = False,
) -> DataFrame:
    """Documents surviving quality gate + exact dedup + near-dup removal,
    with their token budget — the corpus a training run would consume.

    ``near_dup_source`` mirrors ``dedup_clusters``' edge_source: "exact"
    (default; what the oracle replicates) drops docs via the
    prefix-filtered shingle join, "minhash" (the scale plan, optionally
    with ``fast_hash``) via verified band-collision candidates —
    identical survivor sets at oracle scale (tests/test_dedup.py asserts
    edge-set equality), band recall in general: a borderline >= 0.8
    near-dup can slip through if it misses every band."""
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        text_quality(spark, sf_dir)
        .filter(F.col("passes_quality") == 1)
        .select("doc_id", "n_tokens", "n_chars")
    )
    keepers = dedup_exact_keepers(spark, sf_dir)
    if near_dup_source == "exact":
        near = dedup_ngram_jaccard(spark, sf_dir)
    elif near_dup_source == "minhash":
        near = near_dup_edges_minhash_verified(
            spark, sf_dir, fast_hash=fast_hash
        )
    else:
        raise ValueError(f"unknown near_dup_source: {near_dup_source!r}")
    drops = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        docs.select("doc_id", "lang")
        .join(quality, "doc_id")
        .join(keepers, "doc_id", "semi")
        .join(drops, "doc_id", "anti")
        .select("doc_id", "lang", "n_chars", "n_tokens")
    )
