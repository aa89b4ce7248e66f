"""Benchmark decontamination: flag training documents that share n-gram
shingles with an evaluation set.

The standard pre-training hygiene step (not in the reference): before
training, any document overlapping the eval benchmarks must be dropped or
the eval numbers are contaminated. Overlap = shared n-token shingles
(n = DECONTAM_NGRAM; real pipelines use 8-13-grams — the synthetic corpus
has short docs, so 5 keeps the check non-vacuous).

The eval set here is a deterministic stand-in: ``doc_id % EVAL_MOD == 0``
(a benchmark suite would arrive as its own table; the operator takes any
(doc_id, text) DataFrame for that side).

Scale shape: benchmark suites are TINY relative to a 100 TB training
corpus, so the eval shingle set is broadcast and the train side never
shuffles — each train partition checks membership locally; only the
contaminated survivors (rare) reach the final per-doc aggregation. The
whole operator adds one small broadcast and one skinny groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.operators.dedup import (
    _gram_hashes_subquery,
    doc_text_features_arrow,
)
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus, load_table

DECONTAM_NGRAM = 5
EVAL_MOD = 50  # doc_id % EVAL_MOD == 0 -> eval-set stand-in


def doc_shingles_for(docs: DataFrame, n: int) -> DataFrame:
    """DISTINCT (doc_id, sh) rows for an arbitrary (doc_id, text) frame —
    sh is the rolling n-gram FINGERPRINT (2^31 space), not the gram
    string: overlap detection only ever equality-joins shingles, so the
    hashed form carries 8-byte longs through the broadcast + probe (and
    the gram build runs in the vectorized Arrow kernel instead of the
    interpreted string-concat chain — measured ~15 ms/doc -> ~0.1 ms/doc
    at sf0.1). The md5 text kernel hashes exactly as the oracle does
    (_gram_hashes_subquery), so collisions land in both engines and the
    value gate stays exact; NULL or sub-``n``-token docs have no
    shingle."""
    return doc_text_features_arrow(docs, n, want_sig=False).select(
        "doc_id", F.explode("gh_arr").alias("sh")
    )


@query(
    "corpus_decontamination",
    oracle=f"""
WITH train AS {_gram_hashes_subquery(DECONTAM_NGRAM, f"doc_id % {EVAL_MOD} <> 0")},
eval_sh AS {_gram_hashes_subquery(DECONTAM_NGRAM, f"doc_id % {EVAL_MOD} = 0")}
SELECT t.doc_id AS train_doc,
  count(*) AS n_shared_shingles,
  CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs,
  min(e.doc_id) AS sample_eval_doc
FROM train t JOIN eval_sh e ON t.gh = e.gh
GROUP BY t.doc_id
""",
)
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated training doc: how many {DECONTAM_NGRAM}-gram
    shingles it shares with the eval set, how many eval docs it touches,
    and one offending eval doc id. Plan: eval shingles broadcast (tiny
    side), train shingles stream through the hash join, groupBy only the
    (rare) matching rows. The gram build is linear per-row CPU with no
    shuffle; at extreme scale you can additionally hash grams to longs
    before the membership probe (identical matches when both sides share
    the hash) to shrink the broadcast table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    # Two scans, asymmetric by design: the eval side is a pushed-down
    # 1/EVAL_MOD scan (the filter reaches the parquet reader), shingled
    # and broadcast; the train side STREAMS through the broadcast hash
    # join with no checkpoint/materialization anywhere. At 100 TB the
    # corpus-wide shingle set must never be held — only the tiny eval
    # side is; re-scanning that subset costs a rounding error vs holding
    # the full corpus's shingles.
    eval_sh = doc_shingles_for(docs.filter(is_eval), DECONTAM_NGRAM).select(
        F.col("doc_id").alias("eval_doc"), "sh"
    )
    # the shingle build is the dominant per-row CPU; a small local file
    # scans as 1 split and would serialize it — fan out only in that
    # degenerate case (at 100 TB the scan alone yields plenty of splits)
    train = (
        load_corpus(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(~is_eval)
    )
    train_sh = doc_shingles_for(train, DECONTAM_NGRAM)
    return (
        train_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy(F.col("doc_id").alias("train_doc"))
        .agg(
            F.count("*").alias("n_shared_shingles"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
            F.min("eval_doc").alias("sample_eval_doc"),
        )
    )


def semantic_decontam(
    spark: SparkSession,
    sf_dir: str,
    threshold: float | None = None,
    n_probe: int = 2,
    index_dir: str | None = None,
) -> DataFrame:
    """SEMANTIC decontamination over the embeddings table: flag training
    vectors whose cosine to ANY eval vector clears ``threshold`` — the
    embedding-space complement of the n-gram ``corpus_decontamination``
    (paraphrased benchmark leakage shares no shingles but sits next to
    the eval point in embedding space; modern pipelines run both).

    Eval set: the module's deterministic stand-in, ``vec_id % EVAL_MOD
    == 0`` (a real benchmark would arrive as its own table — pass its
    vectors as the batch of :func:`ann_index.ann_index_screen_batch`
    directly). Plan shape: the eval vectors are screened against the
    shared persisted IVF index (:func:`ann_index.ann_index_for_corpus`
    — built once per corpus version, reused by every ANN consumer) with
    the range search's candidates and ``cosine >= threshold`` test, but
    with cell assignment in the plan: this stand-in is 2% OF THE CORPUS,
    so no eval row is collected to the driver, and the train side is
    read cell-pruned. Eval-eval pairs are filtered out AFTER the screen
    (the index holds all vectors). Returns one row per contaminated
    train vector: (train_vec, n_eval_hits, max_cosine,
    sample_eval_vec). Recall is probe-bounded — the same
    documented IVF trade as ``dedup_embedding_cosine``: true near-dups
    (cosine >= 0.8) share a nearest cell essentially always, wide-angle
    thresholds may need a larger ``n_probe``.

    ``threshold`` defaults to ``similarity.NEAR_DUP_COSINE`` (this
    synthetic corpus's near-dup angle); production benchmark screens
    run much tighter (0.9+).
    """
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_for_corpus,
        ann_index_screen_batch,
    )
    from gcp_map_reduce_spark.operators.similarity import NEAR_DUP_COSINE

    if threshold is None:
        threshold = NEAR_DUP_COSINE
    idx = index_dir or ann_index_for_corpus(spark, sf_dir)
    eval_vecs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % EVAL_MOD == 0)
        .select("vec_id", "embedding")
    )
    hits = ann_index_screen_batch(
        spark, idx, eval_vecs, threshold=threshold, n_probe=n_probe
    ).filter(F.col("cand_id") % EVAL_MOD != 0)
    return hits.groupBy(F.col("cand_id").alias("train_vec")).agg(
        F.count("*").alias("n_eval_hits"),
        F.max("cosine").alias("max_cosine"),
        F.min("query_id").alias("sample_eval_vec"),
    )
