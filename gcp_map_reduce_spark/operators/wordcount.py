"""Reference-parity text operators: wordcount + inverted index family.

These re-express the reference's two built-in "queries" over the synthetic
``documents`` table so the driver's DuckDB oracle can verify them:

- wordcount: ``scripts/wordcount_map.py:4-16`` (emit ``(token, 1)``) +
  ``scripts/wordcount_reduce.py:3-11`` (sum) + global key sort at merge
  (``scripts/kv_store_server.py:267``). In Spark the whole job is one
  ``tokenize -> groupBy -> count`` chain; the shuffle replaces the KV-store
  mapper-output files and partial aggregation (map-side combine) fixes the
  reference's biggest inefficiency (it shipped one ``1`` per occurrence —
  shuffle size == token count; SURVEY.md §4 "Map-side combine: none").

- inverted index: ``scripts/invertedindex_map.py:4-18`` (map-side set
  dedup of ``(token, doc)`` pairs) + ``scripts/invertedindex_reduce.py:3-17``
  (posting-list build). Spark: one ``collect_set`` per token (its partial
  aggregation is the map-side set dedup). Posting lists are set-ordered in
  the reference (nondeterministic), so they are sorted here, and the
  oracle-checked form joins them into a canonical string.

Both reduce steps live in :func:`reduce_tokens`; ``api.launch_map_reduce``
shares its word count (its inverted index dedups (word, file) pairs
first, see there).

Scale notes (100 TB): groupBy(token) hash-partitions on the full token —
strictly better than the reference's letter->reducer round-robin
(``scripts/reducer.py:27-34``), which is Zipf-skewed. AQE skew handling
covers hot tokens. ``collect_set`` per token is bounded by the corpus doc
count per token; for web-scale posting lists you'd switch to the
``inverted_index_pairs`` shape (flat, no per-key array materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import sql_tokens_cte, tokenize
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word) token stream for the synthetic documents table.

    Degenerate-split correction on the scan: tokenize's regex split +
    explode is per-row CPU, and the stress run showed a single-row-group
    file serializing it on one core (wordcount max task 1.5 s vs 37 ms
    median) — ``load_corpus`` adds the Exchange only in that case.
    """
    docs = load_corpus(spark, sf_dir, "documents").select("doc_id", "text")
    return tokenize(docs, text_col="text", out_col="word", keep_cols=["doc_id"])


def reduce_tokens(toks: DataFrame, operation: str, doc: str = "doc_id") -> DataFrame:
    """The reduce step of a map-reduce ``operation`` over a (word, doc)
    token frame, one shuffle each:

    - ``wordcount`` -> (word, cnt);
    - ``invertedindex`` -> (word, docs: sorted distinct ``doc`` values).
      ``collect_set`` dedups per (word, doc) by itself, so where a doc
      is one row (the registered plans) a ``distinct()`` pre-pass would
      only add a second Exchange (r17); Catalyst drops such a pre-pass
      below ``collect_set`` anyway. Where a doc is a whole file, each
      pair repeats once per line, so ``api.launch_map_reduce`` dedups
      the pairs first and builds its posting lists itself.
    """
    if operation == "wordcount":
        return toks.groupBy("word").agg(F.count("*").alias("cnt"))
    if operation == "invertedindex":
        return toks.groupBy("word").agg(F.sort_array(F.collect_set(doc)).alias("docs"))
    raise ValueError(f"unknown operation {operation!r}")


_TOKENS_CTE = f"WITH toks AS ({sql_tokens_cte()}) "


@query(
    "wordcount",
    oracle=_TOKENS_CTE
    + "SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word",
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token -> occurrence count over the whole corpus (flagship query).

    JVM ``normalize -> split -> explode -> hash agg``, the plan the
    oracle mirrors: at bench scale it beats a per-partition Arrow token
    Counter (0.67 vs 0.75 s at sf0.1), whose Arrow exchange costs more
    than the regex passes it saves."""
    return reduce_tokens(doc_tokens(spark, sf_dir), "wordcount")


def wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens; tiebreak on word so the result set is deterministic.

    Library helper (the registered top-k demonstrations are
    ``topk_orders`` and the ORDER BY ... LIMIT TPC-H queries).
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject —
    a per-partition top-k + single merge, no global sort at scale.
    """
    return (
        wordcount(spark, sf_dir)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


@query(
    "inverted_index_pairs",
    oracle=_TOKENS_CTE
    + "SELECT DISTINCT word, doc_id FROM toks WHERE word <> ''",
)
def inverted_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped (word, doc_id) pairs — the scalable flat form of the index
    (reference map-side shape, ``scripts/invertedindex_map.py:13-16``)."""
    return doc_tokens(spark, sf_dir).select("word", "doc_id").distinct()


@query(
    "inverted_index",
    oracle=_TOKENS_CTE
    + "SELECT word, count(DISTINCT doc_id) AS n_docs, "
    "string_agg(DISTINCT doc_id, ',' ORDER BY doc_id) AS docs "
    "FROM toks WHERE word <> '' GROUP BY word",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word -> sorted posting list (canonical comma-joined string form).

    ``sort_array(collect_set(...))`` pins the set-iteration nondeterminism
    the reference exhibits (``scripts/invertedindex_reduce.py:14-15``).

    r17: aggregates the RAW token stream in one shuffle
    (:func:`reduce_tokens`; ``n_docs`` = the set's size, exactly
    count-distinct). The flat deduped-pairs form stays registered as
    ``inverted_index_pairs``.
    """
    posts = reduce_tokens(doc_tokens(spark, sf_dir), "invertedindex")
    return posts.select(
        "word",
        F.size("docs").cast("long").alias("n_docs"),
        F.array_join(F.col("docs").cast("array<string>"), ",").alias("docs"),
    )


@query(
    "doc_search",
    oracle=_TOKENS_CTE
    + "SELECT DISTINCT doc_id FROM toks WHERE word = 'spark'",
)
def doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup over the inverted index (reference O16/O24: the FaaS
    Web-UI search handler looks a word up in the final output). Expressed
    as a filter on the pair stream; with the index persisted as a table
    partitioned by first letter this is a partition-pruned scan."""
    return (
        inverted_index_pairs(spark, sf_dir)
        .filter(F.col("word") == "spark")
        .select("doc_id")
    )


# Per-document token statistics are part of the consolidated
# ``text_profile`` query (operators/text_analysis.py), computed
# array-natively there (zero shuffle vs the groupBy-over-exploded-tokens
# formulation this module would use).
