"""Pluggable UDF surface (reference operator O18).

The reference resolves map/reduce functions by module name from config
(``master.py:26-42``; signature ``f(dataset, mapper_id) -> dict``,
``scripts/mapper.py:9-25``) — a whole-partition Python plug-in convention.
The Spark-native generalization is a registry of typed, Arrow-batched
grouped-map functions applied with ``applyInPandas`` (grouped map) /
``mapInPandas`` (partition map): same "bring your own Python" capability,
but schema-checked, vectorized, and planned by Catalyst around the
exchange.

Registered built-ins mirror the reference's two operations so the plug-in
path is exercised end-to-end; its output is oracle-checked against the
same SQL as the built-in operator — proving the Python path computes the
same answer the JVM path does (and letting the bench quantify its cost).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_map_reduce_spark.functions.text import NON_WS, WS_SPLIT, sql_tokens_cte
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus, load_table


@dataclass(frozen=True)
class GroupedMapUDF:
    """A named grouped-map plug-in: ``fn(key_tuple, pdf) -> pdf`` applied
    per group, with a declared output schema (the reference's untyped
    dict-in/dict-out contract, made typed)."""

    name: str
    schema: T.StructType
    fn: Callable[[tuple, pd.DataFrame], pd.DataFrame]


UDF_REGISTRY: dict[str, GroupedMapUDF] = {}


def register_udf(udf: GroupedMapUDF) -> GroupedMapUDF:
    if udf.name in UDF_REGISTRY:
        raise ValueError(f"duplicate UDF {udf.name!r}")
    UDF_REGISTRY[udf.name] = udf
    return udf


def apply_grouped(df: DataFrame, group_cols: list[str], name: str) -> DataFrame:
    """Apply a registered plug-in per group (Arrow-batched grouped map).
    Ships the plug-in's ``fn`` alone: wrapping the registry entry would
    pickle its class by reference, which workers without this package
    on their path cannot load."""
    udf = UDF_REGISTRY[name]
    return df.groupBy(*group_cols).applyInPandas(udf.fn, schema=udf.schema)


# -- built-in plug-ins mirroring the reference's two operations -----------


N_UDF_BUCKETS = 64  # coarse group count for the grouped-map demo


def _wordcount_grouped():
    """Per-doc token counting in pandas (reference wordcount_map+reduce
    collapsed to one grouped map; ``scripts/wordcount_map.py:4-16``),
    built as a closure so it pickles by value.

    Grouped COARSELY (doc_id buckets, not doc_id): applyInPandas makes
    one Python call per group, so thousands of tiny groups drown in
    per-call overhead — bucket to ~num-cores groups and do the fine
    grouping vectorized inside pandas. Same result, ~5x faster at sf0.1.
    """

    def wordcount_grouped(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        counts = pdf.groupby(["doc_id", "word"], sort=False).size()
        out = counts.reset_index()
        out.columns = ["doc_id", "word", "cnt"]
        return out

    return wordcount_grouped


register_udf(
    GroupedMapUDF(
        name="wordcount_grouped",
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("word", T.StringType()),
                T.StructField("cnt", T.LongType()),
            ]
        ),
        fn=_wordcount_grouped(),
    )
)


def udf_wordcount_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plug-in path end-to-end: tokenize (JVM) -> grouped-map pandas
    UDF computing per-doc counts. Same oracle as the built-in would have —
    the Python plug-in must agree with SQL semantics exactly.

    Two skew decisions (r8, measured at the sf1 stress set):

    - The token stream comes from :func:`doc_tokens` — the shared
      tokenize path with its degenerate-split guard. This query's private
      load+tokenize had re-introduced the exact straggler the guard
      exists for: the stress documents file scans as one populated split,
      and the scan+tokenize stage ran one 1.8–1.9 s task against a
      10–15 ms stage median, holding the whole query's wall clock (the
      grouped-map stage downstream was already balanced at ~0.3–0.4 s).
      Measured: 2.33 -> 1.53 s wall at stress, worst task 1827 -> ~740 ms
      (median ~= max now — compute-bound, no straggler); costs the
      guard's one Exchange at sf0.1 (0.65 -> 0.75 s), the same trade
      every doc_tokens consumer already accepts.

    - The bucket key is a hash of the FULL fine group key (doc_id, word),
      not doc_id alone: every row of one (doc_id, word) group still lands
      in exactly one bucket — the per-bucket pandas groupby emits each
      group exactly once — but a long document's distinct words spread
      over all buckets instead of pinning one. Measured neutral on THIS
      corpus (its docs are near-uniform, so doc_id buckets balance too);
      kept because it makes the worst grouped-map task scale with the
      hottest (doc_id, word) pair rather than the longest document,
      which is the bound you want on a real power-law corpus."""
    from gcp_map_reduce_spark.operators.wordcount import doc_tokens

    toks = doc_tokens(spark, sf_dir)
    bucketed = toks.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id", "word"), F.lit(N_UDF_BUCKETS))
    )
    return apply_grouped(bucketed, ["bucket"], "wordcount_grouped")


# -- the other three UDF shapes (SURVEY §2.2: UDAF/UDTF as formal API) -----


def udf_scalar_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR pandas UDF (Arrow-vectorized, one Series in/out per batch):
    whitespace token count per document. Exists to prove the scalar
    Python path — the JVM-side ``token_count_regex`` is the production
    operator. Uses the shared explicit whitespace class (Python's \\S is
    unicode-aware; RE2's is not)."""

    @F.pandas_udf("int")
    def n_tokens(s: pd.Series) -> pd.Series:
        return s.str.findall(NON_WS + "+").str.len().astype("int32")

    # degenerate-split guard: per-row Python over text (the r8 stress
    # audit caught this leg's whole scan serializing on one task)
    docs = load_corpus(spark, sf_dir, "documents")
    return docs.select("doc_id", n_tokens("text").alias("n_tokens"))


def udf_grouped_agg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDFs (vectorized UDAF: Series -> scalar per
    group). Extrema are order-insensitive, so the Python answer is
    bit-identical to SQL (a mean/sum UDAF would need the integer-scaling
    trick used by embedding_centroids)."""

    @F.pandas_udf("double")
    def pmax(v: pd.Series) -> float:
        return float(v.max())

    @F.pandas_udf("double")
    def pmin(v: pd.Series) -> float:
        return float(v.min())

    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        pmax("c_acctbal").alias("max_bal"), pmin("c_acctbal").alias("min_bal")
    )


def udf_tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function: one row in, N rows out) — the typed
    Spark-native form of the reference's map-style emitters
    (``scripts/wordcount_map.py:4-16`` emits (token, 1) per occurrence).
    Row-at-a-time Python: API-surface demonstration; the production
    tokenizer is the codegen'd explode(split(...)) path."""
    from pyspark.sql.functions import udtf

    from gcp_map_reduce_spark.functions.text import PY_NORMALIZE

    @udtf(returnType="word string")
    class TokenizeUDTF:
        def eval(self, text: str):
            for w in PY_NORMALIZE(text or "").split():
                yield (w,)

    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    # degenerate-split guard matters MOST here: the UDTF is row-at-a-time
    # Python, so a single-split scan serializes the whole corpus's
    # tokenization on one core (r8 stress audit)
    load_corpus(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT t.word, count(*) AS cnt "
        "FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t "
        "GROUP BY t.word"
    )


# -- registered suite ------------------------------------------------------
#
# The four UDF shapes above stay as the library API; the driver-facing
# registration consolidates them into ONE tagged union so the whole
# plug-in surface fits a single row of the driver's bounded correctness
# window (it evaluates at most ~50 registered queries). Normalized to
# (shape, key, v1, v2); each branch remains oracle-checked via the
# matching UNION ALL branch in the SQL.


def _norm(df: DataFrame, shape: str, key, v1, v2=None):
    return df.select(
        F.lit(shape).alias("shape"),
        key.cast("string").alias("key"),
        v1.cast("double").alias("v1"),
        (F.lit(None) if v2 is None else v2).cast("double").alias("v2"),
    )


@query(
    "udf_plugin_suite",
    oracle=f"""
WITH toks AS ({sql_tokens_cte()})
SELECT 'grouped_map' AS shape, doc_id || ':' || word AS key,
       CAST(count(*) AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
FROM toks WHERE word <> '' GROUP BY doc_id, word
UNION ALL
SELECT 'scalar', CAST(doc_id AS VARCHAR),
  CAST(len(list_filter(regexp_split_to_array(text, '{WS_SPLIT}'), x -> x <> ''))
       AS DOUBLE), NULL
FROM documents
UNION ALL
SELECT 'grouped_agg', c_mktsegment, max(c_acctbal), min(c_acctbal)
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT 'udtf', word, CAST(count(*) AS DOUBLE), NULL
FROM toks WHERE word <> '' GROUP BY word
""",
)
def udf_plugin_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four pluggable-UDF shapes (grouped-map applyInPandas, scalar
    pandas_udf, grouped-agg pandas UDAF, Python UDTF) in one tagged
    union — the Spark-native O18 surface, each branch proving its Python
    path computes exactly what the SQL oracle computes. The branches are
    independent plans; the union is a no-shuffle concatenation."""
    gm = udf_wordcount_grouped(spark, sf_dir)
    sc = udf_scalar_token_count(spark, sf_dir)
    ga = udf_grouped_agg_extrema(spark, sf_dir)
    ut = udf_tokenize_udtf(spark, sf_dir)
    return (
        _norm(gm, "grouped_map",
              F.concat_ws(":", F.col("doc_id"), F.col("word")),
              F.col("cnt"))
        .unionByName(_norm(sc, "scalar", F.col("doc_id"), F.col("n_tokens")))
        .unionByName(
            _norm(ga, "grouped_agg", F.col("c_mktsegment"),
                  F.col("max_bal"), F.col("min_bal"))
        )
        .unionByName(_norm(ut, "udtf", F.col("word"), F.col("cnt")))
    )
