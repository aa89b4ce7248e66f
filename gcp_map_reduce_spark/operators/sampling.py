"""Deterministic corpus sampling, mixing, and sharding — the steps between
a curated corpus and a training run.

Not in the reference (it has no sampling of any kind); these are the
standard large-corpus operations a training-data pipeline needs after
dedup/quality filtering:

- ``corpus_mixture``: per-domain (here: per-language) sampling rates —
  "train on 100% of en, 40% of zh, ..." — applied via DETERMINISTIC
  hash-based Bernoulli sampling: keep a doc iff
  ``portable_hash64(doc_id) % 1000 < rate_permille[lang]``. Unlike
  ``df.sample()`` (seeded per-partition RNG — resplitting the input
  changes the sample), the hash gate depends only on the ROW, so the
  sample is stable under repartitioning, retries, and engine changes —
  which also makes it exactly reproducible in the DuckDB oracle.
- ``corpus_shards``: pack the mixed corpus into ~equal-token training
  shards: cumulative token count in deterministic doc_id order, shard_id
  = floor(cum_before / budget) — every shard holds consecutive docs and
  (budget + one straggler doc) tokens max, the shape shard writers want.

Scale notes: the mixture filter is a pure per-row predicate — no shuffle,
no state, pushes through any plan. A naive sharding cumsum would be a
global ordered window (single-task sort at the limit); the REGISTERED
``corpus_shards`` therefore uses the two-level form — range-group by
doc_id, cumsum within groups (parallel windows), add tiny broadcast
per-group offsets — which produces the identical packing with no
single-task stage. ``corpus_shards_simple`` keeps the one-window form as
the readable reference implementation; a test asserts they agree and the
oracle (itself the simple form in SQL) checks the registered plan's
values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import WS_SPLIT, normalize_text, sql_normalize
from gcp_map_reduce_spark.operators.dedup import portable_hash64, sql_portable_hash64
from gcp_map_reduce_spark.operators.scale import materialize
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus, load_table

# per-language keep rates in permille: oversample the low-resource
# languages relative to en — the standard mixture-rebalancing shape
MIXTURE_PERMILLE = {"en": 600, "de": 1000, "fr": 1000, "es": 800, "zh": 800}
DEFAULT_PERMILLE = 500  # languages not in the table
SHARD_TOKEN_BUDGET = 20_000


def _rate_expr(lang_col):
    rate = F.lit(DEFAULT_PERMILLE)
    for lang, pm in MIXTURE_PERMILLE.items():
        rate = F.when(lang_col == lang, F.lit(pm)).otherwise(rate)
    return rate


def _sql_rate(expr: str) -> str:
    whens = " ".join(
        f"WHEN {expr} = '{lang}' THEN {pm}" for lang, pm in MIXTURE_PERMILLE.items()
    )
    return f"CASE {whens} ELSE {DEFAULT_PERMILLE} END"


_N_TOKENS_SQL = (
    f"len(list_filter(regexp_split_to_array({sql_normalize('text')}, "
    f"'{WS_SPLIT}'), t -> t <> ''))"
)


_MIXTURE_ORACLE = f"""
SELECT doc_id, lang,
  {sql_portable_hash64("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
  {_sql_rate('lang')} AS rate_permille,
  {_N_TOKENS_SQL} AS n_tokens
FROM documents
WHERE {sql_portable_hash64("CAST(doc_id AS VARCHAR)")} % 1000 < {_sql_rate('lang')}
"""


def _n_tokens_expr():
    """Whitespace token count of ``text`` (Column builders need a live
    SparkContext, so this can't be a module-level constant)."""
    return F.size(
        F.filter(
            F.split(normalize_text(F.col("text"), trim=False), WS_SPLIT),
            lambda t: t != "",
        )
    ).cast("long")


def _mixture_plan(docs_with_tokens: DataFrame) -> DataFrame:
    """Mixture predicate + rate columns over any (doc_id, lang, n_tokens)
    relation — shared by :func:`corpus_mixture` (lazy token counts, only
    survivors pay) and :func:`corpus_sampling` (pre-computed corpus-wide
    profile, counted once for all three legs)."""
    bucket = portable_hash64(F.col("doc_id").cast("string")) % 1000
    return docs_with_tokens.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        _rate_expr(F.col("lang")).cast("int").alias("rate_permille"),
        "n_tokens",
    ).filter(F.col("bucket") < F.col("rate_permille"))


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixture sample with each survivor's
    token count — the input to shard packing. Pure per-row predicate +
    per-row token count: zero shuffle, survives any repartitioning.
    The hash-gate filter doesn't reference n_tokens, so Catalyst pushes
    it below the projection — only survivors pay the token count."""
    docs = load_table(spark, sf_dir, "documents")
    return _mixture_plan(
        docs.select("doc_id", "lang", _n_tokens_expr().alias("n_tokens"))
    )


_SHARDS_ORACLE = f"""
WITH mix AS (
  SELECT doc_id, lang, {_N_TOKENS_SQL} AS n_tokens
  FROM documents
  WHERE {sql_portable_hash64("CAST(doc_id AS VARCHAR)")} % 1000 < {_sql_rate('lang')}
),
packed AS (
  SELECT doc_id, lang, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM mix
)
SELECT CAST(floor(cum_before / {SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_id,
  count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed GROUP BY 1
"""


def corpus_shards_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-window reference form of :func:`corpus_shards` (library only:
    the global ordered window is a single-task sort at scale — the
    registered query runs the two-level cumsum instead)."""
    mix = corpus_mixture(spark, sf_dir).select("doc_id", "lang", "n_tokens")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    packed = mix.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        packed.withColumn(
            "shard_id",
            F.floor(F.col("cum_before") / SHARD_TOKEN_BUDGET).cast("long"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


N_RANGE_GROUPS = 32  # scale-out cumsum: number of range groups


def corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: the mixture sample packed into consecutive
    ~SHARD_TOKEN_BUDGET-token shards, one row per shard with its doc range
    and realized token count.

    The cumulative sum is the two-level scale form: docs range-grouped by
    doc_id, token counts cumsum WITHIN each group (per-group windows —
    parallel), per-group totals (one row per group) roll into broadcast
    offsets, cum_before = group offset + within-group cumsum. Identical
    output to the one-window reference form (``corpus_shards_simple``,
    asserted in tests; the SQL oracle IS the one-window form) with no
    single-task sort of the corpus.

    Group boundaries use doc_id ranges (id-hash ordering would break the
    ORDER BY doc_id semantics); with roughly uniform doc_ids the groups
    balance. A production variant samples quantiles first (what Spark's
    range partitioner does internally).

    The mixture is MATERIALIZED before its three consumers (r8,
    measured): ``hi``, ``grouped`` and ``totals`` each re-executed the
    scan + per-doc token count without the checkpoint (profiled at
    stress as concurrent single-split ~1.15 s tasks). The checkpoint is
    |survivors| skinny rows; 1.83 -> 1.46 s at sf1 stress and
    0.79 -> 0.64 s at sf0.1 (adding a degenerate-split fan-out on top
    measured WORSE at sf0.1 — the cumsum path shuffles anyway).

    EAGER at plan-build (r16 contract, documented per r16 ADVICE):
    calling this function runs Spark jobs — the mixture checkpoint and
    the 1-row ``hi`` scalar collect — before any action on the returned
    DataFrame; plan-only consumers pay that compute (the text_tfidf
    scalar-literal tradeoff).
    """
    mix = materialize(
        corpus_mixture(spark, sf_dir).select("doc_id", "lang", "n_tokens")
    )
    # range top as a driver scalar (r16): the former 1-row-agg crossJoin
    # planned as TWO duplicated agg subtrees + BroadcastNestedLoopJoins
    # (one per consumer branch below — Spark has no cross-branch
    # common-subexpression reuse). mix is already materialized, so the
    # 1-row max is one small job; the repo's standard scalar pattern.
    hi_row = mix.agg((F.max("doc_id") + 1).alias("hi")).collect()[0]
    hi = hi_row["hi"] if hi_row["hi"] is not None else 1  # empty mix: no rows flow
    grouped = mix.withColumn(
        "grp",
        F.least(
            F.floor(F.col("doc_id") * N_RANGE_GROUPS / F.lit(hi)),
            F.lit(N_RANGE_GROUPS - 1),
        ),
    )
    wg = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = grouped.withColumn(
        "cum_in_grp", F.coalesce(F.sum("n_tokens").over(wg), F.lit(0))
    )
    totals = grouped.groupBy("grp").agg(F.sum("n_tokens").alias("grp_total"))
    woff = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "grp_offset", F.coalesce(F.sum("grp_total").over(woff), F.lit(0))
    ).select("grp", "grp_offset")
    packed = within.join(F.broadcast(offsets), "grp").withColumn(
        "cum_before", F.col("grp_offset") + F.col("cum_in_grp")
    )
    return (
        packed.withColumn(
            "shard_id",
            F.floor(F.col("cum_before") / SHARD_TOKEN_BUDGET).cast("long"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


STRATA_K = 40  # exact per-language sample size
SPLIT_BOUNDS = (80, 90)  # hash-percent bounds: train < 80 <= val < 90 <= test


_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang, rk,
  CASE WHEN split_bucket < {SPLIT_BOUNDS[0]} THEN 'train'
       WHEN split_bucket < {SPLIT_BOUNDS[1]} THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
    CAST(row_number() OVER (
      PARTITION BY lang
      ORDER BY {sql_portable_hash64("'strat:' || CAST(doc_id AS VARCHAR)")}, doc_id
    ) AS BIGINT) AS rk,
    {sql_portable_hash64("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS split_bucket
  FROM documents
)
WHERE rk <= {STRATA_K}
"""


def corpus_stratified_sample(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """EXACTLY STRATA_K documents per language (vs the mixture's Bernoulli
    rates): rank docs within each language by a salted content-independent
    hash and keep the first K — a deterministic stratified sample that is
    stable under repartitioning and reproducible cross-engine. Each kept
    doc also gets its train/val/test assignment from an INDEPENDENTLY
    salted hash (the two decisions must not correlate — same hash would
    put every sampled doc in the same split region).

    Plan: one shuffle on lang (bounded cardinality) for the ranking
    window; K rows per group survive. At extreme per-group sizes swap
    row_number for a two-phase top-k (per-partition heads, then merge).

    ``docs`` lets a caller substitute any (doc_id, lang, ...) relation —
    ``corpus_sampling`` passes its materialized corpus profile so this
    leg rides the shared scan instead of re-reading the table.
    """
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    strat_h = portable_hash64(
        F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
    )
    split_bucket = (
        portable_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100
    )
    w = Window.partitionBy("lang").orderBy(strat_h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("long").alias("rk"),
            split_bucket.alias("split_bucket"),
        )
        .filter(F.col("rk") <= STRATA_K)
        .select(
            "doc_id",
            "lang",
            "rk",
            F.when(F.col("split_bucket") < SPLIT_BOUNDS[0], "train")
            .when(F.col("split_bucket") < SPLIT_BOUNDS[1], "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# -- registered suite ------------------------------------------------------


WEIGHTED_BASE_RATE = 0.5  # registered weighted branch: P(keep) =
# min(1, 0.5 * n_tokens / 56) — the corpus median length (56 tokens)
# keeps at ~50%, docs >= 2x median always survive


@query(
    "corpus_sampling",
    oracle=f"""
SELECT 'mixture' AS strategy, doc_id, lang, bucket AS k1,
       CAST(rate_permille AS BIGINT) AS k2, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(NULL AS VARCHAR) AS split
FROM ({_MIXTURE_ORACLE})
UNION ALL
SELECT 'stratified', doc_id, lang, rk, NULL, NULL, split
FROM ({_STRATIFIED_ORACLE})
UNION ALL
SELECT 'weighted', doc_id, lang, NULL, NULL, CAST(n_tokens AS BIGINT), NULL
FROM (
  SELECT doc_id, lang, {_N_TOKENS_SQL} AS n_tokens FROM documents
)
WHERE {sql_portable_hash64("'wsample:' || CAST(doc_id AS VARCHAR)")} % 1000000
  < LEAST(1.0, {WEIGHTED_BASE_RATE} * (n_tokens / 56.0)) * 1000000
""",
)
def corpus_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three corpus-sampling strategies in one tagged union: the
    per-language Bernoulli mixture (k1=hash bucket, k2=rate permille,
    with each survivor's token count), the exact-K stratified sample
    with train/val/test splits (k1=rank), and the quality-weighted
    deterministic sample (:func:`weighted_sample` with token count over
    corpus-median as the weight — longer docs keep with proportionally
    higher probability, hash-gated so the oracle reproduces the exact
    survivor set).

    All three legs ride ONE materialized corpus profile
    (doc_id, lang, n_tokens) from a degenerate-split-guarded scan (r8,
    measured): the weighted leg needs the token count for every doc
    anyway, so counting once and sharing removes the mixture leg's
    second count, the stratified leg's third table scan, and — the
    stress-scale straggler — the unguarded weighted-leg scan that ran
    the whole corpus's token counting in one task on a single-split
    file. The legs themselves stay pure per-row predicates (mixture,
    weighted) plus one bounded-cardinality lang shuffle (stratified);
    the union is a shuffle-free concatenation."""
    profile = materialize(
        load_corpus(spark, sf_dir, "documents").select(
            "doc_id", "lang", _n_tokens_expr().alias("n_tokens")
        )
    )
    mix = _mixture_plan(profile).select(
        F.lit("mixture").alias("strategy"),
        "doc_id",
        "lang",
        F.col("bucket").alias("k1"),
        F.col("rate_permille").cast("bigint").alias("k2"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.lit(None).cast("string").alias("split"),
    )
    strat = corpus_stratified_sample(spark, sf_dir, docs=profile).select(
        F.lit("stratified").alias("strategy"),
        "doc_id",
        "lang",
        F.col("rk").alias("k1"),
        F.lit(None).cast("bigint").alias("k2"),
        F.lit(None).cast("bigint").alias("n_tokens"),
        "split",
    )
    wdf = profile.withColumn("w", F.col("n_tokens") / 56.0)
    weighted = weighted_sample(
        wdf, "doc_id", "w", base_rate=WEIGHTED_BASE_RATE
    ).select(
        F.lit("weighted").alias("strategy"),
        "doc_id",
        "lang",
        F.lit(None).cast("bigint").alias("k1"),
        F.lit(None).cast("bigint").alias("k2"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.lit(None).cast("string").alias("split"),
    )
    return mix.unionByName(strat).unionByName(weighted)


SEQ_LEN_DEFAULT = 2048


def pack_sequences(
    spark: SparkSession, sf_dir: str, seq_len: int = SEQ_LEN_DEFAULT
) -> DataFrame:
    """Training-sequence packing manifest: lay the mixture sample's token
    streams end-to-end (deterministic doc_id order) and cut fixed
    ``seq_len``-token sequences; one output row per (document, sequence)
    SEGMENT — documents spanning a boundary emit a row per touched
    sequence, with the in-sequence offset and in-document slice a sharded
    tokenizer needs to materialize the sequence without re-scanning
    neighbors.

    Columns: doc_id, seq_id, seq_offset (where this segment starts inside
    the sequence), doc_offset (where it starts inside the document),
    seg_tokens.

    Plan: reuses :func:`corpus_shards`' two-level cumsum (range-grouped
    per-group windows + broadcast offsets — no global single-task sort),
    then explodes each doc over the sequence range it covers:
    ``sequence(floor(cum/L), floor((cum+n-1)/L))`` — at most
    ``n_tokens/seq_len + 1`` rows per doc, so the explode is linear in
    output size. Empty docs (0 tokens) are dropped (they occupy no
    sequence space).
    """
    mix = corpus_mixture(spark, sf_dir).select("doc_id", "n_tokens")
    hi = mix.agg((F.max("doc_id") + 1).alias("hi"))
    grouped = mix.crossJoin(F.broadcast(hi)).withColumn(
        "grp",
        F.least(
            F.floor(F.col("doc_id") * N_RANGE_GROUPS / F.col("hi")),
            F.lit(N_RANGE_GROUPS - 1),
        ),
    )
    wg = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = grouped.withColumn(
        "cum_in_grp", F.coalesce(F.sum("n_tokens").over(wg), F.lit(0))
    )
    totals = grouped.groupBy("grp").agg(F.sum("n_tokens").alias("grp_total"))
    woff = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "grp_offset", F.coalesce(F.sum("grp_total").over(woff), F.lit(0))
    ).select("grp", "grp_offset")
    packed = (
        within.join(F.broadcast(offsets), "grp")
        .withColumn("cum", F.col("grp_offset") + F.col("cum_in_grp"))
        .filter(F.col("n_tokens") > 0)
    )
    first_seq = F.floor(F.col("cum") / seq_len)
    last_seq = F.floor((F.col("cum") + F.col("n_tokens") - 1) / seq_len)
    seg = packed.select(
        "doc_id",
        "n_tokens",
        "cum",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("seq_id") * seq_len, F.col("cum"))
    seg_end = F.least(
        (F.col("seq_id") + 1) * seq_len, F.col("cum") + F.col("n_tokens")
    )
    return seg.select(
        "doc_id",
        "seq_id",
        (seg_start - F.col("seq_id") * seq_len).cast("bigint").alias("seq_offset"),
        (seg_start - F.col("cum")).cast("bigint").alias("doc_offset"),
        (seg_end - seg_start).cast("bigint").alias("seg_tokens"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    base_rate: float,
    salt: str = "wsample:",
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    ``min(1, base_rate * weight)`` decided by a content-independent hash
    of its id (same hash-gate mechanism as the mixture sampler — stable
    under repartitioning, retries, and engine changes, unlike
    ``df.sample``'s per-partition RNG). ``weight_col`` is any
    non-negative per-row score (e.g. a quality signal): weight 1/base_rate
    or more guarantees the row survives; weight 0 guarantees it drops.

    Pure per-row predicate — zero shuffle, composes with any plan.
    """
    bucket = (
        portable_hash64(F.concat(F.lit(salt), F.col(id_col).cast("string")))
        % 1_000_000
    )
    keep_p = F.least(
        F.lit(1.0), F.lit(float(base_rate)) * F.col(weight_col)
    )
    return df.filter(bucket < keep_p * 1_000_000)


_SEQ_ROLLUP_ORACLE = f"""
WITH mix2 AS (
  SELECT doc_id, {_N_TOKENS_SQL} AS n_tokens
  FROM documents
  WHERE {sql_portable_hash64("CAST(doc_id AS VARCHAR)")} % 1000 < {_sql_rate('lang')}
),
packed2 AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM mix2
),
nz AS (SELECT * FROM packed2 WHERE n_tokens > 0),
seg AS (
  SELECT doc_id, n_tokens, cum,
    unnest(generate_series(
      CAST(floor(cum / {SEQ_LEN_DEFAULT}.0) AS BIGINT),
      CAST(floor((cum + n_tokens - 1) / {SEQ_LEN_DEFAULT}.0) AS BIGINT)
    )) AS seq_id
  FROM nz),
segs AS (
  SELECT doc_id, seq_id,
    LEAST((seq_id + 1) * {SEQ_LEN_DEFAULT}, cum + n_tokens)
      - GREATEST(seq_id * {SEQ_LEN_DEFAULT}, cum) AS seg_tokens
  FROM seg)
SELECT 'sequence' AS kind, seq_id AS shard_id, count(*) AS n_docs,
  CAST(SUM(seg_tokens) AS BIGINT) AS shard_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM segs GROUP BY seq_id
"""


@query(
    "corpus_shards",
    oracle=f"""
SELECT 'shard' AS kind, shard_id, n_docs, shard_tokens, first_doc, last_doc
FROM ({_SHARDS_ORACLE})
UNION ALL
SELECT * FROM ({_SEQ_ROLLUP_ORACLE})
""",
)
def corpus_shards_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-manifest family, tagged: the token-budget shard manifest
    (kind='shard' — :func:`corpus_shards`, the two-level cumsum) plus a
    per-sequence rollup of the fixed-length training-sequence packing
    manifest (kind='sequence' — :func:`pack_sequences` grouped by
    sequence: segment count, realized tokens, doc range). The rollup
    value-checks the whole packing machinery — cumsum offsets, boundary
    explode, segment arithmetic — against the oracle's one-window
    reference form; the per-segment manifest itself stays library API
    (its invariants are pytest-gated in ``tests/test_sampling.py``)."""
    shards = corpus_shards(spark, sf_dir).select(
        F.lit("shard").alias("kind"),
        "shard_id",
        "n_docs",
        "shard_tokens",
        "first_doc",
        "last_doc",
    )
    seqs = (
        pack_sequences(spark, sf_dir)
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("seg_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.lit("sequence").alias("kind"),
            F.col("seq_id").alias("shard_id"),
            "n_docs",
            "shard_tokens",
            "first_doc",
            "last_doc",
        )
    )
    return shards.unionByName(seqs)
