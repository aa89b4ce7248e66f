"""Reference expression forms for the per-row text kernel tests.

The engine computes ``pii_scrub``, ``quality_rules``,
``simhash_fingerprints``, ``text_profile``, ``corpus_bigrams`` and the
MinHash/gram features with Arrow kernels only: one fused Python pass per
row. Each function here spells the same output with Spark's JVM
built-ins (regexp, array and higher-order functions), the way the DuckDB
oracle spells it. The kernels must equal these forms row for row and bit
for bit on the inputs the oracle corpus never carries: adversarial
Unicode and PII strings, NULL text. The expression forms make many
interpreted passes per row, which is why the engine does not run them;
on the small frames the tests use that costs nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import NON_WS, WS_SPLIT, normalize_text
from gcp_map_reduce_spark.operators.curation_rules import (
    EMAIL_RE,
    IPV4_RE,
    LANG_MARKERS,
    MAX_RUN,
    MAX_TOP_TOKEN_FRAC,
    MIN_DISTINCT_RATIO,
    MIN_TOKENS,
    PHONE_RE,
    PHONE_REPL_SPARK,
)
from gcp_map_reduce_spark.operators.dedup import (
    MERSENNE31,
    MINHASH_A,
    MINHASH_B,
    NUM_HASHES,
    ROLL_C,
    SIMHASH_BITS,
    _token_hash_expr,
    portable_hash64,
)
from gcp_map_reduce_spark.operators.text_analysis import (
    STOPWORDS,
    _marker_score,
)
from gcp_map_reduce_spark.operators.text_analysis import (
    LANG_MARKERS as PROFILE_LANG_MARKERS,
)


def _words(text: Column) -> Column:
    """Non-empty tokens of the normalized text (the engine tokenizer)."""
    return F.filter(
        F.split(normalize_text(text, trim=False), WS_SPLIT), lambda t: t != ""
    )


# -- curation rules --------------------------------------------------------


def pii_scrub_expr(doc: DataFrame) -> DataFrame:
    """``pii_scrub`` rows over a (doc_id, text, ...) DataFrame."""
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(salted, EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            PHONE_REPL_SPARK,
        ),
        IPV4_RE,
        "<IP>",
    )
    return doc.select(
        "doc_id",
        F.size(F.regexp_extract_all(salted, F.lit(EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(salted, F.lit(PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        F.size(F.regexp_extract_all(salted, F.lit(IPV4_RE), F.lit(0))).alias("n_ips"),
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_hash"),
    )


def _lang_cols(text_col: Column) -> tuple[Column, Column]:
    """(lang_pred, lang_score): replace-length counting of the padded
    markers, with the padding, tie-break and "und" rules of
    ``curation_rules._lang_id_scorer``."""
    padded = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))

    def count_m(m: str) -> Column:
        return (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
            / F.lit(len(m))
        ).cast("int")

    scores = []
    for lang, markers in LANG_MARKERS:
        sc = count_m(markers[0])
        for m in markers[1:]:
            sc = sc + count_m(m)
        scores.append((lang, sc))
    best = scores[0][1]
    for _, sc in scores[1:]:
        best = F.greatest(best, sc)
    pred = F.when(best <= 0, F.lit("und"))
    for lang, sc in scores:
        pred = pred.when(sc == best, F.lit(lang))
    return pred, best


def _max_run(tokens: Column) -> Column:
    """Longest run of consecutive identical tokens, as a single fold."""
    return F.aggregate(
        tokens,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc.prev, acc.run + F.lit(1)).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(t == acc.prev, acc.run + F.lit(1)).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def quality_rules_expr(doc: DataFrame) -> DataFrame:
    """``quality_rules`` rows over a (doc_id, text, ...) DataFrame."""
    tokens = F.split(F.lower(F.col("text")), WS_SPLIT)
    lang_pred, lang_score = _lang_cols(F.col("text"))
    d = doc.select(
        "doc_id",
        tokens.alias("t"),
        lang_pred.alias("lang_pred"),
        lang_score.alias("lang_score"),
    )
    distinct = F.array_distinct(F.col("t"))
    top_cnt = F.array_max(
        F.transform(
            distinct, lambda u: F.size(F.filter(F.col("t"), lambda x: x == u))
        )
    )
    n = F.size(F.col("t"))
    bigrams = F.when(
        n >= 2,
        F.expr(
            "transform(sequence(2, size(t)), i ->"
            " concat(element_at(t, i-1), ' ', element_at(t, i)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.select(
        "doc_id",
        "t",
        n.alias("n_tokens"),
        F.size(distinct).alias("n_distinct"),
        top_cnt.alias("top_cnt"),
        bigrams.alias("bigrams"),
        _max_run(F.col("t")).alias("max_run"),
        "lang_pred",
        "lang_score",
    )
    top_bigram_cnt = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(F.col("bigrams")),
                lambda u: F.size(F.filter(F.col("bigrams"), lambda x: x == u)),
            )
        ),
        F.lit(0),
    )
    distinct_ratio = F.col("n_distinct") * F.lit(1.0) / F.col("n_tokens")
    top_token_frac = F.col("top_cnt") * F.lit(1.0) / F.col("n_tokens")
    return d.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        distinct_ratio.alias("distinct_ratio"),
        top_token_frac.alias("top_token_frac"),
        F.when(
            F.col("n_tokens") >= 2,
            top_bigram_cnt * F.lit(1.0) / (F.col("n_tokens") - F.lit(1)),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        "max_run",
        "lang_pred",
        "lang_score",
        (
            (F.col("n_tokens") >= MIN_TOKENS)
            & (distinct_ratio >= MIN_DISTINCT_RATIO)
            & (top_token_frac <= MAX_TOP_TOKEN_FRAC)
            & (F.col("max_run") <= MAX_RUN)
        )
        .cast("int")
        .alias("keep"),
    )


# -- text analysis ---------------------------------------------------------

# Java spelling of text_analysis._BPE_RE_SQL: letter runs | digit runs |
# single non-space symbol
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def profile_metrics_expr(docs: DataFrame) -> DataFrame:
    """The metric rows of ``text_analysis.profile_metrics_arrow`` over a
    (doc_id, lang, text) DataFrame."""
    low_words = F.split(F.lower(F.col("text")), WS_SPLIT)
    norm = normalize_text(F.col("text"))
    w = F.filter(F.split(norm, WS_SPLIT), lambda t: t != "")
    scores = [
        _marker_score(low_words, mk).alias(f"s_{lang}")
        for lang, mk in PROFILE_LANG_MARKERS.items()
    ]
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *scores,
        F.regexp_count("text", F.lit("[\\x{4e00}-\\x{9fff}]")).alias("s_zh"),
        F.length("text").alias("n_chars"),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
        _marker_score(low_words, STOPWORDS).alias("n_stop"),
        F.regexp_count("text", F.lit(r"[\p{Punct}]")).alias("n_punct"),
        F.regexp_count("text", F.lit("[0-9]")).alias("n_digit"),
        F.regexp_count("text", F.lit(NON_WS + "+")).alias("n_ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_RE)).alias("n_bpe_tokens"),
        F.md5(norm).alias("fp"),
        F.length(norm).alias("n_norm_chars"),
        F.regexp_count(norm, F.lit(NON_WS)).alias("n_nonws"),
    )


def corpus_bigrams_expr(docs: DataFrame) -> DataFrame:
    """``corpus_bigrams`` rows over a (doc_id, text) DataFrame: zip_with
    over a shifted slice, explode, groupBy + count_distinct."""
    w = _words(F.col("text"))
    shifted = F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0)))
    grams = F.zip_with(
        w,
        shifted,
        lambda g, t: F.when(g.isNull() | t.isNull(), F.lit(None)).otherwise(
            F.concat(g, F.lit(" "), t)
        ),
    )
    flat = docs.select(
        "doc_id",
        F.explode(F.filter(grams, lambda x: x.isNotNull())).alias("bigram"),
    )
    return flat.groupBy("bigram").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# -- dedup sketches --------------------------------------------------------


def simhash_fingerprints_expr(docs: DataFrame) -> DataFrame:
    """``simhash_fingerprints`` rows over a (doc_id, text) DataFrame: all
    60 bit votes as one wide aggregate over the (doc, word) counts."""
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(normalize_text(F.col("text"), trim=False), WS_SPLIT)
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("th", portable_hash64(F.col("word")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    fp = sum(
        F.when(F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", fp.alias("simhash"))


def token_hash_expr(fast_hash: bool = False) -> Column:
    """array<bigint> of per-token base hashes (mod P) of ``text``: the
    portable md5 family hashes every token occurrence; ``fast_hash`` is
    the engine's own xxhash64 front half."""
    if fast_hash:
        return _token_hash_expr()
    return F.transform(
        _words(F.col("text")), lambda s: portable_hash64(s) % MERSENNE31
    )


def gram_hash_arrays_for(
    docs: DataFrame, n: int = 3, fast_hash: bool = False
) -> DataFrame:
    """(doc_id, gh_arr) — DISTINCT rolling hashes of each doc's n-token
    shingles: ``((h1*C + h2) % P) * C + h3) % P`` over shifted zip_with
    slices. Null padding past the shorter slice propagates through the
    arithmetic and is filtered."""
    th = token_hash_expr(fast_hash)
    g = th
    for j in range(1, n):
        shifted = F.slice(th, j + 1, F.greatest(F.size(th) - j, F.lit(0)))
        g = F.zip_with(g, shifted, lambda a, b: (a * ROLL_C + b) % MERSENNE31)
    gh_arr = F.array_distinct(F.filter(g, lambda x: x.isNotNull()))
    return docs.select("doc_id", gh_arr.alias("gh_arr"))


def minhash_signatures_for(gh: DataFrame) -> DataFrame:
    """(doc_id, sig) for a (doc_id, gh_arr) DataFrame: the k affine
    remaps' minima as one higher-order-function fold; docs without a
    gram get no row."""
    init = F.array(*[F.lit(MERSENNE31).cast("long")] * NUM_HASHES)
    remaps = lambda h: F.array(  # noqa: E731
        *[(F.lit(a) * h + F.lit(b)) % MERSENNE31 for a, b in zip(MINHASH_A, MINHASH_B)]
    )
    sig = F.aggregate(
        F.col("gh_arr"),
        init,
        lambda acc, h: F.zip_with(acc, remaps(h), lambda x, y: F.least(x, y)),
    )
    return gh.filter(F.size("gh_arr") > 0).select("doc_id", sig.alias("sig"))
