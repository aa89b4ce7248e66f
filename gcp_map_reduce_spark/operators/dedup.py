"""Deduplication operators for training-data pipelines.

Not present in the reference (its only dedup is the map-side ``set`` on
(token, doc) pairs, ``scripts/invertedindex_map.py:8-16`` — exact distinct).
These are the standard large-corpus dedup ladder:

- exact: hash-groupBy on content (or normalized content);
- n-gram Jaccard: exact set-similarity via a prefix-filtered shingle
  index join (AllPairs/PPJoin bounds);
- MinHash + LSH banding: the 100 TB path — constant-size signatures, only
  band-collision candidates are verified, never all pairs;
- SimHash: 60-bit fingerprints, near-dup = small Hamming distance, banded
  by 15-bit chunks.

Scale notes: the prefix join in ``dedup_ngram_jaccard`` is exact at every
density but still quadratic in the size of a dup clique sharing a prefix
gram; at 100 TB you run ``dedup_minhash`` (bounded shuffle: k signature
longs per doc) and verify only its candidates.

Hash family: every sketch here hashes through ``portable_hash64`` — a
60-bit integer parsed from the md5 hex digest. md5 is available in both
Spark (JVM codegen) and DuckDB, so the minhash signatures and simhash
fingerprints are bit-reproducible in the oracle: the sketch operators are
fully value-hash-checked, not rows-only. ``fast_hash=True`` swaps in
Spark's xxhash64 (faster, but not in DuckDB).

MinHash/gram features: one numpy core (``_gram_features``) behind two
front halves — the fused md5 text kernel (``doc_text_features_arrow``)
and the JVM token-hash kernel (``minhash_features_arrow``, the xxhash64
family) — picked in one place (``minhash_features_for``); every corpus
consumer loads through ``doc_minhash_features``. The SimHash
fingerprints are one Arrow kernel too (``simhash_fingerprints``).
"""

from __future__ import annotations

import hashlib
import logging
import string
import threading

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import WS_SPLIT, normalize_text, sql_normalize
from gcp_map_reduce_spark.operators.scale import materialize
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus, load_table

log = logging.getLogger(__name__)

# -- portable hashing (Spark + DuckDB twin expressions) --------------------

MERSENNE31 = 2_147_483_647  # 2^31 - 1
ROLL_C = 1_000_003  # rolling-combine multiplier for gram hashes


def portable_hash64(c: Column) -> Column:
    """60-bit integer hash of a string, identical in Spark and DuckDB:
    the first 15 hex digits of md5, parsed as an integer. JVM-side
    (md5 + conv are codegen'd) — no Python in the row path."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_portable_hash64(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash64`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# -- exact dedup ----------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
SELECT 'raw' AS kind, md5(text) AS text_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
UNION ALL
SELECT 'normalized' AS kind, md5({sql_normalize('text')}) AS text_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 2 HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, two granularities in one result (tagged by ``kind``):

    - ``raw``: one group per byte-identical text (all groups);
    - ``normalized``: groups that collide only after §1.4 normalization
      (case/punct/ASCII folding) with >1 member — trivially-reformatted
      copies.

    Hash-groupBy => map-side partial agg, single shuffle on the 128-bit
    digest (no skew: hashes are uniform). One scan feeds both branches.
    NO degenerate-split fan-out here, deliberately: measured at sf0.1 a
    pre-agg Exchange costs 2.5x (0.30 -> 0.77 s, text bytes shuffled
    twice for the two branches) against a ~0.2 s stress-straggler gain —
    md5+normalize is too cheap per row to buy an exchange. Contrast
    ``doc_tokens``/``salted_token_counts``, where tokenize+explode is
    heavy enough that the conditional fan-out wins at stress and is free
    at sf0.1. Also measured (r8): computing both hashes in ONE scan and
    checkpointing (doc_id, h_raw, h_norm) before the two groupBys is a
    wash — 0.35 vs 0.33 s at sf0.1, 0.95 vs 1.03 s at stress — because
    the branch scans run CONCURRENTLY and the checkpoint write costs
    what the saved pass saves; the dual-scan form stays.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select(F.lit("raw").alias("kind"), "text_hash", "keep_doc_id", "n_copies")
    )
    norm = (
        docs.groupBy(F.md5(normalize_text(F.col("text"))).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select(
            F.lit("normalized").alias("kind"), "text_hash", "keep_doc_id", "n_copies"
        )
    )
    return raw.unionByName(norm)


def dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id) survivors of raw exact dedup — the library form consumed
    by the curation pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


# -- gram hashes (shared by the jaccard / minhash oracles) -----------------


def _gram_hashes_subquery(n: int = 3, pred: str = "TRUE") -> str:
    """Self-contained DuckDB subquery: DISTINCT (doc_id, gh) rolling
    n-gram hashes of the documents matching ``pred`` — the twin of
    :func:`doc_text_features_arrow`'s gram arrays (identical
    integer arithmetic, so collisions — ~1e-3 likely per 10^5 docs in
    the 2^31 space — land identically in both engines)."""
    p, c = MERSENNE31, ROLL_C
    roll = "h[i]"
    for j in range(1, n):
        roll = f"(({roll} * {c} + h[i+{j}]) % {p})"
    return f"""(
  SELECT DISTINCT doc_id, {roll} AS gh
  FROM (
    SELECT doc_id,
      list_transform(
        list_filter(regexp_split_to_array({sql_normalize('text')}, '{WS_SPLIT}'),
                    t -> t <> ''),
        t -> {sql_portable_hash64('t')} % {p}) AS h
    FROM documents WHERE {pred}
  ), UNNEST(range(1, len(h) - {n - 2})) AS t(i)
  WHERE len(h) >= {n}
)"""


def _gram_hashes_sql() -> str:
    """``grams`` CTE (n=3, all documents) — the shared oracle front end
    of the jaccard / clusters / curated-corpus / minhash twins."""
    return f"grams AS {_gram_hashes_subquery(3)}"


_NGRAM_JACCARD_ORACLE = f"""
WITH {_gram_hashes_sql()},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, isect,
  CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= 0.8
"""


JACCARD_THRESHOLD = 0.8


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    arr: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: 3-shingle Jaccard >= 0.8 over shingle FINGERPRINTS
    (Broder-style): each shingle is its rolling gram hash in the 2^31
    space, not the gram string — the join shuffles 8-byte longs instead
    of ~25-byte strings and the per-doc build avoids per-gram concats.
    Fingerprint collisions are possible but DETERMINISTIC and mirrored
    exactly by the oracle (same md5-based token hashes, same rolling
    arithmetic — see :func:`_gram_hashes_sql`), so the value-hash gate
    stays exact; semantically a collision perturbs one intersection
    count with probability ~|shingles|^2/2^31 per corpus.

    The plan is exact PREFIX FILTERING (Bayardo et al.'s AllPairs bound)
    with the PPJoin length and positional filters: index only each
    doc's FIRST ``|A| - ceil(t*|A|) + 1`` gram hashes under the global
    ascending hash order; any pair with Jaccard >= t must share a
    prefix gram, so the candidate set provably contains every
    qualifying pair. Each candidate is then verified ONCE via
    ``array_intersect`` on the per-doc arrays (distinct elements, so
    its size IS the intersection count). The result is bit-identical to
    the full inverted-index self-join the oracle spells out
    (``tests/ngram_reference.py`` keeps that join as the test
    reference). The ceil is exact integer arithmetic — double 0.8 sits
    above the rational 4/5, and a float ceil would shorten the prefix
    into false negatives at |A| % 5 == 0.

    It is the one form because it is the only exact one that holds at
    every density. The full self-join emits one row per SHARED GRAM per
    pair — 113M intersection rows at the 10x-dup-density stress set,
    where the prefix plan emits 23.9M candidate-gram rows — and on the
    50k-doc ``tools/gen_stress.py`` set it lost the JVM, while the
    prefix form finished. At bench density the full form was ~0.1-0.9 s
    faster, less than the sampled density probe that used to choose
    between them cost.

    The join is pinned to SHUFFLE_MERGE: Catalyst's size estimate under
    an explode is the CHILD's, so it would happily broadcast the
    corpus-wide prefix index (~20M rows at stress from a ~1 MB
    estimate) — fatal once per-doc fan-out times corpus size outgrows
    memory, and it blocks AQE's skew split (sort-merge only)."""
    # ``arr`` is the COMPACT array form (one row per doc), not the
    # exploded index: |A| comes free as size(gh_arr) with no groupBy
    # shuffle, and each join side re-slices from the checkpoint — the
    # gram build is what must not run twice. The checkpoint stays
    # UNSORTED; the prefix sorts on read — its bound needs one global
    # total order shared by every doc, and array_intersect is
    # order-insensitive.
    t = JACCARD_THRESHOLD
    # t as an exact rational: double 0.8 is slightly ABOVE 4/5, so every
    # bound below uses integer arithmetic on (t_num, t_den) — float
    # rounding would turn the filters into false negatives
    t_num, t_den = 4, 5
    assert t_num / t_den == t
    # ``arr`` lets a caller supply an ALREADY-MATERIALIZED
    # (doc_id, gh_arr) relation — dedup_pair_scores shares one feature
    # pass across its ngram and minhash legs instead of paying the
    # corpus scan + per-token hash twice (r9)
    if arr is None:
        arr = materialize(doc_minhash_features(spark, sf_dir, want_sig=False))
    # prefix length |A| - ceil(t|A|) + 1 (AllPairs): if the two docs
    # share NO gram among these heads, fewer than t|A| of A's grams can
    # be shared at all, so Jaccard < t
    sz = F.size("gh_arr")
    min_overlap = F.floor((sz * t_num + (t_den - 1)) / t_den)
    plen = (sz - min_overlap + 1).cast("int")
    pref = arr.select(
        "doc_id",
        sz.alias("sz"),
        # pos is the gram's 0-based rank in the FULL sorted array (the
        # prefix is its head) — the positional filter below needs it
        F.posexplode(F.slice(F.array_sort("gh_arr"), 1, plen)).alias(
            "pos", "gh"
        ),
    )
    a = pref.alias("a")
    b = pref.alias("b")
    # PPJoin pruning inside the merge join (r9, measured at stress;
    # both bounds in exact integer arithmetic for t = 4/5):
    # - LENGTH filter: jac >= t forces isect <= min(|A|,|B|) and
    #   union >= max, so t*max <= min — kills size-mismatched pairs
    #   (22.46M -> 8.42M candidates, 14.8 -> 8.8 s).
    # - POSITIONAL filter: jac >= t also forces
    #   isect >= alpha = ceil(t/(1+t) * (|A|+|B|)) = ceil(4(a+b)/9),
    #   and for a shared gram at sorted ranks (pa, pb) with NO shared
    #   gram before it, isect <= min(|A|-pa, |B|-pb). Filtering every
    #   match row by its own bound is exact: a qualifying pair always
    #   survives via its FIRST shared prefix gram's row (8.9 -> 4.6 s;
    #   result rows bit-identical, 249,288 = 249,288 at stress).
    # Both prune BEFORE the dedup shuffle and the per-pair O(|A|+|B|)
    # array_intersect verify, which stage profiling showed is ~all the
    # cost. A repartition of the survivors was measured and rejected
    # (+1.7 s — AQE's coalesce is already right here).
    # ceil(4(a+b)/9) via integer div — `div` keeps it exact at any size
    alpha = F.expr(
        f"(((a.sz + b.sz) * {t_num}) + {t_num + t_den - 1}) div {t_num + t_den}"
    )
    cand = (
        a.hint("SHUFFLE_MERGE")
        .join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * t_den >= F.col("b.sz") * t_num)
            & (F.col("b.sz") * t_den >= F.col("a.sz") * t_num)
            & (
                F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
                >= alpha
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ga = arr.select(F.col("doc_id").alias("doc_a"), F.col("gh_arr").alias("ga"))
    gb = arr.select(F.col("doc_id").alias("doc_b"), F.col("gh_arr").alias("gb"))
    # cast to long: the oracle's count(*) and the test reference's
    # F.count are LongType, and callers union / write this schema
    isect = F.size(F.array_intersect("ga", "gb")).cast("long")
    jac = isect.cast("double") / (
        F.size("ga") + F.size("gb") - isect
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            isect.alias("isect"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


# -- MinHash + LSH (the scale path) ---------------------------------------

NUM_HASHES = 32  # signature length k
BANDS = 8  # b bands of r = k/b rows; P(collide) = 1-(1-j^r)^b


def _token_hash_expr() -> Column:
    """array<bigint> of per-token xxhash64 base hashes (mod P) for the
    ``text`` column, as a JVM expression — the front half of
    :func:`minhash_features_for`'s fast family."""
    w = F.filter(
        F.split(normalize_text(F.col("text"), trim=False), WS_SPLIT),
        lambda t: t != "",
    )
    return F.transform(w, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE31)))


# Fixed affine hash family over the Mersenne prime: h_i(x) = (A_i*x + B_i)
# mod P. Literal coefficients are embedded in BOTH the feature kernel
# and the oracle SQL, so the two compute identical signatures.
_rng = np.random.RandomState(1337)
MINHASH_A = [int(v) for v in _rng.randint(1, MERSENNE31, NUM_HASHES, dtype=np.int64)]
MINHASH_B = [int(v) for v in _rng.randint(0, MERSENNE31, NUM_HASHES, dtype=np.int64)]


# Feature and SimHash kernels reach only module constants, numpy, pandas
# and the stdlib from inside a task: Spark ships nested functions by
# value but module-level ones by reference, and a Python worker need not
# be able to import this package. Helpers are therefore factories called
# on the driver.

# Distinct tokens one task's md5 memo holds before it starts over. The
# memo pays because a corpus's vocabulary is tiny next to its token
# occurrences; the cap bounds a task's memory (~130 B per entry, so
# ~35 MB at the cap) on a vocabulary-rich shard.
TOKEN_HASH_CACHE_MAX = 1 << 18

# de-punctuate table of the Python normalize chain (PY_NORMALIZE's rule
# order: de-punctuate, lower, ASCII-delete; after the fold str.split()
# is the WS-class split)
_PUNCT_DEL = str.maketrans("", "", string.punctuation)


def _md5_token_hasher():
    """``w -> int(md5(utf8(w))[:15 hex], 16)`` — :func:`portable_hash64`
    in Python — memoised per distinct token. Built on the driver; every
    task unpickles its own copy with an empty memo, which is cleared
    whenever it holds ``TOKEN_HASH_CACHE_MAX`` tokens (a reset costs
    re-hashes, never a different answer). Shared by the fused feature
    kernel and the SimHash kernel."""
    cap = TOKEN_HASH_CACHE_MAX
    memo: dict[str, int] = {}

    def h64(w: str) -> int:
        v = memo.get(w)
        if v is None:
            if len(memo) >= cap:
                memo.clear()
            v = memo[w] = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
        return v

    return h64


def _gram_features(n: int, want_sig: bool, want_arr: bool):
    """The numpy core of the MinHash/gram feature family, built for one
    kernel: ``core(ids, ths)`` maps per-doc token-hash arrays to a pandas
    frame of (doc_id[, sig][, gh_arr]), or None when no doc has a gram.
    Both front halves call it. Token hashes are reduced mod P here, once
    per batch (the JVM front half already did; the md5 one passes raw
    60-bit hashes).

    A NULL array (NULL text) or one with fewer than ``n`` tokens has no
    gram and produces no row.
    Signatures are the k affine remaps' per-segment minima over the raw
    gram stream (duplicates cannot change a minimum, so none are
    dropped first); gram arrays are each doc's distinct values,
    sorted, from one stable (segment, value) sort and a first-in-run
    mask — no Python loop over docs. Work for an output that was not
    asked for is skipped. Exactness: h < 2^31 and C < 2^20 keep every
    intermediate under 2^62, so int64 numpy == Spark long == DuckDB
    BIGINT and the oracle reproduces both outputs bit for bit."""

    def core(ids, ths):
        import pandas as pd

        lens = np.fromiter(
            (-1 if v is None else len(v) for v in ths), np.int64, len(ths)
        )
        keep = lens >= n
        if not keep.any():
            return None
        flat = (
            np.concatenate(
                [np.asarray(v, np.int64) for v, k in zip(ths, keep) if k]
            )
            % MERSENNE31
        )
        gk = lens[keep] - (n - 1)
        offs = np.concatenate(([0], np.cumsum(lens[keep])))[:-1]
        gstarts = np.concatenate(([0], np.cumsum(gk)))[:-1]
        # flat indices of each doc's gram windows (boundary-safe)
        idx = np.repeat(offs, gk) + (
            np.arange(int(gk.sum()), dtype=np.int64) - np.repeat(gstarts, gk)
        )
        g = flat[idx]
        for j in range(1, n):
            g = (g * ROLL_C + flat[idx + j]) % MERSENNE31
        out = {"doc_id": np.asarray(ids, np.int64)[keep]}
        if want_sig:
            a_arr = np.array(MINHASH_A, np.int64)
            b_arr = np.array(MINHASH_B, np.int64)
            sig = np.empty((len(gk), NUM_HASHES), np.int64)
            for i in range(NUM_HASHES):
                sig[:, i] = np.minimum.reduceat(
                    (a_arr[i] * g + b_arr[i]) % MERSENNE31, gstarts
                )
            out["sig"] = list(sig)
        if want_arr:
            seg = np.repeat(np.arange(len(gk), dtype=np.int64), gk)
            order = np.lexsort((g, seg))
            gs, ss = g[order], seg[order]
            first = np.ones(len(gs), bool)
            first[1:] = (gs[1:] != gs[:-1]) | (ss[1:] != ss[:-1])
            counts = np.bincount(ss[first], minlength=len(gk))
            out["gh_arr"] = np.split(gs[first], np.cumsum(counts)[:-1])
        return pd.DataFrame(out)

    return core


def _features_schema(want_sig: bool, want_arr: bool) -> str:
    if not (want_sig or want_arr):
        raise ValueError("need at least one of want_sig/want_arr")
    return ", ".join(
        ["doc_id long"]
        + ["sig array<long>"] * want_sig
        + ["gh_arr array<long>"] * want_arr
    )


def minhash_features_arrow(
    th_df: DataFrame, n: int = 3, want_sig: bool = True, want_arr: bool = True
) -> DataFrame:
    """(doc_id[, sig][, gh_arr]) from a (doc_id, th_arr) token-hash
    DataFrame — the JVM front half: the per-token hash already ran as a
    Spark expression (e.g. :func:`_token_hash_expr`), and this
    ``mapInPandas`` pass runs only the numpy core
    (:func:`_gram_features`).

    Why Arrow: Spark's array lambdas (``transform``/``zip_with``/
    ``aggregate``) are CodegenFallback — every element op is an
    interpreted expression eval (~0.5 us measured). The rolling-gram
    chain plus the k-min fold is ~(n-1 + k) ops per gram; at 50k docs x
    ~300 grams x (2+32) ops that interpreted ~380 CPU-seconds on the sf1
    stress set, where the same integer arithmetic in numpy is ~100x
    fewer cycles per op. One pass yields both outputs: the banded plus
    verified edge plan needs signatures AND gram arrays, and separate
    passes ran the tokenize + hash expression twice (~2.9 s of the 6.5 s
    ``dedup_clusters(edge_source="minhash")`` wall at the sf1 stress
    set). Per-partition streaming over Arrow batches — no shuffle, no
    driver collection; memory is O(batch grams)."""
    schema = _features_schema(want_sig, want_arr)
    core = _gram_features(n, want_sig, want_arr)

    def kernel(batches):
        for pdf in batches:
            out = core(pdf["doc_id"].to_numpy(), pdf["th_arr"].to_numpy())
            if out is not None:
                yield out

    return th_df.mapInPandas(kernel, schema)


def doc_text_features_arrow(
    docs: DataFrame, n: int = 3, want_sig: bool = True, want_arr: bool = True
) -> DataFrame:
    """(doc_id[, sig][, gh_arr]) from a (doc_id, text) DataFrame — the
    fused md5 front half (r17): normalize, tokenize and md5 run inside
    the same ``mapInPandas`` task as the numpy core.

    The JVM md5 front half evaluated md5 + hex parse PER TOKEN
    OCCURRENCE — the dominant CPU of every md5-family dedup stage
    (curated_corpus's gram-checkpoint stage profiled 14.7 CPU-s at
    sf0.1, most of it the per-occurrence md5). Here each DISTINCT token
    is md5-hashed once per task (:func:`_md5_token_hasher`), after the
    C-level Python twin of the normalize chain. ``int(md5(utf8)[:15
    hex], 16)`` IS ``conv(substring(md5(w),1,15),16,10)``
    (:func:`portable_hash64`), mod the same prime, so the output is
    bit-equal to a JVM md5 front half (pytest-gated) and every
    downstream registered query re-checks against the DuckDB oracle."""
    schema = _features_schema(want_sig, want_arr)
    core = _gram_features(n, want_sig, want_arr)
    h64 = _md5_token_hasher()

    def kernel(batches):
        for pdf in batches:
            ths = [
                None
                if t is None
                else np.fromiter(
                    map(
                        h64,
                        t.translate(_PUNCT_DEL)
                        .lower()
                        .encode("ascii", "ignore")
                        .decode("ascii")
                        .split(),
                    ),
                    np.int64,
                )
                for t in pdf["text"]
            ]
            out = core(pdf["doc_id"].to_numpy(), ths)
            if out is not None:
                yield out

    return docs.select("doc_id", "text").mapInPandas(kernel, schema)


def minhash_features_for(
    docs: DataFrame,
    n: int = 3,
    fast_hash: bool = False,
    want_sig: bool = True,
    want_arr: bool = True,
) -> DataFrame:
    """(doc_id[, sig][, gh_arr]) for a (doc_id, text) DataFrame — the
    one place that picks the hash family's front half. The portable md5
    family (default; reproducible in DuckDB, so the registered queries
    stay value-hash-checked) runs the fused text kernel; ``fast_hash``
    swaps in Spark's xxhash64 (same statistical quality, not in DuckDB),
    which has no Python twin and so keeps the JVM front half. Batch
    operators and both streaming ``foreachBatch`` bodies call this."""
    if fast_hash:
        return minhash_features_arrow(
            docs.select("doc_id", _token_hash_expr().alias("th_arr")),
            n, want_sig, want_arr,
        )
    return doc_text_features_arrow(docs, n, want_sig, want_arr)


def doc_minhash_features(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    fast_hash: bool = False,
    want_sig: bool = True,
    want_arr: bool = True,
) -> DataFrame:
    """(doc_id[, sig][, gh_arr]) per document of the corpus — one scan,
    one Arrow pass (:func:`minhash_features_for`).

    ZERO-shuffle: each document is one row, and the gram build plus the
    k mins run over the scan's own partitions. No explode, no groupBy:
    at 100 TB the feature stage adds no Exchange at all, where a (doc_id,
    shingle)-exploded groupBy formulation would shuffle k longs per doc.
    Docs shorter than ``n`` tokens are dropped, matching the exploded/
    grouped semantics. ``sig`` feeds the LSH bands, ``gh_arr`` (the
    DISTINCT shingle fingerprints) the exact Jaccard; ask only for what
    the caller reads."""
    docs = load_corpus(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_features_for(docs, n, fast_hash, want_sig, want_arr)


def _minhash_oracle() -> str:
    """Full SQL replica: token hashes, rolling gram hashes, signatures,
    band-collision candidates, estimated Jaccard — identical integer
    arithmetic in identical order, so DuckDB recomputes the exact
    signatures. All-pairs form (fine at oracle scale; the Spark plan is
    the banded join)."""
    p = MERSENNE31
    c = ROLL_C
    r = NUM_HASHES // BANDS
    mins = ",\n    ".join(
        f"min(({a} * gh + {b}) % {p}) AS s{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    band_pred = " OR ".join(
        "("
        + " AND ".join(
            f"a.s{band * r + j} = b.s{band * r + j}" for j in range(r)
        )
        + ")"
        for band in range(BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES)
    )
    return f"""
WITH {_gram_hashes_sql()},
sig AS (
  SELECT doc_id,
    {mins}
  FROM grams GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  ({agree}) / {float(NUM_HASHES)} AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({band_pred})
  AND ({agree}) / {float(NUM_HASHES)} >= 0.7
"""


def minhash_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) — the exploded LSH band rows of a
    (doc_id, sig) DataFrame; band_key is the struct of the band's r
    signature positions (exact equality join key)."""
    r = NUM_HASHES // BANDS
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.col("sig")[band * r + j].alias(f"k{j}")
                            for j in range(r)
                        ]
                    )
                    for band in range(BANDS)
                ]
            )
        ).alias("band_id", "band_key"),
    )


def minhash_band_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) band-collision candidate pairs from a
    (doc_id, sig) signature DataFrame — the shared candidate generator
    for ``dedup_minhash`` and the clusters' minhash edge source. Pass a
    MATERIALIZED sig or the signature pipeline runs once per join side.
    """
    bands = minhash_band_rows(sig)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def dedup_minhash(
    spark: SparkSession,
    sf_dir: str,
    fast_hash: bool = False,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified by signature similarity.

    Pipeline: signatures -> band keys -> explode bands -> self-join on
    (band_id, band_key) -> distinct candidate pairs -> estimated Jaccard =
    fraction of agreeing signature positions; keep >= 0.7.

    At 100 TB this is THE dedup plan: per-doc state is k=32 longs, the
    band join only touches colliding buckets, and AQE splits any hot
    bucket. Recall vs the exact operator is asserted in unit tests, and
    the portable hash family makes the WHOLE result (not just row counts)
    oracle-checked: the DuckDB twin recomputes identical signatures and
    applies the same band-collision predicate over all pairs.

    The band self-join carries (doc_id, band_id, band_key) ONLY — the
    k-long signature (256 B/row) re-joins onto the deduped candidate
    pairs afterwards. That trades one extra shuffle of the candidate set
    (tiny: band collisions only) for a 4x slimmer band exchange, the
    same id-only shape as the embedding dedup/ANN band joins. The band
    key is the STRUCT of the band's r signature values (exact equality —
    a hashed key could admit false-positive candidates the oracle's
    predicate would not). The estimated Jaccard is zip_with agreement
    over the two re-joined arrays.
    """
    # band sides + both signature re-joins read the signatures:
    # materialize once or the whole pipeline runs four times. ``sig``
    # lets a caller supply an already-materialized (doc_id, sig)
    # relation (dedup_pair_scores' shared fused-features pass, r9).
    if sig is None:
        sig = materialize(
            doc_minhash_features(
                spark, sf_dir, fast_hash=fast_hash, want_arr=False
            )
        )
    # repartition the candidate set before the signature re-joins (same
    # shape as near_dup_edges_minhash_verified): AQE coalesces the
    # ~10 MB candidate shuffle to 2 partitions by BYTES, but the
    # zip_with agreement fold is interpreted per-element CPU — measured
    # 2.48 -> 1.96 s at sf1 stress (two 1 s two-task stages -> 32-way),
    # noise-level at sf0.1
    cand = (
        minhash_band_candidates(sig)
        .repartition(spark.sparkContext.defaultParallelism)
        .join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            (agree / F.lit(float(NUM_HASHES))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.7)
    )


# -- SimHash --------------------------------------------------------------

SIMHASH_BITS = 60  # bits of the portable 60-bit token hash
_CHUNK_BITS = 15  # band width for the Hamming-distance join (4 chunks)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc from token-frequency-weighted bit votes.

    For each bit j: vote = sum over distinct tokens of (+cnt if bit j of
    portable_hash64(token) set else -cnt); bit j of the fingerprint =
    vote > 0. A doc without a token gets no fingerprint.

    ZERO-shuffle (r8): one ``mapInPandas`` pass per doc runs the proven
    C-level normalize chain, a token Counter, the md5 hash per DISTINCT
    word (the per-task memo of :func:`_md5_token_hasher` — the corpus
    vocabulary is tiny next to token occurrences) and the 60 votes as
    one numpy sign-matrix product. It replaced the tokenize-explode +
    (doc, word) groupBy + 60-column doc groupBy pipeline (two
    corpus-scale shuffles), which the SQL oracle still spells out. Votes
    are exact integer sums (order-free), the hash is ``int(md5[:15],
    16)`` — identical bytes hashed (tokens are pure ASCII after the
    fold) — so fingerprints are bit-equal to that pipeline
    (pytest-gated).
    """
    docs = load_corpus(spark, sf_dir, "documents").select("doc_id", "text")
    n_bits = SIMHASH_BITS
    h64 = _md5_token_hasher()

    def kernel(batches):
        from collections import Counter

        import pandas as pd

        shifts = np.arange(n_bits, dtype=np.int64)

        for pdf in batches:
            ids, fps = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                if t is None:
                    continue  # a NULL text has no token -> no fingerprint
                toks = (
                    t.translate(_PUNCT_DEL)
                    .lower()
                    .encode("ascii", "ignore")
                    .decode("ascii")
                    .split()
                )
                if not toks:
                    continue  # no token -> no fingerprint
                cnt = Counter(toks)
                H = np.fromiter(
                    (h64(w) for w in cnt), dtype=np.int64, count=len(cnt)
                )
                C = np.fromiter(
                    cnt.values(), dtype=np.int64, count=len(cnt)
                )
                bits = (H[:, None] >> shifts) & 1  # (n_words, 60)
                votes = ((2 * bits - 1) * C[:, None]).sum(axis=0)
                fp = int(((votes > 0).astype(np.int64) << shifts).sum())
                ids.append(doc_id)
                fps.append(fp)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return docs.mapInPandas(kernel, "doc_id long, simhash long")


def _simhash_oracle() -> str:
    """Full SQL replica: fingerprints from the same portable hash, then
    all-pairs Hamming <= 3 (the Spark plan is the chunk-banded join; the
    result sets are identical by the pigeonhole guarantee)."""
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (th >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, word, count(*) AS cnt FROM (
    SELECT doc_id,
      unnest(regexp_split_to_array({sql_normalize('text')}, '{WS_SPLIT}')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY doc_id, word
),
hashed AS (
  SELECT doc_id, cnt, {sql_portable_hash64('word')} AS th FROM toks
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
),
fp AS (SELECT doc_id, {fp} AS simhash FROM votes)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= 3.

    Banding: split the 60-bit fingerprint into 4 chunks of 15 bits; any
    pair within distance 3 agrees on >= 1 chunk (pigeonhole), so the join
    key is (chunk_id, chunk_value) — never all-pairs. The portable hash
    family makes the fingerprints (and hence the full result) identical
    in the DuckDB oracle."""
    fp = simhash_fingerprints(spark, sf_dir)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * _CHUNK_BITS)
                    .bitwiseAND(F.lit((1 << _CHUNK_BITS) - 1))
                    .alias(f"c{i}")
                    for i in range(SIMHASH_BITS // _CHUNK_BITS)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    chunks = materialize(chunks)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


# -- dedup clustering (connected components over near-dup pairs) -----------

MAX_CC_ROUNDS = 64  # pointer doubling: rounds needed ~ log2(diameter)
# Frontier size at or below which a connected-components round's
# label-lookup side is broadcast (<= 2x this many rows of two longs,
# ~32 MB worst case) — late rounds become map-side joins instead of
# full-width shuffles. Above it the round falls back to the shuffle
# join, still frontier-restricted.
FRONTIER_BROADCAST_MAX = 1_000_000
# Edge rows per shuffle partition inside the CC loop (two longs a row:
# ~4 MB at this count) — the loop clamps its shuffle width to
# ceil(n_edges / this), capped at the session width, so small graphs
# run narrow (fewer scheduler round trips per round) and 100 TB graphs
# keep the session's full width.
CC_EDGES_PER_PARTITION = 250_000
# Edge count at or below which connected components runs as a DRIVER
# union-find instead of the distributed fixpoint loop (r16): below one
# shuffle partition's worth of edges the loop is pure scheduler latency
# — each of its ~4 jobs/round moves hundreds of rows — while a collect
# of <= this many (16-byte) edge rows is a few MB and path-halving
# union-find over them is a few ms. Same graph-adaptive discipline as
# the loop-width clamp above: at 100 TB edge counts the fast path never
# fires. Exactness is pinned by tests/test_connected_components.py,
# which checks BOTH paths against the same reference union-find.
CC_DRIVER_MAX_EDGES = CC_EDGES_PER_PARTITION

# One cloned narrow session per (application, width), reused across CC
# calls: newSession() allocates JVM session state that is never
# explicitly releasable, so a fresh clone per call would leak one per
# invocation (2nd review pass). Width values are bounded by the session
# width, so this dict stays a handful of entries. Keys are application
# ids (strings — an id() key could pin a stopped context or be REUSED
# after GC for a different one); the lock closes the check-then-set
# race two concurrent CC calls would otherwise hit, each leaking a
# clone (3rd review pass).
_NARROW_SESSIONS: dict = {}
_NARROW_SESSIONS_LOCK = threading.Lock()


def _narrow_session(spark, width: int):
    """The shared clamped-width clone of ``spark`` (own SQLConf, shared
    context/blocks). Builder-level confs (AQE, timezone) are inherited
    from the context conf; the runtime confs the engine sets after
    session start (sources/tables.py) are re-mirrored on EVERY use —
    mirroring only at creation would freeze whatever the first caller
    had set (3rd review pass)."""
    key = (spark.sparkContext.applicationId, width)
    with _NARROW_SESSIONS_LOCK:
        narrow = _NARROW_SESSIONS.get(key)
        if narrow is None:
            # r16 ADVICE fix: evict clones whose SparkContext is stopped
            # — a long-lived driver creating contexts serially would
            # otherwise pin one session per dead application forever.
            # Entries are only added here, so sweeping on insert keeps
            # the same bound without a py4j call per clone on every hit.
            for k in [
                k
                for k, s in _NARROW_SESSIONS.items()
                if s.sparkContext._jsc is None
                or s.sparkContext._jsc.sc().isStopped()
            ]:
                del _NARROW_SESSIONS[k]
            narrow = spark.newSession()
            narrow.conf.set("spark.sql.shuffle.partitions", str(width))
            _NARROW_SESSIONS[key] = narrow
        for k in ("spark.sql.session.timeZone",
                  "spark.sql.legacy.parquet.nanosAsLong"):
            try:
                narrow.conf.set(k, spark.conf.get(k))
            except Exception:  # noqa: BLE001 - key absent in this build
                pass
    return narrow


def near_dup_edges_minhash_verified(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    fast_hash: bool = False,
) -> DataFrame:
    """(doc_a, doc_b) near-dup edges, the 100 TB shape: minhash band
    collisions generate candidates (bounded shuffle — k longs per doc),
    then the EXACT shingle Jaccard verifies each candidate with a
    per-pair ``array_intersect`` on the two docs' shingle arrays — no
    inverted-index self-join anywhere, so the hot-shingle quadratic
    blowup of the exact edge source can't happen. Recall equals the band
    recall at the threshold (8 bands x 4 rows: >98.5% at j=0.8, ~1.0 for
    the near-identical copies dedup actually targets); precision is
    exact.

    Round-7 measured fixes (this edge leg 4.7 -> 3.0 s best-of-3 at the
    sf1 stress set; the full minhash clustering 7.4 -> ~6.5 s):
    signatures + gram arrays come from ONE fused corpus pass
    (:func:`doc_minhash_features` — separate materializes ran the
    tokenize/hash expression twice, ~0.9 s), and the candidate set is
    repartitioned before the verification join (~1.6 s): when the
    payload side broadcasts, no exchange re-spreads the AQE-coalesced
    band-join output, so the per-pair ``array_intersect`` was running
    on 2 tasks; the id-only repartition costs 16 bytes/pair."""
    feats = materialize(
        doc_minhash_features(spark, sf_dir, n=3, fast_hash=fast_hash)
    )
    cand = minhash_band_candidates(feats.select("doc_id", "sig")).repartition(
        spark.sparkContext.defaultParallelism
    )
    a = feats.select(F.col("doc_id").alias("doc_a"), F.col("gh_arr").alias("sh_a"))
    b = feats.select(F.col("doc_id").alias("doc_b"), F.col("gh_arr").alias("sh_b"))
    isect = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = isect.cast("double") / (F.size("sh_a") + F.size("sh_b") - isect)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b")
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_gram_hashes_sql()},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= 0.8
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_a, doc_a FROM pairs
  UNION SELECT doc_b, doc_b FROM pairs
),
reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS doc_id, min(d) AS cluster_id, count(DISTINCT d) AS reach_size
FROM reach GROUP BY s
"""


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    edge_source: str = "exact",
    fast_hash: bool = False,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    in any >= 0.8-Jaccard pair gets a cluster id (the component's minimum
    doc_id) — the dedup ENDGAME: keep cluster_id == doc_id, drop the rest.

    ``edge_source`` picks where the pair graph comes from:

    - ``"exact"`` (default; what the recursive-CTE oracle checks): the
      prefix-filtered shingle join (``dedup_ngram_jaccard``) — full
      recall at every density, answers independent of any sampling;
    - ``"minhash"`` (the named scale plan): minhash band-collision
      candidates exactly verified per pair
      (``near_dup_edges_minhash_verified``) — bounded shuffle, recall =
      band recall (~1.0 for true copies; a borderline jaccard-0.8 pair
      can miss every band). ``tests/test_dedup.py`` asserts both sources
      produce IDENTICAL clusterings at oracle scale. Dup-heavy callers
      that accept band recall pass it explicitly: it is the faster plan
      on dup-clique corpora such as the ``tools/gen_stress.py`` set.

    Spark side is min-label propagation WITH pointer doubling: each round
    a node's label drops to the minimum of (its label, its neighbors'
    labels, its label's label). The label-chasing term halves chain depth
    every round, so convergence is O(log diameter) — a 10^6-document
    near-dup chain needs ~20 rounds, not 10^6 (plain neighbor-min is
    O(diameter) and would silently split long template chains if capped).
    The loop runs to an observed fixpoint (changed == 0; the driver sees
    only a scalar change count per round) and RAISES if MAX_CC_ROUNDS is
    hit — never returns a silently-unconverged clustering. The DuckDB
    oracle computes the same components via a recursive-CTE transitive
    closure — engine-independent agreement on an iterative algorithm's
    fixpoint. reach_size doubles as the component size.
    """
    if edge_source == "exact":
        edge_df = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    elif edge_source == "minhash":
        edge_df = near_dup_edges_minhash_verified(
            spark, sf_dir, fast_hash=fast_hash
        )
    else:
        raise ValueError(f"unknown edge_source: {edge_source!r}")
    return connected_components(edge_df).select(
        F.col("node").alias("doc_id"), "cluster_id", "reach_size"
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Generic distributed connected components over an undirected edge
    list — (node, cluster_id, reach_size) for every node appearing in any
    pair. ``pairs`` is any DataFrame whose FIRST TWO columns are the edge
    endpoints (orderable, same type); cluster_id is the component's
    minimum node. This is the engine's reusable graph-clustering core
    (``dedup_clusters`` is it applied to near-dup pairs).

    Algorithm: min-label propagation WITH pointer doubling — see
    :func:`dedup_clusters` for the full complexity/termination notes.

    Frontier-restricted rounds (r15, verdict task 2): after the first
    full fold, each round's label-lookup side is restricted to the
    labels of (a) nodes whose label CHANGED last round and (b) those
    nodes' new label targets. That restriction is exact, not a
    heuristic — labels only decrease, so an unchanged neighbor's label
    was already folded in the round it last changed, and the chase term
    ``label(label(s))`` was folded at the round ``s`` acquired its
    current label (the target is a lookup key of that round by (b)) or
    when the target itself last changed (a). An empty frontier is
    therefore a global fixpoint. The payoff is scheduler-latency
    exposure, the suite's worst (r14 bank-flag adjudication in
    SCALING.md): the frontier shrinks geometrically, so the lookup side
    drops under the broadcast threshold after round 1 and the tail
    rounds run as broadcast joins — tiny shuffles, tasks in the
    hundreds-of-rows — instead of full-width shuffle rounds.
    """
    a, b = pairs.columns[:2]
    pairs = materialize(
        pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
    )
    # Driver fast path (r16): a graph under one shuffle partition's
    # worth of edges spends the loop's wall entirely on scheduler
    # latency (~4 jobs per round x 3+ rounds of hundred-row stages,
    # measured ~0.5-0.8 s at bench scale) — collect the materialized
    # pair list once and run path-halving union-find instead. The pair
    # count is known for free conceptually, but the loop needs it
    # anyway for its width clamp; both paths share the one count job.
    n_pairs = pairs.count()
    # mixed-width endpoint columns (e.g. doc_a int, doc_b long) take the
    # loop path, whose union widens both sides naturally — _cc_driver
    # builds its output schema from column 0 alone and would coerce or
    # fail on values drawn from a wider column 1 (r16 ADVICE fix)
    if 2 * n_pairs <= CC_DRIVER_MAX_EDGES and (
        pairs.schema[0].dataType == pairs.schema[1].dataType
    ):
        return _cc_driver(pairs)
    fwd = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    rev = pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    edges = materialize(fwd.union(rev))
    # Size the LOOP's shuffle width to the graph, not the session: AQE's
    # coalescer keeps parallelismFirst, so a 1k-edge label table still
    # shuffles across the full session width and every one of the loop's
    # ~5 stages/round pays a full-width scheduler round trip — the
    # measured wall variance of this operator under load (SCALING.md r15
    # adjudication). At 100 TB edge counts the clamp is a no-op and the
    # session width stands. The narrow width lives in a CLONED session
    # (newSession: own SQLConf, shared SparkContext and block manager),
    # never a set/restore on the caller's — mutating the shared conf
    # would race concurrent queries and nested CC calls (review catch).
    # The materialized edge blocks cross sessions via a global temp
    # view (dropped in the finally).
    spark = pairs.sparkSession
    # edges is fwd UNION ALL rev of the counted pair list — exactly
    # 2 x n_pairs rows; no second count job (r16)
    n_edges = 2 * n_pairs
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # width bucketed to the next power of two (r16 ADVICE fix): the
    # clone cache below is keyed on (application, width), so raw widths
    # could accumulate up to session-width distinct never-released
    # clones on a driver processing many graph sizes; pow2 tiers bound
    # it at ~log2(session width) entries. Rounding UP only — never past
    # the session width — so no graph gets fewer partitions than the
    # clamp intended, and partition count does not affect results.
    raw_width = max(1, -(-n_edges // CC_EDGES_PER_PARTITION))
    loop_width = min(session_width, 1 << (raw_width - 1).bit_length())
    small_graph = n_edges <= FRONTIER_BROADCAST_MAX
    if loop_width >= session_width:
        return _cc_loop(edges, small_graph)
    import uuid

    view = f"cc_edges_{uuid.uuid4().hex}"
    out_view = f"cc_out_{uuid.uuid4().hex}"
    narrow = _narrow_session(spark, loop_width)
    edges.createOrReplaceGlobalTempView(view)
    try:
        # coalesce (no shuffle: blocks are already materialized) so
        # per-round map sides read loop_width blocks, not the
        # session-width block count the first materialize produced
        edges = materialize(
            narrow.table(f"global_temp.{view}").coalesce(loop_width)
        )
        out = _cc_loop(edges, small_graph)
        # REBIND the (already materialized) result to the CALLER's
        # session via a global temp view round-trip: a DataFrame left
        # bound to the clone would silently run every downstream op
        # the caller adds (views, orderBys, unions) under the clone's
        # catalog and narrow width (2nd review pass). The extra
        # materialize is over the final labels table — small.
        out.createOrReplaceGlobalTempView(out_view)
        return materialize(spark.table(f"global_temp.{out_view}"))
    finally:
        spark.catalog.dropGlobalTempView(view)
        spark.catalog.dropGlobalTempView(out_view)


def _cc_driver(pairs: DataFrame) -> DataFrame:
    """Single-machine tail of :func:`connected_components` for graphs
    under ``CC_DRIVER_MAX_EDGES``: collect the (already materialized,
    driver-sized) pair list, label components with path-halving
    union-find rooted at each component's MINIMUM node (identical
    semantics to the distributed loop's min-label fixpoint — both are
    pinned against the same reference in
    tests/test_connected_components.py), and return the labels as one
    Arrow local relation (single record batch, no python-worker
    round-trips — the ``_ids_df`` lesson from the ANN tombstone path)."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = pairs.sparkSession
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in pairs.collect():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {x: find(x) for x in parent}
    sizes: dict = {}
    for root in labels.values():
        sizes[root] = sizes.get(root, 0) + 1
    nodes = list(labels)
    node_dt = pairs.schema[0].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_dt),
            T.StructField("cluster_id", node_dt),
            T.StructField("reach_size", T.LongType()),
        ]
    )
    pdf = pd.DataFrame(
        {
            "node": nodes,
            "cluster_id": [labels[n] for n in nodes],
            "reach_size": [sizes[labels[n]] for n in nodes],
        }
    )
    log.info("connected_components: driver union-find over %d nodes", len(nodes))
    return spark.createDataFrame(pdf, schema=schema)


def _cc_loop(edges: DataFrame, small_graph: bool) -> DataFrame:
    """The pointer-doubling fixpoint loop of :func:`connected_components`
    (split out so the shuffle-width clamp wraps it in one try/finally).
    The returned DataFrame is materialized: its plan must execute under
    the loop's clamped shuffle width, not whatever the session conf says
    when the caller finally collects."""
    labels = edges.groupBy("s").agg(F.min("d").alias("label"))
    labels = materialize(
        labels.select("s", F.least(F.col("s"), F.col("label")).alias("label"))
    )
    frontier = labels  # round 1 folds EVERY label (the induction base)
    n_frontier = None  # unknown until the first round's change count
    rounds = 0
    while True:
        if rounds >= MAX_CC_ROUNDS:
            raise RuntimeError(
                f"connected_components did not converge in {MAX_CC_ROUNDS} rounds"
            )
        rounds += 1
        if n_frontier is None:
            lookup = labels.select(F.col("s").alias("ls"), "label")
            if small_graph:
                # label table rows <= edge rows: driver-sized, so even
                # the full first fold can run as a map-side join
                lookup = F.broadcast(lookup)
        else:
            # changed nodes + their new label targets — the only keys
            # whose labels can carry information not already folded
            keys = (
                frontier.select("s")
                .union(frontier.select(F.col("label").alias("s")))
                .distinct()
            )
            if n_frontier <= FRONTIER_BROADCAST_MAX:
                keys = F.broadcast(keys)
            lookup = labels.join(keys, "s").select(
                F.col("s").alias("ls"), "label"
            )
            if n_frontier <= FRONTIER_BROADCAST_MAX:
                # the lookup side is <= 2x frontier rows of two longs:
                # broadcasting it makes the wide join below map-side
                lookup = F.broadcast(lookup)
        # pointer doubling folded INTO the neighbor-min join: augmenting
        # the edge list with each node's (s -> label(s)) pseudo-edge makes
        # the neighbor-label min also cover label(label(s)) — one join +
        # one groupBy per round instead of separate neighbor and
        # label-chase joins (the union itself is shuffle-free)
        aug = edges.union(labels.select("s", F.col("label").alias("d")))
        neigh = (
            aug.select(F.col("s").alias("ns"), F.col("d").alias("nd"))
            .join(lookup, F.col("nd") == F.col("ls"))
            .groupBy("ns")
            .agg(F.min("label").alias("nlabel"))
        )
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
        )
        # change flag computed in the SAME pass (old label is already a
        # column here) — a separate updated-vs-old join per round would
        # double the per-round shuffle count
        updated = materialize(
            labels.join(neigh, labels.s == neigh.ns, "left").select(
                F.col("s"),
                new_label.alias("label"),
                (new_label < F.col("label")).alias("changed"),
            )
        )
        frontier = updated.filter("changed").select("s", "label")
        n_frontier = frontier.count()
        labels = updated.select("s", "label")
        if n_frontier == 0:
            break
    log.info("connected_components converged in %d rounds", rounds)
    comp = labels.select("s", F.col("label").alias("cluster_id"))
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("reach_size"))
    return materialize(
        comp.join(sizes, "cluster_id")
        .select(F.col("s").alias("node"), "cluster_id", "reach_size")
    )


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB clustering plan, registered in its own right: connected
    components over minhash-candidate edges (exactly verified per pair —
    ``near_dup_edges_minhash_verified``), checked against the SAME
    recursive-CTE oracle as ``dedup_clusters`` — the driver proves the
    scale path and the exact path agree on the full clustering, not just
    that the scale path runs."""
    return dedup_clusters(spark, sf_dir, edge_source="minhash")


# -- registered suites -----------------------------------------------------
#
# The pairwise near-dup operators and the two clustering edge sources stay
# as library API above; the driver-facing registrations consolidate them
# into tagged unions so the whole dedup ladder fits two rows of the
# driver's bounded (~50-query) correctness window. Every branch remains
# fully oracle-checked via its UNION ALL twin in the SQL.


@query(
    "dedup_pair_scores",
    oracle=f"""
SELECT 'ngram_jaccard' AS method, doc_a, doc_b, jaccard AS score
FROM ({_NGRAM_JACCARD_ORACLE})
UNION ALL
SELECT 'minhash', doc_a, doc_b, est_jaccard FROM ({_minhash_oracle()})
UNION ALL
SELECT 'simhash', doc_a, doc_b, CAST(hamming AS DOUBLE)
FROM ({_simhash_oracle()})
""",
)
def dedup_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three pairwise near-dup detectors in one tagged union:
    exact shingle Jaccard (>= 0.8), MinHash-LSH estimated Jaccard
    (>= 0.7), and SimHash Hamming distance (<= 3, score = distance).
    Branches are independent single-responsibility plans (each banded /
    inverted-index shaped, never all-pairs); the union is a shuffle-free
    concatenation."""

    def norm(df: DataFrame, method: str, score) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"),
            "doc_a",
            "doc_b",
            score.cast("double").alias("score"),
        )

    # one fused corpus pass (scan + per-token md5 + gram/signature
    # kernel) feeds BOTH the ngram and the minhash legs — separate
    # gram-array / signature materializes paid the scan and the
    # per-token hash twice (r9; the multi-consumer-
    # recompute class from the r8 audit, one level up). SimHash keeps
    # its own scan: its kernel hashes distinct WORDS, not gram arrays.
    feats = materialize(doc_minhash_features(spark, sf_dir))
    return (
        norm(
            dedup_ngram_jaccard(
                spark, sf_dir, arr=feats.select("doc_id", "gh_arr")
            ),
            "ngram_jaccard",
            F.col("jaccard"),
        )
        .unionByName(
            norm(
                dedup_minhash(
                    spark, sf_dir, sig=feats.select("doc_id", "sig")
                ),
                "minhash",
                F.col("est_jaccard"),
            )
        )
        .unionByName(
            norm(dedup_simhash(spark, sf_dir), "simhash", F.col("hamming"))
        )
    )


@query(
    "dedup_clusters",
    oracle=f"""
WITH clusters AS ({_CLUSTERS_ORACLE})
SELECT 'exact' AS edge_source, doc_id, cluster_id, reach_size FROM clusters
UNION ALL
SELECT 'minhash', doc_id, cluster_id, reach_size FROM clusters
""",
)
def dedup_clusters_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering from BOTH edge sources, tagged:
    the exact shingle self-join graph and the 100 TB minhash-verified
    candidate graph. The oracle emits the same recursive-CTE closure for
    both tags — the driver thereby proves the scale path and the exact
    path agree on the full clustering, not just that the scale path
    runs."""
    exact = dedup_clusters(spark, sf_dir, edge_source="exact")
    mh = dedup_clusters_minhash(spark, sf_dir)
    return exact.select(F.lit("exact").alias("edge_source"), "*").unionByName(
        mh.select(F.lit("minhash").alias("edge_source"), "*")
    )
