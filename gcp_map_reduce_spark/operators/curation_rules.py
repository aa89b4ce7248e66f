"""Curation-rule operators: PII redaction and repetition-based quality
gates (the Gopher/C4 rule family) over the documents corpus.

These complete the text-curation surface (SURVEY.md LLM-pipeline families)
alongside text_analysis.py's profiling pass:

- ``pii_scrub`` — regex redaction of emails / phone numbers / IPv4
  addresses, with per-type match counts. The synthetic corpus contains no
  PII (word-only text), so the operator first injects deterministic
  pseudo-PII derived from ``doc_id`` — identically in Spark and the DuckDB
  oracle — then redacts it; the value check covers the injected+scrubbed
  text hash AND the counts, so the redaction regexes are verified
  end-to-end, not vacuously green on an already-clean corpus.
- ``quality_rules`` — per-document repetition metrics in the style of the
  Gopher rules (Rae et al. 2021) / C4 heuristics: token count, distinct
  ratio, most-frequent-token fraction, most-frequent-bigram fraction,
  longest identical-token run, the resulting keep/drop gate, and (r14) a
  marker-n-gram language-ID column (``lang_pred`` / ``lang_score`` — see
  LANG_MARKERS; exact-integer scoring so the oracle replicates it
  bit-for-bit, fused into the same single document pass).

Both are single-scan and shuffle-free: one Arrow kernel
(``mapInPandas``) per row runs every pattern and fold of the rule in
one pass. The per-doc frequency work is O(tokens) per row (Counters) —
bounded by document length and embarrassingly parallel, which beats an
explode+groupBy+join-back (two shuffles of the exploded corpus) for
bounded-length documents.

Regex portability: patterns are restricted to the Java/RE2 common subset
(no lookarounds, no backreferences; explicit character classes). DuckDB's
``regexp_replace`` needs the ``'g'`` flag to match Spark's replace-all
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gcp_map_reduce_spark.functions.text import WS_SPLIT
from gcp_map_reduce_spark.operators.text_analysis import (
    LANG_MARKERS as _PROFILE_LANG_MARKERS,
)
from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_corpus

# Java/RE2-common-subset PII patterns.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
# NANP-style phone numbers: optional +1 country code, optional (xxx)/xxx-
# area code, then xxx[-. ]xxxx. The separator before the final 4 digits is
# REQUIRED so bare 7-digit integers don't redact. Covers +1-555-0123,
# 555-867-5309, (555) 867-5309, +1 (555) 867-5309, 555.867.5309.
# The left edge is guarded by a CONSUMED capture group (start-of-string or
# a non-digit/dot/dash char) so the tail of a longer digit run never
# redacts ('98765-4321' must not scrub '765-4321', nor dotted IDs like
# '1.234.5678'). A lookbehind would be cleaner but RE2 (the DuckDB oracle
# engine) has none, so replacements must restore the guard char:
# PHONE_REPL_SPARK / PHONE_REPL_SQL.
PHONE_RE = (
    "(^|[^0-9.-])(\\+1[-. ])?(\\([0-9]{3}\\)[ ]?|[0-9]{3}[-. ])?"
    "[0-9]{3}[-. ][0-9]{4}\\b"
)
PHONE_REPL_SPARK = "$1<PHONE>"  # Java replacement backref syntax
PHONE_REPL_SQL = "\\1<PHONE>"  # RE2 rewrite backref syntax (DuckDB)
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

# Gopher-style gate thresholds, centered on the synthetic corpus medians
# (n 10-99 med 56; distinct_ratio med 0.46; top_token_frac med 0.09) so
# the gate genuinely splits the corpus instead of passing everything.
MIN_TOKENS = 30
MIN_DISTINCT_RATIO = 0.4
MAX_TOP_TOKEN_FRAC = 0.12
MAX_RUN = 2

# --- language-ID (r14): the one common LLM-pipeline screen the rule
# suite lacked as a CURATION column. Each language's score is the
# summed NON-OVERLAPPING occurrence count of its space-padded
# function-word markers in the padded lowered text; predicted language
# = argmax, earlier row winning ties, "und" when every score is zero.
# Deliberately exact-integer arithmetic (no floats, no model file):
# Python's str.count and DuckDB's replace-length replica count the same
# greedy left-to-right non-overlapping matches, so kernel and oracle
# are bit-identical by construction, and it rides the same single fused
# document pass as the other rules (zero extra scans).
#
# The marker VOCABULARY is shared with the token-equality language ID
# of text_analysis.text_profile — one vocabulary, two mechanisms: that
# form scores exact token matches over the split text (plus a zh
# char-class leg this substring form deliberately omits); this form
# counts padded substrings so it can fuse into the quality kernel's
# raw-text pass without re-tokenizing. Deriving instead of copying
# means the two can never drift apart.
#
# The SCORES of the two surfaces are NOT comparable — only the
# vocabulary is shared (r15, r14 ADVICE). Non-overlapping substring
# counting consumes the shared space between ADJACENT marker
# occurrences: "the the" scores 1 here (the first " the " match eats
# the middle space) but 2 in text_profile's token-equality form. The
# undercount is systematic, identical in the kernel and the SQL oracle
# (both non-overlapping), and pinned by the repeated-adjacent-marker
# case in tests/test_curation_pii.py. Compare lang_pred across surfaces
# if you must; never lang_score.
LANG_MARKERS: list[tuple[str, list[str]]] = [
    (lang, [f" {w} " for w in words])
    for lang, words in _PROFILE_LANG_MARKERS.items()
]

# SQL replicas of the same score formula (the oracle embeds these):
# count(m in s) = (len(s) - len(replace(s, m, ''))) // len(m)
_LANG_SQL_SCORES = ",\n    ".join(
    " + ".join(
        f"((length(s) - length(replace(s, '{m}', ''))) // {len(m)})"
        for m in markers
    )
    + f" AS s_{lang}"
    for lang, markers in LANG_MARKERS
)
_LANG_SQL_GREATEST = (
    "greatest(" + ", ".join(f"s_{lang}" for lang, _ in LANG_MARKERS) + ")"
)
_LANG_SQL_CASE = (
    "CASE WHEN lang_score <= 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = lang_score THEN '{lang}'"
        for lang, _ in LANG_MARKERS
    )
    + " END"
)


def _lang_id_scorer():
    """``text -> (lang_pred, lang_score)``, the kernel-side scorer — the
    SQL oracle replicates it exactly. Built on the driver as a closure
    over the marker list, so the kernel that calls it pickles by value
    and runs where Spark's Python workers cannot import this package."""
    markers_by_lang = LANG_MARKERS

    def lang_id(text: str) -> tuple[str, int]:
        s = " " + text.lower() + " "
        pred, best = "und", 0
        for lang, markers in markers_by_lang:
            sc = sum(s.count(m) for m in markers)
            if sc > best:  # strict: the earlier language wins ties
                pred, best = lang, sc
        return pred, best

    return lang_id


@query(
    "pii_scrub",
    oracle=f"""
WITH salted AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com call +1-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
      AS salted
  FROM documents),
scrubbed AS (
  SELECT doc_id,
    len(regexp_extract_all(salted, '{EMAIL_RE}')) AS n_emails,
    len(regexp_extract_all(salted, '{PHONE_RE}')) AS n_phones,
    len(regexp_extract_all(salted, '{IPV4_RE}')) AS n_ips,
    regexp_replace(
      regexp_replace(
        regexp_replace(salted, '{EMAIL_RE}', '<EMAIL>', 'g'),
        '{PHONE_RE}', '{PHONE_REPL_SQL}', 'g'),
      '{IPV4_RE}', '<IP>', 'g') AS clean
  FROM salted)
SELECT doc_id, n_emails, n_phones, n_ips,
  length(clean) AS clean_len, md5(clean) AS clean_hash
FROM scrubbed
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and replace emails, phone numbers, and
    IPv4 addresses with typed placeholders. Deterministic pseudo-PII is
    injected from ``doc_id`` first (the synthetic corpus is word-only) so
    the redaction machinery is value-checked end-to-end — the oracle
    recomputes the identical injection, counts, and scrubbed-text hash.

    ONE ``mapInPandas`` kernel per row (:func:`_pii_scrub_kernel`, r8)
    does the three ``re`` passes in C (findall counts on the salted
    text + the chained sub replacements) — measured **4.79 -> 0.92 s at
    the sf1 stress set (5.2x)** against the JVM expression form
    (``regexp_extract_all`` / ``regexp_replace``); every one of the 32
    tasks in that form's heavy stage ran ~4.5 s of Java-regex CPU
    (median == max, so this was compute cost, not a straggler, and the
    fix is cheaper passes, not more fan-out).

    Plan: one documents scan, zero shuffles, linear in text length;
    degenerate-split fan-out via ``load_corpus``.
    """
    doc = load_corpus(spark, sf_dir, "documents")
    return _pii_scrub_kernel(doc.select("doc_id", "text"))


def _pii_scrub_kernel(doc: DataFrame) -> DataFrame:
    """(doc_id, text) -> the pii_scrub row, one Arrow batch at a time.
    Counts are matches on the salted text (each pattern independently),
    the replacement chain is email -> phone -> IP with the phone
    guard-char backreference. Patterns live in the Java/RE2/Python-re
    common subset (module docstring); row identity with the JVM regex
    form is pytest-gated on adversarial PII strings."""
    import hashlib
    import re

    import pandas as pd

    def kernel(batches):
        em = re.compile(EMAIL_RE)
        ph = re.compile(PHONE_RE)
        ip = re.compile(IPV4_RE)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["doc_id"].tolist()
            texts = pdf["text"].tolist()
            out = {
                "doc_id": ids,
                "n_emails": [],
                "n_phones": [],
                "n_ips": [],
                "clean_len": [],
                "clean_hash": [],
            }
            for i, t in zip(ids, texts):
                if t is None:
                    # Spark-SQL parity: concat(NULL, ...) is NULL, so every
                    # computed column is null (the f-string would
                    # otherwise stringify None — silent divergence, not
                    # even a crash)
                    for k in (
                        "n_emails", "n_phones", "n_ips",
                        "clean_len", "clean_hash",
                    ):
                        out[k].append(None)
                    continue
                s = (
                    f"{t} contact user{i}@example.com call "
                    f"+1-555-{i % 10000:04d} from 10.0.{i % 256}.7"
                )
                out["n_emails"].append(len(em.findall(s)))
                out["n_phones"].append(len(ph.findall(s)))
                out["n_ips"].append(len(ip.findall(s)))
                c = ip.sub("<IP>", ph.sub(r"\1<PHONE>", em.sub("<EMAIL>", s)))
                out["clean_len"].append(len(c))
                out["clean_hash"].append(hashlib.md5(c.encode()).hexdigest())
            yield pd.DataFrame(out)

    return doc.mapInPandas(
        kernel,
        "doc_id long, n_emails int, n_phones int, n_ips int, "
        "clean_len int, clean_hash string",
    )


@query(
    "quality_rules",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
    regexp_split_to_array(lower(text), '{WS_SPLIT}') AS t
  FROM documents),
m AS (
  SELECT doc_id, t, len(t) AS n_tokens,
    len(list_distinct(t)) AS n_distinct,
    list_max(list_transform(list_distinct(t),
      u -> len(list_filter(t, x -> x = u)))) AS top_cnt,
    CASE WHEN len(t) >= 2 THEN
      list_transform(range(2, len(t) + 1), i -> t[i-1] || ' ' || t[i])
    ELSE [] END AS bigrams
  FROM toks),
runs AS (
  SELECT doc_id, max(run_len) AS max_run
  FROM (
    SELECT doc_id, count(*) AS run_len
    FROM (
      SELECT doc_id, u.tok,
        u.i - row_number() OVER (PARTITION BY doc_id, u.tok ORDER BY u.i)
          AS grp
      FROM (
        SELECT doc_id,
          unnest(list_transform(range(1, len(t) + 1),
            i -> {{'i': i, 'tok': t[i]}})) AS u
        FROM toks) flat)
    GROUP BY doc_id, tok, grp)
  GROUP BY doc_id),
big AS (
  SELECT doc_id,
    coalesce(list_max(list_transform(list_distinct(bigrams),
      u -> len(list_filter(bigrams, x -> x = u)))), 0) AS top_bigram_cnt
  FROM m),
lsrc AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents),
lsc AS (
  SELECT doc_id,
    {_LANG_SQL_SCORES}
  FROM lsrc),
lpred AS (
  SELECT doc_id, {_LANG_SQL_CASE} AS lang_pred, lang_score
  FROM (SELECT doc_id, {", ".join(f"s_{lang}" for lang, _ in LANG_MARKERS)},
          {_LANG_SQL_GREATEST} AS lang_score FROM lsc))
SELECT m.doc_id, n_tokens, n_distinct,
  n_distinct * 1.0 / n_tokens AS distinct_ratio,
  top_cnt * 1.0 / n_tokens AS top_token_frac,
  CASE WHEN n_tokens >= 2
    THEN top_bigram_cnt * 1.0 / (n_tokens - 1) ELSE 0.0 END
    AS top_bigram_frac,
  max_run, lang_pred, lang_score,
  CAST(n_tokens >= {MIN_TOKENS}
    AND n_distinct * 1.0 / n_tokens >= {MIN_DISTINCT_RATIO}
    AND top_cnt * 1.0 / n_tokens <= {MAX_TOP_TOKEN_FRAC}
    AND max_run <= {MAX_RUN} AS INT) AS keep
FROM m JOIN runs ON m.doc_id = runs.doc_id
  JOIN big ON m.doc_id = big.doc_id
  JOIN lpred ON m.doc_id = lpred.doc_id
""",
)
def quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality gate, per document: token count,
    distinct-token ratio, most-frequent-token fraction, most-frequent-
    bigram fraction, longest identical-token run, and the combined
    keep/drop decision. All ratios are single double divisions of exact
    integer counts, so values are bit-identical to the oracle's.

    One ``mapInPandas`` pass per row (:func:`_quality_rules_kernel`,
    r8) — token Counters for the frequency maxima, ``itertools.groupby``
    for the run length — in place of the interpreted O(distinct x
    tokens) higher-order-array folds of the JVM expression form:
    **1.32 -> 0.74 s at the sf1 stress set (1.8x), 0.53 -> 0.45 s at
    sf0.1**, row-identical (the kernel-boundary rule: many interpreted
    passes over the same per-row data).

    Plan: one documents scan, zero shuffles. The DuckDB oracle computes
    max_run relationally via gaps-and-islands over an unnested (i,
    token) list — deliberately a DIFFERENT algorithm than the kernel's
    scan, which makes the cross-check stronger."""
    # the per-row frequency work is the heaviest CPU in the engine; a
    # small local file scans as one split and would serialize it — fan
    # out only in that degenerate case
    doc = load_corpus(spark, sf_dir, "documents")
    return _quality_rules_kernel(doc.select("doc_id", "text"))


def _quality_rules_kernel(doc: DataFrame) -> DataFrame:
    """(doc_id, text) -> the quality_rules row, one Arrow batch at a
    time. ``re.split(WS_SPLIT, text.lower())`` reproduces Java and
    DuckDB ``split(lower(text), WS_SPLIT)`` exactly, including empty
    leading/trailing tokens (kept and counted as tokens — the same
    LOWERED-RAW-split equivalence the profile kernel's adversarial
    Unicode gate pins). Counters give the token/bigram frequency maxima,
    ``itertools.groupby`` the longest identical run; ratios are the
    identical single double divisions."""
    import re
    from collections import Counter
    from itertools import groupby

    import pandas as pd

    lang_id = _lang_id_scorer()

    def kernel(batches):
        pat = re.compile(WS_SPLIT)
        for pdf in batches:
            if pdf.empty:
                continue
            out = {
                "doc_id": [], "n_tokens": [], "n_distinct": [],
                "distinct_ratio": [], "top_token_frac": [],
                "top_bigram_frac": [], "max_run": [],
                "lang_pred": [], "lang_score": [], "keep": [],
            }
            for i, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
                if text is None:
                    # Spark-SQL parity: split(lower(NULL)) is NULL, every
                    # derived metric is null — EXCEPT top_bigram_frac,
                    # whose when(n_tokens >= 2, ...).otherwise(0.0)
                    # treats the null condition as false. The lang
                    # columns are null too (concat over NULL, and a
                    # when-chain with no otherwise).
                    out["doc_id"].append(i)
                    for k in (
                        "n_tokens", "n_distinct", "distinct_ratio",
                        "top_token_frac", "max_run",
                        "lang_pred", "lang_score", "keep",
                    ):
                        out[k].append(None)
                    out["top_bigram_frac"].append(0.0)
                    continue
                t = pat.split(text.lower())
                n = len(t)
                c = Counter(t)
                nd = len(c)
                top = max(c.values())
                if n >= 2:
                    bc = Counter(a + " " + b for a, b in zip(t, t[1:]))
                    tb = max(bc.values()) * 1.0 / (n - 1)
                else:
                    tb = 0.0
                mr = max(sum(1 for _ in g) for _, g in groupby(t))
                dr = nd * 1.0 / n
                tf = top * 1.0 / n
                lp, ls = lang_id(text)
                out["doc_id"].append(i)
                out["n_tokens"].append(n)
                out["n_distinct"].append(nd)
                out["distinct_ratio"].append(dr)
                out["top_token_frac"].append(tf)
                out["top_bigram_frac"].append(tb)
                out["max_run"].append(mr)
                out["lang_pred"].append(lp)
                out["lang_score"].append(ls)
                out["keep"].append(
                    int(
                        n >= MIN_TOKENS
                        and dr >= MIN_DISTINCT_RATIO
                        and tf <= MAX_TOP_TOKEN_FRAC
                        and mr <= MAX_RUN
                    )
                )
            yield pd.DataFrame(out)

    return doc.mapInPandas(
        kernel,
        "doc_id long, n_tokens int, n_distinct int, distinct_ratio double, "
        "top_token_frac double, top_bigram_frac double, max_run int, "
        "lang_pred string, lang_score int, keep int",
    )
