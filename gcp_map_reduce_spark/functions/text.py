"""Text normalization + tokenization (reference operators O2/O3/O4).

The reference's canonical normalization is ``cleanup_lines_list``
(``master.py:44-61``), applied once at ingest:

1. strip ALL ASCII punctuation (``str.translate`` with
   ``string.punctuation`` — exactly the 32 POSIX punct chars; removes
   apostrophes/hyphens *inside* words, keeps digits);
2. strip surrounding whitespace;
3. drop blank lines;
4. lowercase, then ``encode("ascii","ignore")`` — non-ASCII chars are
   silently DELETED (not transliterated).

Tokenization is plain whitespace ``str.split()``
(``scripts/wordcount_map.py:11``, ``scripts/invertedindex_map.py:11``).

Both the Spark column expressions and the DuckDB-oracle SQL fragments live
here so the two stay in lock-step:

- Java ``\\p{Punct}`` inside a character class == RE2 ``[[:punct:]]`` ==
  Python ``string.punctuation`` (the same 32 ASCII chars).
- Java ``[^\\x00-\\x7F]`` == RE2 ``[^\\x00-\\x7F]`` for the ASCII fold.

Everything is JVM-side whole-stage-codegen (``regexp_replace``/``split``/
``explode``) — no Python UDFs in this hot path.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# One EXPLICIT whitespace class shared by all three engines. The shorthand
# \s diverges across them (Java: [ \t\n\x0B\f\r]; RE2: no \x0B; Python
# str.strip()/.split(): adds \x1C-\x1F and unicode spaces). After the
# ASCII fold only ASCII survives, and on ASCII this class IS Python's
# whitespace set — so Spark, DuckDB, and the Python twin agree
# byte-for-byte (property-tested in tests/test_properties.py).
WS_CLASS = r"[ \t\n\x0B\f\r\x1C-\x1F]"
WS_SPLIT = WS_CLASS + "+"
NON_WS = r"[^ \t\n\x0B\f\r\x1C-\x1F]"
_WS_TRIM = f"^{WS_CLASS}+|{WS_CLASS}+$"
# the same 10 chars as WS_CLASS, enumerated for char-set (non-regex)
# operators: translate / TRIM(BOTH ... FROM ...)
WS_CHARS = " \t\n\x0B\f\r\x1C\x1D\x1E\x1F"


def normalize_text(col: Column | str, trim: bool = True) -> Column:
    """Spark column expression replicating ``master.py:44-61`` semantics.

    r16 (CPU): rules 1 and 2 run as char-SET operators — ``translate``
    for the punct delete and two-arg ``trim`` for the whitespace strip —
    instead of regex passes; only the ASCII fold still needs a regex
    (now run-quantified: one replacement per non-ASCII RUN). Identical
    output by construction (translate deletes exactly the same 32 chars;
    TRIM(BOTH ws) == the anchored regex) and pinned by the engine-
    equivalence property tests; measured ~15-20% less tokenize-path CPU.

    ``trim=False`` skips rule 2 for consumers that split on WS_SPLIT and
    filter empty tokens anyway (leading/trailing whitespace only adds
    ''-tokens the filter drops) — one less pass over every document.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, string.punctuation, "")  # rule 1: de-punctuate
    c = F.lower(c)  # rule 4a: lowercase
    c = F.regexp_replace(c, r"[^\x00-\x7F]+", "")  # rule 4b: ASCII fold (delete)
    # rule 2: trim — Python str.strip() strips ALL whitespace, while
    # one-arg F.trim strips only 0x20; two-arg TRIM takes the full class
    return F.trim(c, F.lit(WS_CHARS)) if trim else c


def tokenize(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "word",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """1 row -> N token rows: normalize then whitespace-split + explode.

    Mirrors the map-side emit of ``scripts/wordcount_map.py:4-16`` but as a
    generator expression Catalyst can pipeline inside one codegen stage.
    Empty tokens (from blank/whitespace-only lines — normalization rule 3)
    are filtered out.
    """
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    # trim=False: untrimmed edges only add ''-tokens the filter drops
    tok = F.explode(
        F.split(normalize_text(F.col(text_col), trim=False), WS_SPLIT)
    ).alias(out_col)
    return df.select(*keep, tok).filter(F.col(out_col) != "")


def _py_normalizer():
    """Build the Python twin of :func:`normalize_text` as a closure over
    its de-punctuate table, so a kernel that calls it pickles it by
    value and runs where Spark's Python workers cannot import this
    package."""
    punct = str.maketrans("", "", string.punctuation)

    def normalize(text: str) -> str:
        """Driver/UDTF-side Python twin of :func:`normalize_text` —
        identical rule order (de-punctuate, lower, ASCII-delete, trim)
        so Python-path operators hash-match the JVM and SQL paths."""
        t = text.translate(punct).lower()
        return t.encode("ascii", "ignore").decode().strip()

    return normalize


PY_NORMALIZE = _py_normalizer()


def reference_shuffle_filter(col: Column | str) -> Column:
    """The reference's accidental key-drop semantic, made explicit.

    Its shuffle assigns keys to reducers by FIRST LETTER over the fixed
    alphabet a-z (``scripts/reducer.py:27-34``); the KV-server-side filter
    ``key[0].lower() in group`` (``scripts/kv_store_server.py:78-79,103``)
    means any key whose first char is not a letter (digits survive
    normalization!) belongs to NO reducer and is silently dropped from the
    final output — verified against the checked-in golden
    (``final-output-wordcount.json`` has zero digit-leading tokens while the
    corpus has 778). Apply this predicate for byte-faithful golden parity;
    the engine's own queries do NOT apply it (hash partitioning covers the
    full key space — dropping data is a reference bug, not a feature).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike("^[a-z]")


# --- DuckDB-oracle SQL fragments (kept adjacent so they never drift) -----

def sql_normalize(expr: str) -> str:
    """DuckDB SQL replicating :func:`normalize_text` exactly (RE2 regex;
    explicit whitespace class — DuckDB's trim() strips only 0x20)."""
    return (
        "regexp_replace(regexp_replace(lower(regexp_replace("
        f"{expr}, '[[:punct:]]', '', 'g')), '[^\\x00-\\x7F]', '', 'g'), "
        f"'{_WS_TRIM}', '', 'g')"
    )


def sql_tokens_cte(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """A CTE body producing ``(id_col, word)`` token rows in DuckDB,
    equivalent to :func:`tokenize` over the same table."""
    return (
        f"SELECT {id_col}, unnest(regexp_split_to_array("
        f"{sql_normalize(text_col)}, '{WS_SPLIT}')) AS word FROM {table}"
    )
