"""Gate for the text-profile Arrow kernel on adversarial Unicode edge
cases: the classes where Python str ops could silently diverge from the
JVM regex semantics. ``profile_metrics_arrow`` must be row-identical to
the JVM regex/array form (``tests/text_kernel_reference.py``); on the
real corpus the ``text_profile`` oracle checks it against DuckDB."""

from __future__ import annotations


def test_profile_engines_row_identical_on_unicode_edges(spark):
    """Adversarial inputs: NBSP must NOT split tokens (Python
    str.split() would — the kernel uses the explicit WS class); control
    chars \\x1C-\\x1F are WS for tokenization but count as BPE symbols
    (Java \\s excludes them); CJK, astral emoji, combining marks,
    Turkish dotted I, final sigma exercise the lower()/codepoint paths."""
    from gcp_map_reduce_spark.operators.text_analysis import (
        _profile_finalize,
        profile_metrics_arrow,
    )
    from tests.text_kernel_reference import profile_metrics_expr

    rows = [
        (1, "en", "The quick brown fox, and the lazy dog! 42 times."),
        (2, "xx", "the and of is"),  # NBSP inside one "token"
        (3, "xx", "a\x1cb\x1dc\x1e\x1f d"),  # WS-class controls
        (4, "zh", "你好世界 the and 一鿿"),
        (5, "xx", "emoji \U0001f600\U0001f4a9 end"),
        (6, "xx", "İstanbul STRASSE große ẞ"),
        (7, "xx", "ΟΣ ας"),  # final-sigma casing
        (8, "xx", ""),
        (9, "xx", "   \t\n  "),
        (10, "xx", "éclair café élève"),
        (11, "xx", "!!!???...,,,;;;"),
        (12, "xx", "123 456.789 0x1f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    a = {
        r.doc_id: tuple(r)
        for r in _profile_finalize(profile_metrics_expr(docs)).collect()
    }
    b = {
        r.doc_id: tuple(r)
        for r in _profile_finalize(profile_metrics_arrow(docs)).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], (k, a[k], b[k])
