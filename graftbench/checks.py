"""Output checks. Each runs once per run, off the clock; every check is one
attempted operation and a wrong result counts as failed."""

from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np

COSINE_TOL = 1e-6


def oracle_compare(spark, name: str, sf_dir: str) -> tuple[bool, str]:
    """A registered query against its ``registry.ORACLES`` DuckDB SQL, with
    the comparison of the engine's own oracle harness."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tests.oracle_harness import compare

    res = compare(name, spark, sf_dir)
    return res.get("status") == "MATCH", res.get("status", "?")


def _duckdb():
    import duckdb

    return duckdb.connect()


def text_tokens_sql(table: str, text_col: str, key_col: str) -> str:
    """DuckDB form of the engine's tokenizer (normalize, split, drop '')."""
    from gcp_map_reduce_spark.functions.text import WS_SPLIT, sql_normalize

    return (
        f"SELECT {key_col} AS k, word FROM (SELECT {key_col}, unnest("
        f"regexp_split_to_array({sql_normalize(text_col)}, '{WS_SPLIT}')) "
        f"AS word FROM {table}) WHERE word <> ''"
    )


def _read_json_lines(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def launch_output(operation: str, out_path: str, text_dir: str
                  ) -> tuple[bool, str]:
    """``launch_map_reduce`` output: key-sorted, and equal to DuckDB over
    the same raw-text files."""
    import pyarrow as pa

    docs, lines = [], []
    for f in sorted(os.listdir(text_dir)):
        with open(os.path.join(text_dir, f), encoding="utf-8") as fh:
            for line in fh.read().splitlines():
                docs.append(f)
                lines.append(line)
    con = _duckdb()
    con.register("corpus", pa.table({"doc": docs, "line": lines}))
    toks = text_tokens_sql("corpus", "line", "doc")
    got = _read_json_lines(out_path)
    words = [r["word"] for r in got]
    if words != sorted(words):
        return False, "output not key-sorted"
    if operation == "wordcount":
        want = dict(con.execute(
            f"SELECT word, count(*) FROM ({toks}) GROUP BY word").fetchall())
        have = {r["word"]: r["cnt"] for r in got}
    else:
        want = {
            w: sorted(ds) for w, ds in con.execute(
                f"SELECT word, list(DISTINCT k) FROM ({toks}) GROUP BY word"
            ).fetchall()
        }
        have = {r["word"]: sorted(r["docs"]) for r in got}
    if have != want:
        bad = sorted(w for w in set(have) | set(want)
                     if have.get(w) != want.get(w))[:3]
        return False, f"{operation} differs from DuckDB, e.g. {bad}"
    return True, f"{len(have)} keys"


def postings(sf_dir: str, words: set[str]) -> dict[str, set[int]]:
    """DuckDB's ``word -> {doc_id}`` over ``sf_dir``'s documents, for
    ``words``."""
    con = _duckdb()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    out: dict[str, set[int]] = {w: set() for w in words}
    for w, d in con.execute(
        f"SELECT DISTINCT word, k FROM "
        f"({text_tokens_sql('documents', 'text', 'doc_id')})"
    ).fetchall():
        if w in out:
            out[w].add(d)
    return out


def lookups(results: dict[str, list[int]], sf_dir: str) -> dict[str, bool]:
    """Point-lookup answers against DuckDB, per looked-up word."""
    want = postings(sf_dir, set(results))
    return {w: sorted(want[w]) == sorted(ids) for w, ids in results.items()}


def semantic(results: dict[int, list[tuple[int, float]]], vec_ids: np.ndarray,
             vectors: np.ndarray, k: int = 10) -> tuple[dict[int, bool], float]:
    """Semantic answers against a numpy brute force, per query id. An
    answer is wrong when it holds other than ``k`` candidates, a cosine
    that differs from the exact one, or candidates out of rank order.
    Also returns the mean recall@k against the exact top-k (self
    excluded); an IVF index trades recall for speed, so recall is
    reported, not checked."""
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    row = {int(v): i for i, v in enumerate(vec_ids)}
    ok, recalls = {}, []
    for qid, cands in results.items():
        sims = unit @ unit[row[qid]]
        sims[row[qid]] = -np.inf
        exact = {int(vec_ids[i]) for i in np.argsort(-sims)[:k]}
        cos = [c for _, c in cands]
        ok[qid] = (
            len(cands) == k
            and all(abs(sims[row[c]] - x) <= COSINE_TOL for c, x in cands)
            and cos == sorted(cos, reverse=True)
        )
        recalls.append(len(exact & {c for c, _ in cands}) / k)
    return ok, float(np.mean(recalls)) if recalls else 0.0


def stream_parity(spark, out_dir: str, sf_dir: str) -> tuple[bool, str]:
    """The stream's cumulative output equals batch ``curated_corpus``
    (minhash near-dup source, fast hash) row for row."""
    from gcp_map_reduce_spark.operators.pipeline import curated_corpus

    cols = ["doc_id", "lang", "n_chars", "n_tokens"]
    got = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(out_dir, "*")).select(*cols).collect())
    want = sorted(tuple(r) for r in curated_corpus(
        spark, sf_dir, near_dup_source="minhash", fast_hash=True
    ).select(*cols).collect())
    if got != want:
        diff = sorted(set(got) ^ set(want))[:3]
        return False, (f"stream {len(got)} rows vs batch {len(want)} rows, "
                       f"e.g. {diff}")
    return True, f"{len(got)} rows"
