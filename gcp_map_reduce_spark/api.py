"""Control plane (reference operators O21/E1/E2).

The reference exposes two Flask routes (``app.py:18-46``): ``POST
/launch_map_reduce`` runs the whole job synchronously (config-driven
operation name -> map/reduce modules -> VM orchestration -> KV-store final
output) and ``GET /final_output`` fetches the merged result. Here the
"job" is one lazy DataFrame chain and the store is a parquet directory:

- :func:`launch_map_reduce` — run a named operation (``wordcount`` /
  ``invertedindex``, same names as ``config.json:9``) over a raw text
  directory and persist the merged, key-sorted final output;
- :func:`get_final_output` — read it back (E2);
- :func:`create_app` — optional thin Flask façade with the same two
  routes, for drop-in API parity, plus one clearly-marked EXTENSION
  route (``POST /semantic_search``, serving top-k cosine search from
  the persisted ANN index — the reference has no ANN surface at all;
  enabled only when ``emb_sf_dir`` is configured). The engine never
  depends on it.

The reference's whole cluster lifecycle (O19/O20 barriers + VM create)
has no analog here by design: Spark's scheduler owns stages and executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_map_reduce_spark.functions.text import tokenize
from gcp_map_reduce_spark.operators.wordcount import reduce_tokens
from gcp_map_reduce_spark.sinks.writers import write_sorted_single_json
from gcp_map_reduce_spark.sources.text import read_text_corpus

# operation -> the schema of its final output, so a read never depends
# on JSON inference (an empty output would infer no columns at all)
OPERATIONS = {
    "wordcount": "word string, cnt bigint",
    "invertedindex": "word string, docs array<string>",
}


def _check_operation(operation: str) -> None:
    if operation not in OPERATIONS:
        raise ValueError(
            f"unknown operation {operation!r}; known: {tuple(OPERATIONS)}"
        )


def _run_operation(spark: SparkSession, operation: str, input_dir: str) -> DataFrame:
    _check_operation(operation)
    corpus = read_text_corpus(spark, input_dir)
    toks = tokenize(corpus, text_col="line", out_col="word", keep_cols=["doc"])
    if operation == "invertedindex":
        # ``doc`` is a whole file, so a (word, doc) pair repeats once per
        # line that holds it: dedup the pairs in a codegen HashAggregate
        # first (the reference mapper's set dedup,
        # ``invertedindex_map.py:13-16``). The posting list then collects
        # a LIST, because Catalyst's RemoveRedundantAggregates deletes a
        # distinct below a duplicate-agnostic collect_set.
        pairs = toks.select("word", "doc").distinct()
        return pairs.groupBy("word").agg(
            F.sort_array(F.collect_list("doc")).alias("docs")
        )
    return reduce_tokens(toks, operation, doc="doc")


def launch_map_reduce(
    spark: SparkSession, operation: str, input_dir: str, store_dir: str
) -> str:
    """Run ``operation`` over ``input_dir`` and persist the key-sorted
    final output under ``store_dir`` (reference E1 collapsed to one lazy
    chain; the merge+sort is ``kv_store_server.py:246-277``). Returns the
    output path."""
    out = os.path.join(store_dir, f"final-output-{operation}")
    write_sorted_single_json(_run_operation(spark, operation, input_dir), out, "word")
    return out


def get_final_output(spark: SparkSession, operation: str, store_dir: str) -> DataFrame:
    """Reference E2 (``GET /final_output`` -> ``app.py:23-46``), read
    with the operation's schema: an empty output still has its
    columns."""
    _check_operation(operation)
    return spark.read.schema(OPERATIONS[operation]).json(
        os.path.join(store_dir, f"final-output-{operation}")
    )


# /semantic_search caps: the route serves interactive top-k probes; the
# limits keep one request from turning into a corpus-scale broadcast
# (the engine entry points exist for that — caps are a contract, not a
# tuning knob).
SEARCH_MAX_QUERIES = 256
SEARCH_MAX_K = 100
SEARCH_MAX_NPROBE = 64


def _bounded_int(value, lo: int, hi: int, name: str) -> int:
    """Parse a request integer, rejecting junk and out-of-range values
    with a message fit for a 400 body."""
    if isinstance(value, bool) or not isinstance(value, int):
        raise ValueError(f"{name} must be an integer")
    if not lo <= value <= hi:
        raise ValueError(f"{name} must be in [{lo}, {hi}]")
    return value


def _finite_number(x) -> bool:
    """A JSON number usable as an embedding element: no bools, no
    NaN/Infinity literals, and no arbitrary-precision ints too large
    for float (math.isfinite raises OverflowError on those — a crafted
    400-digit integer must get the 400 path, not a 500)."""
    import math

    if isinstance(x, bool) or not isinstance(x, (int, float)):
        return False
    try:
        return math.isfinite(float(x))
    except (OverflowError, ValueError):
        return False


def create_app(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    emb_sf_dir: str | None = None,
):
    """Thin Flask façade with the reference's two routes (synchronous
    like the original — the HTTP response returns after the job
    completes) and, when ``emb_sf_dir`` is given, the extension
    ``POST /semantic_search`` route: body ``{"queries": [{"query_id":
    long, "embedding": [float, ...]}, ...], "k": int}`` -> top-k cosine
    candidates per query served from the persisted IVF index
    (``ann_index_for_corpus``: the first call per corpus version pays
    the build, every later request reads only probed cells' files —
    the HTTP face of build-once/query-many)."""
    from flask import Flask, jsonify, request

    app = Flask("gcp_map_reduce_spark")

    @app.post("/launch_map_reduce")
    def launch():  # pragma: no cover - exercised via test client
        operation = (request.get_json(silent=True) or {}).get(
            "operation_name", "wordcount"
        )
        path = launch_map_reduce(spark, operation, input_dir, store_dir)
        return jsonify({"status": "SUCCESS", "operation": operation, "path": path})

    @app.get("/final_output")
    def final():  # pragma: no cover - exercised via test client
        operation = request.args.get("operation_name", "wordcount")
        rows = get_final_output(spark, operation, store_dir).collect()
        payload = {}
        for r in rows:
            d = r.asDict(recursive=True)
            payload[d["word"]] = d.get("cnt", d.get("docs"))
        return jsonify(payload)

    if emb_sf_dir is not None:

        @app.post("/semantic_search")
        def semantic_search():  # pragma: no cover - via test client
            from gcp_map_reduce_spark.operators.ann_index import (
                ann_index_for_corpus,
                ann_index_meta,
                ann_index_search,
            )

            body = request.get_json(silent=True)
            if not isinstance(body, dict):
                return jsonify({"error": "body must be a JSON object"}), 400
            queries = body.get("queries")
            if not isinstance(queries, list) or not queries:
                return jsonify(
                    {"error": "queries must be a non-empty list"}
                ), 400
            if len(queries) > SEARCH_MAX_QUERIES:
                # the search contract is driver-sized, broadcast-small
                # query batches — a corpus-scale screen is a JOIN
                # (ann_index_screen_batch), not a POST body
                return jsonify(
                    {"error": f"at most {SEARCH_MAX_QUERIES} queries "
                              "per request — batch larger screens "
                              "through the engine, not HTTP"}
                ), 400
            try:
                k = _bounded_int(body.get("k", 5), 1, SEARCH_MAX_K, "k")
                n_probe = _bounded_int(
                    body.get("n_probe", 2), 1, SEARCH_MAX_NPROBE, "n_probe"
                )
            except ValueError as exc:
                return jsonify({"error": str(exc)}), 400
            idx = ann_index_for_corpus(spark, emb_sf_dir)
            dim = int(ann_index_meta(idx)["dim"])
            parsed = []
            # set-membership duplicate check (r16 ADVICE fix: the
            # per-query list scan was O(n^2) on the API thread)
            seen_ids: set = set()
            for i, q in enumerate(queries):
                if not isinstance(q, dict):
                    return jsonify(
                        {"error": f"queries[{i}] must be an object"}
                    ), 400
                emb = q.get("embedding")
                if (
                    not isinstance(emb, list)
                    or len(emb) != dim
                    # no NaN/Infinity JSON literals (they would flow
                    # through to NaN cosines behind a 200) and no
                    # huge-int 500s (_finite_number)
                    or not all(_finite_number(x) for x in emb)
                ):
                    return jsonify(
                        {"error": f"queries[{i}].embedding must be a "
                                  f"finite numeric array of length {dim} "
                                  "(the index dimension)"}
                    ), 400
                try:
                    # strict int (bare int() would truncate floats,
                    # silently merging two queries' results under one
                    # id) AND int64-bounded: the DataFrame schema is
                    # 'query_id long', and an out-of-range JSON integer
                    # must 400 here, not 500 in createDataFrame
                    qid = _bounded_int(
                        q.get("query_id"), -(2**63), 2**63 - 1,
                        f"queries[{i}].query_id",
                    )
                except ValueError as exc:
                    return jsonify({"error": str(exc)}), 400
                if qid in seen_ids:
                    # a duplicate id would silently merge two queries'
                    # candidate lists under one response key — the same
                    # failure the strict-int validation exists to stop
                    return jsonify(
                        {"error": f"queries[{i}].query_id {qid} is a "
                                  "duplicate — query_id must be unique "
                                  "within a request"}
                    ), 400
                seen_ids.add(qid)
                parsed.append((qid, [float(x) for x in emb]))
            qdf = spark.createDataFrame(
                parsed, "query_id long, embedding array<double>"
            )
            rows = ann_index_search(
                spark, idx, qdf, k=k, n_probe=n_probe
            ).collect()
            out: dict = {}
            for r in rows:
                out.setdefault(str(r.query_id), []).append(
                    {"cand_id": r.cand_id, "cosine": r.cosine}
                )
            # collect() order is whatever the final exchange produced —
            # the row_number window FILTERS on rank but does not emit
            # sorted output; rank each query's list here (cosine desc,
            # cand_id asc: the search's own tie-break)
            for cands in out.values():
                cands.sort(key=lambda c: (-c["cosine"], c["cand_id"]))
            return jsonify(out)

    return app
