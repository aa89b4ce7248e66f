"""Control-plane parity tests (reference app.py routes, driven through the
Flask test client — same request/response shapes, no live server)."""

from __future__ import annotations

import json


def _corpus(tmp_path):
    inp = tmp_path / "raw"
    inp.mkdir()
    (inp / "doc1.txt").write_text("Alpha beta ALPHA!\n\ngamma\n")
    (inp / "doc2.txt").write_text("beta gamma beta\n")
    return str(inp)


def test_launch_and_fetch_functions(spark, tmp_path):
    from gcp_map_reduce_spark.api import get_final_output, launch_map_reduce

    inp = _corpus(tmp_path)
    store = str(tmp_path / "store")
    launch_map_reduce(spark, "wordcount", inp, store)
    got = {
        r["word"]: r["cnt"]
        for r in get_final_output(spark, "wordcount", store).collect()
    }
    assert got == {"alpha": 2, "beta": 3, "gamma": 2}

    launch_map_reduce(spark, "invertedindex", inp, store)
    idx = {
        r["word"]: list(r["docs"])
        for r in get_final_output(spark, "invertedindex", store).collect()
    }
    assert idx["beta"] == ["doc1.txt", "doc2.txt"]
    assert idx["alpha"] == ["doc1.txt"]
    # the read schema is the one JSON inference gave these outputs
    assert dict(get_final_output(spark, "wordcount", store).dtypes) == {
        "word": "string", "cnt": "bigint",
    }
    assert dict(get_final_output(spark, "invertedindex", store).dtypes) == {
        "word": "string", "docs": "array<string>",
    }


def test_flask_facade_routes(spark, tmp_path):
    from gcp_map_reduce_spark.api import create_app

    inp = _corpus(tmp_path)
    store = str(tmp_path / "store")
    app = create_app(spark, inp, store)
    client = app.test_client()

    resp = client.post(
        "/launch_map_reduce",
        data=json.dumps({"operation_name": "wordcount"}),
        content_type="application/json",
    )
    assert resp.status_code == 200 and resp.get_json()["status"] == "SUCCESS"

    resp = client.get("/final_output?operation_name=wordcount")
    assert resp.status_code == 200
    assert resp.get_json() == {"alpha": 2, "beta": 3, "gamma": 2}


def test_unknown_operation_rejected(spark, tmp_path):
    import pytest

    from gcp_map_reduce_spark.api import get_final_output, launch_map_reduce

    with pytest.raises(ValueError, match="unknown operation"):
        launch_map_reduce(spark, "nope", _corpus(tmp_path), str(tmp_path / "s"))
    with pytest.raises(ValueError, match="unknown operation"):
        get_final_output(spark, "nope", str(tmp_path / "s"))


def test_cli_list_names_every_query(capsys):
    from gcp_map_reduce_spark.__main__ import main
    from gcp_map_reduce_spark.plans import registry

    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == len(registry.QUERIES)
    assert any(line.startswith("wordcount\t") for line in out)


def test_semantic_search_route(spark, tmp_path):
    """The r13 extension route: POST /semantic_search serves top-k
    cosine candidates from the persisted corpus index and matches a
    direct ann_index_search call (same k / n_probe / self-exclusion)."""
    import pytest

    flask = pytest.importorskip("flask")  # noqa: F841 - gate only

    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.api import create_app
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_for_corpus,
        ann_index_search,
    )

    SF = "/root/testdata/sf0.01"
    app = create_app(
        spark, str(tmp_path / "in"), str(tmp_path / "store"), emb_sf_dir=SF
    )
    emb = spark.read.parquet(SF + "/embeddings.parquet").filter(
        F.col("vec_id") < 2
    )
    queries = [
        {"query_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
        for r in emb.collect()
    ]
    client = app.test_client()
    resp = client.post("/semantic_search", json={"queries": queries, "k": 3})
    assert resp.status_code == 200
    got = resp.get_json()
    idx = ann_index_for_corpus(spark, SF)
    direct = ann_index_search(
        spark, idx,
        emb.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=3,
    ).collect()
    want: dict = {}
    for r in direct:
        want.setdefault(str(r.query_id), []).append(
            {"cand_id": r.cand_id, "cosine": r.cosine}
        )
    assert {k: sorted(v, key=lambda d: d["cand_id"]) for k, v in got.items()} \
        == {k: sorted(v, key=lambda d: d["cand_id"]) for k, v in want.items()}
    # missing queries -> 400, not a stack trace
    assert client.post("/semantic_search", json={}).status_code == 400


def test_semantic_search_validates_input_and_ranks(spark, tmp_path):
    """r14 hardening (r13 ADVICE + verdict task 4): malformed input is a
    400 with a reason — wrong-dimension embeddings, non-numeric
    payloads, junk/out-of-range k and n_probe, oversized batches —
    never a Spark traceback 500; and each query's candidate list comes
    back cosine-ranked (collect order is not a contract)."""
    import pytest

    pytest.importorskip("flask")

    from pyspark.sql import functions as F

    from gcp_map_reduce_spark import api

    SF = "/root/testdata/sf0.01"
    app = api.create_app(
        spark, str(tmp_path / "in"), str(tmp_path / "store"), emb_sf_dir=SF
    )
    client = app.test_client()

    def post(body):
        return client.post("/semantic_search", json=body)

    def err(resp):
        assert resp.status_code == 400, resp.status_code
        return resp.get_json()["error"]

    dim = 64
    ok_emb = [0.5] * dim
    # body / queries shape
    assert post([1, 2]).status_code == 400
    assert post({"queries": "nope"}).status_code == 400
    assert post({"queries": []}).status_code == 400
    assert post({"queries": ["flat"]}).status_code == 400
    # embedding dimension must match the index
    assert "length 64" in err(
        post({"queries": [{"query_id": 1, "embedding": [1.0, 2.0]}]})
    )
    # non-numeric / boolean elements rejected
    assert post(
        {"queries": [{"query_id": 1, "embedding": ["x"] * dim}]}
    ).status_code == 400
    assert post(
        {"queries": [{"query_id": 1, "embedding": [True] * dim}]}
    ).status_code == 400
    # junk / missing query_id — strictly an int: floats would truncate
    # and silently merge two queries' results under one id, bools and
    # numeric strings violate the same contract k/n_probe enforce
    assert post(
        {"queries": [{"query_id": "abc", "embedding": ok_emb}]}
    ).status_code == 400
    assert post({"queries": [{"embedding": ok_emb}]}).status_code == 400
    assert post(
        {"queries": [{"query_id": 1.2, "embedding": ok_emb}]}
    ).status_code == 400
    assert post(
        {"queries": [{"query_id": True, "embedding": ok_emb}]}
    ).status_code == 400
    assert post(
        {"queries": [{"query_id": "7", "embedding": ok_emb}]}
    ).status_code == 400
    # non-finite floats parse as JSON NaN/Infinity literals and would
    # flow into NaN cosines behind a 200
    bad = [float("nan")] + [0.5] * (dim - 1)
    assert post(
        {"queries": [{"query_id": 1, "embedding": bad}]}
    ).status_code == 400
    bad = [float("inf")] + [0.5] * (dim - 1)
    assert post(
        {"queries": [{"query_id": 1, "embedding": bad}]}
    ).status_code == 400
    # crafted huge JSON integers: isfinite would raise OverflowError on
    # the embedding path, and createDataFrame('query_id long') would
    # 500 on an out-of-int64 id — both must be 400s (2nd review pass)
    bad = [10**400] + [0.5] * (dim - 1)
    assert post(
        {"queries": [{"query_id": 1, "embedding": bad}]}
    ).status_code == 400
    assert post(
        {"queries": [{"query_id": 2**63, "embedding": ok_emb}]}
    ).status_code == 400
    # k / n_probe: junk types and caps
    q = [{"query_id": 1, "embedding": ok_emb}]
    assert "k must be" in err(post({"queries": q, "k": "five"}))
    assert post({"queries": q, "k": 0}).status_code == 400
    assert post(
        {"queries": q, "k": api.SEARCH_MAX_K + 1}
    ).status_code == 400
    assert post({"queries": q, "n_probe": -1}).status_code == 400
    assert post({"queries": q, "n_probe": True}).status_code == 400
    # duplicate query_id: two queries' candidate lists would silently
    # merge under one response key (r15, r14 ADVICE)
    assert "duplicate" in err(
        post({"queries": [
            {"query_id": 7, "embedding": ok_emb},
            {"query_id": 7, "embedding": ok_emb},
        ]})
    )
    # oversized batch: the contract is driver-sized query batches
    big = [
        {"query_id": i, "embedding": ok_emb}
        for i in range(api.SEARCH_MAX_QUERIES + 1)
    ]
    assert "at most" in err(post({"queries": big}))
    # a valid request returns 200 with each list cosine-ranked
    emb = spark.read.parquet(SF + "/embeddings.parquet").filter(
        F.col("vec_id") < 3
    )
    queries = [
        {"query_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
        for r in emb.collect()
    ]
    resp = post({"queries": queries, "k": 5})
    assert resp.status_code == 200
    got = resp.get_json()
    assert len(got) == 3
    for cands in got.values():
        coss = [c["cosine"] for c in cands]
        assert coss == sorted(coss, reverse=True) and len(coss) == 5


def _launch_in_group(spark, operation, inp, store):
    """Run ``launch_map_reduce`` under its own job group; return the
    group's job ids and the physical plan text of every SQL execution
    that ran one of them (read from the SQL status store)."""
    from gcp_map_reduce_spark.api import launch_map_reduce

    sc = spark.sparkContext
    group = f"launch-budget-{operation}"
    sc.setJobGroup(group, "launch_map_reduce job budget")
    try:
        launch_map_reduce(spark, operation, inp, store)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    sql_store = spark._jsparkSession.sharedState().statusStore()
    plans = [
        e.physicalPlanDescription()
        for e in conv.asJava(sql_store.executionsList())
        if {int(j) for j in conv.asJava(e.jobs().keySet())} & jobs
    ]
    return jobs, plans


def test_launch_job_and_plan_budget(spark, tmp_path):
    """The sorted sink is one shuffle into one sorted partition (no
    range-bounds sampling job), and the inverted index dedups (word,
    doc) in a HashAggregate below its posting-list aggregate."""
    import re

    inp = _corpus(tmp_path)
    store = str(tmp_path / "store")

    jobs, plans = _launch_in_group(spark, "wordcount", inp, store)
    assert 0 < len(jobs) <= 3, sorted(jobs)
    assert plans and not any("rangepartitioning" in p.lower() for p in plans)

    jobs, plans = _launch_in_group(spark, "invertedindex", inp, store)
    assert plans and not any("rangepartitioning" in p.lower() for p in plans)
    plan = plans[-1]
    dedup = re.search(
        r"\((\d+)\) HashAggregate.*\nInput \[2\]: \[word#\d+, doc#\d+\]\n"
        r"Keys \[2\]: \[word#\d+, doc#\d+\]\nFunctions: \[\]",
        plan,
    )
    posting = re.search(
        r"\((\d+)\) ObjectHashAggregate.*\n.*\nKeys \[1\]: \[word#\d+\]\n"
        r"Functions \[1\]: \[partial_collect_list\(doc#",
        plan,
    )
    assert dedup and posting, plan
    # formatted plans number nodes children-first
    assert int(dedup.group(1)) < int(posting.group(1)), plan


def test_launch_inverted_index_matches_raw_token_reduce(spark, tmp_path):
    """The deduped launch path writes the same bytes as
    ``reduce_tokens`` over the raw token stream, on a corpus where one
    word repeats across lines of one file, one is in every file and one
    in a single file."""
    import glob
    import os

    from gcp_map_reduce_spark.api import get_final_output, launch_map_reduce
    from gcp_map_reduce_spark.functions.text import tokenize
    from gcp_map_reduce_spark.operators.wordcount import reduce_tokens
    from gcp_map_reduce_spark.sinks.writers import write_sorted_single_json
    from gcp_map_reduce_spark.sources.text import read_text_corpus

    inp = tmp_path / "raw"
    inp.mkdir()
    (inp / "a.txt").write_text("spark alpha\nSpark beta\n\nspark, spark gamma\n")
    (inp / "b.txt").write_text("alpha delta\nbeta\nalpha alpha\n")
    (inp / "c.txt").write_text("Alpha\nomega!\n")
    store = str(tmp_path / "store")
    out = launch_map_reduce(spark, "invertedindex", str(inp), store)

    toks = tokenize(
        read_text_corpus(spark, str(inp)),
        text_col="line", out_col="word", keep_cols=["doc"],
    )
    ref = str(tmp_path / "ref")
    write_sorted_single_json(reduce_tokens(toks, "invertedindex", doc="doc"), ref, "word")

    (got,) = glob.glob(os.path.join(out, "part-*"))
    (want,) = glob.glob(os.path.join(ref, "part-*"))
    with open(got, "rb") as g, open(want, "rb") as w:
        assert g.read() == w.read()

    idx = {
        r["word"]: list(r["docs"])
        for r in get_final_output(spark, "invertedindex", store).collect()
    }
    assert idx["spark"] == ["a.txt"]
    assert idx["alpha"] == ["a.txt", "b.txt", "c.txt"]
    assert idx["omega"] == ["c.txt"]
