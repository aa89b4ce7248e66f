"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest graftbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from graftbench import checks, gen, run, stats, trace  # noqa: E402


# -- tail percentile -------------------------------------------------------
@pytest.mark.parametrize("n", [21, 30, 57, 200])
def test_tail_keeps_ten_samples_above(n):
    xs = [float(i) for i in np.random.default_rng(n).permutation(n)]
    t = stats.tail(xs)
    above = sum(x > t["value"] for x in xs)
    assert above == t["above"] == 10
    # one rank higher would leave only nine samples above
    assert sum(x > sorted(xs)[-10] for x in xs) == 9
    assert t["n"] == n
    assert t["percentile"] == round(100.0 * (n - 10) / n, 2)


def test_tail_never_below_median_with_few_samples():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    t = stats.tail(xs)
    assert t["value"] == stats.median(xs) == 3.0
    assert t["above"] == 2


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


# -- self time -------------------------------------------------------------
def _span(sid, start, end, parent=None):
    sp = trace.Span()
    sp.sid, sp.start, sp.end, sp.parent = sid, start, end, parent
    return sp


def test_self_time_with_overlapping_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),   # overlaps span 2
        _span(4, 8.0, 12.0, parent=1),  # outlives its parent (other thread)
        _span(5, 3.5, 5.0, parent=3),
    ]
    selfs = trace.self_times(spans)
    # children of 1 cover [1, 6] and [8, 10]: 7 of its 10 seconds
    assert selfs[1] == pytest.approx(3.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.5)
    assert selfs[4] == pytest.approx(4.0)
    assert selfs[5] == pytest.approx(1.5)


def test_union_length_merges_touching_and_nested():
    assert stats.union_length([(0, 2), (2, 3), (0.5, 1), (5, 6)]) == 4


# -- wrong results count as failed -----------------------------------------
def _write_lines(path, rows):
    os.makedirs(path)
    with open(os.path.join(path, "part-00000"), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows) + "\n")


def test_launch_output_check_rejects_a_wrong_count(tmp_path):
    text = tmp_path / "text"
    text.mkdir()
    (text / "a.txt").write_text("beta alpha beta\ngamma\n")
    right = [{"word": "alpha", "cnt": 1}, {"word": "beta", "cnt": 2},
             {"word": "gamma", "cnt": 1}]
    _write_lines(str(tmp_path / "ok"), right)
    assert checks.launch_output("wordcount", str(tmp_path / "ok"), str(text))[0]
    wrong = [dict(r, cnt=r["cnt"] + (r["word"] == "beta")) for r in right]
    _write_lines(str(tmp_path / "bad"), wrong)
    ok, detail = checks.launch_output("wordcount", str(tmp_path / "bad"),
                                      str(text))
    assert not ok and "beta" in detail
    _write_lines(str(tmp_path / "unsorted"), right[::-1])
    assert not checks.launch_output("wordcount", str(tmp_path / "unsorted"),
                                    str(text))[0]


def test_semantic_check_rejects_a_wrong_cosine():
    rng = np.random.default_rng(0)
    vectors = rng.normal(size=(50, 8))
    ids = np.arange(100, 150)
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    sims = unit @ unit[0]
    sims[0] = -np.inf
    top = np.argsort(-sims)[:10]
    exact = [(int(ids[i]), float(sims[i])) for i in top]
    ok, recall = checks.semantic({100: exact}, ids, vectors)
    assert ok == {100: True} and recall == 1.0
    off = [(c, x + 1e-3) for c, x in exact]
    assert checks.semantic({100: off}, ids, vectors)[0] == {100: False}
    assert checks.semantic({100: exact[:9]}, ids, vectors)[0] == {100: False}


def test_a_failed_check_makes_the_run_incorrect():
    res = {
        "workload": "corpus_batch",
        "metrics": {"setup_s": 1.0, "op_s_p50": 0.5, "op_s_tail": 0.7,
                    "rows_s": 10.0},
        "phases": {"untraced": {"tail": {"percentile": 50.0, "above": 1,
                                         "n": 3}}},
        "stored_bytes_ratio": 0.5,
        "attempted": 12,
        "failed": 1,
    }
    out = run.report(res, trace_on=False)
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (12, 1)
    assert set(out["metrics"]) == {"setup_s", "op_s_p50", "op_s_tail",
                                   "rows_s", "stored_bytes_ratio"}


def test_report_matches_the_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    res = {
        "workload": "search_serving",
        "metrics": {"setup_s": 1.0, "op_s_p50": 0.5, "op_s_tail": 0.7,
                    "rows_s": 10.0},
        "phases": {"traced": {"tail": {"percentile": 50.0, "above": 1,
                                       "n": 3}}},
        "stored_bytes_ratio": 0.5, "attempted": 3, "failed": 0,
        "layers": {},
    }
    untraced = run.report({**res, "phases": {"untraced": res["phases"]["traced"]}},
                          trace_on=False)
    traced = run.report(res, trace_on=True)
    assert list(untraced["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert list(traced["metrics"]) == [m["name"] for m in spec["per_layer"]]
    for m in spec["end_to_end"] + spec["per_layer"]:
        got = {**untraced["metrics"], **traced["metrics"]}[m["name"]]
        assert got["unit"] == m["unit"]
    assert {w["name"] for w in spec["workloads"]} <= set(
        __import__("graftbench.workloads", fromlist=["WORKLOADS"]).WORKLOADS)


# -- fixed operation counts ------------------------------------------------
def test_timed_rounds_depend_only_on_seconds(tmp_path):
    from graftbench.workloads import CorpusBatch, MapReduce, SearchServing

    work = str(tmp_path)
    assert CorpusBatch(1, 15, work, False).timed_rounds() == 2
    assert CorpusBatch(1, 1, work, False).timed_rounds() == 2  # the minimum
    assert CorpusBatch(1, 45, work, True).traced_loop_rounds() == 1
    assert MapReduce(3, 15, work, False).timed_rounds() == 5
    assert (CorpusBatch(1, 15, work, False).warm_rounds(),
            MapReduce(3, 15, work, False).warm_rounds()) == (1, 0)
    assert SearchServing(2, 15, work, False).timed_rounds() == 12
    assert SearchServing(2, 15, work, True).traced_loop_rounds() == 3
    assert SearchServing(2, 15, work, True).warm_rounds() == 2


# -- generator determinism -------------------------------------------------
def _generate(seed, out):
    gen.write_base(seed, os.path.join(out, "base"))
    gen.write_corpus_shard(seed, 3, 200, os.path.join(out, "shard"), 4)
    gen.write_stream_backlog(seed, 3, 40, os.path.join(out, "stream"))
    vocab = gen.vocabulary()
    with open(os.path.join(out, "requests.json"), "w") as fh:
        json.dump(gen.request_mix(seed, 20, vocab, 100), fh)


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _generate(7, a)
    _generate(7, b)
    _generate(8, c)
    names = _files(a)
    assert names == _files(b) == _files(c)
    assert len(names) > 15
    for name in names:
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                           shallow=False), name
    assert not all(
        filecmp.cmp(os.path.join(a, n), os.path.join(c, n), shallow=False)
        for n in names
    )


def test_stream_backlog_files_arrive_in_id_order(tmp_path):
    out = str(tmp_path)
    gen.write_stream_backlog(1, 4, 10, out)
    files = sorted(os.listdir(os.path.join(out, "backlog")))
    mtimes = [os.path.getmtime(os.path.join(out, "backlog", f)) for f in files]
    assert mtimes == sorted(set(mtimes))


def test_request_mix_is_one_fifth_semantic():
    blocks = gen.request_mix(3, 200, gen.vocabulary()[:50], 30)
    kinds = [k for b in blocks for k, _ in b]
    assert kinds.count("search") * 5 == len(kinds)
    words = [w for b in blocks for k, w in b if k == "lookup"]
    # Zipf: the most frequent word is drawn far more often than the median
    counts = sorted((words.count(w) for w in set(words)), reverse=True)
    assert counts[0] > 4 * counts[len(counts) // 2]
