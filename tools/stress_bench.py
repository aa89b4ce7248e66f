#!/usr/bin/env python
"""Measure the engine at the skewed ~sf1 stress scale (tools/gen_stress.py).

Two kinds of evidence, both printed as one JSON line:

1. **Volume scaling**: a headline-query subset timed at 10x sf0.1 volume
   (6M lineitem / 1M events / 50k documents). Compare per-query seconds
   against BENCH_r*.json at sf0.1 — sub-linear growth means the plan
   scales with data, super-linear means a hidden quadratic/straggler.
2. **Skew safety**: the generated set carries a deliberate hot key
   (user_id=1 at ~10% of 1M events; l_suppkey=1 at ~10% of 6M lines).
   For every run we pull per-stage task-time distributions from the
   Spark UI REST API and report the MAX single task time: a skew-safe
   plan bounds it near the median; a straggler shows up as one task
   holding the whole query's wall clock. The head-to-head is
   ``grouped_topk`` (two-phase salted) vs the naive one-window
   ``row_number`` on the same hot-keyed events — identical output
   (asserted), different worst-task bound.

Usage: python tools/stress_bench.py [--dir /root/repo/stress/sf1] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def _stages(spark, after_stage: int) -> list[dict]:
    from tools.rest_metrics import _settle

    _settle(spark)  # drain the async listener bus or undercount the
    # newest stages' metrics on a busy box (rest_metrics docstring)
    ui = spark.sparkContext.uiWebUrl
    appid = spark.sparkContext.applicationId
    url = (
        f"{ui}/api/v1/applications/{appid}/stages"
        "?status=complete&withSummaries=true&quantiles=0.5,1.0"
    )
    try:
        data = json.load(urllib.request.urlopen(url, timeout=10))
    except Exception:
        return []
    return [s for s in data if s.get("stageId", -1) > after_stage]


def _task_stats(stages: list[dict]) -> dict:
    """Max and median-of-maxstage single-task executorRunTime (ms), plus
    the CPU twins (r12): executorCpuTime excludes scheduler wait, IO
    wait and GC pauses, so external box contention inflates the wall
    numbers while leaving these ~flat — stress_ci uses the pairing to
    adjudicate wall trips as load instead of failing the gate (the same
    wall-vs-cpu rule bench.py's regression gate applies)."""
    max_ms, med_ms, ntasks = 0.0, 0.0, 0
    max_cpu_ms, cpu_ns = 0.0, 0
    for s in stages:
        tmd = s.get("taskMetricsDistributions") or {}
        q = tmd.get("executorRunTime") or []
        if q:
            if q[-1] > max_ms:
                max_ms, med_ms = q[-1], q[0]
                qc = tmd.get("executorCpuTime") or []
                max_cpu_ms = round(qc[-1] / 1e6, 1) if qc else 0.0
        cpu_ns += s.get("executorCpuTime", 0)
        ntasks += s.get("numTasks", 0)
    return {
        "max_task_ms": max_ms,
        "stage_median_ms": med_ms,
        "tasks": ntasks,
        "cpu_sec": round(cpu_ns / 1e9, 3),
        "max_task_cpu_ms": max_cpu_ms,
    }


def _last_stage(spark) -> int:
    ui = spark.sparkContext.uiWebUrl
    appid = spark.sparkContext.applicationId
    try:
        data = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{appid}/stages", timeout=10
            )
        )
        return max((s.get("stageId", -1) for s in data), default=-1)
    except Exception:
        return -1


def _release_cluster_state(spark) -> None:
    """Python GC alone only drops the py4j wrappers; the driver-JVM GC is
    what lets Spark's ContextCleaner actually release prior queries'
    localCheckpoint/broadcast blocks from executor storage memory. In a
    28-query session the accumulated blocks measurably starve the
    checkpoint-heavy dedup family (observed 4x wall inflation)."""
    import gc

    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:
        pass


def run_timed(spark, name, fn, sf_dir, runs, results) -> None:
    _release_cluster_state(spark)
    samples, stats = [], {}
    for _ in range(runs):
        before = _last_stage(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 3)
        if not samples or sec < min(samples):
            stats = _task_stats(_stages(spark, before))
        samples.append(sec)
    results[name] = {"sec": min(samples), "runs": samples, **stats}
    print(f"  {name}: {min(samples)}s  max_task={stats.get('max_task_ms')}ms",
          flush=True)


def topk_naive(spark, sf_dir):
    """One-window per-user top-5: the hot user's 100k rows sort in ONE
    task — the straggler the salted form exists to avoid."""
    from gcp_map_reduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
    )


def topk_salted(spark, sf_dir):
    from gcp_map_reduce_spark.operators.scale import grouped_topk
    from gcp_map_reduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return grouped_topk(ev, "user_id", "value", "event_id", 5)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/root/repo/stress/sf1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help="time only these rows (default: all). For banking a "
        "specific stale row during a short quiet window via "
        "stress_ci --merge-baseline --queries ... — the merge touches "
        "only queries present in the run, so a subset run can never "
        "degrade the rest of the baseline.",
    )
    args = ap.parse_args()

    # The FULL bench.py headline set — every query the sf0.1 bench tracks
    # gets a stress row (wall sec + max single-task ms), so a skew/scale
    # regression can't hide in a query the gate doesn't time
    # (tests/test_sinks.py pins the superset relation). Stress-specific
    # extras: the salted-agg and PII paths whose stragglers only show at
    # this volume.
    from bench import HEADLINE, build_overrides

    # beyond the bench headline: the stragglers/quadratics the r8
    # non-headline audit surfaced (and fixed) — gated here so they can't
    # silently regress at skew again
    headline = list(HEADLINE) + [
        "pii_scrub",
        "salted_token_counts",
        "udf_plugin_suite",
        "dedup_pair_scores",
        "dedup_embedding_cosine",
        "corpus_sampling",
    ]
    # validate the subset BEFORE paying JVM startup
    if args.queries is not None:
        wanted = set(args.queries)
        unknown = wanted - set(headline) - {
            "dedup_clusters_minhash", "curated_corpus_minhash",
            "dedup_embedding_ivf",
            "topk_naive_window", "topk_salted",
        }
        if unknown:
            raise SystemExit(f"unknown stress queries: {sorted(unknown)}")
        headline = [n for n in headline if n in wanted]

    from gcp_map_reduce_spark.session import get_spark
    from gcp_map_reduce_spark.plans import registry

    registry.load_catalog()
    overrides = build_overrides()

    def plan(name):
        return overrides.get(name) or registry.QUERIES[name]

    spark = get_spark(
        app_name="stress_bench", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    # warm-up: JVM + codegen at the target volume
    spark.read.parquet(f"{args.dir}/lineitem.parquet").count()
    for name in headline:
        plan(name)(spark, args.dir).write.format("noop").mode("overwrite").save()
    _release_cluster_state(spark)
    print("warm-up done", flush=True)

    for name in headline:
        run_timed(spark, name, plan(name), args.dir, args.runs, results)

    # scale-plan head-to-head: the exact shingle-fingerprint edge source
    # vs the minhash-banded one (the documented 100 TB plan). At sf0.1
    # exact wins; the stress set's 10x dup density is where the
    # crossover shows.
    from gcp_map_reduce_spark.operators.dedup import dedup_clusters
    from gcp_map_reduce_spark.operators.pipeline import curated_corpus
    from gcp_map_reduce_spark.operators.similarity import (
        embedding_near_dup_pairs_ivf,
    )

    selected = set(args.queries) if args.queries is not None else None
    for name, fn in [
        ("dedup_clusters_minhash",
         lambda s, dd: dedup_clusters(s, dd, edge_source="minhash",
                                      fast_hash=True)),
        ("curated_corpus_minhash",
         lambda s, dd: curated_corpus(s, dd, near_dup_source="minhash",
                                      fast_hash=True)),
        # the sub-quadratic cell-pruned pairs — the registered
        # dedup_embedding_cosine plan; kept as its own row for
        # continuity with the r10 head-to-head bank
        ("dedup_embedding_ivf", embedding_near_dup_pairs_ivf),
    ]:
        if selected is not None and name not in selected:
            continue
        fn(spark, args.dir).write.format("noop").mode("overwrite").save()
        run_timed(spark, name, fn, args.dir, args.runs, results)

    # skew head-to-head: identical output, different worst-task bound
    ran_topk = []
    for name, fn in [("topk_naive_window", topk_naive),
                     ("topk_salted", topk_salted)]:
        if selected is not None and name not in selected:
            continue
        fn(spark, args.dir).write.format("noop").mode("overwrite").save()
        run_timed(spark, name, fn, args.dir, args.runs, results)
        ran_topk.append(name)

    # correctness of the salted decomposition on the ACTUAL skewed data
    # (only meaningful on full runs / when both topk legs were timed)
    if selected is None or len(ran_topk) == 2:
        a = topk_naive(spark, args.dir)
        b = topk_salted(spark, args.dir)
        mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
        results["topk_salted_equals_naive"] = {"mismatch_rows": mismatch}

    print(json.dumps({
        "metric": "stress_sf1_skew",
        "dir": args.dir,
        "queries": results,
    }))


if __name__ == "__main__":
    main()
