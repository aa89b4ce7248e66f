#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "banked_value": ...,
"unit": "sec", "queries": {name: sec}, "cpu_sec": {name: executor_cpu_sec},
"cpu_total": ..., "sf": ...}. cpu_sec (r12) is the load-insensitive
secondary metric: executor task CPU for the min-wall run, read off the
AppStatusStore after each timed run — box contention stretches wall but
not CPU, so wall-vs-cpu disagreement separates noise from regression
(see the gate's CPU_STEADY_FACTOR arbitration).

Each query is forced with the no-op sink (full execution, zero driver
collection) after a warm-up action that pays the JVM/codegen startup cost
once.

Two artifacts, two roles:

- ``BENCH_local.json`` — THIS session's full artifact (per-run arrays for
  noise-vs-regression adjudication). Overwritten every run.
- ``BENCH_BEST.json`` — the banked artifact of record: per-query best
  (min sec + its detail, kept as a unit — the ``stress_ci
  --merge-baseline`` pattern) merged across quiet runs, MERGE-ONLY: a
  contended session can never degrade it. Three rounds running, the
  driver's single-session capture needed manual adjudication against
  box noise; the compact stdout line now carries BOTH ``value`` (this
  session) and ``banked_value`` (best-of bank) so the round-over-round
  story reads from the driver artifact alone. If a plan change
  intentionally trades a query's speed away, prune that query's entry
  from the bank by hand (same contract as STRESS_BASELINE.json).

``python bench.py --merge-best [artifact.json ...]`` merges existing
session artifacts (default: ``BENCH_local.json``) into the bank without
running Spark.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
BANK_PATH = os.path.join(REPO, "BENCH_BEST.json")


# --- executor CPU-time capture (r12 verdict task: the banked wall floor
# sat frozen for two rounds of external box load — wall alone can no
# longer arbitrate noise vs regression). Source = the Spark UI REST API
# over the AppStatusStore (shared probes in tools/rest_metrics.py, which
# also drain the async listener bus first — a lagging read undercounts
# the newest stages' CPU and a real regression would read 'cpu-steady'
# and slip the gate). The status listener populates the store whether or
# not the UI is enabled; spark.ui.enabled=true only starts the jetty
# server, so serving these reads costs the timed runs nothing.
# executorCpuTime is task CPU in NANOSECONDS — it excludes scheduler
# wait, IO wait and GC pauses, so external box contention inflates wall
# while leaving it ~flat: a query whose wall ratio trips the gate but
# whose cpu ratio is steady is contention, not a plan change.

from tools.rest_metrics import last_stage_id as _last_stage_id  # noqa: E402
from tools.rest_metrics import stage_sum_since as _stage_sum_since  # noqa: E402


def _cpu_sec_since(spark, after_stage: int) -> float | None:
    """Total executor CPU seconds over completed stages newer than the
    marker (one timed query run — bench runs queries sequentially).
    Read off the wall-clock timer."""
    ns = _stage_sum_since(spark, after_stage, "executorCpuTime")
    return None if ns is None else round(ns / 1e9, 3)

def cpu_canary_sec(runs: int = 5) -> float:
    """Fixed pure-numpy calibration loop — no Spark, single-threaded
    elementwise kernels (deliberately no matmul: a BLAS thread pool
    would measure core count, not effective core speed) — timed once
    per session and recorded in the artifact as ``canary_sec``.

    Why (r13 verdict task 3): banked wall floors and cpu_refs are
    stamped on SOME box state, and this host drifts (r13's quiet run
    inflated 1.55-1.86x uniformly at flat executor CPU against refs
    stamped on a faster day) — every adjudication then re-argues box
    speed in prose. The canary is the same fixed work every session, so
    ``canary_now / canary_banked`` is a mechanical estimate of the
    box-speed ratio between two measurements; gates scale their wall
    thresholds by it (capped — see CANARY_CORR_CAP) instead of crying
    regression on a slow day. MEDIAN of ``runs``, not min: the canary
    measures the box's CURRENT effective speed, and a best-of would
    erase exactly the degradation it exists to record."""
    import numpy as np

    x0 = np.linspace(-1.0, 1.0, 1_000_000)
    samples = []
    for _ in range(runs):
        x = x0.copy()
        t0 = time.perf_counter()
        acc = 0.0
        for _ in range(40):
            x = np.tanh(x * 1.0009 + 0.0003)
            acc += float(x[::97].sum())
        samples.append(time.perf_counter() - t0)
        assert acc == acc  # keep the result live
    samples.sort()
    return round(samples[len(samples) // 2], 4)


# Cap on the canary-derived threshold correction: a >2x-slow box reading
# is itself suspect (swap storm, wrong machine class) and should surface
# as trips to adjudicate, not silently double every bar. Floor at 1.0:
# a FASTER box never loosens a gate.
CANARY_CORR_CAP = 2.0


def _steal_sample() -> tuple[float, float] | None:
    """(monotonic_seconds, steal_jiffies) from /proc/stat — the
    hypervisor-level CPU steal counter. r16: four r15 re-bank sessions
    died to a box state the single-thread canary cannot see (32-thread
    walls 1.3-4x inflated at a ~flat canary). Steal time IS that state's
    mechanical signature: it counts cycles the host did not schedule
    this VM, visible at any thread count. Sampled at run start/end; the
    artifact records the run-average steal rate in cores (jiffies/100/s)
    so every bench session carries its own era evidence."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return time.monotonic(), float(parts[8])
    except Exception:
        return None


def _steal_rate(before, after) -> float | None:
    """Average stolen CPU cores between two _steal_sample() readings."""
    if not before or not after or after[0] <= before[0]:
        return None
    return round((after[1] - before[1]) / 100.0 / (after[0] - before[0]), 3)


def _median(srt: list) -> float:
    """True median of an already-sorted list (even counts average the
    two middle elements — ONE definition shared by the correction
    median and the gate median, 2nd review pass)."""
    mid = len(srt) // 2
    return srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2.0


def canary_correction(now: float | None, ref: float | None) -> float:
    """Threshold multiplier from two canary readings (1.0 when either
    side predates the canary)."""
    if not now or not ref:
        return 1.0
    return min(CANARY_CORR_CAP, max(1.0, now / ref))


HEADLINE = [
    # reference-parity text path
    "wordcount",
    "inverted_index",
    # scan-heavy relational
    "q1_pricing_summary",
    "q6_q14_revenue",
    # join-heavy relational
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_outer_broadcast",
    # subquery shapes (EXISTS+NOT EXISTS self-joins; scalar subquery)
    "q21_waiting_suppliers",
    # windows (rank; lag/frames/distribution; funnel+sessionize)
    "window_rank_orders",
    "window_suite",
    "user_event_profile",
    # temporal agg
    "events_enriched_hourly",
    # grouping sets / rollup
    "agg_multidim",
    # dedup ladder (exact -> sketch -> graph clustering)
    "dedup_exact",
    "dedup_minhash",
    "dedup_clusters",
    # similarity (IVF + LSH ANN, and the doc-enriched search)
    "similarity_ivf_ann",
    "similarity_lsh_ann",
    "semantic_search_docs",
    # text analysis
    "text_profile",
    "text_tfidf",
    "quality_rules",
    # sampling / shard packing / decontamination
    "corpus_shards",
    "corpus_decontamination",
    # python-boundary cost reference point (Arrow grouped-map)
    "udf_wordcount_grouped",
    # flagship composition: quality -> dedup -> near-dup -> token budget
    "curated_corpus",
]


def build_overrides() -> dict:
    """Plan substitutions, two kinds:

    1. Production-mode: dedup_minhash benches with its production hash
       family (xxhash64) instead of the DuckDB-portable md5 the
       registered entry keeps for the oracle gate. dedup_clusters /
       curated_corpus bench their library default (exact edges from
       the prefix-filtered shingle join).
    2. Historical-comparability: names the registry consolidated into
       tagged suite unions (driver-window fit) keep benching their
       ORIGINAL single-operator library plans, so per-query timings
       stay comparable round over round.
    """
    from gcp_map_reduce_spark.operators import udf_plugin
    from gcp_map_reduce_spark.operators.dedup import dedup_clusters, dedup_minhash
    from gcp_map_reduce_spark.operators.relational_subq import q21_waiting_suppliers
    from gcp_map_reduce_spark.operators.sampling import corpus_shards
    from gcp_map_reduce_spark.operators.similarity import (
        ann_screen_recent_half,
        semantic_search_docs,
        similarity_ivf_ann,
        similarity_lsh_ann,
    )
    from gcp_map_reduce_spark.operators.text_analysis import text_tfidf

    return {
        "dedup_minhash": lambda s, d: dedup_minhash(s, d, fast_hash=True),
        "corpus_shards": corpus_shards,
        # historical-comparability: the registered row is the two-edge
        # SUITE; bench times the single-operator form at its library
        # default (edge_source="exact")
        "dedup_clusters": lambda s, d: dedup_clusters(s, d),
        "similarity_ivf_ann": similarity_ivf_ann,
        "similarity_lsh_ann": similarity_lsh_ann,
        "semantic_search_docs": semantic_search_docs,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "udf_wordcount_grouped": udf_plugin.udf_wordcount_grouped,
        "text_tfidf": text_tfidf,
        # library leg: the r13 index-accelerated batch screening join
        # (registered as the similarity_ann_suite 'screen' branch);
        # named here so tools/scale_exponents.py can measure it solo
        "ann_screen_batch": ann_screen_recent_half,
    }


def merge_best(
    full: dict, bank_path: str = BANK_PATH, universe: list[str] | None = None
) -> float | None:
    """Merge one session artifact into the bank; return the banked total.

    Per query: bank the session's (min sec, detail) as a unit iff the
    query ran error-free AND beats the banked sec (or is new); each
    newly banked row is stamped ``banked_at`` so staleness is visible
    (r9 verdict: the bank is a sum of per-query minima across sessions —
    an idealized floor no single run achieves — and needs its provenance
    on record). Entries for queries outside this session are preserved.
    Only same-sf artifacts merge (the bank is an sf0.1 series); a
    different-sf run returns None untouched; a metric-name mismatch
    between artifact and bank RAISES (r9 advice — merging apples into an
    orange bank silently corrupted nothing yet, but nothing checked).

    Returns the banked total summed over ``universe`` — the FULL
    ``HEADLINE`` list by default, regardless of which subset this
    artifact carried, so a partial/subset merge can never report a
    smaller "total" under the same metric name (r9 advice). None while
    any universe query is unbanked."""
    sf = full.get("sf")
    bank = {"metric": full["metric"], "unit": "sec", "sf": sf, "queries": {}}
    if os.path.isfile(bank_path):
        with open(bank_path) as fh:
            bank = json.load(fh)
        if bank.get("metric") != full.get("metric"):
            raise ValueError(
                f"refusing to merge: artifact metric {full.get('metric')!r}"
                f" != bank metric {bank.get('metric')!r} ({bank_path})"
            )
        if bank.get("sf") != sf:
            return None
    errors = full.get("errors") or {}
    detail = full.get("queries_detail") or {}
    cpu_sec = full.get("cpu_sec") or {}
    stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    for name, sec in (full.get("queries") or {}).items():
        if name in errors:
            continue
        cur = bank["queries"].get(name)
        if cur is None or sec < cur["sec"]:
            bank["queries"][name] = {
                "sec": sec,
                "detail": detail.get(name),
                "banked_at": stamp,
                # the box-speed context this floor was measured on —
                # the bracket's FLOOR, not its max: a banked sec is the
                # session's quietest observation, so it pairs with the
                # quietest canary sample; stamping the max would pair a
                # quiet floor with a loaded reading and under-loosen
                # every future gate on this row (3rd review pass)
                "canary_sec": full.get("canary_floor",
                                       full.get("canary_sec")),
            }
        elif cpu_sec.get(name) is not None and _banked_cpu(cur) is None:
            # pre-r12 banked rows carry no CPU data, and their wall
            # floors may never be beaten on a loaded box — but CPU is
            # load-insensitive BY DESIGN, so a later session's reading
            # is a valid reference for the gate's wall-vs-cpu
            # arbitration. Attach it WITHOUT touching the wall floor.
            cur["cpu_ref"] = cpu_sec[name]
            cur["cpu_ref_at"] = stamp
    names = universe if universe is not None else HEADLINE
    if not all(n in bank["queries"] for n in names):
        banked_total = None
    else:
        banked_total = round(sum(bank["queries"][n]["sec"] for n in names), 3)
    bank["banked_value"] = banked_total
    with open(bank_path, "w") as fh:
        fh.write(json.dumps(bank) + "\n")
    return banked_total


# Session-vs-bank regression gate (r9 verdict: merge-only banking can
# never SURFACE a bench-scale regression — a genuine slide only shows as
# a silently widening session-vs-banked gap). Mirrors stress_ci's 1.5x
# rule, with one twist the first live firing taught (r10): the bank is a
# per-query MINIMUM over all quiet sessions — an idealized floor no
# single run achieves — so raw session/banked ratios run 1.3-1.7x on any
# loaded box and a raw threshold cries wolf on ordinary contention
# (observed: 9 untouched queries "regressed" together on a load-5 box).
# Contention inflates the whole suite roughly uniformly, so each ratio
# is normalized by the SESSION MEDIAN ratio first: a uniform slowdown
# cancels out, and what flags is a query that slid RELATIVE to its
# peers — the plan-regression signature. (A global slide — a bad session
# config — still shows as value >> banked_value on the compact line; the
# gate targets per-query plan changes.) ONE offender suffices: with
# median normalization and best-of-3 minima a lone >1.5x-relative query
# is already signal, and requiring 3 would hide exactly the
# single-query plan regression the gate exists to surface (review
# catch); adjudication (quiet re-run) remains the documented next step.
REGRESSION_FACTOR = 1.5
REGRESSION_MIN_QUERIES = 1
# r12: wall-vs-cpu arbitration. A row whose WALL ratio trips the gate
# but whose executor-CPU ratio stayed within this factor of its banked
# cpu did the same compute and merely waited longer — the external-load
# signature that kept tripping manual adjudication in r8-r11. Such rows
# are reported but do not count toward the gate. A real plan regression
# (more rows through a kernel, a new shuffle's ser/de, a recompute)
# burns CPU and still trips. Caveat: a pure wait-time regression (spill
# IO, lock contention) is masked here — those surface in stress_ci's
# max-task evidence instead.
CPU_STEADY_FACTOR = 1.2


def _banked_cpu(cur: dict) -> float | None:
    """CPU seconds paired with the banked (min-wall) run, or the
    ``cpu_ref`` a later session attached to a pre-r12 row (CPU is
    load-insensitive, so cross-session CPU references are comparable
    even when wall floors are not)."""
    det = cur.get("detail") or {}
    runs, cpus = det.get("runs") or [], det.get("cpu_runs") or []
    if runs and len(cpus) == len(runs):
        best = cpus[runs.index(min(runs))]
        if isinstance(best, (int, float)):
            return best
    ref = cur.get("cpu_ref")
    return ref if isinstance(ref, (int, float)) else None


def bank_regressions(full: dict, bank_path: str = BANK_PATH) -> list[dict]:
    """Per-query rows whose session/banked ratio exceeds
    ``REGRESSION_FACTOR`` x the session's median ratio. The caller
    decides whether enough of them constitute a gate failure
    (``REGRESSION_MIN_QUERIES``)."""
    if not os.path.isfile(bank_path):
        return []
    with open(bank_path) as fh:
        bank = json.load(fh)
    if bank.get("sf") != full.get("sf") or bank.get("metric") != full.get(
        "metric"
    ):
        return []
    errors = full.get("errors") or {}
    ratios = {}
    for name, sec in (full.get("queries") or {}).items():
        cur = bank.get("queries", {}).get(name)
        if name in errors or not cur or cur["sec"] <= 0:
            continue
        # per-ROW canary context (r15, verdict task 8): each banked
        # floor was stamped in its own box era. The correction applied
        # below is each row's canary ratio RELATIVE to the session
        # median correction over STAMPED rows — uniform-era banks
        # cancel to exactly the pre-r15 raw comparison (applying the
        # absolute correction would push every ratio under the
        # max(1.0, median) clamp and mask a genuine plan slide behind
        # a widened bar — review catch), while a row banked on a
        # faster era than its peers (the r14 dedup_clusters false
        # trip) gets only its era GAP cancelled. Rows WITHOUT a banked
        # canary stamp stay at the raw comparison — their era is
        # unknown, and treating 'unknown' as corr=1.0 would inflate
        # them by med_corr and false-flag untouched pre-canary floors
        # (2nd review pass).
        corr = (
            canary_correction(full.get("canary_sec"), cur.get("canary_sec"))
            if cur.get("canary_sec")
            else None
        )
        ratios[name] = (sec, cur, sec / cur["sec"], corr)
    # era adjustment applies WITHIN the stamped group only: each
    # stamped row is scaled by med_corr/corr, so era differences among
    # stamped floors cancel (the r14 false-trip shape: one floor banked
    # on a faster era than its stamped peers) while a uniformly-stamped
    # bank reduces to the raw comparison exactly. Any stamped count
    # works — with one stamped row the factor is 1 (no self-relative
    # gap), which is the pre-canary behavior, not a regression (3rd
    # review pass: requiring >=3 stamped rows dropped the correction
    # during the bank's transition window). Unstamped rows always stay
    # raw.
    stamped = sorted(c for _, _, _, c in ratios.values() if c is not None)
    med_corr = _median(stamped) if stamped else None
    if med_corr:
        ratios = {
            n: (
                sec,
                cur,
                raw * med_corr / corr if corr else raw,
                corr,
            )
            for n, (sec, cur, raw, corr) in ratios.items()
        }
    if len(ratios) < 3:
        # a 1-2 query subset has no meaningful peer median — the upper
        # element IS the worst ratio, so the bar would be 1.5x the worst
        # ratio and a genuine regression could never flag (r10 ADVICE).
        # Warn instead of silently self-disabling.
        if ratios:
            print(
                f"bank_regressions: only {len(ratios)} comparable "
                "queries — regression gate needs >= 3, skipping",
                file=sys.stderr,
            )
        return []
    # true median: average the two middle elements for even counts (the
    # upper-median shortcut inflated the bar on small even sets)
    median = _median(sorted(r for _, _, r, _ in ratios.values()))
    # the bank floor is never beaten mid-session, so median >= 1 in
    # practice; clamp anyway so a half-banked file can't shrink the bar
    bar = REGRESSION_FACTOR * max(1.0, median)
    session_cpu = full.get("cpu_sec") or {}
    out = []
    for name, (sec, cur, ratio, corr) in ratios.items():
        if ratio > bar:
            row = {
                "query": name,
                "sec": sec,
                "banked": cur["sec"],
                # the ratio that GATED (era-adjusted only when
                # era_factor is present and != 1 — 3rd review pass:
                # claiming an adjustment that never ran misdirects
                # adjudication)
                "ratio": round(ratio, 2),
                "raw_ratio": round(sec / cur["sec"], 2),
                "session_median_ratio": round(median, 2),
                "banked_at": cur.get("banked_at"),
            }
            if corr is not None and corr != 1.0:
                row["canary_ratio"] = round(corr, 2)
            if med_corr and corr:
                row["era_factor"] = round(med_corr / corr, 3)
            # wall-vs-cpu arbitration (r12): same compute + longer wait
            # = contention, not a plan change
            bcpu = _banked_cpu(cur)
            scpu = session_cpu.get(name)
            if bcpu and scpu is not None:
                row["cpu_ratio"] = round(scpu / bcpu, 2)
                row["cpu_steady"] = row["cpu_ratio"] <= CPU_STEADY_FACTOR
            out.append(row)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from gcp_map_reduce_spark.plans import registry
    from gcp_map_reduce_spark.session import get_spark

    registry.load_catalog()
    overrides = build_overrides()
    # box-speed calibration BEFORE Spark exists: the canary must measure
    # the machine, not share it with a live executor pool. A second
    # sample lands after the timed loop (executors idle by then) and the
    # MAX of the bracket is recorded — load arriving mid-session would
    # otherwise hide behind a quiet pre-run sample (r14 live lesson).
    canary_pre = cpu_canary_sec()
    print(f"cpu canary (pre): {canary_pre}s", file=sys.stderr)
    steal_start = _steal_sample()

    def plan(name):
        return overrides[name] if name in overrides else registry.QUERIES[name]
    # UI on for the AppStatusStore REST reads (cpu_sec capture); the
    # status listener runs either way, so this does not touch task cost
    spark = get_spark(
        app_name="bench", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet reader, and per-query whole-stage-codegen
    # compilation. Warm at the TARGET sf_dir — AQE picks size-dependent
    # physical plans (broadcast vs shuffle join), so a small-SF warm-up
    # compiles the wrong codegen classes and the first large-SF run pays
    # 1-2 s of JIT. One warm pass per query means the timed runs measure
    # steady-state compute, not JIT or page-cache misses.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    for name in HEADLINE:
        try:
            plan(name)(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # warm-up is best-effort, but a broken
            # query must be visible here, not first at the timed run
            print(f"warm-up failed for {name}: {exc!r}", file=sys.stderr)

    # best-of-3: single-shot timings on a shared box swing 2-4x from GC
    # and JIT pauses; the minimum is the stable steady-state number.
    # Fault-isolated per query: one broken plan must NOT zero the whole
    # round's perf evidence (round-4 postmortem) — record {"err": ...} for
    # it and keep timing the rest.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    detail: dict[str, dict] = {}
    errors: dict[str, str] = {}
    import gc

    for name in HEADLINE:
        q = plan(name)
        samples: list[float] = []
        cpu_samples: list[float | None] = []
        # Drop driver-side references from the previous query before
        # timing this one: localCheckpoint blocks and broadcasts are
        # freed by the ContextCleaner only after the Python-side refs
        # are GC'd, and leftover executor blocks from a checkpoint-heavy
        # neighbor (the dedup family) showed up as 2-4x GC-pause noise
        # in THIS query's timings (r5->r6 q21 adjudication).
        gc.collect()
        try:
            for _ in range(runs):
                marker = _last_stage_id(spark)
                t0 = time.perf_counter()
                q(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
                # off the timer: REST read after the clock stops
                cpu_samples.append(_cpu_sec_since(spark, marker))
        except Exception as exc:
            errors[name] = repr(exc)[:500]
            print(f"timed run failed for {name}: {exc!r}", file=sys.stderr)
            continue
        # "queries" stays the minimum for round-over-round comparability;
        # "queries_detail" carries every sample so noise vs regression is
        # decidable from the artifact alone (round-5 postmortem: four
        # queries drifted +15-48% with no code change and only a re-run
        # could tell machine noise from a real slide).
        srt = sorted(samples)
        timings[name] = srt[0]
        # cpu of the min-WALL run (the comparable steady-state pairing);
        # None if the REST read failed for that run
        best_cpu = cpu_samples[samples.index(srt[0])]
        if best_cpu is not None:
            cpu[name] = best_cpu
        detail[name] = {
            "runs": samples,
            "cpu_runs": cpu_samples,
            "min": srt[0],
            "median": round(srt[len(srt) // 2], 3),
            "spread": round(srt[-1] - srt[0], 3),
        }

    # the post sample must NOT share the box with a live executor pool
    # (the checkpoint-heavy tail queries' ContextCleaner/GC churn would
    # inflate it on a genuinely quiet box — 3rd review pass), so the
    # session stops here; everything after is file/bank bookkeeping.
    spark.stop()
    canary_post = cpu_canary_sec()
    # max = the worst box state the RUN could have seen (gates the run);
    # min = the box state closest to the best-of floors this session
    # banks (stamps the banked rows). One-sided residue remains either
    # way: a spike fully inside the run slips the bracket, and a spike
    # only AFTER the run loosens this session's gate reading — the
    # bracket is evidence, not a recording.
    canary = max(canary_pre, canary_post)
    canary_floor = min(canary_pre, canary_post)
    steal_rate = _steal_rate(steal_start, _steal_sample())
    print(f"cpu canary (post): {canary_post}s", file=sys.stderr)
    print(f"steal rate over run: {steal_rate} cores", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # Full artifact (per-run arrays for noise-vs-regression adjudication)
    # goes to the FILE only: the driver's stdout capture keeps just the
    # last 2,000 chars, and the detail blob pushed the JSON line past that
    # tail two rounds running (BENCH_r06/r07 recorded parsed:null). The
    # stdout line is a COMPACT summary — total + per-query min + errors —
    # sized to survive the tail; BENCH_local.json in the repo carries
    # everything.
    full = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cpu_sec": cpu,
        "cpu_total": round(sum(cpu.values()), 2) if cpu else None,
        "queries_detail": detail,
        "errors": errors,
        "sf": sf,
        "canary_sec": canary,
        "canary_floor": canary_floor,
        "canary_pre": canary_pre,
        "canary_post": canary_post,
        "steal_cores_run": steal_rate,
    }
    out_path = os.path.join(REPO, "BENCH_local.json")
    with open(out_path, "w") as fh:
        fh.write(json.dumps(full) + "\n")
    print(f"bench artifact written to {out_path}", file=sys.stderr)
    # merge-only bank: a quiet run improves BENCH_BEST.json, a contended
    # one leaves it untouched — either way the compact line reports both
    # this session's total and the banked best-of total
    full["banked_value"] = merge_best(full)
    compact = dict(full)
    del compact["queries_detail"]
    # regression gate (r10): merge-only banking can't surface a slide,
    # so compare session-vs-bank here. Only the tripped gate changes the
    # compact line (it must stay under the driver's 2,000-char tail).
    regs = bank_regressions(full)
    # cpu-steady rows (same compute, longer wait = contention) are
    # reported but do not trip the gate (r12 arbitration)
    real = [r for r in regs if not r.get("cpu_steady")]
    if regs:
        for r in regs:
            tag = (
                "cpu-steady (contention)" if r.get("cpu_steady")
                else "cpu moved too" if "cpu_ratio" in r
                else "no cpu evidence"
            )
            print(
                f"bank gate: {r['query']} wall {r['sec']}s vs "
                f"{r['banked']}s banked (ratio {r['ratio']}, cpu_ratio "
                f"{r.get('cpu_ratio', 'n/a')}) — {tag}",
                file=sys.stderr,
            )
    if len(real) >= REGRESSION_MIN_QUERIES:
        compact["bank_regression_gate"] = sorted(r["query"] for r in real)
        med = real[0]["session_median_ratio"]
        print(
            f"BANK REGRESSION GATE: {len(real)} queries exceed "
            f"{REGRESSION_FACTOR}x the session-median banked ratio "
            f"({med}) with non-steady CPU: "
            + ", ".join(
                f"{r['query']} {r['sec']}s vs {r['banked']}s banked "
                f"(ratio {r['ratio']}, cpu_ratio {r.get('cpu_ratio', 'n/a')})"
                for r in real
            )
            + " — these slid RELATIVE to the rest of this session and "
            "burned more CPU doing it, which contention cannot explain; "
            "adjudicate with a quiet-box re-run, and prune "
            "BENCH_BEST.json rows only for intentional plan trades",
            file=sys.stderr,
        )
    print(json.dumps(compact))


def merge_best_cli(paths: list[str]) -> None:
    """``bench.py --merge-best [artifact ...]``: bank existing session
    artifacts (quiet-box runs, historical captures) without re-running."""
    for p in paths or [os.path.join(REPO, "BENCH_local.json")]:
        with open(p) as fh:
            full = json.load(fh)
        banked = merge_best(full)
        print(f"merged {p}: banked_value={banked}", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--merge-best":
        merge_best_cli(sys.argv[2:])
    else:
        main()
