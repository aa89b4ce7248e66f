#!/usr/bin/env python
"""One-command stress regression gate: generate the skewed ~sf1 set if
absent, run tools/stress_bench.py, and diff per-query wall seconds AND
max-single-task ms against the checked-in baseline
(``STRESS_BASELINE.json`` at the repo root) — the scale regressions the sf0.1 bench can't
see (stragglers, quadratic edges, lost fan-out).

Outputs, in order:
- ``stress/LATEST.json`` — the full run (always written);
- the auto-generated block in ``SCALING.md`` between the
  ``stress-ci:begin/end`` markers — the latest numbers next to their
  baselines (hand-written analysis above the block is never touched);
- ONE JSON summary line on stdout:
  ``{"metric": "stress_ci", "regressions": [...], ...}`` — empty
  ``regressions`` means the gate passes.

A query regresses when its best-of-N seconds OR its max-task ms exceeds
``--ratio`` (default 1.5x) of baseline. Floors (--min-sec / --min-task-ms)
keep noise on sub-second queries from flagging.

Usage:
  python tools/stress_ci.py                   # gate against baseline
  python tools/stress_ci.py --update-baseline # accept current as baseline
  python tools/stress_ci.py --regen           # force-regenerate the data
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STRESS_DIR = os.path.join(REPO, "stress", "sf1")
# baseline lives at the repo ROOT (stress/ is gitignored run-artifact
# space; the baseline must be version-controlled to gate future rounds)
BASELINE = os.path.join(REPO, "STRESS_BASELINE.json")
LATEST = os.path.join(REPO, "stress", "LATEST.json")
SCALING = os.path.join(REPO, "SCALING.md")
MARK_BEGIN = "<!-- stress-ci:begin (auto-generated by tools/stress_ci.py) -->"
MARK_END = "<!-- stress-ci:end -->"


def ensure_stress_set(regen: bool) -> None:
    if regen or not os.path.isdir(STRESS_DIR):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_stress.py")],
            check=True,
        )


def run_stress_bench(runs: int, queries: list[str] | None = None) -> dict:
    cmd = [
        sys.executable,
        os.path.join(REPO, "tools", "stress_bench.py"),
        "--runs",
        str(runs),
    ]
    if queries is not None:
        cmd += ["--queries", *queries]
    proc = subprocess.run(
        cmd,
        check=True,
        capture_output=True,
        text=True,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"no JSON line in stress_bench output; tail: {proc.stdout[-500:]}"
    )


# Empty since r9: the exemption existed for dedup_clusters /
# curated_corpus, whose exact-edge plan carried a DELIBERATELY quadratic
# straggler (8-20 s swing) at the stress dup density. The stress gate
# times both with explicit minhash edges (tools/stress_bench.py — banked
# max tasks ~0.9 s / ~2.6 s), so that straggler is not in the gated
# rows, and exempting them would mask real regressions.
# If a future plan reintroduces a by-design straggler, add its row HERE
# with the rationale (tests/test_sinks.py pins this set).
_MAX_TASK_EXEMPT: set[str] = set()


# CPU-steadiness bound for the load adjudication — deliberately TIGHTER
# than the wall --ratio (bench.py's CPU_STEADY_FACTOR precedent): the
# arbitration distinguishes "same compute, longer wait" from "more
# compute"; reusing the loose wall ratio would wave through a genuine
# +40% compute regression that happened to land during box load.
CPU_STEADY_FACTOR = 1.2

# A max_task trip is adjudicated as load only when the RUN shows broad
# load evidence: at least this many OTHER queries' wall trips were
# cpu-steady. Rationale: external contention is GLOBAL (inflates many
# rows), a plan regression is LOCAL (one row) — and the max-task gate is
# the designated backstop for wait-time regressions (spill IO, lock
# contention) whose own CPU is flat by nature, so max_task must NOT be
# waived on its own cpu twin alone (that would mask the exact class
# bench.py's gate documents as "surfaces in stress_ci's max-task
# evidence instead"). Limitation: a real spill regression landing during
# broad box load is mis-adjudicated — re-run quiet to confirm.
BROAD_LOAD_MIN_QUERIES = 3


def _cpu_steady(b: dict, c: dict) -> bool:
    """True when the query's total executorCpuTime stayed within
    CPU_STEADY_FACTOR — cpu excludes scheduler/IO wait and GC pauses, so
    external box contention inflates wall while cpu stays ~flat (the
    r8-r12 'load signature'). Requires BOTH rows to carry cpu_sec;
    pre-r12 baseline rows don't, and keep the strict wall-only gate."""
    bc, cc = b.get("cpu_sec"), c.get("cpu_sec")
    if not bc or not cc:
        return False
    return cc <= bc * CPU_STEADY_FACTOR


def diff(
    base: dict, cur: dict, ratio: float, min_sec: float, min_task_ms: float
) -> tuple[list[dict], list[dict]]:
    """(regressions, load_adjudicated): a wall trip whose CPU stayed
    steady AND is corroborated by at least one other query's steady wall
    trip is recorded in the second list — visible in the artifact, but
    not a gate failure. max_task trips require BROAD load evidence
    (see BROAD_LOAD_MIN_QUERIES); a SOLO steady wall trip fails the
    gate (r12 ADVICE: it could be a local wait-time regression).

    Wall and max-task thresholds scale by the CPU-canary ratio between
    the two runs (r13 verdict task 3: bench.canary_correction, capped at
    2x) — the baseline's floors were stamped on SOME box state, and this
    host drifts ~1.5-1.9x across days; the canary turns "the box was
    slower that day" from a prose adjudication into arithmetic. The cap
    means a catastrophically slow box still trips everything — by
    design, that state needs human eyes either way. Merged baselines
    mix rows banked on different box states, so each row prefers ITS
    OWN canary (stamped by --merge-baseline) and falls back to the
    baseline's top-level one (an --update-baseline run is one box
    state)."""
    from bench import canary_correction

    base_canary = (base or {}).get("canary_sec")
    cur_canary = cur.get("canary_sec")
    regressions = []
    load_adjudicated = []
    wall_trips: list[tuple[dict, bool]] = []
    task_trips: list[tuple[dict, bool]] = []
    for name, c in cur["queries"].items():
        if "sec" not in c:
            continue  # the equality-assertion pseudo-entries
        b = (base or {}).get("queries", {}).get(name)
        if not b or "sec" not in b:
            continue
        corr = canary_correction(
            cur_canary, b.get("canary_sec") or base_canary
        )
        steady = _cpu_steady(b, c)
        if c["sec"] > max(b["sec"] * ratio * corr, min_sec):
            wall_trips.append((
                {"query": name, "kind": "wall_sec", "base": b["sec"],
                 "now": c["sec"], "base_cpu": b.get("cpu_sec"),
                 "now_cpu": c.get("cpu_sec"), "canary_corr": round(corr, 2)},
                steady,
            ))
        if name in _MAX_TASK_EXEMPT:
            continue
        bt, ct = b.get("max_task_ms") or 0, c.get("max_task_ms") or 0
        if bt and ct > max(bt * ratio * corr, min_task_ms):
            task_trips.append((
                {"query": name, "kind": "max_task_ms", "base": bt,
                 "now": ct, "base_cpu": b.get("cpu_sec"),
                 "now_cpu": c.get("cpu_sec"), "canary_corr": round(corr, 2)},
                steady,
            ))
    steady_wall_queries = {r["query"] for r, s in wall_trips if s}
    for row, steady in wall_trips:
        # r12 ADVICE: cpu-steady alone is necessary but not sufficient —
        # box load inflates MANY shuffle-heavy rows at once (the r8-r12
        # signature), so a steady wall trip is waived only when at least
        # one OTHER query's steady wall tripped too. A genuinely local
        # wait-time regression (new spill, extra driver-side jobs, lock
        # waits) whose executor CPU is flat by nature now fails the gate
        # instead of riding the waiver on a quiet box.
        others = steady_wall_queries - {row["query"]}
        if steady and len(others) >= 1:
            load_adjudicated.append(row)
        else:
            regressions.append(row)
    for row, steady in task_trips:
        others = steady_wall_queries - {row["query"]}
        if steady and len(others) >= BROAD_LOAD_MIN_QUERIES:
            load_adjudicated.append(row)
        else:
            regressions.append(row)
    # the salted-vs-naive equality assertion must stay at zero mismatches
    eq = cur["queries"].get("topk_salted_equals_naive", {})
    if eq.get("mismatch_rows", 0):
        regressions.append(
            {"query": "topk_salted_equals_naive", "kind": "mismatch_rows",
             "base": 0, "now": eq["mismatch_rows"]}
        )
    return regressions, load_adjudicated


def render_block(base: dict, cur: dict) -> str:
    lines = [
        MARK_BEGIN,
        "",
        "### Latest stress-CI run (`python tools/stress_ci.py`)",
        "",
        "Best-of-N seconds and max single-task ms at the skewed ~sf1 set,",
        "vs the checked-in `STRESS_BASELINE.json`:",
        "",
        "| Query | sec (base) | sec (now) | max task ms (base) | max task ms (now) |",
        "|---|---|---|---|---|",
    ]
    bq = (base or {}).get("queries", {})
    for name, c in cur["queries"].items():
        if "sec" not in c:
            continue
        b = bq.get(name, {})
        lines.append(
            f"| {name} | {b.get('sec', '—')} | {c['sec']} "
            f"| {b.get('max_task_ms', '—')} | {c.get('max_task_ms', '—')} |"
        )
    lines += ["", MARK_END]
    return "\n".join(lines)


def update_scaling_md(block: str) -> None:
    with open(SCALING) as fh:
        text = fh.read()
    if MARK_BEGIN in text and MARK_END in text:
        head, rest = text.split(MARK_BEGIN, 1)
        _, tail = rest.split(MARK_END, 1)
        text = head + block + tail
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(SCALING, "w") as fh:
        fh.write(text)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--ratio", type=float, default=1.5)
    ap.add_argument("--min-sec", type=float, default=1.0)
    ap.add_argument("--min-task-ms", type=float, default=1000.0)
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--update-baseline", action="store_true")
    ap.add_argument(
        "--merge-baseline",
        action="store_true",
        help="fold the current run into the baseline: a query's row is "
        "replaced as a UNIT (sec + max_task_ms together) when the new "
        "run's sec is faster — the same best-observed policy as "
        "bench.py's best-of-N. The pair stays from one run: taking "
        "independent per-metric minimums would converge max_task_ms to "
        "the luckiest-ever straggler and manufacture false regressions "
        "on noisy shared-box task times",
    )
    ap.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help="time only these rows (stress_bench passthrough) — for "
        "banking a specific stale row during a short quiet window with "
        "--merge-baseline. Implies: LATEST.json and the SCALING.md table "
        "are NOT refreshed (a subset run must not shrink the full-run "
        "artifacts); the diff gate still runs over the subset.",
    )
    args = ap.parse_args()
    if args.queries is not None and not args.merge_baseline:
        raise SystemExit("--queries requires --merge-baseline (a subset "
                         "run only makes sense as an opportunistic bank)")
    if args.queries is not None and not os.path.isfile(BASELINE):
        raise SystemExit("--queries needs an existing STRESS_BASELINE.json "
                         "(a subset run must not become the full baseline)")

    ensure_stress_set(args.regen)
    # box-speed calibration BRACKETING the Spark subprocess (before it
    # spins up and after it exits — never sharing the box with live
    # executors): the first r14 live run showed a single pre-run sample
    # reads a quiet box and then external load arrives mid-run; the MAX
    # of the bracket is the honest "how slow was this box" estimate
    # (still a bracket, not a recording — a spike fully inside the run
    # can slip it; that residue stays a prose adjudication)
    sys.path.insert(0, REPO)
    from bench import cpu_canary_sec

    canary_pre = cpu_canary_sec()
    cur = run_stress_bench(args.runs, args.queries)
    canary_post = cpu_canary_sec()
    # max gates THIS run (the worst box state it could have seen — a
    # post-only spike therefore loosens this run's reading, the
    # documented one-sided residue); min stamps any floor this run
    # banks (a best-of floor pairs with the quietest sample, see the
    # matching bench.py comment)
    canary = max(canary_pre, canary_post)
    canary_floor = min(canary_pre, canary_post)
    cur["canary_sec"] = canary
    cur["canary_floor"] = canary_floor
    cur["canary_pre"] = canary_pre
    cur["canary_post"] = canary_post
    if args.queries is None:
        with open(LATEST, "w") as fh:
            json.dump(cur, fh, indent=1)

    base = None
    if os.path.isfile(BASELINE):
        with open(BASELINE) as fh:
            base = json.load(fh)

    if args.merge_baseline and base is not None:
        merged = json.loads(json.dumps(base))
        for name, c in cur["queries"].items():
            # stamp the run's canary ON THE ROW it floors (r14 review
            # catch): a baseline mixes rows banked on different box
            # states, so one top-level canary cannot pair with all of
            # them — diff() prefers the row-level canary, and mixing a
            # fast-day canary with a slow-day floor would double-loosen
            # the gate (corr on top of an already-inflated floor).
            # The FLOOR sample, not the max: a banked best-of floor
            # pairs with the run's quietest box state (3rd review pass)
            if "sec" in c:
                c = {**c, "canary_sec": canary_floor}
            b = merged["queries"].setdefault(name, c)
            # replace the whole row only when this run's wall time won,
            # keeping (sec, max_task_ms, canary_sec) as a unit from the
            # same run
            old_cpu = b.get("cpu_sec")
            if "sec" in c and "sec" in b and c["sec"] < b["sec"]:
                merged["queries"][name] = c
                b = merged["queries"][name]
            # cpu_sec reference = MIN across runs: executorCpuTime is
            # load-insensitive in principle, but on a contended host it
            # is one-sided NOISY UPWARD (cache thrash, steal-accounting
            # bleed — measured 20-70% swings on identical plans+data),
            # so like the wall floors the reference converges on the
            # quiet-run minimum and the tight CPU_STEADY_FACTOR stays
            # meaningful. Even a run too slow to bank walls is a valid
            # cpu reference (bench.py's merge_best precedent).
            # max_task_cpu_ms is deliberately NOT attached cross-run —
            # per-task maxima depend on task granularity, and a
            # cross-run pair can exceed its own wall twin (seen in the
            # first r12 attach), which would widen the waiver.
            for cand in (old_cpu, c.get("cpu_sec")):
                if cand and (not b.get("cpu_sec") or cand < b["cpu_sec"]):
                    b["cpu_sec"] = cand
        # deliberately NO top-level canary update on merge: the
        # top-level value pairs only with --update-baseline's
        # one-run-one-box rows; merged rows carry their own canary_sec
        with open(BASELINE, "w") as fh:
            json.dump(merged, fh, indent=1)
        base = merged
    elif args.update_baseline or base is None:
        with open(BASELINE, "w") as fh:
            json.dump(cur, fh, indent=1)
        base = cur

    regressions, load_adjudicated = diff(
        base, cur, args.ratio, args.min_sec, args.min_task_ms
    )
    if args.queries is None:
        update_scaling_md(render_block(base, cur))
    print(
        json.dumps(
            {
                "metric": "stress_ci",
                "dir": cur.get("dir"),
                "canary_sec": cur.get("canary_sec"),
                "canary_base": (base or {}).get("canary_sec"),
                "regressions": regressions,
                "load_adjudicated": load_adjudicated,
                "queries": {
                    k: {"sec": v.get("sec"), "max_task_ms": v.get("max_task_ms")}
                    for k, v in cur["queries"].items()
                    if "sec" in v
                },
            }
        )
    )
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
