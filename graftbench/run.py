"""Benchmark entry point.

    python3 graftbench/run.py --workload corpus_batch --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. It generates the workload's inputs
from ``--seed`` under the checkout, sets the engine up several times (the
median is ``setup_s``), warms up, runs the closed loop for ``--seconds``,
checks every output, and prints one JSON object as the last line of
standard output. ``--trace 1`` wraps the engine's module boundaries and
reports per-layer metrics instead; it measures the same loop untraced and
traced, in alternation, so the tracing overhead is the difference.

Exits 2, printing no result, when the engine package or its oracle harness
is missing from the checkout.
See ``graftbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

PACKAGE = "gcp_map_reduce_spark"
SETUPS = 3
WORK_DIR = ".graftbench-work"
OUT_DIR = ".graftbench-out"
# How each workload names its operation in the end-to-end metric names.
OP_NOUN = {"corpus_batch": "job", "map_reduce": "job", "sql_analytics": "job",
           "search_serving": "request"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str, cpus: int, java_options: str) -> None:
    """Keep the engine on ``local[cpus]`` and every file it writes (Spark
    scratch, temp files, JVM temp dir) inside ``work``; start its JVM with
    the workload's ``java_options``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_OPEN_COST_BYTES",
                "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData {java_options} "
                             f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp
    os.chdir(work)


def measure(rounds, rec, n_rounds: int) -> dict:
    """The closed loop: issue ``n_rounds`` rounds of the workload's
    operation mix, one operation after another. The count is fixed per
    workload and ``--seconds`` (``Workload.timed_rounds``), not by the
    clock, so every run measures the same operations and the tail sits at
    the same rank of the same mix."""
    samples, rows, attempted, failed = [], 0, 0, 0
    start = time.perf_counter()
    for _ in range(n_rounds):
        for name, call in next(rounds):
            rec.request = next(rec.request_ids)
            attempted += 1
            t0 = time.perf_counter()
            try:
                with rec.span(f"op.{name}", "bench", kind="op"):
                    n = call(rec)
            except Exception:  # noqa: BLE001 - a failed operation is counted
                failed += 1
                traceback.print_exc()
                continue
            samples.append((name, time.perf_counter() - t0))
            rows += n
    rec.request = None
    return {"samples": samples, "rows": rows,
            "wall": time.perf_counter() - start,
            "attempted": attempted, "failed": failed}


def summarize(*loops: dict) -> dict:
    """One phase's statistics over the loops that measured it."""
    from graftbench.stats import median, tail

    samples = [s for loop in loops for s in loop["samples"]]
    if not samples:
        raise RuntimeError("no operation completed")
    durations = [d for _, d in samples]
    rows = sum(loop["rows"] for loop in loops)
    wall = sum(loop["wall"] for loop in loops)
    return {"p50": median(durations), "tail": tail(durations), "rows": rows,
            "rows_s": rows / wall, "wall": wall,
            "attempted": sum(loop["attempted"] for loop in loops),
            "failed": sum(loop["failed"] for loop in loops),
            "ops": len(samples), "samples": samples}


def stop_engine(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate to kill
            proc.kill()
            proc.wait()


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args, work: str, cpus: int) -> dict:
    from graftbench import stats, trace
    from graftbench.workloads import WORKLOADS

    steal = stats.StealSampler()
    traced = bool(args.trace)
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, traced)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    rec = trace.Recorder()
    spark, setups = None, []
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            from gcp_map_reduce_spark import session
            from gcp_map_reduce_spark.plans import probes, registry

            registry.load_catalog()
            if traced:
                rec.install()
                rec.active = True
            spark = session.get_spark()
            wl.setup(spark, i)
            rec.phase = "touch"
            wl.first_touch(rec)
            rec.phase = "setup"
            setups.append(time.perf_counter() - t)

        rec.phase = "warmup"
        t = time.perf_counter()
        checked = wl.warmup(rec)
        rounds = wl.rounds()
        phases = {}
        if wl.warm_rounds():
            phases["warm"] = summarize(measure(rounds, rec, wl.warm_rounds()))
        warmup_s = time.perf_counter() - t

        if traced:
            # untraced, traced, traced, untraced: the process still speeds
            # up from loop to loop, and this order cancels that drift out
            # of the tracing overhead
            rec.phase = "timed"
            probes0 = dict(probes.STATS)
            loops = {False: [], True: []}
            for active in (False, True, True, False):
                rec.active = active
                loops[active].append(
                    measure(rounds, rec, wl.traced_loop_rounds()))
            rec.active = False
            phases["untraced"] = summarize(*loops[False])
            phases["traced"] = summarize(*loops[True])
        else:
            phases["untraced"] = summarize(
                measure(rounds, rec, wl.timed_rounds()))
        main = phases["traced" if traced else "untraced"]
        stored = wl.stored_bytes_ratio()
        checked = [{"check": name, "ok": bool(ok), "detail": detail}
                   for name, ok, detail in checked + wl.final_checks()]
        for c in checked:
            if not c["ok"]:
                print(f"CHECK FAILED {c['check']}: {c['detail']}",
                      file=sys.stderr)

        metrics = {
            "setup_s": stats.median(setups),
            "op_s_p50": main["p50"],
            "op_s_tail": main["tail"]["value"],
            "rows_s": main["rows_s"],
        }
        layers = {}
        if traced:
            sc = spark.sparkContext
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty()
            except Exception:  # noqa: BLE001 - older API; let it drain
                time.sleep(1.0)
            jobs = trace.read_jobs(sc, {s.group for s in rec.spans})
            layers = trace.layer_metrics(
                rec.spans, jobs, n_ops=main["ops"], n_setups=SETUPS,
                cores=cpus, timed_wall=main["wall"])
            hits = probes.STATS["hits"] - probes0["hits"]
            calls = hits + probes.STATS["misses"] - probes0["misses"]
            layers["plans.probe_hit_ratio"] = hits / calls if calls else 0.0
            layers["session.jvm_hwm_mb"] = jvm_hwm_mb(spark)
            layers["sinks.stored_bytes_ratio"] = stored or 0.0
            layers.update(wl.layer_values())
            untraced = phases["untraced"]["p50"]
            layers["trace.overhead_s"] = main["p50"] - untraced
            layers["trace.overhead_ratio"] = main["p50"] / untraced - 1.0
            layers = {k: float(v) for k, v in layers.items()}
    finally:
        stop_engine(spark)

    attempted = sum(p["attempted"] for p in phases.values()) + len(checked)
    failed = sum(p["failed"] for p in phases.values()) + sum(
        not c["ok"] for c in checked)
    return {
        "workload": args.workload,
        "context": stats.run_context(ROOT, os.path.join(ROOT, PACKAGE),
                                     args.seed, cpus, steal),
        "gen_s": gen_s, "setups_s": setups, "warmup_s": warmup_s,
        "phases": phases, "checks": checked,
        "stored_bytes_ratio": stored,
        "attempted": attempted, "failed": failed,
        "metrics": metrics, "layers": layers,
        "spans": rec.spans if traced else [],
    }


def report(res: dict, trace_on: bool) -> dict:
    """Human-readable lines, then the result object."""
    wl, m = res["workload"], res["metrics"]
    noun = OP_NOUN[wl]
    tl = res["phases"]["traced" if trace_on else "untraced"]["tail"]
    lines = [
        ("setup_s", m["setup_s"], "s"),
        (f"{noun}_s_p50", m["op_s_p50"], "s"),
        (f"{noun}_s_tail", m["op_s_tail"],
         f"s (p{tl['percentile']}, {tl['above']} of {tl['n']} above)"),
        ("requests_s" if noun == "request" else "rows_s", m["rows_s"],
         "req/s" if noun == "request" else "rows/s"),
        ("failed_ratio", res["failed"] / max(res["attempted"], 1), "ratio"),
    ]
    if res["stored_bytes_ratio"] is not None:
        lines.append(("stored_bytes_ratio", res["stored_bytes_ratio"], "ratio"))
    for name, value, unit in lines:
        print(f"{wl} {name} = {value:.6g} {unit}")
    units = {"setup_s": "s", "op_s_p50": "s", "op_s_tail": "s",
             "rows_s": "rows/s", "stored_bytes_ratio": "ratio"}
    if res["stored_bytes_ratio"] is not None:
        m = {**m, "stored_bytes_ratio": res["stored_bytes_ratio"]}
    if trace_on:
        from graftbench.trace import per_layer_names

        for name, value in sorted(res["layers"].items()):
            print(f"{wl} {name} = {value:.6g} {_layer_unit(name)}")
        metrics = {k: {"value": res["layers"].get(k, 0.0),
                       "unit": _layer_unit(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith(("_ratio", "recall_at_10")):
        return "ratio"
    if suffix == "input_rows":
        return "rows"
    return "count"


def save(res: dict, result: dict, args) -> None:
    out = os.path.join(ROOT, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-s{args.seed}-t{args.trace}")
    spans = res.pop("spans")
    with open(stem + ".json", "w") as fh:
        json.dump({**res, "result": result}, fh, indent=1, default=str)
    if spans:
        with open(stem + ".spans.jsonl", "w") as fh:
            for sp in sorted(spans, key=lambda s: s.start):
                fh.write(json.dumps(sp.to_dict(), default=str) + "\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    from graftbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    missing = [p for p in (PACKAGE, "tests/oracle_harness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"{', '.join(missing)} not found under {ROOT}: run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, WORK_DIR), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-",
                            dir=os.path.join(ROOT, WORK_DIR))
    cwd = os.getcwd()
    try:
        isolate(work, cpus, WORKLOADS[args.workload].JAVA_OPTIONS)
        res = run(args, work, cpus)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    result = report(res, bool(args.trace))
    save(res, result, args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
