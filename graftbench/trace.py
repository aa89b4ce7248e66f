"""Traced-run recorder: spans at the engine's module boundaries.

The recorder wraps public functions of the engine from the outside. For a
target function it replaces the attribute in the defining module and in
every engine module that bound the same object by name at import, plus any
``registry.QUERIES`` entry, so callers reach the wrapper whichever way
they imported it. The engine's source is not modified.

Each span gets its own Spark job group (the ``spark.jobGroup.id`` local
property, restored to the parent's on exit), so every Spark job is
attributed to the innermost span that launched it. Spans are kept in
memory as (name, layer, kind, start, end, parent, request, group, phase)
and written out when the run ends; Spark counters are read from the
status store once, after the run, keyed by job group.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import os
import sys
import threading
import time

from graftbench.stats import clip, union_length

PACKAGE = "gcp_map_reduce_spark"

# (module, function, layer): the public entry points timed per layer.
TARGETS = [
    ("gcp_map_reduce_spark.session", "get_spark", "session"),
    ("gcp_map_reduce_spark.api", "launch_map_reduce", "api"),
    ("gcp_map_reduce_spark.sources.tables", "load_table", "sources"),
    ("gcp_map_reduce_spark.sources.text", "read_text_corpus", "sources"),
    ("gcp_map_reduce_spark.plans.probes", "cached_probe", "plans"),
    ("gcp_map_reduce_spark.operators.text_analysis", "text_quality_df",
     "operators.text_analysis"),
    ("gcp_map_reduce_spark.operators.dedup", "minhash_features_arrow",
     "operators.dedup"),
    ("gcp_map_reduce_spark.operators.ann_index", "ann_index_for_corpus",
     "operators.ann_index"),
    ("gcp_map_reduce_spark.operators.ann_index", "ann_index_search",
     "operators.ann_index"),
    ("gcp_map_reduce_spark.sinks.writers", "write_sorted_single_json", "sinks"),
    ("gcp_map_reduce_spark.sinks.writers", "write_partitioned", "sinks"),
    ("gcp_map_reduce_spark.streaming.near_dup", "read_store", "streaming"),
]

OPERATOR_LAYERS = ["wordcount", "text_analysis", "dedup", "pipeline",
                   "relational", "relational_subq"]
SPAN_LAYERS = (["session", "api", "sources", "plans"]
               + [f"operators.{m}" for m in OPERATOR_LAYERS]
               + ["operators.ann_index", "sinks", "streaming"])


class Span:
    __slots__ = ("sid", "name", "layer", "kind", "start", "end", "parent",
                 "request", "group", "phase", "attrs")

    def to_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def _active_context():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return sc if sc is not None and sc._jsc is not None else None


class Recorder:
    """Collects spans while ``active``; pass-through otherwise."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.phase = "setup"
        self.request: int | None = None
        self.request_ids = itertools.count()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self.installed = False

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = "call", **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        # a callback thread (streaming foreachBatch) nests under whatever
        # the main thread is inside
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span()
        sp.sid = next(self._ids)
        sp.name, sp.layer, sp.kind = name, layer, kind
        sp.parent = parent.sid if parent is not None else None
        sp.request, sp.phase, sp.attrs = self.request, self.phase, attrs
        sp.group = f"graftbench-{sp.sid}"
        sc = _active_context()
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None and _active_context() is sc:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, layer, "plan") as sp:
                result = fn(*args, **kwargs)
            if layer == "sinks":  # what the write left, counted off the span
                path = args[1] if len(args) > 1 else kwargs["path"]
                sp.attrs["files"] = sum(
                    len(files) for _, _, files in os.walk(path))
                sp.attrs["bytes"] = sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _, files in os.walk(path) for f in files)
            return result

        traced.__graftbench_original__ = fn
        return traced

    # -- patching --------------------------------------------------------
    @staticmethod
    def _replace_everywhere(fn, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap every target and every registered query, once."""
        from gcp_map_reduce_spark.plans import registry

        if self.installed:
            return
        self.installed = True
        registry.load_catalog()
        for mod_name, attr, layer in TARGETS:
            fn = getattr(importlib.import_module(mod_name), attr)
            self._replace_everywhere(fn, self.wrap(fn, layer))
        for qname, fn in list(registry.QUERIES.items()):
            layer = "operators." + fn.__module__.rsplit(".", 1)[-1]
            wrapper = self.wrap(fn, layer)
            self._replace_everywhere(fn, wrapper)
            registry.QUERIES[qname] = wrapper


# -- status store ---------------------------------------------------------
def read_jobs(sc, groups: set[str]) -> dict[str, list[dict]]:
    """Spark jobs per job group (only ``groups``), with their stages'
    counters summed. Stages shared by several jobs count once."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    empty = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    offset = time.time() - time.perf_counter()
    seen_stages: set[int] = set()
    out: dict[str, list[dict]] = {}
    for job in conv.asJava(store.jobsList(None)):
        grp = job.jobGroup()
        if not grp.isDefined() or grp.get() not in groups:
            continue
        sub, done = job.submissionTime(), job.completionTime()
        rec = {
            "start": sub.get().getTime() / 1000.0 - offset
            if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 - offset
            if done.isDefined() else None,
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "deser_s": 0.0, "fetch_wait_s": 0.0, "input_bytes": 0,
            "input_rows": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        for sid in conv.asJava(job.stageIds()):
            if sid in seen_stages:
                continue
            for sd in conv.asJava(store.stageData(sid, False, empty, False,
                                                  no_q)):
                if sd.status().toString() == "SKIPPED":
                    continue
                seen_stages.add(sid)
                rec["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                rec["run_s"] += sd.executorRunTime() / 1e3
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                rec["gc_s"] += sd.jvmGcTime() / 1e3
                rec["deser_s"] += sd.executorDeserializeTime() / 1e3
                rec["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                rec["input_bytes"] += sd.inputBytes()
                rec["input_rows"] += sd.inputRecords()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += (sd.diskBytesSpilled()
                                       + sd.memoryBytesSpilled())
        out.setdefault(grp.get(), []).append(rec)
    return out


def jobs_submitted_between(sc, start: float, end: float) -> int:
    """Spark jobs submitted between two ``time.time()`` instants, whatever
    their job group (a streaming query's micro-batch thread does not
    inherit the caller's)."""
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    n = 0
    for job in conv.asJava(sc._jsc.sc().statusStore().jobsList(None)):
        sub = job.submissionTime()
        if sub.isDefined() and start <= sub.get().getTime() / 1e3 <= end:
            n += 1
    return n


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it covered by its child
    spans (children may overlap one another and run on other threads)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.sid: (sp.end - sp.start)
        - union_length(clip(children.get(sp.sid, []), sp.start, sp.end))
        for sp in spans
    }


def layer_metrics(spans: list[Span], jobs: dict[str, list[dict]],
                  n_ops: int, n_setups: int, cores: int,
                  timed_wall: float) -> dict[str, float]:
    """Per-layer metrics, per completed operation of the timed section.

    The set-up metrics (``session.*``, ``operators.ann_index.build_s``
    and ``sinks.setup_write_s``) are per set-up instead. Spans of other
    phases (first touch, warm-up) are ignored. Executor and driver
    metrics cover the timed section."""
    selfs = self_times(spans)
    per_op, per_setup = 1.0 / max(n_ops, 1), 1.0 / max(n_setups, 1)
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    def mb(js, key) -> float:
        return sum(j[key] for j in js) / 2**20

    for sp in (s for s in spans if s.phase == "setup"):
        dur = sp.end - sp.start
        if sp.layer == "session":
            add("session.start_s", per_setup * dur)
            add("session.self_s", per_setup * selfs[sp.sid])
        elif sp.name == "operators.ann_index.ann_index_for_corpus":
            add("operators.ann_index.build_s", per_setup * dur)
        elif sp.layer == "sinks":
            add("sinks.setup_write_s", per_setup * dur)

    timed = [s for s in spans if s.phase == "timed"]
    for sp in timed:
        dur, js = sp.end - sp.start, jobs.get(sp.group, [])
        fn = sp.name.rsplit(".", 1)[-1]
        if sp.layer in SPAN_LAYERS:
            add(f"{sp.layer}.self_s", per_op * selfs[sp.sid])
        if sp.layer == "api":
            add(f"api.{fn}_s", per_op * dur)
            if fn == "semantic_search":
                # the route's collect() runs under the api span's own group
                add("operators.ann_index.search_exec_s", per_op * sum(
                    j["end"] - j["start"] for j in js
                    if j["start"] is not None and j["end"] is not None))
                add("operators.ann_index.search_jobs", per_op * len(js))
                add("operators.ann_index.search_input_mb",
                    per_op * mb(js, "input_bytes"))
        elif sp.layer == "sources":
            add("sources.plan_s", per_op * dur)
        elif sp.layer == "plans":
            add("plans.probe_calls", per_op)
            add("plans.probe_s", per_op * dur)
        elif sp.layer == "operators.ann_index":
            add("operators.ann_index.search_plan_s", per_op * dur)
            add("operators.ann_index.search_jobs", per_op * len(js))
            add("operators.ann_index.search_input_mb",
                per_op * mb(js, "input_bytes"))
        elif sp.layer == "sinks" and sp.kind == "lookup":
            add("sinks.lookup_s", per_op * dur)
            add("sinks.lookup_input_mb", per_op * mb(js, "input_bytes"))
        elif sp.layer == "sinks":
            add("sinks.write_s", per_op * dur)
            add("sinks.written_mb", per_op * sp.attrs.get("bytes", 0) / 2**20)
            add("sinks.files_written", per_op * sp.attrs.get("files", 0))
        elif sp.layer.startswith("operators."):
            key = "exec_s" if sp.kind == "exec" else "plan_s"
            add(f"{sp.layer}.{key}", per_op * dur)
            add(f"{sp.layer}.jobs", per_op * len(js))
            add(f"{sp.layer}.tasks", per_op * sum(j["tasks"] for j in js))
            add(f"{sp.layer}.cpu_s", per_op * sum(j["cpu_s"] for j in js))
            add(f"{sp.layer}.gc_s", per_op * sum(j["gc_s"] for j in js))
            add(f"{sp.layer}.shuffle_write_mb",
                per_op * mb(js, "shuffle_write_bytes"))
            add(f"{sp.layer}.spill_mb", per_op * mb(js, "spill_bytes"))

    timed_jobs = [j for s in timed for j in jobs.get(s.group, [])]
    m["sources.input_mb"] = per_op * mb(timed_jobs, "input_bytes")
    m["sources.input_rows"] = per_op * sum(j["input_rows"] for j in timed_jobs)
    m["executor.busy_ratio"] = sum(j["run_s"] for j in timed_jobs) / max(
        timed_wall * cores, 1e-9)
    m["executor.fetch_wait_s"] = per_op * sum(
        j["fetch_wait_s"] for j in timed_jobs)
    m["executor.deserialize_s"] = per_op * sum(
        j["deser_s"] for j in timed_jobs)
    # driver gap: operation wall time in which none of its jobs ran
    children: dict[int, list[Span]] = {}
    for s in timed:
        children.setdefault(s.parent, []).append(s)
    gap = 0.0
    for op in (s for s in timed if s.kind == "op"):
        ivs, todo = [], [op]
        while todo:
            cur = todo.pop()
            ivs += [(j["start"], j["end"]) for j in jobs.get(cur.group, [])
                    if j["start"] is not None and j["end"] is not None]
            todo += children.get(cur.sid, [])
        gap += (op.end - op.start) - union_length(clip(ivs, op.start, op.end))
    m["driver.gap_s"] = per_op * gap
    return m


# Operator layers the benchmark's listed workloads exercise; the relational
# layers are measured only by the unlisted sql_analytics workload, so their
# values stay in the run's artifact.
REPORTED_OPERATOR_LAYERS = ["wordcount", "text_analysis", "dedup", "pipeline"]


def per_layer_names() -> list[str]:
    """The per-layer metrics of the traced run's result object, in order.

    A time is listed only when both listed workloads (corpus_batch and
    map_reduce) measure it, so no listed time reads 0 on every run of one
    of them. The other times (the text operators' plan, exec, CPU and GC
    seconds, sink write seconds, probe seconds and the streaming trigger
    breakdown) and the metrics of layers only the unlisted workloads reach
    (the ANN index, point lookups, relational operators) are printed with
    the run and kept in its artifact."""
    names = ["session.start_s", "session.jvm_hwm_mb",
             "sources.input_mb", "sources.input_rows",
             "plans.probe_calls", "plans.probe_hit_ratio"]
    for mod in REPORTED_OPERATOR_LAYERS:
        names += [f"operators.{mod}.{k}" for k in (
            "jobs", "tasks", "shuffle_write_mb", "spill_mb")]
    names += [f"sinks.{k}" for k in (
        "written_mb", "files_written", "stored_bytes_ratio")]
    names += [f"streaming.{k}" for k in (
        "jobs_per_trigger", "state_mb", "late_early_ratio")]
    names += ["executor.busy_ratio", "executor.deserialize_s", "driver.gap_s",
              "api.self_s", "sinks.self_s",
              "trace.overhead_s", "trace.overhead_ratio"]
    return names
