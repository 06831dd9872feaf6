"""Layer spans taken from outside the program, and Spark event-log totals.

``Tracer.install`` replaces every public function of each layer module with a
wrapper, in every ``candia_spark`` module that holds a reference to it
(``pipeline.py`` and ``plans/queries.py`` bind their imports at load time, so
patching only the defining module would miss them). A wrapper opens a span
unless the caller is already inside the same layer, and tags the Spark jobs
started inside it through the ``perfbench.layer`` local property. The
benchmark opens the ``plans`` span around query builders and the ``sink``
span around the final action itself.

``read_event_log`` stream-parses an uncompressed, non-rolling event log into
per-pass job, stage and task totals keyed by the ``perfbench.*`` properties.
"""

from __future__ import annotations

import importlib
import inspect
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

LAYER_MODULES = {
    "tables": ["candia_spark.tables"],
    "sources": [
        "candia_spark.sources.mzml",
        "candia_spark.sources.mzxml",
        "candia_spark.sources.adapters",
        "candia_spark.sources.wrappers",
    ],
    "pipeline": ["candia_spark.pipeline"],
    "relational": ["candia_spark.operators.relational"],
    "sequential": ["candia_spark.operators.sequential"],
    "asof": ["candia_spark.operators.asof"],
    "kernels": ["candia_spark.operators.kernels"],
    "dedup": ["candia_spark.operators.dedup"],
    "similarity": ["candia_spark.operators.similarity"],
    "graph": ["candia_spark.operators.graph"],
    "clustering": ["candia_spark.operators.clustering"],
    "retrieval": ["candia_spark.operators.retrieval"],
}
LAYERS = list(LAYER_MODULES) + ["plans", "sink"]

PROP_PASS = "perfbench.pass"
PROP_OP = "perfbench.op"
PROP_LAYER = "perfbench.layer"


class _Traced:
    """Callable stand-in for a layer function.

    Pickles as the original function looked up by name, so a closure shipped
    to a Python worker carries the untouched function, not the tracer.
    """

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        self.fn = fn
        self.layer = layer
        self.tracer = tracer
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__doc__ = fn.__doc__
        self.__module__ = fn.__module__

    def __call__(self, *args, **kwargs):
        stack = self.tracer.stack
        if stack and stack[-1][0] == self.layer:
            return self.fn(*args, **kwargs)
        with self.tracer.span(self.layer):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (sys.modules[self.fn.__module__], self.fn.__name__))


class Tracer:
    """Per-layer call counts and self time, kept in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[list] = []  # [layer, start, time spent in children]
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self._patched: list[tuple] = []

    def begin_pass(self, tag: str) -> None:
        self.calls.clear()
        self.self_s.clear()
        self.sc.setLocalProperty(PROP_PASS, tag)

    def end_pass(self) -> dict:
        """This pass's per-layer counts and times."""
        self.sc.setLocalProperty(PROP_PASS, None)
        return {"calls": dict(self.calls), "self_s": dict(self.self_s)}

    @contextmanager
    def op(self, name: str):
        """One benchmark operation: tags the Spark jobs it starts."""
        self.sc.setLocalProperty(PROP_OP, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(PROP_OP, None)

    @contextmanager
    def span(self, layer: str):
        self.stack.append([layer, time.perf_counter(), 0.0])
        self.sc.setLocalProperty(PROP_LAYER, layer)
        try:
            yield
        finally:
            _, start, child = self.stack.pop()
            dur = time.perf_counter() - start
            self.calls[layer] += 1
            self.self_s[layer] += dur - child
            if self.stack:
                self.stack[-1][2] += dur
            self.sc.setLocalProperty(PROP_LAYER, self.stack[-1][0] if self.stack else None)

    @staticmethod
    def df_cache_entries(spark) -> int:
        """DataFrame cache entries registered in the session's CacheManager.

        Counts persisted DataFrames only; ``getPersistentRDDs()`` would also
        count the blocks of ``localCheckpoint``.
        """
        cm = spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cm).size())

    def install(self) -> None:
        """Wrap the layer functions where every candia_spark module sees them."""
        originals = {}
        for layer, modules in LAYER_MODULES.items():
            for name in modules:
                mod = importlib.import_module(name)
                for attr, obj in vars(mod).items():
                    if (
                        not attr.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == name
                    ):
                        originals[id(obj)] = (obj, _Traced(obj, layer, self))
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("candia_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, obj))

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()


# --- event log -------------------------------------------------------------

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)


def _event_name(line: str) -> str:
    # every event line starts {"Event":"<name>", where SQL events carry
    # their package (org.apache.spark.sql.execution.ui.SparkListenerSQL...)
    if not line.startswith('{"Event":"'):
        return ""
    return line[10:line.find('"', 10)].rsplit(".", 1)[-1]


def _plan_accumulators(plan: dict, node: str, udf_marker: str, out: set) -> None:
    if plan.get("nodeName") == node and udf_marker in plan.get("simpleString", ""):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for child in plan.get("children", []):
        _plan_accumulators(child, node, udf_marker, out)


# Physical operators whose executions are counted by name: the grouped
# PARAFAC fleet (kernels.decompose_slices' ``decompose`` UDF) and the mzML
# parse (sources.mzml.read_mzml_points' ``parse`` UDF).
MARKED_STAGES = {
    "kernels.fleet": ("FlatMapGroupsInPandas", "decompose("),
    "sources.parse": ("MapInPandas", "parse("),
}


def read_event_log(path: str) -> dict:
    """Per-pass totals from one event log.

    Returns ``{pass: {"jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "task_max_s", "shuffle_write_b", "shuffle_read_b", "spill_b", "output_b",
    "jobs_by_layer": {...}, "jobs_by_op": {...}, "<marked>.executions",
    "<marked>.tasks"}}`` for jobs tagged with ``perfbench.pass``.
    """
    stage_props: dict[int, dict] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    stage_accums: dict[int, set] = defaultdict(set)
    marked_accums: dict[str, set] = {k: set() for k in MARKED_STAGES}
    passes: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    jobs_by_layer: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    jobs_by_op: dict[str, dict] = defaultdict(lambda: defaultdict(int))

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = _event_name(line)
            if ev not in _WANTED:
                continue
            if ev.startswith("SparkListenerSQL"):
                if "Pandas" not in line:
                    continue
                plan = json.loads(line).get("sparkPlanInfo", {})
                for key, (node, marker) in MARKED_STAGES.items():
                    _plan_accumulators(plan, node, marker, marked_accums[key])
                continue
            e = json.loads(line)
            props = e.get("Properties") or {}
            if ev == "SparkListenerJobStart":
                p = props.get(PROP_PASS)
                if p is None:
                    continue
                passes[p]["jobs"] += 1
                jobs_by_layer[p][props.get(PROP_LAYER) or "none"] += 1
                jobs_by_op[p][props.get(PROP_OP) or "none"] += 1
            elif ev == "SparkListenerStageSubmitted":
                stage_props[e["Stage Info"]["Stage ID"]] = props
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                p = stage_props.get(sid, {}).get(PROP_PASS)
                if p is None:
                    continue
                stage_tasks[sid] += 1
                m = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                acc = passes[p]
                acc["tasks"] += 1
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                acc["task_max_s"] = max(acc["task_max_s"], dur)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                acc["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
                acc["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                p = stage_props.get(sid, {}).get(PROP_PASS)
                if p is None:
                    continue
                passes[p]["stages"] += 1
                stage_accums[sid].update(a["ID"] for a in info.get("Accumulables", []))
                for key, ids in marked_accums.items():
                    # plans are logged before their stages run, so the ids
                    # of every marked operator are known by now
                    if stage_accums[sid] & ids:
                        passes[p][f"{key}.executions"] += 1
                        passes[p][f"{key}.tasks"] += stage_tasks[sid]
    out = {}
    for p, acc in passes.items():
        row = {k: acc.get(k, 0.0) for k in (
            "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "task_max_s",
            "shuffle_write_b", "shuffle_read_b", "spill_b", "output_b",
        )}
        for key in MARKED_STAGES:
            row[f"{key}.executions"] = acc.get(f"{key}.executions", 0.0)
            row[f"{key}.tasks"] = acc.get(f"{key}.tasks", 0.0)
        row["jobs_by_layer"] = dict(jobs_by_layer[p])
        row["jobs_by_op"] = dict(jobs_by_op[p])
        out[p] = row
    return out


