"""Span tracing around the calls into each layer, plus Spark event-log
accounting, for the traced (``--trace 1``) run.

Spans are recorded from the benchmark's side of each boundary:

* the benchmark's own entry calls (``QUERIES[name]``, ``training_corpus``,
  ``bronze_ingest``, ``silver_refine``) open a span explicitly;
* every public function and method defined in a ``waterbear_spark`` layer
  module (and every private module function of ``operators``) is
  replaced, in every module namespace that holds it, by a wrapper that
  opens a span named after it;
* the DataFrame actions and ``DataFrameWriter`` saves of PySpark open a
  ``spark`` span, read the planner phase times of the frame they run and
  tag their jobs with the span id as Spark job group.

Spans stay in memory; the event log written by Spark is parsed after the
session stops and joined to the spans through the job group.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

LAYERS = (
    "queries",
    "operators",
    "pipeline",
    "quality",
    "sources",
    "functions",
    "streaming",
    "schema",
    "generator",
)
# Layers whose private module functions are wrapped too, because other
# layers call them directly (``queries.llm`` calls ``starcc._driver_components``).
PRIVATE_ENTRY_LAYERS = ("operators",)
SELF_LAYERS = ("bench", "queries", "operators", "pipeline", "quality", "sources", "functions", "streaming", "spark")
DF_ACTIONS = (
    "count", "collect", "toPandas", "take", "first", "head", "isEmpty", "foreach",
    "foreachPartition", "toLocalIterator", "localCheckpoint", "checkpoint",
)
WRITER_ACTIONS = ("save", "saveAsTable", "insertInto", "parquet", "json", "csv", "orc", "text")
# the actions training_corpus issues, in order, named by the stat they produce
PIPELINE_STAGES = (
    "n_raw", "n_quality", "n_exact_kept", "n_near_kept", "n_clean", "n_lm_kept",
    "splits", "n_train_sequences", "write",
)
WRITE_TARGETS = ("bronze", "silver", "quarantine", "corpus")
PHASES = ("analysis", "optimization", "planning")
GROUP = "spark.jobGroup.id"

# The tracer the installed wrappers report to. Wrappers reach it through
# this module global rather than a closure so that a wrapped function
# shipped to a Python worker pickles without it (it is None there).
_ACTIVE = None


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != "waterbear_spark" or len(parts) < 2:
        return None
    return parts[1] if parts[1] in LAYERS else None


def _traced_call(fn, layer, name, args, kwargs):
    tr = _ACTIVE
    if tr is None or not tr.enabled:
        return fn(*args, **kwargs)
    with tr.span(layer, name):
        return fn(*args, **kwargs)


def _action_call(fn, kind, obj, args, kwargs):
    tr = _ACTIVE
    if tr is None or not tr.enabled or tr.in_action:
        return fn(obj, *args, **kwargs)
    return tr.action(fn, kind, obj, args, kwargs)


def _wrap(fn, layer, name):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _traced_call(fn, layer, name, args, kwargs)

    wrapper._perfbench_wrapped = True
    return wrapper


def _wrap_action(fn, kind):
    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        return _action_call(fn, kind, self, args, kwargs)

    return wrapper


class Tracer:
    """Spans of one traced run: ``[id, parent, layer, name, t0, t1, info]``
    with wall-clock times in seconds."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.enabled = False
        self.in_action = False
        self._planned: set[int] = set()
        self._jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str, info: dict | None = None):
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = [sid, parent, layer, name, time.time(), None, info]
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty(GROUP, str(sid))
        try:
            yield rec
        finally:
            rec[5] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP, str(parent) if parent is not None else None)

    def action(self, fn, kind, obj, args, kwargs):
        jdf = obj._df._jdf if isinstance(obj, DataFrameWriter) else obj._jdf
        info: dict = {"kind": kind}
        if isinstance(obj, DataFrameWriter):
            path = kwargs.get("path", args[0] if args else None)
            info["path"] = path
        with self.span("spark", kind, info):
            self.in_action = True
            try:
                info["plan_ms"] = self._plan_ms(jdf)
                return fn(obj, *args, **kwargs)
            finally:
                self.in_action = False

    def _plan_ms(self, jdf) -> float:
        """Analysis + optimisation + planning time of the frame an action
        runs, read from its QueryPlanningTracker once per frame."""
        key = id(jdf)
        if key in self._planned:
            return 0.0
        self._planned.add(key)
        qe = jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0.0
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                total += float(opt.get().durationMs())
        return total

    # -- installation ------------------------------------------------------

    def install(self) -> None:
        """Wrap the layer functions and the PySpark actions (idempotent)."""
        global _ACTIVE
        _ACTIVE = self
        # Some layer modules are imported only inside the functions that use
        # them (``queries.llm`` imports ``operators.starcc`` on first call);
        # import them all now so that they are wrapped before that call.
        import waterbear_spark

        for info in pkgutil.walk_packages(waterbear_spark.__path__, "waterbear_spark."):
            if layer_of(info.name):
                importlib.import_module(info.name)
        memo: dict = {}
        classes: set = set()
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("waterbear_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if attr.startswith("__"):
                    continue
                if inspect.isclass(val) and layer_of(getattr(val, "__module__", "")):
                    if val not in classes and not attr.startswith("_"):
                        classes.add(val)
                        self._wrap_class(val)
                    continue
                if not inspect.isfunction(val) or getattr(val, "_perfbench_wrapped", False):
                    continue
                layer = layer_of(val.__module__)
                if layer is None or hasattr(val, "evalType"):
                    continue
                if attr.startswith("_") and layer not in PRIVATE_ENTRY_LAYERS:
                    continue
                if val not in memo:
                    memo[val] = _wrap(val, layer, f"{val.__module__}.{val.__qualname__}")
                setattr(mod, attr, memo[val])
        for cls, names in ((DataFrame, DF_ACTIONS), (DataFrameWriter, WRITER_ACTIONS)):
            for name in names:
                fn = getattr(cls, name, None)
                if fn is not None and not hasattr(fn, "__wrapped__"):
                    setattr(cls, name, _wrap_action(fn, name))

    @staticmethod
    def _wrap_class(cls) -> None:
        layer = layer_of(cls.__module__)
        for attr, val in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{cls.__module__}.{cls.__qualname__}.{attr}"
            if isinstance(val, (classmethod, staticmethod)):
                setattr(cls, attr, type(val)(_wrap(val.__func__, layer, name)))
            elif inspect.isfunction(val):
                setattr(cls, attr, _wrap(val, layer, name))

    # -- process state -----------------------------------------------------

    def reset_peak_rss(self) -> None:
        try:
            with open(f"/proc/{self._jvm_pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass

    def peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self._jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: str) -> dict:
    """Per-job-group totals from Spark's JSON event log."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    jobs: dict = {}
    stage_group: dict = {}
    scan_rows: dict = {}  # accumulator id -> file location of a scan node
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP)
                    jobs[ev["Job ID"]] = [g, ev["Submission Time"], None]
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][2] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get(GROUP)
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid not in stage_group:
                        groups[g]["stages"] += 1
                    stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    _add_task(groups[stage_group.get(ev["Stage ID"])], ev, scan_rows)
                elif kind in SQL_PLAN_EVENTS:
                    _scan_metrics(ev["sparkPlanInfo"], scan_rows)
    return {"groups": groups, "jobs": jobs}


def _scan_metrics(node: dict, out: dict) -> None:
    """Map the row-count metric of every file scan in a plan to its files."""
    location = (node.get("metadata") or {}).get("Location")
    if node["nodeName"].startswith("Scan") and location:
        for m in node["metrics"]:
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = location
    for child in node["children"]:
        _scan_metrics(child, out)


def _add_task(acc, ev, scan_rows: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["run_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_r_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_w_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Name") in PYTHON_BYTES:
            acc["python_b"] += float(a.get("Update") or 0)
        elif a.get("ID") in scan_rows:
            acc["scan_rows|" + scan_rows[a["ID"]]] += float(a.get("Update") or 0)


# --------------------------------------------------------------------------
# per-pass metrics
# --------------------------------------------------------------------------


def _union_ms(intervals, lo, hi) -> float:
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


class PassView:
    """The spans under the operation roots of one pass."""

    def __init__(self, spans: list[list], roots: list[int]):
        self.spans = spans
        children = defaultdict(list)
        for s in spans:
            if s[1] is not None:
                children[s[1]].append(s[0])
        self.children = children
        self.members = [m for r in roots for m in self.subtree(r)]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s])
        return out

    def entries(self, layer: str, name_suffix: str = "") -> list[list]:
        """Spans that enter ``layer`` from another layer."""
        out = []
        for sid in self.members:
            s = self.spans[sid]
            parent = self.spans[s[1]] if s[1] is not None else None
            if s[2] == layer and (parent is None or parent[2] != layer) and s[3].endswith(name_suffix):
                out.append(s)
        return out

    def nearest_library_layer(self, sid: int) -> str | None:
        s = self.spans[sid]
        while s[1] is not None:
            s = self.spans[s[1]]
            if s[2] not in ("spark", "bench"):
                return s[2]
        return None


def _sum(groups, sids, key) -> float:
    return sum(groups.get(str(s), {}).get(key, 0.0) for s in sids)


def _scanned(groups, sids, needle: str) -> float:
    """Rows read by file scans whose location contains ``needle``."""
    return sum(
        v
        for s in sids
        for k, v in groups.get(str(s), {}).items()
        if k.startswith("scan_rows|") and needle in k
    )


def pass_metrics(spans: list[list], roots: list[int], events: dict, base: dict, extra: dict) -> dict:
    """The per-layer metrics of one traced pass; shares are of the summed
    wall time of the pass's operations."""
    view = PassView(spans, roots)
    groups, jobs = events["groups"], events["jobs"]
    wall = sum(spans[r][5] - spans[r][4] for r in roots)
    pct = 100.0 / wall if wall > 0 else 0.0

    def tot(key, sids=None):
        return _sum(groups, view.members if sids is None else sids, key)

    def subtrees(span_list):
        return [m for s in span_list for m in view.subtree(s[0])]

    self_s = dict.fromkeys(SELF_LAYERS, 0.0)
    for sid in view.members:
        s = spans[sid]
        kids = sum(spans[c][5] - spans[c][4] for c in view.children[sid])
        self_s[s[2]] = self_s.get(s[2], 0.0) + max(s[5] - s[4] - kids, 0.0)

    actions = sorted((spans[s] for s in view.members if spans[s][2] == "spark"), key=lambda a: a[4])
    by_group = defaultdict(list)
    for g, t0, t1 in jobs.values():
        if t1 is not None:
            by_group[g].append((t0, t1))
    idle = 0.0
    for a in actions:
        lo, hi = a[4] * 1000.0, a[5] * 1000.0
        idle += (hi - lo) - _union_ms(by_group[str(a[0])], lo, hi)

    builds = view.entries("queries")
    pipeline_actions = [a for a in actions if view.nearest_library_layer(a[0]) == "pipeline"]
    dedup = view.entries("queries", ".dedup_clusters")
    decon = view.entries("queries", ".decontaminate_overlap")
    refines = [spans[s] for s in view.members if spans[s][3].endswith("silver_refine")]
    pipeline_sids = subtrees(view.entries("pipeline"))

    m = {
        "spark.plan_s": sum(a[6].get("plan_ms", 0.0) for a in actions) / 1000.0,
        "spark.action_s": sum(a[5] - a[4] for a in actions),
        "spark.driver_idle_s": idle / 1000.0,
        "spark.task_run_s": tot("run_ms") / 1000.0,
        "spark.task_cpu_s": tot("cpu_ns") / 1e9,
        "spark.gc_s": tot("gc_ms") / 1000.0,
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.peak_rss_mb": extra.get("peak_rss_mb", 0.0),
        "spark.shuffle_write_mb": tot("shuffle_w_b") / 1e6,
        "spark.shuffle_read_mb": tot("shuffle_r_b") / 1e6,
        "spark.spill_mb": tot("spill_b") / 1e6,
        "spark.input_mb": tot("input_b") / 1e6,
        "queries.build_pct": pct * sum(s[5] - s[4] for s in builds),
        "queries.build_jobs": tot("jobs", subtrees(builds)),
        "queries.calls": len(builds),
        "operators.calls": len(view.entries("operators")),
        "pipeline.actions": len(pipeline_actions),
        "pipeline.rescan_factor": (
            _scanned(groups, pipeline_sids, "documents.parquet") / base["documents_rows"]
            if base.get("documents_rows")
            else 0.0
        ),
        "queries.llm.dedup_clusters.build_pct": pct * sum(s[5] - s[4] for s in dedup),
        "queries.llm.dedup_clusters.build_jobs": tot("jobs", subtrees(dedup)),
        "queries.llm.decontaminate_overlap.build_pct": pct * sum(s[5] - s[4] for s in decon),
        "quality.eval_passes": (
            _scanned(groups, subtrees(refines), "/bronze-") / (base["bronze_rows"] * len(refines))
            if refines and base.get("bronze_rows")
            else 0.0
        ),
        "functions.python_mb": tot("python_b") / 1e6,
    }
    for i, stage in enumerate(PIPELINE_STAGES):
        a = pipeline_actions[i] if i < len(pipeline_actions) else None
        m[f"pipeline.action_pct.{stage}"] = pct * (a[5] - a[4]) if a else 0.0
    for target in WRITE_TARGETS:
        m[f"sources.write_pct.{target}"] = pct * sum(
            a[5] - a[4]
            for a in actions
            if os.path.basename(str(a[6].get("path") or "")).split("-")[0] == target
        )
    m["sources.write_mb"], m["sources.files_written"] = _written(actions)
    for layer in SELF_LAYERS:
        m[f"{layer}.self_pct"] = pct * self_s[layer]
    m["pass_wall_s"] = wall
    m["spans"] = len(view.members)
    m["self_s"] = self_s
    return m


def _written(actions) -> tuple[float, int]:
    size, files = 0, 0
    for a in actions:
        path = a[6].get("path")
        if not path or not os.path.isdir(path):
            continue
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return size / 1e6, files
