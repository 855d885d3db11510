"""Runs one workload end to end: session, setup, passes, output checks,
metrics and the result line.

Untraced run (``--trace 0``): the workload's untimed warm passes, which
check outputs, then timed passes until ``--seconds`` have elapsed and the
workload's ``min_passes`` have run. Traced run (``--trace 1``): the first pass traced and reported as
cold, then untraced and traced passes taking turns; the last traced pass
gives the per-layer metrics, and the mean traced pass minus the mean
untraced pass is the tracing overhead.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

from perfbench import tracing
from perfbench.workloads import WORKLOADS

SETUP_REPEATS = 3
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    **{
        name: "s"
        for name in (
            "spark.plan_s", "spark.action_s", "spark.driver_idle_s", "spark.task_run_s",
            "spark.task_cpu_s", "spark.gc_s", "cold.pass_s", "trace.overhead_s",
        )
    },
    **{
        name: "count"
        for name in (
            "spark.jobs", "spark.stages", "spark.tasks", "queries.build_jobs", "queries.calls",
            "operators.calls", "pipeline.actions", "queries.llm.dedup_clusters.build_jobs",
            "sources.files_written", "leaked_persists", "cold.spark.jobs", "cold.queries.build_jobs",
            "trace.spans",
        )
    },
    **{
        name: "MB"
        for name in (
            "spark.peak_rss_mb", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
            "spark.spill_mb", "spark.input_mb", "sources.write_mb", "functions.python_mb",
        )
    },
    **{
        name: "%"
        for name in (
            "queries.build_pct",
            "queries.llm.dedup_clusters.build_pct",
            "queries.llm.decontaminate_overlap.build_pct",
            "trace.overhead_pct",
            *(f"pipeline.action_pct.{s}" for s in tracing.PIPELINE_STAGES),
            *(f"sources.write_pct.{t}" for t in tracing.WRITE_TARGETS),
            *(f"{layer}.self_pct" for layer in tracing.SELF_LAYERS),
        )
    },
    "pipeline.rescan_factor": "ratio",
    "quality.eval_passes": "ratio",
    "fail_ratio": "ratio",
}


def session(work: str, trace: int) -> SparkSession:
    b = (
        SparkSession.builder.master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark: SparkSession | None) -> None:
    """Stop the session and wait for the JVM process to exit."""
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def host_context(root: str, args) -> dict:
    return {
        "nproc": os.cpu_count(),
        "load_start": os.getloadavg(),
        "commit": _commit(root),
        "program_sha256": _program_hash(root),
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "size": args.size,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _commit(root: str) -> str | None:
    """HEAD of the checkout when it is a git work tree (read, not run)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def _program_hash(root: str) -> str:
    """Content hash of the package under test, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "waterbear_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith((".py", ".json")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


class Client:
    """Closed-loop client: issues one operation at a time."""

    def __init__(self, spark: SparkSession, workload, tracer, fault: bool):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.fault = fault
        self.tampered = False
        self.records: list[dict] = []  # every operation attempted, in order

    def persisted(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def run_pass(self, ops, label: str, traced: bool = False) -> dict:
        recs, roots = [], []
        for op in ops:
            before = self.persisted()
            t = time.perf_counter()
            out, err = None, None
            try:
                if traced:
                    with self.tracer.span("bench", op.name) as root:
                        roots.append(root[0])
                        out = op.call()
                else:
                    out = op.call()
            except Exception as e:  # noqa: BLE001 - a failed op is a result
                err = f"{type(e).__name__}: {e}"[:400]
            dt = time.perf_counter() - t
            leaked = self.persisted() - before
            if err is None and op.check is not None:
                if self.fault and not self.tampered:
                    out = self.wl.tamper(out)
                    self.tampered = True
                err = self._check(op, out)
            if self.wl.clear_cache_after_op:
                self.spark.catalog.clearCache()
            recs.append({"pass": label, "op": op.name, "s": dt, "leaked": leaked, "error": err})
        self.records.extend(recs)
        return {"label": label, "ops": recs, "s": sum(r["s"] for r in recs), "roots": roots}

    def _check(self, op, out) -> str | None:
        with self._untraced():
            try:
                return op.check(out)
            except Exception as e:  # noqa: BLE001 - a failing check is a result
                return f"check raised {type(e).__name__}: {e}"[:400]

    @contextmanager
    def _untraced(self):
        """Checks run outside every span and job group."""
        if self.tracer is None:
            yield
            return
        was = self.tracer.enabled
        self.tracer.enabled = False
        sc = self.spark.sparkContext
        group = sc.getLocalProperty(tracing.GROUP)
        sc.setLocalProperty(tracing.GROUP, None)
        try:
            yield
        finally:
            sc.setLocalProperty(tracing.GROUP, group)
            self.tracer.enabled = was


def retained_heap_mb(spark: SparkSession) -> float:
    """Live driver heap once Python has released its JVM proxies and Spark's
    context cleaner has dropped what they pinned, which takes seconds after
    a run of many jobs: forced GCs half a second apart until the heap in use
    has stayed within 1% of its smallest value for four rounds (at most 30
    rounds); the smallest value."""
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    low, steady = float("inf"), 0
    for _ in range(30):
        jvm.java.lang.System.gc()
        used = rt.totalMemory() - rt.freeMemory()
        steady = steady + 1 if used >= 0.99 * low else 0
        low = min(low, used)
        if steady == 4:
            break
        time.sleep(0.5)
    return low / 1e6


def untraced_metrics(passes: list[dict], setup_s: float, heap: float) -> dict:
    """The fastest pass, and the median over operations of each one's fastest
    latency: the JIT keeps speeding the first timed passes up, so the fastest
    repetition is the one nearest the warm state a long-lived session sees."""
    best: dict = {}
    for p in passes:
        for r in p["ops"]:
            best[r["op"]] = min(best.get(r["op"], r["s"]), r["s"])
    return {
        "setup_s": setup_s,
        "pass_s": min(p["s"] for p in passes),
        "op_p50_s": statistics.median(best.values()),
        "retained_heap_mb": heap,
    }


def run(args, root: str, t_start: float) -> int:
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import waterbear_spark through PYTHONPATH, not the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files under work/, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # The staged ANN index is built once and served many times: untraced runs
    # share one store in the checkout, so only the first catalog run rebuilds
    # it (in its untimed oracle pass); a traced run starts from an empty store,
    # so the rebuild shows in its cold pass.
    ann = os.path.join(work, "ann_index") if args.trace else os.path.join(root, ".perfbench", "ann_index")
    os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = ann
    os.chdir(work)
    host = host_context(root, args)

    spark = None
    tracer = None
    wl = None
    try:
        spark = session(work, args.trace)
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
        tracer = tracing.Tracer(spark) if args.trace else None
        wl = WORKLOADS[args.workload](args.size, tracer)
        t_staged = time.perf_counter()
        staging = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.stage(spark, args.seed, os.path.join(work, f"stage-{i}"))
            staging.append(time.perf_counter() - t)
        setup_s = (t_staged - t_start) + statistics.median(staging)

        client = Client(spark, wl, tracer, args.fault)
        if args.trace:
            trace_out = _traced(spark, client, wl, tracer)
        else:
            for i, ops in enumerate(wl.warm_passes(spark)):
                client.run_pass(ops, f"warm{i}")
            passes = []
            t0 = time.perf_counter()
            while len(passes) < wl.min_passes or time.perf_counter() - t0 < args.seconds:
                passes.append(client.run_pass(wl.timed_pass(spark, len(passes)), f"timed{len(passes)}"))
            metrics = untraced_metrics(passes, setup_s, retained_heap_mb(spark))
        wl.close()
        stop(spark)
        spark = None
        if args.trace:
            metrics = _trace_metrics(work, tracer, trace_out, wl.scan_base())
            _write_json(root, "traces", args, {"host": host, **trace_out, "metrics": metrics})
    finally:
        stop(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)

    ops = client.records
    failed = [r for r in ops if r["error"]]
    leaked = sum(r["leaked"] for r in ops if r["pass"].startswith("timed"))
    n_timed = len({r["pass"] for r in ops if r["pass"].startswith("timed")}) or 1
    extra = {"fail_ratio": len(failed) / len(ops), "leaked_persists": leaked / n_timed}
    units = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        metrics.update(extra)
    host["load_end"] = os.getloadavg()
    _write_json(root, "runs", args, {"host": host, "metrics": metrics, **extra, "ops": client.records})
    for r in failed:
        print(f"# FAILED {r['pass']} {r['op']}: {r['error']}")
    print("# host " + json.dumps(host))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _traced(spark, client: Client, wl, tracer) -> dict:
    """Cold pass traced, other warm passes untraced, then untraced and
    traced passes in ABBA order (``wl.trace_pairs`` of each) so that the
    JVM still warming up does not favour either side."""
    tracer.install()
    passes = wl.warm_passes(spark)
    k = 0
    if not passes:
        passes, k = [wl.timed_pass(spark, 0)], 1
    tracer.enabled = True
    cold = client.run_pass(passes[0], "cold", traced=True)
    tracer.enabled = False
    for i, ops in enumerate(passes[1:], 1):
        client.run_pass(ops, f"warm{i}")
    plain, traced, rss = [], [], 0.0
    for i in range(wl.trace_pairs):
        for on in (False, True) if i % 2 == 0 else (True, False):
            tracer.enabled = on
            if on:
                tracer.reset_peak_rss()
                traced.append(client.run_pass(wl.timed_pass(spark, k), f"timed{k}", traced=True))
                rss = tracer.peak_rss_mb()
            else:
                plain.append(client.run_pass(wl.timed_pass(spark, k), f"timed{k}"))
            tracer.enabled = False
            k += 1
    return {"cold": cold, "plain": plain, "traced": traced, "peak_rss_mb": rss}


def _trace_metrics(work: str, tracer, out: dict, base: dict) -> dict:
    events = tracing.read_event_log(os.path.join(work, "eventlog"))
    spans = tracer.spans
    last = out["traced"][-1]["roots"]
    warm = tracing.pass_metrics(spans, last, events, base, {"peak_rss_mb": out["peak_rss_mb"]})
    cold = tracing.pass_metrics(spans, out["cold"]["roots"], events, base, {})
    plain_s = statistics.mean(p["s"] for p in out["plain"])
    traced_s = statistics.mean(p["s"] for p in out["traced"])
    out["pass_metrics"] = {"traced": warm, "cold": cold}
    out["spans"] = spans
    return {
        **{k: v for k, v in warm.items() if k in PER_LAYER},
        "cold.pass_s": cold["pass_wall_s"],
        "cold.spark.jobs": cold["spark.jobs"],
        "cold.queries.build_jobs": cold["queries.build_jobs"],
        "trace.overhead_s": traced_s - plain_s,
        "trace.overhead_pct": 100.0 * (traced_s - plain_s) / plain_s,
        "trace.spans": warm["spans"],
    }


def _write_json(root: str, kind: str, args, payload: dict) -> None:
    d = os.path.join(root, ".perfbench", kind)
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}{'-fault' if args.fault else ''}.json"
    with open(os.path.join(d, name), "w") as fh:
        json.dump(payload, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit("run perfbench/run.py instead")
