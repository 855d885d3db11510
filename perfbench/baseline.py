#!/usr/bin/env python3
"""Measure a baseline and write it to ``perfbench/baseline/``.

    python3 perfbench/baseline.py

For every workload of ``BENCHMARK.json``: two sets of untraced runs, seeds
1..10 and then seeds 11..20 (medians, quartiles and the quartile spread of
every end-to-end metric in each set, and whether the two sets agree within
the bounds of ``BENCHMARK.json``), then one traced run (per-layer metrics, self times,
tracing overhead). Writes ``BASELINE.md`` and the raw results as
``runs.json``. Runs one benchmark process at a time; takes about 45 minutes.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline")
SEEDS = 10
SETS = 2


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    host = next(json.loads(x[len("# host "):]) for x in lines if x.startswith("# host "))
    failed = [x for x in lines if x.startswith("# FAILED")]
    return {"seed": seed, "trace": trace, "wall_s": wall, "host": host, "failed_ops": failed,
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def trace_detail(workload: str, seed: int) -> dict:
    path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-full-s{seed}-t1.json")
    with open(path) as fh:
        data = json.load(fh)
    return {k: data["pass_metrics"][k] for k in ("traced", "cold")}


def fmt(v: float) -> str:
    return f"{v:.4g}" if abs(v) < 1e4 else f"{v:.0f}"


def end_to_end_rows(w: str, sets: list[list[dict]], spec: dict) -> list[str]:
    """One row per metric: each set's median and spread, the ratio of the
    second median to the first, and whether the two sets agree the way the
    benchmark's acceptance check asks (every spread but that of setup_s
    within the bound, the second median not worse by more than the bound)."""
    declared = {m["name"]: m for m in spec["end_to_end"]}
    rows = []
    for name, m in sets[0][0]["result"]["metrics"].items():
        stats = [spread([x["result"]["metrics"][name]["value"] for x in runs]) for runs in sets]
        (med_a, q1, q3, sp_a), (med_b, _, _, sp_b) = stats[0], stats[-1]
        ratio = med_b / med_a if med_a else 0.0
        bound = declared[name]["bound"]
        worse = ratio - 1 if declared[name]["better"] == "lower" else 1 - ratio
        ok = worse <= bound and (name == "setup_s" or max(sp_a, sp_b) <= bound)
        rows.append(
            f"| {w} | {name} | {m['unit']} | {fmt(med_a)} | {fmt(q1)} | {fmt(q3)} | {sp_a:.3f} "
            f"| {fmt(med_b)} | {sp_b:.3f} | {ratio:.3f} | {bound} | {'yes' if ok else 'NO'} |"
        )
    for i, runs in enumerate(sets, 1):
        failed = sum(x["result"]["failed"] for x in runs)
        attempted = sum(x["result"]["attempted"] for x in runs)
        walls = [x["wall_s"] for x in runs]
        loads = [x["host"]["load_start"][0] for x in runs]
        rows.append(
            f"| {w} | set {i}: runs / failed ops / wall per run / 1-min load at start | | "
            f"{len(runs)} / {failed} of {attempted} / {statistics.mean(walls):.1f} s mean, "
            f"{max(walls):.1f} s max / {min(loads):.1f}-{max(loads):.1f} | | | | | | | | |"
        )
    return rows


def markdown(spec: dict, results: dict) -> str:
    first = next(iter(results.values()))["untraced"][0][0]["host"]
    out = [
        "# perfbench baseline",
        "",
        "Produced by `python3 perfbench/baseline.py`. One benchmark process at a time on",
        "a shared host; the load average at the start and end of each run is in `runs.json`.",
        "",
        f"Commit `{first['commit']}`, program hash `{first['program_sha256'][:16]}`, "
        f"nproc {first['nproc']}, Spark {first['spark']}, Python {first['python']}.",
        "",
        f"## End-to-end (untraced), two sets of {SEEDS} seeds",
        "",
        f"Set 1 uses seeds 1..{SEEDS}, set 2 seeds {SEEDS + 1}..{2 * SEEDS}, run after set 1 of",
        "every workload. Spread is (q3 - q1) / median; ratio is set 2's median over set 1's.",
        "",
        "| workload | metric | unit | set 1 median | q1 | q3 | set 1 spread | set 2 median "
        "| set 2 spread | ratio | bound | sets agree |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for w, r in results.items():
        out += end_to_end_rows(w, r["untraced"], spec)
    out += ["", "## Per layer (one traced run per workload)", ""]
    for w, r in results.items():
        t = r["traced"]
        metrics = t["result"]["metrics"]
        detail = r["trace_detail"]
        out += [
            f"### {w} (seed {t['seed']}, run wall {t['wall_s']:.1f} s)",
            "",
            f"Tracing overhead: {fmt(metrics['trace.overhead_s']['value'])} s per pass "
            f"({fmt(metrics['trace.overhead_pct']['value'])} % of the untraced pass); "
            f"traced pass {fmt(detail['traced']['pass_wall_s'])} s, cold pass "
            f"{fmt(detail['cold']['pass_wall_s'])} s.",
            "",
            "Self time by layer (s), traced warm pass / cold pass:",
            "",
            "| layer | warm self s | cold self s |",
            "|---|---|---|",
        ]
        for layer, v in detail["traced"]["self_s"].items():
            out.append(f"| {layer} | {fmt(v)} | {fmt(detail['cold']['self_s'][layer])} |")
        out += ["", "| metric | unit | value |", "|---|---|---|"]
        for name, m in metrics.items():
            out.append(f"| {name} | {m['unit']} | {fmt(m['value'])} |")
        out.append("")
    return "\n".join(out) + "\n"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    names = [w["name"] for w in spec["workloads"]]
    results = {w: {"untraced": []} for w in names}
    for s in range(SETS):
        for w in names:
            runs = []
            for seed in range(s * SEEDS + 1, (s + 1) * SEEDS + 1):
                runs.append(run(w, seed, seconds, 0))
                print(w, seed, json.dumps(runs[-1]["result"]["metrics"]), flush=True)
            results[w]["untraced"].append(runs)
    for w in names:
        results[w]["traced"] = run(w, 1, seconds, 1)
        results[w]["trace_detail"] = trace_detail(w, 1)
        print(w, "traced", flush=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.json"), "w") as fh:
        json.dump(results, fh, indent=1)
    with open(os.path.join(OUT, "BASELINE.md"), "w") as fh:
        fh.write(markdown(spec, results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
