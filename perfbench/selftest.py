#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 documents and queries,
10k events, three catalog queries). For each workload it checks that

* an untraced run is correct and prints exactly the end-to-end metrics of
  ``BENCHMARK.json`` with their units;
* a traced run with one tampered output prints exactly the per-layer
  metrics with their units, is reported incorrect and has ``fail_ratio`` > 0;

and that the benchmark exits non-zero, printing no result, in a directory
that holds only ``BENCHMARK.json`` and ``perfbench/``.

    python3 perfbench/selftest.py [workload ...]   # default: all three

Takes about eight minutes; ``corpus`` is most of it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(res) != RESULT_KEYS:
        raise AssertionError(f"result keys {sorted(res)}")
    return res


def check_metrics(res: dict, declared: list[dict], kind: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise AssertionError(f"{kind}: missing {missing} extra {extra} wrong units {wrong}")


def check_workload(workload: str, spec: dict) -> None:
    res = result(bench(ROOT, workload, 0))
    check_metrics(res, spec["end_to_end"], "end_to_end")
    if not res["correct"] or res["failed"]:
        raise AssertionError(f"{workload}: untampered run reported {res['failed']} failures")
    if any(v["value"] <= 0 for v in res["metrics"].values()):
        raise AssertionError(f"{workload}: an end-to-end metric is not positive: {res['metrics']}")

    res = result(bench(ROOT, workload, 1, "--fault"))
    check_metrics(res, spec["per_layer"], "per_layer")
    if res["correct"] or res["failed"] < 1 or res["metrics"]["fail_ratio"]["value"] <= 0:
        raise AssertionError(f"{workload}: tampered output not caught: {res}")
    print(f"ok  {workload}", flush=True)


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = bench(bare, "catalog", 0)
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError(f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory fails", flush=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_bare_directory()
    for workload in argv or ["catalog", "medallion", "corpus"]:
        check_workload(workload, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
