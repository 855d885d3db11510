#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Runs one workload (``catalog``, ``corpus`` or ``medallion``) against the
``waterbear_spark`` package that sits next to this directory and prints one
JSON result object as the last line of standard output. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s is measured from here

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["catalog", "corpus", "medallion"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--size",
        choices=["full", "tiny"],
        default="full",
        help="input size; 'tiny' is for the self-test only",
    )
    p.add_argument(
        "--fault",
        action="store_true",
        help="tamper with one operation's output (self-test of the output checks)",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "waterbear_spark", "__init__.py")):
        print(f"perfbench: no waterbear_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import run

    return run(args, ROOT, T_START)


if __name__ == "__main__":
    sys.exit(main())
