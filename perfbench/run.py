#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload release_delta --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (and the spans go to perfbench/.work/traces/). Exits
non-zero, without a result line, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import importlib
import os
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("release_delta", "api_serve")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    from pdcmbench import env, release
    from pdcmbench.runner import Run, print_result

    # fail before starting a JVM when the program is not in the checkout
    importlib.import_module("pdcm_etl_spark")
    workload = importlib.import_module(f"pdcmbench.{args.workload}")
    if not release.built():
        # the first run in a checkout builds the release api_serve reads
        subprocess.run([sys.executable, "-m", "pdcmbench.release"],
                       cwd=HERE, check=True)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        e2e = workload.run(run)
        info = env.machine_info(run.spark, args.seed)
        info["workload"] = args.workload
        result = run.result(e2e)
        layers = None
        if run.traced:
            layers = run.tracer.summary()
            info["trace_file"] = os.path.relpath(
                run.write_trace(info, layers), ROOT)
    finally:
        run.close()
    for m in run.failures:
        print(f"failed: {m}", file=sys.stderr)
    for m in run.mismatches:
        print(f"wrong output: {m}", file=sys.stderr)
    for m in run.defects:
        print(f"known defect: {m}", file=sys.stderr)
    print_result(result, info, layers)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
