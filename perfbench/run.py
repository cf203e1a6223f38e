"""Benchmark entry point.

One workload per process, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 5 --trace 0

prints the end-to-end metrics (``--trace 1``: the per-layer metrics) with
their units, then one JSON line ``{"correct", "attempted", "failed",
"metrics"}``, and exits 1 when an output check fails. ``--workload all``
runs every workload, each in its own fresh process, and exits non-zero if
any of them fails. ``--smoke`` shrinks every input to a few seconds of work.
``--seconds`` defaults to ``run_seconds`` in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv, names: list[str]) -> argparse.Namespace:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=float(run_seconds))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def run_all(args: argparse.Namespace, names: list[str]) -> int:
    results, worst = {}, 0
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = None
        ok = proc.returncode == 0 and results[name] is not None and results[name]["correct"]
        worst = worst or (0 if ok else 1)
    print(json.dumps(results))
    return worst


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "web_crawler_spark", "__init__.py")):
        print("perfbench: the web_crawler_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    from workloads import WORKLOADS

    names = sorted(WORKLOADS)
    args = parse_args(argv, names)
    if args.workload == "all":
        return run_all(args, names)

    result, code = harness.run(args.workload, args.seed, args.seconds, bool(args.trace),
                               args.smoke)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
