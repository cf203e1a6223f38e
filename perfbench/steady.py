"""Steadiness check: run workloads over several seeds, one fresh process per
run, and report each end-to-end metric's median and its spread, the
distance between the first and third quartile as a share of the median.

    python3 perfbench/steady.py --runs 10 --seconds 5 [--workloads crawl_waves]
    python3 perfbench/steady.py --runs 2 --trace 1    # traced: counts must repeat exactly

The spread is what a comparison of two commits has to beat; BENCHMARK.json
fixes each metric's bound above it. Runs are sequential (each run already
uses every core it is given). Prints one table per workload, then one JSON
line with every run's metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ["spark.jobs", "spark.tasks", "driver.actions", "lake.append_calls", "plans.crawl.waves"]


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    wall = time.time() - t0
    notes = [json.loads(line) for line in proc.stderr.splitlines() if line.startswith('{"host"')]
    steal = notes[-1]["steal_s"] - notes[0]["steal_s"] if len(notes) == 2 else None
    result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
    return {"seed": seed, "code": proc.returncode, "wall_s": wall, "steal_s": steal,
            "result": result}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="crawl_waves,corpus_build")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    limits = bounds() if args.trace == 0 else {}
    record, bad = {}, 0
    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(wl, args.first_seed + i, args.seconds, args.trace)
            runs.append(r)
            print(f"# {wl} seed {r['seed']}: exit {r['code']}, wall {r['wall_s']:.1f} s, "
                  f"steal {r['steal_s']}",
                  file=sys.stderr, flush=True)
        record[wl] = runs
        ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        bad += len(runs) - len(ok)
        print(f"{wl}: {len(ok)}/{len(runs)} runs correct, "
              f"median wall {statistics.median(r['wall_s'] for r in runs):.1f} s a run")
        if not ok:
            continue
        for name in sorted(ok[0]["metrics"]):
            vals = [r["metrics"][name]["value"] for r in ok]
            unit = ok[0]["metrics"][name]["unit"]
            line = f"  {name:<42} median {statistics.median(vals):>12.6g} {unit:<8}"
            if len(vals) >= 2 and statistics.median(vals):
                line += f" spread {spread(vals):7.2%}" if len(vals) >= 4 else ""
                if name in limits:
                    line += f"  bound {limits[name]:.0%}"
            if args.trace and name in EXACT:
                line += "  repeats" if len(set(vals)) == 1 else "  VARIES"
            print(line)
    print(json.dumps(record))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
