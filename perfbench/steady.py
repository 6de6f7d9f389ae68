"""Steadiness check: run each workload several times, one seed per run,
and print each metric's median, quartiles and quartile spread (as a share
of the median), plus each run's stamp (nproc, load average at start,
Spark, Java and Python versions).

    python3 perfbench/steady.py --runs 10 --seconds 15 [--trace 0] [--first-seed 1] [workload ...]

Runs are sequential; each is a fresh `run.py` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    stamp = next((json.loads(l[len("stamp "):]) for l in lines if l.startswith("stamp ")), {})
    return json.loads(lines[-1]), stamp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for workload in workloads:
        values: dict[str, list[float]] = {}
        fail_shares = set()
        for i in range(args.runs):
            seed = args.first_seed + i
            result, stamp = one_run(workload, seed, args.seconds, args.trace)
            print(json.dumps({"workload": workload, "seed": seed, "stamp": stamp, **result}), flush=True)
            if not result["correct"]:
                print(f"  {workload} seed {seed}: outputs failed their checks", flush=True)
            fail_shares.add(f"{result['failed']}/{result['attempted']}")
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        rows = {}
        for name, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / q2 if q2 else float("nan")
            rows[name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread, "bound": bounds.get(name)}
            bound = bounds.get(name)
            flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE (>= bound/3)")
            print(f"{workload:16s} {name:24s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:.4f}{flag}", flush=True)
        print(f"{workload:16s} failed/attempted per run: {sorted(fail_shares)}", flush=True)
        summary[workload] = rows
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
