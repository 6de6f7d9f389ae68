"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_sink --seed 1 --seconds 10 --trace 0

One Python process drives Spark on local[N] (N = usable cores) through the
package's public functions. Set-up (session, inputs, training, warm-up) is
timed as `setup_s`; then whole rounds run until `--seconds` have passed.
With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` untraced and traced rounds alternate on the same inputs and it
carries the per-layer metrics, while the spans go to perfbench/_out/.
See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    BENCH_DIR, ROOT, Tracer, median, package_present, stamp, start_spark, stop_spark,
)

WORKLOADS = {"kg_sink": "kg", "predict_fuzzy": "predict"}


def measure(args, work: str, spec: dict) -> dict:
    """Set up, run whole rounds for args.seconds, check, and return the
    result object with the metrics BENCHMARK.json names (with tracing,
    every per-layer metric; a workload reports 0 for a layer it does not
    run)."""
    tracer = Tracer(enabled=args.trace == 1)
    t0 = time.perf_counter()
    spark = None
    try:
        with tracer.span("session"):
            spark = start_spark(work)
        info = stamp(spark)
        print("stamp " + json.dumps(info), flush=True)
        module = importlib.import_module(WORKLOADS[args.workload])
        wl = module.Workload(spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0

        times, traced_times, layers, attempted, failed = [], [], [], 0, 0
        problems = []
        start = time.perf_counter()
        while True:
            dt, per_round, n_attempted, n_failed = wl.round()  # per_round is the same every round
            times.append(dt)
            attempted += n_attempted
            failed += n_failed
            if args.trace:
                tdt, layer, hashes = wl.traced_round()
                traced_times.append(tdt)
                layers.append(layer)
                if hashes != wl.untraced_hashes():
                    problems.append("traced outputs differ from the untraced run's")
            if time.perf_counter() - start >= args.seconds:
                break
        problems += wl.check()
        result = {"correct": not problems, "attempted": attempted, "failed": failed}
        if args.trace:
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = dict.fromkeys(units, 0.0)
            metrics["session.s"] = tracer.self_times(0)["session"]
            train = [s for s in tracer.spans if s["name"] == "train"]
            if train:
                metrics["train.s"] = train[0]["end"] - train[0]["start"]
            for name in layers[0]:
                metrics[name] = median([layer[name] for layer in layers])
            metrics.update(wl.run_layer_extras())
            metrics["trace.overhead_share"] = median(traced_times) / median(times) - 1.0
            result["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
            os.makedirs(os.path.join(BENCH_DIR, "_out"), exist_ok=True)
            tracer.dump(os.path.join(BENCH_DIR, "_out", f"spans-{args.workload}-{args.seed}.json"))
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = {"items_per_s": per_round / median(times), "setup_s": setup_s}
            result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        print("detail " + json.dumps({
            "workload": args.workload, "seed": args.seed, "rounds": len(times),
            "round_s": times, "traced_round_s": traced_times, "items_per_round": per_round,
            **wl.detail(), "problems": problems[:20], **info,
        }), flush=True)
        return result
    finally:
        if spark is not None:
            stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not package_present():
        print(f"perfbench: the package under test is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = measure(args, work, spec)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
