#!/usr/bin/env python3
"""Runs a workload under several seeds and reports how steady each
end-to-end metric is: the interquartile range of its values as a share of
their median (`statistics.quantiles(values, n=4)`), beside the bound in
BENCHMARK.json.

    python3 perfbench/steadiness.py --workload ref_batch --runs 10 \\
        [--first-seed 1] [--log runs.jsonl]

Run from the repository root; each run is `perfbench/run.py` as the
benchmark command runs it.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--log", help="append each run's result line here")
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run failed with exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        took = time.time() - t0
        print(f"seed {seed}: {took:.0f} s, correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "seconds": took, "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        s = spread(xs)
        print(f"{m['name']:>14}: median {statistics.median(xs):.4g} "
              f"spread {s:.3f} bound {m['bound']} "
              f"({'ok' if s < m['bound'] / 3 else 'WIDE'})")


if __name__ == "__main__":
    main()
