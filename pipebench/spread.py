"""Run the benchmark several times and report how steady it is.

    python3 pipebench/spread.py --workload ops --seeds 1-10 [--traced-seed 11]

For each end-to-end metric it prints the median of the runs and the
distance between the first and third quartile as a share of the median
(Python's `statistics.quantiles(values, n=4)`), next to the metric's
bound from BENCHMARK.json; a spread must stay under a third of its
bound. With `--traced-seed` it also makes one traced run and reports its
cycle time against the untraced median: the tracing overhead.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"seed {seed}: incorrect result {out}")
    return {k: v["value"] for k, v in out["metrics"].items()}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--traced-seed", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    first, last = map(int, args.seeds.split("-"))
    runs = []
    for seed in range(first, last + 1):
        runs.append(run(args.workload, seed, bench["run_seconds"], 0))
        print(f"seed {seed}: {json.dumps(runs[-1])}", flush=True)
    report = {}
    for m in bench["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        ok = m["name"] == "setup_s" or spread < m["bound"] / 3
        report[m["name"]] = {"median": med, "spread": round(spread, 4),
                             "bound": m["bound"], "steady": ok}
        print(f"{m['name']:>14} median {med:10.3f} {m['unit']:<4} spread {spread:6.3f}"
              f" bound {m['bound']:.2f} {'ok' if ok else 'TOO WIDE'}")
    if args.traced_seed is not None:
        traced = run(args.workload, args.traced_seed, bench["run_seconds"], 1)
        ratio = traced["trace.cycle_s"] / report["cycle_s"]["median"]
        print(f"traced cycle {traced['trace.cycle_s']:.3f} s, untraced median "
              f"{report['cycle_s']['median']:.3f} s: tracing overhead x{ratio:.3f}")
    print(json.dumps({"workload": args.workload, "runs": len(runs), "metrics": report}))


if __name__ == "__main__":
    main()
