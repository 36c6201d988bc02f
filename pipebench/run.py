"""The repository's benchmark: one command, two workloads.

    python3 pipebench/run.py --workload telegram_day --seed 1 --seconds 14 --trace 0

Run from the repository root. It builds the engine and the benchmark
from source (`build.py`), generates the seeded input tables (`gen.py`),
runs the workload in one JVM (`graftbench.Main`), checks every output
against an oracle, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. A traced run
also leaves its span tree in `.bench_build/traces/`. See README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check_ops  # noqa: E402
import gen  # noqa: E402

# the input tables each workload reads
WORKLOADS = {
    "telegram_day": ("events", "documents"),
    "ops": ("orders", "lineitem", "events", "documents"),
}
# The JVM options build.sbt runs the engine with (Spark 4 on JDK 17).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 175


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.005,
                   help="scale factor of the generated tables")
    p.add_argument("--break-oracle", action="store_true",
                   help="alter one expected value, so the check must fail")
    args = p.parse_args()
    t_start = time.monotonic()

    try:
        cp = build.build()
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    t_gen = time.monotonic()
    gen.write(data, args.scale, args.seed, WORKLOADS[args.workload])
    gen_s = time.monotonic() - t_gen

    traces = os.path.join(build.OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Djava.awt.headless=true",
              "-Dspark.sql.session.timeZone=UTC",
              # keep every scratch file inside the checkout
              f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--result", result,
              "--spans", os.path.join(traces, f"{args.workload}-{args.seed}.spans.json"),
              "--gen-s", f"{gen_s:.6f}"]
           + (["--break-oracle"] if args.break_oracle else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(build.OUT, "last_run.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"timed out; JVM log in {log}", file=sys.stderr)
            return 3
    if not os.path.exists(result):
        print(f"the JVM wrote no result (exit {proc.returncode}); log in {log}", file=sys.stderr)
        return 4
    with open(result) as fh:
        rep = json.load(fh)
    t_check = time.monotonic()

    attempted, failed, errors = rep["attempted"], rep["failed"], list(rep["errors"])
    if rep["rows"]:
        for q, err in check_ops.check(os.path.join(work, "out"), data,
                                      WORKLOADS[args.workload], rep["rows"],
                                      args.break_oracle):
            attempted += 1
            if err:
                failed += 1
                errors.append(f"{q}: {err}")
    shutil.rmtree(work, ignore_errors=True)
    print(f"generate {gen_s:.1f} s, JVM {t_check - t_gen - gen_s:.1f} s, "
          f"oracle check {time.monotonic() - t_check:.1f} s", file=sys.stderr)

    metrics = rep["layers"] if args.trace else rep["e2e"]
    for e in errors[:10]:
        print(f"check failed: {e}", file=sys.stderr)
    correct = failed == 0 and attempted > 0 and proc.returncode == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
