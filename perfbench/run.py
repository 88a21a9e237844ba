"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload tree_edit --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0 --smoke

Builds the program from source if needed (perfbench/build.py), runs the
workload in one JVM on a local Spark of as many slots as the machine has
processors, and prints the full named report followed, as the last line,
by one JSON object with the keys correct, attempted, failed and metrics:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
metrics with --trace 1. `--workload all` runs every workload in turn and
prints a table of all the named end-to-end metrics instead.

Everything the run writes stays under .bench_build/ in the checkout:
work/ (removed when the run ends) and results/ (the report, and with
--trace 1 the spans, of each run).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["tree_edit", "index_churn"]
DEADLINE_S = 170  # a run is stopped, without a result, after this many seconds
KEYS = {"correct", "attempted", "failed", "metrics"}


def run_one(workload, seed, seconds, trace, smoke, classes, jars):
    """Run one workload in its own JVM; return (result dict, report lines)."""
    work = os.path.join(build.BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    results = os.path.join(build.BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.jvm(classes, jars, os.path.join(work, "tmp")) + [
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--smoke", "1" if smoke else "0", "--work", work,
           "--data", os.path.join(classes, "data"), "--results", results]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=build.ROOT, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {DEADLINE_S} s", file=sys.stderr)
        stop()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        build.fail(f"{workload} exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != KEYS:
        build.fail(f"{workload}: malformed result line")
    return result, lines[:-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="one pass per workload")
    a = ap.parse_args()
    t0 = time.time()
    classes = build.build()
    jars = build.spark_jars()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    if a.workload != "all":
        result, lines = run_one(a.workload, a.seed, a.seconds, a.trace == 1,
                                a.smoke, classes, jars)
        print("\n".join(lines))
        print(json.dumps(result))
        return
    # every workload, then one table of every named end-to-end metric
    table, ok = {}, True
    for w in WORKLOADS:
        result, lines = run_one(w, a.seed, a.seconds, a.trace == 1, a.smoke,
                                classes, jars)
        print("\n".join(lines))
        ok = ok and result["correct"]
        table[w] = {ln.split()[0]: (ln.split()[1], ln.split()[2])
                    for ln in lines if ln.startswith("  ")}
    names = []
    for w in WORKLOADS:
        names += [n for n in table[w] if n not in names]
    print(f"{'metric':<30}" + "".join(f"{w:>24}" for w in WORKLOADS))
    for n in names:
        cells = [" ".join(table[w][n]) if n in table[w] else "-" for w in WORKLOADS]
        print(f"{n:<30}" + "".join(f"{c:>24}" for c in cells))
    print(json.dumps({"correct": ok}))


if __name__ == "__main__":
    main()
