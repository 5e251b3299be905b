"""graft's benchmark: one workload, one seed, one process.

    python3 graftbench/run.py --workload ann_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds graft and the benchmark if needed
(see build.py), generates the workload's inputs from the seed, runs it in
one JVM with Spark at local[nproc], checks every answer, and prints every
metric by name with its unit. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The exit code is 0 only when the run finished and every check passed.
Each run also leaves its report under .bench_build/results/.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ann_bulk", "ann_online", "text_curation")
TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the benchmark's tests")
    a = p.parse_args()

    root = os.getcwd()
    if not build.ensure_built(root):
        print("graftbench: build failed", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java(root, work, "graftbench.Main") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work,
        "--out", os.path.join(root, ".bench_build", "results")]
    if a.tiny:
        cmd.append("--tiny")
    proc = subprocess.Popen(cmd, cwd=work)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("graftbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
