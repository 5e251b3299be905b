"""Checks one run's standard output against BENCHMARK.json.

    python3 graftbench/run.py --workload ann_bulk --seed 1 --seconds 20 --trace 0 > out.txt
    python3 graftbench/check.py out.txt

Fails (exit 1, one line per problem) on a missing, extra or misnamed
metric, a unit that differs from BENCHMARK.json, a value that is not a
finite number, a failed answer check, or a run whose fixed-work sentinel
slowed down by more than SENTINEL_LIMIT between the start and the end of
the run (another process took the cores, so the timings are not usable).
"""
import json
import math
import os
import sys

SENTINEL_LIMIT = 1.3


def problems(lines, spec):
    out = []
    lines = [l for l in lines if l.strip()]
    if not lines:
        return ["no output"]
    try:
        last = json.loads(lines[-1])
    except ValueError:
        return ["last line is not JSON: %r" % lines[-1][:200]]
    if not isinstance(last, dict) or set(last) != {"correct", "attempted", "failed", "metrics"}:
        return ["last line must have exactly correct, attempted, failed, metrics"]
    report = None
    for l in lines:
        if l.startswith("REPORT "):
            report = json.loads(l[len("REPORT "):])
    if report is None:
        return ["no REPORT line"]
    if last["correct"] is not True:
        out.append("answer checks failed: %s of %s calls" % (last["failed"], last["attempted"]))
    for k in ("attempted", "failed"):
        if not isinstance(last[k], int) or last[k] < 0:
            out.append("%s is not a whole number" % k)
    if last["attempted"] < 1:
        out.append("attempted < 1")
    if last["failed"] != 0:
        out.append("%d calls failed" % last["failed"])
    want = spec["per_layer"] if report.get("trace") == 1 else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in want}
    got = last["metrics"]
    for name, unit in want.items():
        if name not in got:
            out.append("missing metric %s" % name)
        elif got[name].get("unit") != unit:
            out.append("metric %s has unit %r, BENCHMARK.json says %r" % (name, got[name].get("unit"), unit))
        else:
            v = got[name].get("value")
            if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
                out.append("metric %s is not a finite number: %r" % (name, v))
    for name in got:
        if name not in want:
            out.append("metric %s is not in BENCHMARK.json" % name)
    t = report.get("telemetry", {})
    s0, s1 = t.get("sentinel_ms_start"), t.get("sentinel_ms_end")
    if not s0 or not s1:
        out.append("no sentinel telemetry")
    elif max(s0, s1) / min(s0, s1) > SENTINEL_LIMIT:
        out.append("contention: sentinel %.1f ms at start, %.1f ms at end" % (s0, s1))
    return out


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(argv[1]) as f:
        found = problems(f.read().splitlines(), spec)
    for p in found:
        print("check: " + p)
    if not found:
        print("check: ok")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
