#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
spread (inter-quartile distance over the median).

    python3 perfbench/steady.py --workload registry --seeds 1-10 [--seconds 10] [--trace 0]

Prints one JSON object per seed as it finishes, then a table; the last line
is a JSON summary {metric: {median, spread, n, unit}}.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from lib import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,9")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    values, units, bad = {}, {}, 0
    for s in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(secs), "--trace", str(a.trace)],
            capture_output=True, text=True)
        if p.returncode != 0:
            print(json.dumps({"seed": s, "exit": p.returncode, "stderr": p.stderr[-2000:]}))
            bad += 1
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        bad += 0 if res["correct"] else 1
        print(json.dumps({"seed": s, **res}), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        sp = stats.spread(vs) if len(vs) >= 2 and med else None
        summary[k] = {"median": med, "spread": sp, "n": len(vs), "unit": units[k]}
        print(f"{k:34s} median {med:12.6g} {units[k]:7s} spread "
              f"{'-' if sp is None else f'{sp:.3f}'}  n={len(vs)}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "bad_runs": bad, "metrics": summary}))


if __name__ == "__main__":
    main()
