#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 22 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine and the harness into .bench_build (or $CARGO_TARGET_DIR); every run
generates its inputs from the seed, starts one JVM at local[nproc] with
shuffle partitions = nproc, drives one operation at a time (closed loop,
one client), checks every output against an oracle after the timed work,
and prints the metrics as the last line of stdout. `--trace 1` runs the
same plan once untraced and once traced and prints per-layer metrics.

A run's work is fixed, not timed: a fixed query panel or a fixed trigger
sequence, about 20 s of measured work on a 4-core host, so every commit
measures the same operations. `--seconds` is accepted and ignored.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from lib import build, check, fixture, plans, stats  # noqa: E402
from lib.layers import per_layer  # noqa: E402

WORKLOADS = ("registry", "etl-loopback")
FIXTURE_SF = 0.01
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm(cp, work, args, timeout):
    """Run the harness in a fresh JVM; returns the parsed result file."""
    out = os.path.join(work, f"result-{len(os.listdir(work))}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + build.ADD_OPENS + ["-cp", ":".join(cp), "perfbench.Harness", "--out", out] + args)
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=logf, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {timeout}s: {' '.join(args)}")
    if code != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness exited {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="ignored: the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.perf_counter()

    bdir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bdir = os.path.abspath(os.path.join(ROOT, bdir))
    os.makedirs(bdir, exist_ok=True)
    cp, build_s = build.ensure(ROOT, bdir)
    listing_path = os.path.join(cp[0], "registry.json")
    if not os.path.exists(listing_path):
        lwork = os.path.join(bdir, "work", "list")
        shutil.rmtree(lwork, ignore_errors=True)
        os.makedirs(lwork)
        with open(listing_path, "w") as f:
            json.dump(jvm(cp, lwork, ["--mode", "list"], 120), f)
    with open(listing_path) as f:
        listing = json.load(f)

    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    fx = os.path.join(bdir, "fixtures", f"sf{FIXTURE_SF}-seed{a.seed}")
    fixture_s = fixture.ensure(fx, a.seed, FIXTURE_SF)

    kind = "etl" if a.workload == "etl-loopback" else a.workload
    if kind == "registry":
        plan = plans.registry(listing)
        plan["functions"] = True
    else:
        plan = plans.etl(a.seed, os.path.join(work, "inputs"))
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    common = ["--fixture", fx, "--cpus", str(cpus)]

    def run(trace):
        rwork = os.path.join(work, f"trace{trace}")
        os.makedirs(rwork, exist_ok=True)
        return jvm(cp, rwork, ["--mode", "run", "--workload", kind, "--plan", plan_path,
                               "--trace", str(trace), "--work", rwork] + common, JVM_TIMEOUT_S)

    result = run(0)
    traced = run(1) if a.trace == 1 else None

    checked = traced or result
    if kind == "etl":
        outcomes, rows_expected, user_bytes, notes = check.etl(plan, checked)
        op_walls = [c["wall_s"] for c in result["configs"]]
        # one pass of the job: every trigger, the cold first one included,
        # as the registry pass includes its first queries
        pass_walls = [t["wall_s"] for t in result["triggers"]]
        pass_s = sum(pass_walls)
        extra = {"rows_loaded": sum(c["rows"] for c in result["configs"]),
                 "rows_expected": rows_expected, "trigger_walls_s": pass_walls}
        result_rows = sum(c["rows"] for c in checked["configs"])
    else:
        outcomes, rows, notes = check.queries(fx, checked["ops"], listing["oracles"],
                                              os.path.join(bdir, "oracle-cache"))
        walls = {o["name"]: o["wall_s"] for o in result["ops"]}
        op_walls = list(walls.values())
        pass_s = sum(op_walls)
        extra = {"queries": len(op_walls)}
        user_bytes = 0
        result_rows = sum(rows)
    acct = stats.failure_accounting(outcomes)
    for n in notes:
        log(n)

    if a.trace == 0:
        metrics = {
            "setup_s": (result["setup_s"], "s"),
            "op_geomean_s": (stats.geomean(op_walls), "s"),
            "pass_s": (pass_s, "s"),
        }
        samples = {"setup_s": 1, "op_geomean_s": len(op_walls), "pass_s": 1}
    else:
        drains = plan.get("drains", ())
        metrics = per_layer(kind, traced, result, user_bytes, cpus, result_rows, drains)
        samples = {}
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "failed_frac": acct["failed_frac"], "guard_skipped": acct["guard_skipped"],
               "outcomes": acct["tally"], "fixture_gen_s": round(fixture_s, 3),
               "build_s": round(build_s, 3), "wall_s": round(time.perf_counter() - t_start, 3),
               "samples": samples, "op_p50_s": statistics.median(op_walls),
               "op_tail_percentile": stats.highest_reportable_percentile(len(op_walls)),
               "peak_rss_mb": result["peak_rss_mb"], **extra}
    for name, (value, unit) in metrics.items():
        n = samples.get(name)
        log(f"{name:34s} {value:14.6g} {unit}" + (f"  (n={n})" if n else ""))
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": acct["failed"] == 0,
        "attempted": acct["attempted"],
        "failed": acct["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
