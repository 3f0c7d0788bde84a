#!/usr/bin/env python3
"""The repo benchmark.  See perfbench/README.md.

    python3 perfbench/run.py --workload zonal_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per run, in this process; the last stdout line is
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).  ``all`` runs
each workload in its own process and prints every metric prefixed with
its workload.  Run it from any directory; it works inside the checkout
that holds it and exits with code 2 if the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("zonal_scan", "point_queries", "ingest_commit")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _summary(res: dict) -> None:
    d = res["details"]
    print(f"# {d['workload']} seed={d['seed']}: {d['ops']} ops, "
          f"fail_ratio={d['fail_ratio']:.4g} ({res['failed']}/{res['attempted']}), "
          f"lat_tail_s is p{d['lat_tail_percentile']:.1f} with {d['lat_tail_beyond']} "
          f"of {d['ops']} samples beyond it")
    print(f"#   op latencies (s): {' '.join(f'{x:.3f}' for x in d['lat_s'])}")
    print(f"#   set-up (s): session start {d['session_start_s']:.3f}, builds "
          f"{' '.join(f'{x:.3f}' for x in d['builds_s'])}, warm-up {d['warm_s']:.3f}; "
          f"untimed fixture staging {d['stage_s']:.3f}")
    for k, m in res["metrics"].items():
        print(f"#   {d['workload']}.{k} = {m['value']:.6g} {m['unit']}")


def _run_all(args) -> int:
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in NAMES:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        for ln in lines[:-1]:
            print(ln)
        if out.returncode != 0 or not lines:
            print(f"# {name}: exit code {out.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"][f"{name}.fail_ratio"] = {
            "value": res["failed"] / res["attempted"], "unit": "ratio"}
        for k, m in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = m
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "georasters_spark", "__init__.py")):
        print(f"perfbench: no georasters_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    sys.path.insert(0, ROOT)
    from perfbench import env

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    env.pin(work)  # before numpy or the JVM load
    from perfbench import harness

    try:
        res = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        env.reap(env.descendants(os.getpid()), grace=10)
        shutil.rmtree(work, ignore_errors=True)
    _summary(res)
    del res["details"]
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
