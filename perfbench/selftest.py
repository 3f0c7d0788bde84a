#!/usr/bin/env python3
"""Fast self-test of the benchmark, at the tiny grid size (synth.T1, 45
tiles) and in one JVM:

* every workload runs untraced and traced, its outputs check clean, and
  it reports exactly the metrics BENCHMARK.json lists;
* a deliberately corrupted result (a zone sum off by 1, a looked-up
  pixel off by 1, a commit that lost a data file) counts as failed, so
  that workload's fail_ratio is above 0.

    python3 perfbench/selftest.py      # prints "selftest ok"; exit 1 on failure
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import env

    base = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    env.pin(base)
    from perfbench import harness

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    problems = []
    try:
        for k, name in enumerate(w["name"] for w in bench["workloads"]):
            for traced, corrupt in ((0, False), (1, False), (0, True)):
                res = harness.run(name, seed=3, seconds=0.5, traced=bool(traced),
                                  work=os.path.join(base, f"{k}-{traced}-{corrupt}"),
                                  scale="tiny", corrupt=corrupt, keep_jvm=True)
                ratio = res["failed"] / res["attempted"]
                tag = f"{name} trace={traced} corrupt={corrupt}"
                print(f"{tag}: {res['attempted']} ops, fail_ratio={ratio:.3g}")
                if corrupt and not ratio > 0:
                    problems.append(f"{tag}: corrupted result was not counted as failed")
                if not corrupt and ratio != 0:
                    problems.append(f"{tag}: fail_ratio {ratio}")
                if set(res["metrics"]) != want[traced]:
                    problems.append(f"{tag}: metrics {sorted(set(res['metrics']) ^ want[traced])}"
                                    " differ from BENCHMARK.json")
    finally:
        env.stop_jvm()
        env.reap(env.descendants(os.getpid()), grace=10)
        shutil.rmtree(base, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest ok" if not problems else f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
