#!/usr/bin/env python3
"""Tracing overhead of one workload: runs it untraced and traced on the same
seed and compares the workload's primary time, which the traced run reports
as `trace.<metric>`.

    python3 perfbench/overhead.py --workload code_search --seed 1
"""

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
PRIMARY = {"code_ingest": "build_warm_s", "code_search": "search_p50_s",
           "prose_append": "append_p50_s"}


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run failed: {workload} seed {seed} trace {trace}")
    return json.loads(r.stdout.splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    name = PRIMARY[a.workload]
    off = run(a.workload, a.seed, a.seconds, 0)[name]["value"]
    on = run(a.workload, a.seed, a.seconds, 1)["trace." + name]["value"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "metric": name,
                      "untraced": off, "traced": on, "overhead": on / off - 1}))


if __name__ == "__main__":
    main()
