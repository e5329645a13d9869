#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload lake_extract] [--first-seed 1]

Runs each workload ``--runs`` times, each with another seed, exactly as
BENCHMARK.json's command does, and prints per metric the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. A
spread at or above a third of the metric's bound is flagged, for every
metric, ``setup_s`` too, and makes the exit status 1. Raw results go to
``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    for name in names:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        log = os.path.join(ROOT, ".perfbench", f"spread-{name}.jsonl")
        with open(log, "a") as out:
            for seed in range(args.first_seed, args.first_seed + args.runs):
                cmd = bench["command"] + ["--workload", name, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]),
                                          "--trace", "0"]
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                   timeout=900)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                if p.returncode != 0 or not last.startswith("{"):
                    print(f"{name} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                    return 1
                res = json.loads(last)
                out.write("\n".join(p.stdout.strip().splitlines()[-2:]) + "\n")
                if not res["correct"]:
                    ok = False
                for m in bounds:
                    values[m].append(res["metrics"][m]["value"])
                print(f"{name} seed {seed}: " + " ".join(
                    f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds)
                    + ("" if res["correct"] else " INCORRECT"), flush=True)
        for m, v in values.items():
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4)
            spread = (q[2] - q[0]) / med
            flag = "" if spread < bounds[m] / 3 else "  <-- spread >= bound/3"
            if flag:
                ok = False
            print(f"{name} {m}: median {med:.4g} spread {spread:.3f} "
                  f"bound {bounds[m]}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
