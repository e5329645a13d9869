#!/usr/bin/env python3
"""Quick self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Checks BENCHMARK.json's shape, then runs every workload once at the
``tiny`` scale (sf0.001 tables, a 2,000-record lake) with tracing off
and on, and asserts that each run is correct and emits every named
end-to-end or per-layer metric with its unit, and nothing else. Also
asserts that the benchmark fails without printing a result when the
program is absent. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

from run import END_TO_END

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(bench: dict) -> None:
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}, sorted(bench)
    assert 1 <= len(bench["paths"]) <= 16
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200, w
        names.append(w["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower"), m
        names.append(m["name"])
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names)), "names must be unique"
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    for m in bench["end_to_end"]:     # gated figures keep the detail line's units
        assert END_TO_END.get(m["name"]) == m["unit"], m


def run(cmd: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_spec(bench)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = run(bench["command"] + ["--workload", w["name"], "--seed", "7",
                                        "--seconds", "1", "--trace", str(trace),
                                        "--scale", "tiny"], ROOT)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"]
            assert {k: v["unit"] for k, v in detail["end_to_end"].items()} == END_TO_END
            for key in ("cpus", "host_canary", "job_floor_s", "why", "input"):
                assert detail.get(key), (w["name"], key)
            if trace:
                assert detail["ops"] and os.path.exists(os.path.join(ROOT, detail["spans_file"]))
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0, res
            assert isinstance(res["attempted"], int) and res["attempted"] >= 1
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (w["name"], trace, got)
            assert all(isinstance(v["value"], (int, float))
                       for v in res["metrics"].values())
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics", flush=True)

    # without the program next to it, the benchmark must fail, not report
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bench["command"] + ["--workload", bench["workloads"][0]["name"],
                                    "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
        assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
        print(f"ok bare checkout fails with exit {p.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
