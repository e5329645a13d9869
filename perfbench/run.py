#!/usr/bin/env python3
"""luma-spark benchmark: one workload, one process, one driver thread.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0

Run it from the repository root. It generates the workload's inputs
from ``--seed`` into a scratch directory it owns (``.perfbench/``,
removed at exit), starts ``local[N]`` with N = the usable cores, and
then:

1. runs one untimed pass that keeps every op's result (warm-up; the
   results are checked against answers the program did not compute);
2. runs cold passes for ``--seconds`` seconds, at least three. Before
   every pass the Spark cache and every persisted RDD are cleared, and
   the benchmark fails if any survive;
3. measures a trivial job (the per-job floor) and the three host
   canaries of ``bench.py``, then checks the kept results.

``setup_s`` runs from process start to the first timed op, less the
time spent generating inputs (the benchmark's work, not the program's).

Client model: a closed loop with one client; the next op starts when
the previous one has returned.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, reports the per-layer metrics and the
tracing overhead, and writes the spans to ``.perfbench/spans/``.
Metrics of a layer the workload does not reach read 0.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the details (host, canaries, input size, per-op figures).
Exit status 2 means the program or an input could not be set up.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import datagen  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# input sizes; "tiny" is for the benchmark's own self-check
SCALES = {
    "bench": {"sf": 0.005, "lake_records": 5_000, "lake_chunks": 4,
              "lake_records_per_object": 125, "lake_page_size": 8},
    "tiny": {"sf": 0.001, "lake_records": 2_000, "lake_chunks": 2,
             "lake_records_per_object": 100, "lake_page_size": 8},
}

# every end-to-end figure the run prints (in the detail line); the last
# line carries the ones BENCHMARK.json lists, with the units given there
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_failed_frac": "ratio", "jvm_peak_rss_mb": "MB",
}

# pass_s is the median of at least three cold passes; a traced
# run brackets its traced pass with two untraced ones instead, so the
# tracing overhead is not confounded with the JIT still warming up
UNTRACED_PASSES = {0: 3, 1: 2}
DEADLINE_S = 130.0        # stop measuring here, so a slow run still ends in 180 s


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, by
    nearest rank: the (n-10)-th smallest sample. Returns (value, pct),
    or (None, None) below eleven samples."""
    s = sorted(samples)
    k = len(s) - 10
    if k < 1:
        return None, None
    return s[k - 1], 100.0 * k / len(s)


def clear_cold(spark) -> None:
    """Drop every cached plan and persisted RDD; fail if any remain."""
    spark.catalog.clearCache()
    for rdd in workloads.persisted_rdds(spark).values():
        rdd.unpersist(True)
    left = len(workloads.persisted_rdds(spark))
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    if left or not cache_empty:
        raise RuntimeError(f"pass isolation: {left} persisted RDDs survive the "
                           f"clear, cache manager empty={cache_empty}")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def job_floor_s(spark, n: int = 15) -> float:
    """Median wall time of a trivial one-task job."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def canaries(spark, data_dir: str) -> dict:
    """bench.py's host canaries; the scan reads the generated lineitem."""
    import bench
    return {"python_loop_sec": bench._python_loop_canary(),
            "spark_fixed_job_sec": bench._spark_fixed_job_canary(spark),
            "scan_lineitem_sec": bench._scan_canary(spark, data_dir)}


def start_spark(scratch: str, cpus: int):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # spark-submit's own JVM
    tempfile.tempdir = tmp
    from luma_etl_data_platform_spark.core.session import get_spark
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            # no hsperfdata file under /tmp: all state stays in scratch
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch} -XX:-UsePerfData",
    })


def _descendants(pid: int) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue
            out.update(kids)
            todo.extend(kids)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process under
    it (Python workers) to exit, killing what outlives a grace period."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None and proc.stdin:
        proc.stdin.close()          # the gateway exits on EOF
    deadline = time.monotonic() + 30
    for pid in sorted(spawned):
        while _running(pid) and time.monotonic() < deadline:
            if proc is not None and pid == proc.pid:
                proc.poll()         # reap our own child
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    if proc is not None:
        proc.wait()


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def layer_metrics(pass_spans: list[list[dict]], floor: float,
                  untraced_pass: float, names: list[str]) -> tuple[dict, dict]:
    """Per-layer sums for each traced pass, then the median over passes;
    also per-op medians of the build/plan/exec split and job counts."""
    per_pass, per_op = [], {}
    job_keys = ("stages", "tasks", "failed_tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")
    lake_time = {"extract_stage": "sources.rest_lake.extract_stage_s",
                 "compile": "pipeline.compile_s",
                 "warehouse_merge": "sources.lakehouse.merge_s",
                 "cdf_drain": "streaming.cdf_drain_s",
                 "transform": "plans.transform.run_script_s",
                 "pruned_read": "sources.lakehouse.pruned_read_s",
                 "reconcile": "operators.validate.reconcile_s"}
    for spans in pass_spans:
        m = dict.fromkeys(names, 0.0)
        for s in spans:
            if "job_group" in s:
                for k in job_keys:
                    key = "engine." + k
                    m[key] += s[k]
            phase, op = s.get("phase"), s.get("op")
            if phase is not None:
                opname = s["name"].split("/")[0]
                d = per_op.setdefault(opname, {})
                d.setdefault(phase + "_s", []).append(s["dur_s"])
                if "jobs" in s:
                    d.setdefault("jobs_" + phase, []).append(s["jobs"])
                    d.setdefault("stages_" + phase, []).append(s["stages"])
                    d.setdefault("tasks_" + phase, []).append(s["tasks"])
                if phase == "build":
                    m["plans.build_s"] += s["dur_s"]
                    m["engine.jobs.build"] += s["jobs"]
                elif phase == "plan":
                    m["engine.plan_s"] += s["dur_s"]
                else:
                    m["engine.exec_s"] += s["dur_s"]
                    m["engine.jobs.exec"] += s["jobs"]
            elif op is not None:
                m["core.persisted_rdds_after"] += s.get("persisted_rdds_after", 0)
                m["core.cached_bytes_after"] += s.get("cached_bytes_after", 0)
                if op in lake_time:       # a spine stage: one span, one layer
                    m[lake_time[op]] += s["dur_s"]
                    m["engine.jobs.exec"] += s.get("jobs", 0)
                    d = per_op.setdefault(op, {})
                    for key, k in (("run_s", "dur_s"), ("jobs", "jobs"),
                                   ("stages", "stages"), ("tasks", "tasks")):
                        d.setdefault(key, []).append(s.get(k, 0))
                if op == "extract_stage":
                    m["sources.rest_lake.transport_bytes"] = s["transport_bytes"]
                    m["schema_registry.versions"] = s["schema_versions"]
                elif op == "warehouse_merge":
                    m["sources.lakehouse.files_written"] = s["files_written"]
                    m["sources.lakehouse.log_files"] = s["log_files"]
                    m["sources.lakehouse.bytes_on_disk"] = s["bytes_on_disk"]
                elif op == "pruned_read" and s.get("files_in_table"):
                    m["sources.lakehouse.files_read_ratio"] = (
                        s["files_read"] / s["files_in_table"])
        m["trace.pass_s"] = sum(s["dur_s"] for s in spans if s.get("op") and "phase" not in s)
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in names}
    out["engine.job_floor_s"] = floor
    jobs = out["engine.jobs.build"] + out["engine.jobs.exec"]
    out["engine.floor_share"] = floor * jobs / untraced_pass
    out["trace.untraced_pass_s"] = untraced_pass
    out["trace.overhead_s"] = out["trace.pass_s"] - untraced_pass
    out["trace.spans"] = float(sum(len(s) for s in pass_spans))
    ops = {op: {k: statistics.median(v) for k, v in d.items()} for op, d in per_op.items()}
    return out, ops


def measure(args, scratch: str, units: dict[str, str]) -> dict:
    cpus = usable_cpus()
    scale = SCALES[args.scale]
    wl = workloads.make(args.workload)
    setup = {"interpreter_imports_s": time.perf_counter() - T_START}
    t = time.perf_counter()
    # every workload gets the registry tables: the scan canary reads lineitem
    data_dir = os.path.join(scratch, "data")
    input_size = {"sf": scale["sf"],
                  "rows": datagen.write_tables(data_dir, scale["sf"], args.seed),
                  **wl.make_inputs(scratch, data_dir, args.seed, scale)}
    inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_spark(scratch, cpus)
    setup["session_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        wl.prepare(spark)
        setup["prepare_s"] = time.perf_counter() - t

        attempted = failed = 0
        errors: dict[str, str] = {}

        def tally(results):
            nonlocal attempted, failed
            for op, _, err in results:
                attempted += 1
                if err is not None:
                    failed += 1
                    errors.setdefault(op, err)

        t = time.perf_counter()
        warm = wl.run_pass(spark, check=True)
        tally(warm)
        setup["warmup_s"] = time.perf_counter() - t
        clear_cold(spark)
        setup_s = time.perf_counter() - T_START - inputs_s

        tracer = Tracer(spark) if args.trace else None
        untraced, traced, op_lat, traced_spans = [], [], [], []
        t_measure = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_measure
            enough = (elapsed >= args.seconds
                      and len(untraced) >= UNTRACED_PASSES[args.trace]
                      and (traced or not args.trace))
            late = time.perf_counter() - T_START > DEADLINE_S
            if enough or (late and untraced and (traced or not args.trace)):
                break
            use_trace = tracer is not None and len(traced) < len(untraced)
            if use_trace:
                first = len(tracer.spans)
                with tracer.span(f"pass-{len(traced)}", workload=args.workload,
                                 seed=args.seed):
                    results = wl.run_pass(spark, tr=tracer)
                tracer.collect_job_stats()
                traced.append(sum(lat for _, lat, _ in results))
                traced_spans.append(tracer.spans[first:])
            else:
                results = wl.run_pass(spark)
                untraced.append(sum(lat for _, lat, _ in results))
                op_lat.extend(lat for _, lat, _ in results)
            tally(results)
            clear_cold(spark)
        rss = jvm_peak_rss_mb(spark)
        t = time.perf_counter()
        floor = job_floor_s(spark)
        canary = canaries(spark, data_dir)
        checks = wl.verify()
        after_s = time.perf_counter() - t
        for op, err in checks.items():
            if err is not None:
                failed += 1
                errors.setdefault(op, "wrong result: " + err)

        pass_s = statistics.median(untraced)
        tail_s, tail_pct = tail(op_lat)
        detail = {
            "workload": args.workload, "why": wl.why, "seed": args.seed,
            "input": input_size, "scale": args.scale, "cpus": cpus,
            "client": "closed loop, 1 client, 1 driver thread",
            "host_canary": canary, "job_floor_s": floor,
            "setup_parts_s": setup, "inputs_s": inputs_s,
            "floor_canaries_verify_s": after_s, "warmup_op_s": {op: lat for op, lat, _ in warm},
            "passes": len(untraced),
            "traced_passes": len(traced), "pass_times_s": untraced,
            "op_samples": len(op_lat), "op_tail_percentile": tail_pct,
            "errors": errors, "checked_ops": sorted(checks),
        }
        e2e = {"setup_s": setup_s, "pass_s": pass_s,
               "op_p50_s": statistics.median(op_lat), "op_tail_s": tail_s,
               "ops_failed_frac": failed / attempted, "jvm_peak_rss_mb": rss}
        detail["end_to_end"] = {k: {"value": v, "unit": END_TO_END[k]}
                                for k, v in e2e.items()}
        if args.trace:
            metrics, ops = layer_metrics(traced_spans, floor, pass_s, list(units))
            detail["ops"] = ops
            spans_dir = os.path.join(STATE, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(path)
            detail["spans_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = e2e
        return {
            "detail": detail,
            "result": {"correct": failed == 0, "attempted": attempted,
                       "failed": failed,
                       "metrics": {k: {"value": metrics[k], "unit": u}
                                   for k, u in units.items()}},
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import luma_etl_data_platform_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    os.makedirs(STATE, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=STATE)
    try:
        out = measure(args, scratch, units)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"detail": out["detail"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
