#!/usr/bin/env python3
"""The validation-gate benchmark.

    python3 perfbench/run.py --workload validate_long --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: one Spark job at a time, at
local[nproc]. A run generates (or reuses) the seeded inputs, sets the
session up twice in fresh driver JVMs, executes the workload's
job once cold and then repeatedly for ``--seconds``, checks every
output against the generator's expectations and prints one JSON line
as the last line of standard output. ``--trace 1`` prints the
per-layer metrics instead of the end-to-end ones. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

SETUPS = 2

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
STRUCTURAL = ["spark.jobs", "spark.stages", "spark.tasks", "aqe.parquet_scans",
              "aqe.exchanges", "aqe.broadcasts", "aqe.sort_merge_joins",
              "aqe.sort_aggregates", "aqe.hash_aggregates"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def other_spark_jvms() -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/cmdline", "rb") as fh:
                    if b"org.apache.spark" in fh.read():
                        pids.append(int(d))
            except OSError:
                pass
    return pids


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def git_sha() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return None


def code_version() -> str:
    """Hash of the engine's and the benchmark's Python sources, so that
    results kept across runs are only compared between runs of the same
    code (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for top in ("sjot_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode() + b"\0")
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def start_session():
    from sjot_spark.session import get_spark

    return get_spark(app_name="perfbench")


def stop_session(spark) -> None:
    """Stop the session and its driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def pin_environment(nproc: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Below the program's 8g default on purpose. At 8g the driver JVM's
    # peak RSS follows G1's heap expansion: over ten seeds its interquartile
    # range was 9-27 % of the median, up to more than a bound may be. At 2g it reads
    # the heap cap plus the off-heap, so peak_rss_mb is steady, and a memory
    # regression shows mostly as GC time in warm_s (see README.md).
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # the dimension table is built from local rows, which Python workers
    # deserialize: run them on this interpreter, not whatever is on PATH
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)


def main() -> int:
    ap = argparse.ArgumentParser(description="sjot_spark validation-gate benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the self-test's input size")
    args = ap.parse_args()

    import gen
    import sjot_spark  # noqa: F401  (fails fast outside a checkout)
    from tracing import Tracer, codegen_totals, job_group_metrics, plan_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    nproc = len(os.sched_getaffinity(0))
    pin_environment(nproc)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"

    deadline = time.time() + 60
    while other_spark_jvms():
        if time.time() > deadline:
            log(f"refusing to run beside other Spark JVMs: {other_spark_jvms()}")
            return 3
        time.sleep(2)
    load_before = os.getloadavg()

    # inputs: generated outside every timed span, verified by manifest
    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    paths, manifests = {}, {}
    seeds = {"main": args.seed, "base": args.seed + 1_000_003}
    t_phase = time.perf_counter()
    for role, (kind, rows) in wl.inputs(args.size, bool(args.trace)).items():
        paths[role], manifests[role] = gen.ensure(cache, kind, seeds[role], rows)
    wl.prepare(WORK, paths, manifests)
    paths["sink"] = os.path.join(WORK, "sink", run_id)
    paths["profile"] = os.path.join(WORK, "profile", run_id)
    n_seq = manifests["main"]["rows"]
    phases = {}

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    phase("inputs")

    setup_s, start_s, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                stop_session(spark)
                spark = None
            t0 = time.perf_counter()
            spark = start_session()
            start_s.append(time.perf_counter() - t0)
            wl.setup(spark, paths)
            setup_s.append(time.perf_counter() - t0)
        phase("setups")
        tr = Tracer(run_id, enabled=bool(args.trace), spark=spark)
        plain = Tracer(run_id, enabled=False)
        java = spark.sparkContext._jvm.System.getProperty("java.version")

        attempted, failures = 0, []
        layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

        def run_op(label: str, fn, check) -> float | None:
            nonlocal attempted
            attempted += 1
            try:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
                errors = check(out)
            except Exception:  # the run goes on; the failure is counted and shown
                errors, dt = [traceback.format_exc()], None
            if errors:
                failures.append({"op": label, "errors": errors})
                log(f"{label} FAILED: {errors[0][:2000]}")
                return None
            return dt

        cg0 = codegen_totals(spark)
        cold = run_op("cold", lambda: wl.job(tr), wl.check)
        cg1 = codegen_totals(spark)
        layer["codegen.compiles"] = cg1[0] - cg0[0]
        layer["codegen.compile_ms"] = cg1[1] - cg0[1]
        phase("cold")

        warm, traced, readings = [], [], []
        t_warm = time.perf_counter()
        i = 0
        while i < wl.min_warm * (1 + args.trace) or time.perf_counter() - t_warm < args.seconds:
            spark.catalog.clearCache()
            # in the traced mode untraced and traced repeats alternate,
            # so their difference is the tracing overhead
            on = bool(args.trace) and i % 2 == 1
            group = f"warm{i}"
            job = (lambda: _in_group(tr, group, wl)) if on else (lambda: wl.job(plain))
            dt = run_op(group, job, wl.check)
            if dt is not None:
                (traced if on else warm).append(dt)
                if on:
                    reading = job_group_metrics(spark, run_id, group)
                    reading.update(plan_metrics(spark, wl.plan_frames(), wl.unique_key))
                    reading["wall_s"] = dt
                    readings.append(reading)
            i += 1

        phase("warm")
        run_op("final_check", wl.final_check, lambda errors: errors)
        phase("final_check")

        if args.trace:
            def probes():
                with tr.span("layers"):
                    got, errors = wl.layers()
                layer.update(got)
                return errors
            run_op("layers", probes, lambda errors: errors)
            traced_layers(wl, tr, layer, readings, traced, warm, cold, n_seq, manifests["main"])
        rss = peak_rss_mb("self") + peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            stop_session(spark)
        for p in (paths["sink"], paths["profile"]):
            shutil.rmtree(p, ignore_errors=True)

    phase("stop")
    load_after = os.getloadavg()
    metrics = {}
    if cold is not None and warm:
        warm_s = steady(warm)
        metrics = {"setup_s": statistics.median(setup_s), "cold_s": cold, "warm_s": warm_s,
                   "seq_per_s": n_seq / warm_s, "peak_rss_mb": rss}
    layer["session.start_s"] = statistics.median(start_s)
    correct = not failures and bool(metrics)

    record = {
        "run_id": run_id, "args": vars(args), "correct": correct,
        "attempted": attempted, "failures": failures,
        "env": {"nproc": nproc, "spark": __import__("pyspark").__version__, "java": java,
                "python": platform.python_version(), "git_sha": git_sha(),
                "code_version": code_version(),
                "load_before": load_before, "load_after": load_after,
                "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"]},
        "inputs": {r: {"path": os.path.relpath(p, ROOT), "rows": manifests[r]["rows"],
                       "bytes": manifests[r]["bytes"], "files": len(manifests[r]["files"])}
                   for r, p in paths.items() if r in manifests},
        "setup_s": setup_s, "cold_s": cold, "warm_s": warm, "traced_warm_s": traced,
        "readings": readings, "phases_s": phases,
        "metrics": metrics, "per_layer": layer if args.trace else None,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.write(os.path.join(WORK, "traces", run_id + ".json"))
    log(f"run {run_id}: nproc={nproc} load {load_before[0]:.2f}->{load_after[0]:.2f} "
        f"attempted={attempted} failed={len(failures)}")

    if args.trace:
        shown = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        shown = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": shown}))
    return 0 if correct else 1


def steady(times: list[float]) -> float:
    """Median of the second half of a run's warm repeats; the first
    half lets the JIT settle."""
    return statistics.median(times[len(times) // 2:])


def _in_group(tr, group, wl):
    with tr.span("job", group=group):
        return wl.job(tr)


def traced_layers(wl, tr, layer, readings, traced, warm, cold, n_seq, manifest) -> None:
    """Fill the per-layer table from the status-store and plan readings
    of the traced repeats, then the workload's own rows from its spans
    and layer probes."""
    from tracing import AQE_COUNTS

    mid = sorted(readings, key=lambda r: r["wall_s"])[len(readings) // 2]
    for k in ("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s", "fetch_wait_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
              "input_rows"):
        layer[f"spark.{k}"] = mid[k]
    layer["spark.busy_share"] = mid["run_s"] / (mid["wall_s"] * int(os.environ["SPARK_GRAFT_CPUS"]))
    for k in AQE_COUNTS + ["agg_time_ms", "agg_peak_mem_bytes", "scan_time_ms"]:
        layer[f"aqe.{k}"] = mid.get(k, 0)
    warm_s = steady(warm)
    wl.traced_layers(tr, layer, mid, manifest, warm_s)
    layer["trace.cold_s"] = cold or 0.0
    layer["trace.warm_s"] = steady(traced)
    layer["trace.warm_overhead_s"] = layer["trace.warm_s"] - warm_s
    layer["counters.repeat_mismatches"] = repeat_mismatches(
        wl.name, manifest, [dict(r, **{k: r.get(k.split(".", 1)[1]) for k in STRUCTURAL})
                            for r in readings])


def repeat_mismatches(workload: str, manifest: dict, readings: list[dict]) -> int:
    """Structural counters must repeat exactly across the traced
    repeats of one run and across runs of the same code over the same
    input; count the counters that did not, and log each."""
    first = {k: readings[0][k] for k in STRUCTURAL}
    bad = {k for r in readings for k in STRUCTURAL if r[k] != first[k]}
    path = os.path.join(WORK, "counters",
                        f"{workload}-{manifest['kind']}-s{manifest['seed']}-n{manifest['rows']}"
                        f"-c{code_version()}.json")
    if os.path.exists(path):
        with open(path) as fh:
            stored = json.load(fh)
        bad |= {k for k in STRUCTURAL if stored.get(k) != first[k]}
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(first, fh)
    for k in sorted(bad):
        log(f"structural counter {k} did not repeat: {[r[k] for r in readings]}")
    return len(bad)


if __name__ == "__main__":
    sys.exit(main())
