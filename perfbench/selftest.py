#!/usr/bin/env python3
"""Self-test of the benchmark: ``python3 perfbench/selftest.py``.

1. A tiny-size run of every workload, untraced and traced, must pass
   its correctness gate and print exactly the metrics BENCHMARK.json
   declares, each with its declared unit.
2. The correctness gate must fail a run whose expectation is
   deliberately wrong: one partition's expected row count in a cached
   tiny input, and one query's expected row count in the cached oracle
   results. Each run must exit non-zero and report ``correct: false``.

Runs one benchmark process at a time; never beside other Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def bench(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def wrong_expectation(problems: list[str], workload: str) -> None:
    rc, out = bench(workload, 0)
    print(f"{workload} wrong expectation: rc={rc} correct={out['correct']} "
          f"failed={out['failed']}")
    if rc == 0 or out["correct"] or not out["failed"]:
        problems.append(f"{workload}: the gate accepted a wrong expectation: rc={rc} {out}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            rc, out = bench(w, trace)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if rc != 0 or not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{w} trace={trace}: rc={rc} {out}")
            if got != declared[trace]:
                problems.append(f"{w} trace={trace}: metrics/units {got} != {declared[trace]}")
            if not all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()):
                problems.append(f"{w} trace={trace}: non-numeric metric value")
            print(f"{w} trace={trace}: rc={rc} correct={out['correct']} "
                  f"attempted={out['attempted']}", flush=True)

    # a wrong expectation must fail the gate: a sequence workload's
    # expected partition counts, and one query's oracle row count
    cached = [d for d in os.listdir(os.path.join(ROOT, ".perfbench_work", "inputs"))
              if d.startswith(f"long-s{SEED}-n")]
    path = os.path.join(ROOT, ".perfbench_work", "inputs", cached[0])
    with open(os.path.join(path, "_expect.json")) as fh:
        expect = json.load(fh)
    expect["partitions"]["web"][0] += 1
    with open(os.path.join(path, "_expect.json"), "w") as fh:
        json.dump(expect, fh)
    try:
        wrong_expectation(problems, "validate_long")
    finally:
        shutil.rmtree(path)  # the next run regenerates the true input

    expect_dir = os.path.join(ROOT, ".perfbench_work", "expect")
    path = max((os.path.join(expect_dir, f) for f in os.listdir(expect_dir)
                if f.endswith(".json")), key=os.path.getmtime)
    with open(path) as fh:
        original = fh.read()
    expect = json.loads(original)
    expect["tpch_q1"]["rows"] += 1
    with open(path, "w") as fh:
        json.dump(expect, fh)
    try:
        wrong_expectation(problems, "query_suite")
    finally:
        with open(path, "w") as fh:
            fh.write(original)

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
