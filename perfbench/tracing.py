"""Spans and Spark-side readings for the traced benchmark run.

Everything here observes the engine from outside: spans time the
benchmark's own calls into each module, and the Spark readings come
from the status store (per job group), the final adaptive plan's SQL
metrics, and the JVM-wide codegen counters.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as
    JSON when the run ends. ``enabled=False`` keeps the same call
    sites but records nothing and sets no job group."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(f"{self.run_id}:{group}", name)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "group": group, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                sc._jsc.clearJobGroup()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def job_group_metrics(spark, run_id: str, group: str) -> dict:
    """Runtime totals of every job in one job group, from the status
    store: jobs, completed stages, tasks, executor run/CPU/GC time,
    shuffle and spill bytes, input bytes and rows."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(f"{run_id}:{group}")
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = dict.fromkeys(["stages", "tasks", "cpu_s", "run_s", "gc_s", "fetch_wait_s",
                         "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                         "input_bytes", "input_rows"], 0)
    out["jobs"] = len(jobs)
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["run_s"] += sd.executorRunTime() / 1e3
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["input_bytes"] += sd.inputBytes()
        out["input_rows"] += sd.inputRecords()
    return out


AQE_COUNTS = ["parquet_scans", "exchanges", "broadcasts", "sort_merge_joins",
              "sort_aggregates", "hash_aggregates"]
_NODE_COUNT = {
    "FileSourceScanExec": "parquet_scans", "ShuffleExchangeExec": "exchanges",
    "BroadcastExchangeExec": "broadcasts", "SortMergeJoinExec": "sort_merge_joins",
    "SortAggregateExec": "sort_aggregates", "HashAggregateExec": "hash_aggregates",
    "ObjectHashAggregateExec": "hash_aggregates",
}


def _metric(node, name: str) -> int:
    m = node.metrics().get(name)
    return 0 if m.isEmpty() else m.get().value()


def plan_metrics(spark, dfs, unique_key: str | None = None) -> dict:
    """Operator counts and SQL metrics of the final adaptive plans of
    already-executed DataFrames. Query stages and cached relations are
    unwrapped (each cached plan once); reused exchanges are not
    descended. ``unique_key``: also total the records written by the
    exchanges fed by an aggregate grouping on that column."""
    jvm = spark.sparkContext._jvm
    out = dict.fromkeys(AQE_COUNTS + ["agg_time_ms", "agg_peak_mem_bytes",
                                      "scan_time_ms", "scan_file_bytes",
                                      "unique_exchange_rows"], 0)
    seen: set[int] = set()

    def feeds_unique_agg(exchange) -> bool:
        node = exchange.child()
        while node.getClass().getSimpleName() in ("WholeStageCodegenExec", "InputAdapter",
                                                  "ProjectExec", "SortExec"):
            node = node.child()
        return (node.getClass().getSimpleName() in ("HashAggregateExec", "SortAggregateExec")
                and unique_key in node.groupingExpressions().toString())

    def walk(node, parent_kind: str = "") -> None:
        kind = node.getClass().getSimpleName()
        if kind in _NODE_COUNT:
            out[_NODE_COUNT[kind]] += 1
        if kind in ("HashAggregateExec", "ObjectHashAggregateExec"):
            out["agg_time_ms"] += _metric(node, "aggTime")
            out["agg_peak_mem_bytes"] += _metric(node, "peakMemory")
        elif kind == "SortExec" and parent_kind == "SortAggregateExec":
            out["agg_time_ms"] += _metric(node, "sortTime")
            out["agg_peak_mem_bytes"] += _metric(node, "peakMemory")
        elif kind == "FileSourceScanExec":
            out["scan_time_ms"] += _metric(node, "scanTime")
            out["scan_file_bytes"] += _metric(node, "filesSize")
        elif kind == "ShuffleExchangeExec" and unique_key and feeds_unique_agg(node):
            out["unique_exchange_rows"] += _metric(node, "shuffleRecordsWritten")
        if kind == "ReusedExchangeExec":
            return
        if kind == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), parent_kind)
            return
        if kind.endswith("QueryStageExec"):
            walk(node.plan(), parent_kind)
            return
        if kind == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            ident = jvm.System.identityHashCode(cached)
            if ident not in seen:
                seen.add(ident)
                walk(cached)
        # a sort under a whole-stage-codegen wrapper still feeds its aggregate
        through = parent_kind if kind in ("WholeStageCodegenExec", "InputAdapter") else kind
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next(), through)

    for df in dfs:
        walk(df._jdf.queryExecution().executedPlan())
    return out


def codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) since the JVM started."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
