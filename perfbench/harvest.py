"""Per-layer counters read from Spark after an execution has finished.

``plan_metrics`` walks the executed physical plan through py4j -- through
``AdaptiveSparkPlanExec.finalPhysicalPlan``, each query stage's ``plan``,
every node's ``children`` and ``subqueries`` (so scalar-subquery scans are
counted), and each persisted relation's cached plan once -- and sums the
nodes' SQLMetrics by operator kind.  ``job_counts`` reads the status
tracker for the jobs of one job group.  Both run after ``collect()`` has
returned, never inside a timed span.

Operator times (``*.time_ms``, ``*_ms``) are SQLMetric sums over tasks, so
on N cores they can add up to N times the wall time.
"""

from __future__ import annotations

import os
from collections import Counter

# metric names reported per layer; every one is present (possibly 0) in
# the dict plan_metrics returns
PLAN_METRICS = (
    "scan.passes", "scan.files", "scan.bytes", "scan.rows", "scan.time_ms",
    "exchange.count", "exchange.bytes", "exchange.records",
    "exchange.write_ms", "exchange.fetch_wait_ms",
    "aqe.partitions_after", "aqe.skew_splits",
    "broadcast.count", "broadcast.bytes", "broadcast.build_ms",
    "broadcast.collect_ms",
    "join.bhj", "join.smj", "join.shj", "join.bnlj",
    "agg.time_ms", "agg.peak_mem_bytes", "sort.time_ms", "spill.bytes",
    "cache.inmemory_scans",
)

JOIN_KINDS = {
    "BroadcastHashJoinExec": "join.bhj",
    "SortMergeJoinExec": "join.smj",
    "ShuffledHashJoinExec": "join.shj",
    "BroadcastNestedLoopJoinExec": "join.bnlj",
}
AGG_KINDS = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}

# operator kind -> ((SQLMetric key, per-layer name, scale to the unit), ...)
NODE_METRICS = {
    "FileSourceScanExec": (
        ("numFiles", "scan.files", 1),
        ("filesSize", "scan.bytes", 1),
        ("numOutputRows", "scan.rows", 1),
        ("scanTime", "scan.time_ms", 1),
    ),
    "ShuffleExchangeExec": (
        ("dataSize", "exchange.bytes", 1),
        ("shuffleRecordsWritten", "exchange.records", 1),
        ("shuffleWriteTime", "exchange.write_ms", 1e-6),  # ns timing
        ("fetchWaitTime", "exchange.fetch_wait_ms", 1),
    ),
    "AQEShuffleReadExec": (
        ("numPartitions", "aqe.partitions_after", 1),
        ("numSkewedSplits", "aqe.skew_splits", 1),
    ),
    "BroadcastExchangeExec": (
        ("dataSize", "broadcast.bytes", 1),
        ("buildTime", "broadcast.build_ms", 1),
        ("collectTime", "broadcast.collect_ms", 1),
    ),
    "SortExec": (("sortTime", "sort.time_ms", 1),),
}
for _k in AGG_KINDS:
    NODE_METRICS[_k] = (
        ("aggTime", "agg.time_ms", 1),
        ("peakMemory", "agg.peak_mem_bytes", 1),
    )

COUNTED = {
    "FileSourceScanExec": "scan.passes",
    "ShuffleExchangeExec": "exchange.count",
    "BroadcastExchangeExec": "broadcast.count",
    "InMemoryTableScanExec": "cache.inmemory_scans",
    **JOIN_KINDS,
}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def plan_metrics(jvm, executed_plan) -> tuple[dict[str, float], Counter]:
    """Sum the executed plan's SQLMetrics into the PLAN_METRICS names.

    Returns ``(metrics, scans_per_table)``; reused exchanges and reused
    subqueries are not walked again, so each physical pass counts once.
    """
    out = dict.fromkeys(PLAN_METRICS, 0.0)
    tables: Counter = Counter()
    seen_cached: set[int] = set()
    stack = [executed_plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue
        if kind in COUNTED:
            out[COUNTED[kind]] += 1
        metrics = node.metrics()
        keys = set(metrics.keySet().mkString("\x01").split("\x01"))
        for key, name, scale in NODE_METRICS.get(kind, ()):
            if key in keys:
                out[name] += max(0, metrics.apply(key).value()) * scale
        if "spillSize" in keys:
            out["spill.bytes"] += max(0, metrics.apply("spillSize").value())
        if kind == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            for p in _seq(roots):
                tables[os.path.basename(p.toString()).split(".")[0]] += 1
        if kind == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            ident = jvm.java.lang.System.identityHashCode(cached)
            if ident not in seen_cached:
                seen_cached.add(ident)
                stack.append(cached)
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out, tables


def planning_phases_ms(query_execution) -> dict[str, float]:
    """Catalyst's own phase timings (``QueryPlanningTracker``)."""
    phases = query_execution.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"plan.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs of job group ``group`` and the stages and tasks they ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
