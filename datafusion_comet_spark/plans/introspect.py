"""Physical-plan introspection: one py4j walk of the executed plan.

The reference proves which operator served a query via
``checkSparkAnswerAndOperator`` (reference:
spark/src/test/scala/org/apache/spark/sql/CometTestBase.scala:225-268)
and reads per-operator facts from the plan tree (``CometMetricNode``).
The rebuild walks ``df._jdf.queryExecution().executedPlan()`` into a
small tree of :class:`PlanNode`; every plan assertion (operator
sequences, shuffles, pushed filters, scan passes, skew splits) asks that
tree, never ``explain()`` text.  Walk rules:

- ``AdaptiveSparkPlanExec`` -> ``executedPlan()``: the initial plan
  before execution, the final one after.  Never ``finalPhysicalPlan``,
  which executes the query.
- ``*QueryStageExec`` -> ``plan()``; ``WholeStageCodegenExec`` and
  ``InputAdapter`` are transparent.
- every other node -> ``innerChildren()`` (subqueries, an
  ``InMemoryRelation``'s cached plan — walked once per relation and
  shared wherever it is read) then ``children()``, as Spark prints them.
- ``ReusedExchange`` and ``ReusedSubquery`` are leaves.

Walking starts no Spark job, so it is safe before ``collect()`` and
outside timed regions.  ``plan_string`` is display only.
``codegen_compiles`` reads the JVM's whole-stage codegen compile
counter, so generated-class cache misses are a counted fact too.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field
from functools import cached_property
from typing import Any

from pyspark import SparkContext
from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession

_TRANSPARENT = {"WholeStageCodegenExec", "InputAdapter"}
_REUSED = {"ReusedExchangeExec", "ReusedSubqueryExec"}
_HASH_OR_RANGE = {"HashPartitioning", "RangePartitioning"}
_SCAN, _SHUFFLE = "FileSourceScanExec", "ShuffleExchangeExec"


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def _columns(jexpr) -> list[str]:
    return [a.name() for a in _seq(jexpr.references().toSeq())]


@dataclass(eq=False)
class PlanNode:
    """One operator: ``name`` as Spark prints it (``FileScan``,
    ``Exchange`` ...), ``cls`` its JVM class, ``subplans`` its inner
    children, ``children`` its inputs.  Other facts are read from
    ``jnode`` on first use."""

    name: str
    cls: str
    jnode: Any = field(repr=False)
    subplans: list[PlanNode] = field(default_factory=list, repr=False)
    children: list[PlanNode] = field(default_factory=list, repr=False)

    def walk(self, distinct: bool = False) -> Iterator[PlanNode]:
        """Pre-order: node, subplans, children.  A shared cached subtree
        is yielded wherever it is read, or once with ``distinct``."""
        seen: set[int] = set()
        stack = [self]
        while stack:
            node = stack.pop()
            if distinct and id(node) in seen:
                continue
            seen.add(id(node))
            yield node
            stack.extend(reversed(node.subplans + node.children))

    @cached_property
    def table(self) -> str | None:
        """Table a file scan reads (its root path's base name)."""
        if self.cls != _SCAN:
            return None
        root = self.jnode.relation().location().rootPaths().apply(0)
        return root.getName().split(".")[0]

    @cached_property
    def read_schema(self) -> list[str]:
        """Top-level columns a file scan reads (``requiredSchema``)."""
        if self.cls != _SCAN:
            return []
        return list(self.jnode.requiredSchema().fieldNames())

    @cached_property
    def pushed_filters(self) -> list[str]:
        """Filters pushed into a file scan; before a scalar subquery in
        them has run, the filters using it are left out."""
        if self.cls != _SCAN:
            return []
        try:
            filters = _seq(self.jnode.pushedDownFilters())
        except IllegalArgumentException:  # the subquery has not run
            pkg = SparkContext._jvm.org.apache.spark.sql.execution.datasources
            strategy = getattr(getattr(pkg, "DataSourceStrategy$"), "MODULE$")
            filters = [
                o.get()
                for e in _seq(self.jnode.dataFilters())
                if (o := strategy.translateFilter(e, True)).isDefined()
            ]
        return [f.toString() for f in filters]

    @cached_property
    def partitioning(self) -> str | None:
        """A shuffle's partitioning: ``HashPartitioning``,
        ``RangePartitioning``, ``SinglePartition`` ..."""
        if self.cls != _SHUFFLE:
            return None
        kind = self.jnode.outputPartitioning().getClass().getSimpleName()
        return kind.rstrip("$")

    @cached_property
    def partition_keys(self) -> list[str]:
        if self.cls != _SHUFFLE:
            return []
        return _columns(self.jnode.outputPartitioning())

    @cached_property
    def join_type(self) -> str | None:
        if not self.cls.endswith("JoinExec"):
            return None
        return self.jnode.joinType().toString()

    @cached_property
    def join_keys(self) -> list[str]:
        """Columns an equi-join's left keys use."""
        if self.join_type is None or self.cls == "BroadcastNestedLoopJoinExec":
            return []
        return [c for k in _seq(self.jnode.leftKeys()) for c in _columns(k)]

    @cached_property
    def expression_classes(self) -> set[str]:
        """JVM classes of every (sub-)expression the operator evaluates,
        e.g. ``ArrayTransform`` or ``DynamicPruningExpression``."""
        out: set[str] = set()
        stack = _seq(self.jnode.expressions())
        while stack:
            e = stack.pop()
            out.add(e.getClass().getSimpleName())
            stack.extend(_seq(e.children()))
        return out

    @cached_property
    def skew_join(self) -> bool:
        """True on a shuffled join AQE re-planned with skew splits."""
        if self.cls not in ("SortMergeJoinExec", "ShuffledHashJoinExec"):
            return False
        return bool(self.jnode.isSkewJoin())

    @cached_property
    def metrics(self) -> dict[str, int]:
        """The node's SQLMetrics, name -> value."""
        m = self.jnode.metrics()
        keys = m.keySet().mkString("\x01")
        return {k: m.apply(k).value() for k in keys.split("\x01") if k}


def _name(jnode, cls: str) -> str:
    # explain prints a file scan as "FileScan <format>": nodeNamePrefix
    # "File" + nodeName "Scan <format> <table>"; a skew-split join's
    # nodeName is "SortMergeJoin(skew=true)"
    if cls == _SCAN:
        return "FileScan"
    return jnode.nodeName().split(" ", 1)[0].split("(", 1)[0]


def walk_plan(jplan) -> PlanNode:
    """Walk a JVM plan (physical or logical) into a :class:`PlanNode`."""
    cached: dict[int, PlanNode] = {}

    def visit(j) -> PlanNode:
        cls = j.getClass().getSimpleName()
        while cls in _TRANSPARENT:
            j = j.child()
            cls = j.getClass().getSimpleName()
        node = PlanNode(_name(j, cls), cls, j)
        if cls == "AdaptiveSparkPlanExec":
            node.children = [visit(j.executedPlan())]
        elif cls.endswith("QueryStageExec"):
            node.children = [visit(j.plan())]
        elif cls == "InMemoryRelation":
            plan = j.cachedPlan()
            key = SparkContext._jvm.java.lang.System.identityHashCode(plan)
            if key not in cached:
                cached[key] = visit(plan)
            node.subplans = [cached[key]]
        elif cls not in _REUSED:
            node.subplans = [visit(c) for c in _seq(j.innerChildren())]
            node.children = [visit(c) for c in _seq(j.children())]
        return node

    return visit(jplan)


def executed_plan(df: DataFrame) -> PlanNode:
    """``df``'s walked physical plan: as planned before ``collect()``,
    AQE's final plan (stages, reuse, skew splits) after it."""
    return walk_plan(df._jdf.queryExecution().executedPlan())


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """Return the explain output for ``df`` as a string (display only)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return qe.explainString(jmode)


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Generated classes Janino has compiled in this JVM, and their total
    compile time in ms, since the JVM started.  The count is
    ``CodegenMetrics.METRIC_COMPILATION_TIME``'s; a class served from
    Spark's codegen cache is not compiled and not counted.  In local
    mode executors share the driver JVM, so their compiles count too.
    Take the difference of two reads to count one stretch of work."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    count = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(count), codegen.compileTime() / 1e6  # compileTime is in ns


def operators_in_plan(df: DataFrame) -> list[str]:
    """Operator names in pre-order, in the order explain prints them."""
    return [n.name for n in executed_plan(df).walk()]


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into every parquet scan (pushdown proof)."""
    return [
        f for n in executed_plan(df).walk(distinct=True) for f in n.pushed_filters
    ]


def shuffle_count(df: DataFrame) -> int:
    """Hash and range shuffle exchanges in the plan — the scale metric to
    minimize.  A cached plan counts once per read, as the plan prints."""
    return sum(n.partitioning in _HASH_OR_RANGE for n in executed_plan(df).walk())


def broadcast_join_count(df: DataFrame) -> int:
    return sum(n.name == "BroadcastHashJoin" for n in executed_plan(df).walk())


def scan_passes(df: DataFrame, table: str) -> int:
    """Physical file scans of ``table``: each cached plan counts once, a
    reused exchange or subquery not at all, and scalar-subquery scans
    are included.  Call after ``collect()`` to count what executed."""
    return sum(n.table == table for n in executed_plan(df).walk(distinct=True))


def scans_under_broadcast(df: DataFrame) -> list[str]:
    """Tables of every file scan BENEATH a BroadcastExchange — build
    sides materialized on every executor.  In asymptotic mode this must
    never name a scaling table (tests/test_asymptotic_regime.py).

    A ``ReusedExchange`` (rows from elsewhere) or ``InMemoryTableScan``
    (a cache whose lineage, walked beneath it, ran once elsewhere) under
    a broadcast is reported as an ``<opaque:OpName>`` marker, so the
    contract fails on it unless the composed plan was adjudicated and
    allowlisted by name.
    """
    out: list[str] = []
    for b in executed_plan(df).walk():
        if b.name != "BroadcastExchange":
            continue
        for n in (n for c in b.children for n in c.walk()):
            if n.cls == _SCAN:
                out.append(n.table)
            elif n.cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
                out.append(f"<opaque:{n.cls.removesuffix('Exec')}>")
    return out
