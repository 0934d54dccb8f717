"""The executed-plan walker (``plans.introspect``) and its one-owner rule:
the walk starts no Spark job, it sees scans inside scalar subqueries,
and nothing in the package, ``tests/`` or ``dev/`` reads plan facts out
of rendered plan text instead."""

from __future__ import annotations

import pathlib
import re

from datafusion_comet_spark.plans import executed_plan, pushed_filters, scan_passes
from datafusion_comet_spark.queries import load_all

REGISTRY = load_all()


def _job_ids(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_walk_before_collect_starts_no_job(spark, sf_dir):
    df = REGISTRY["tpcds_cross_channel_rollup"].fn(spark, sf_dir)
    before = _job_ids(spark)
    nodes = list(executed_plan(df).walk())
    assert scan_passes(df, "lineitem") == 3
    assert all(n.metrics.get("numOutputRows", 0) == 0 for n in nodes)
    assert _job_ids(spark) == before
    df.collect()
    assert _job_ids(spark) - before, "the status tracker saw no job at all"


def test_walk_counts_scalar_subquery_scans(spark, sf_dir):
    """scalar_subquery_api scans orders for the average inside a Subquery
    node (beside the main tree, where plan-text counts never looked) and
    for the filter; the filter's pushed-down copy of the subquery is a
    ReusedSubquery leaf and adds no pass.  The filter that uses the
    subquery is pushed to the scan only once the subquery has run."""
    df = REGISTRY["scalar_subquery_api"].fn(spark, sf_dir)
    planned = pushed_filters(df)
    df.collect()
    assert not any(f.startswith("GreaterThan(o_totalprice,") for f in planned)
    assert any(f.startswith("GreaterThan(o_totalprice,") for f in pushed_filters(df))
    root = executed_plan(df)
    in_subquery = [
        n
        for s in root.walk() if s.name == "Subquery"
        for n in s.walk() if n.table == "orders"
    ]
    assert len(in_subquery) == 1, [n.name for n in root.walk()]
    assert in_subquery[0].metrics["numOutputRows"] > 0
    assert "ReusedSubquery" in [n.name for n in root.walk()]
    assert scan_passes(df, "orders") == 2


# Plan text stays a display: Engine.explain renders it, plan_string
# builds it.  Each allowed occurrence is counted, so a new call fails.
_TEXT_CALL = re.compile(
    r"\.explain\(|explainString\(|plan_string\(|Plan\(\)\.toString\("
)
_ALLOWED = {
    "datafusion_comet_spark/plans/introspect.py": 2,  # plan_string itself
    "datafusion_comet_spark/api.py": 2,  # Engine.explain and its docstring
    "tests/test_entry.py": 1,  # the Engine.explain display check
    "dev/capture_plans.py": 2,  # saves plan_string text; docstring
}


def test_no_plan_text_parsing_outside_display():
    repo = pathlib.Path(__file__).resolve().parents[1]
    found = {
        str(path.relative_to(repo)): len(_TEXT_CALL.findall(path.read_text()))
        for root in ("datafusion_comet_spark", "tests", "dev")
        for path in (repo / root).rglob("*.py")
    }
    extra = {p: n for p, n in found.items() if n > _ALLOWED.get(p, 0)}
    assert not extra, (
        f"plan facts read from rendered plan text: {extra}; "
        "ask the walked tree (datafusion_comet_spark.plans) instead"
    )
