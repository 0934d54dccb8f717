"""Round-12 pin: AQE re-optimization INSIDE persisted plans.

`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults to
false, which pins a persisted plan's shuffle output at the full
`spark.sql.shuffle.partitions` count — every consumer stage of a
persist()-based query (tpcds_return_ratio_rank's candidate aggregate,
text_bm25_multiquery's tf working set) then runs |partitions|
near-empty tasks of pure scheduling overhead.  That was the round-11
driver's inverted-scaling signature (PERF_r11: the 32-core run 3×
slower than 8-core on return_ratio_rank) and the measured regression
mechanism fixed in round 12 (OPTIMIZATION_r12.md §cached-plan AQE:
warm 0.951→0.660 s, cold 1.30→0.906 s, identical rows).

Two pins:
1. the session factory ships the flag ON;
2. the flag is EFFECTIVE — after executing a persist-based query, the
   cached relation's own final plan contains an AQEShuffleRead
   (coalesced) node, i.e. consumer stages read size-adapted cached
   partitions rather than the raw |shuffle.partitions| layout.
"""

from __future__ import annotations

from datafusion_comet_spark.plans import executed_plan
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import DEFAULT_CONF
from datafusion_comet_spark.testing import conf_override

REGISTRY = load_all()


def test_session_enables_cached_plan_repartitioning():
    assert (
        DEFAULT_CONF["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"]
        == "true"
    )


def test_cached_subtree_gets_aqe_shuffle_read(spark, sf_dir):
    # 32 shuffle partitions (the session default follows the core count):
    # a single-partition shuffle has nothing to coalesce
    with conf_override(spark, {"spark.sql.shuffle.partitions": "32"}):
        df = REGISTRY["tpcds_return_ratio_rank"].fn(spark, sf_dir)
        df.collect()
    relations = [
        n for n in executed_plan(df).walk(distinct=True)
        if n.name == "InMemoryRelation"
    ]
    assert relations, "query lost its persist()"
    # The cached relation holds its own AdaptiveSparkPlan, final after the
    # collect.  Flag ON: the cached plan's final aggregate reads through
    # an AQEShuffleRead that is the parent of its ShuffleQueryStage
    # (size-adapted partitions).  Flag OFF (the default): the aggregate
    # sits directly on the ShuffleQueryStage — the raw
    # |shuffle.partitions| layout — which is exactly the structural diff
    # between plans/r12/tpcds_return_ratio_rank_{before,after}.txt.
    cached = relations[0].subplans[0]
    ops = [n.name for n in cached.walk()]
    parents = {id(c): n.name for n in cached.walk() for c in n.children}
    stages = [n for n in cached.walk() if n.name == "ShuffleQueryStage"]
    assert stages, ops
    assert all(parents[id(s)] == "AQEShuffleRead" for s in stages), ops
