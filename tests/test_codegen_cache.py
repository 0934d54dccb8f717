"""Spark's generated-class cache holds the engine's working set: a query
that has run before compiles no class when it runs again (session.py,
``spark.sql.codegen.cache.maxEntries``)."""

from __future__ import annotations

import time

from datafusion_comet_spark.plans import codegen_compiles
from datafusion_comet_spark.queries import load_all
from datafusion_comet_spark.session import DEFAULT_CONF

KEY = "spark.sql.codegen.cache.maxEntries"
# perfbench's star_interactive workload
STAR_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "tpcds_cross_channel_rollup",
    "tpcds_return_ratio_rank",
]


ID_KEY = "spark.sql.codegen.useIdInClassName"


def test_codegen_cache_sized_for_the_working_set(spark):
    assert DEFAULT_CONF[KEY] == "1000"
    assert spark.conf.get(KEY) == "1000"
    assert DEFAULT_CONF[ID_KEY] == spark.conf.get(ID_KEY) == "false"


def test_codegen_compiles_counts_a_new_class(spark):
    """A literal no earlier plan used makes a class the cache lacks."""
    before = codegen_compiles(spark)
    spark.range(4).selectExpr(f"id * {time.time_ns()} AS x").collect()
    after = codegen_compiles(spark)
    assert after[0] > before[0] and after[1] > before[1], (before, after)


def test_third_cycle_compiles_no_class(spark, sf_dir):
    """Each cycle runs the four star queries as full executions, as the
    benchmark does: ``collect()`` then ``clearCache()``.  The first cycle
    fills the cache; by the third, every class is a cache hit.  At
    Spark's default of 100 entries the ~110 classes of a cycle evict
    each other, and every cycle recompiles about 80 of them.  With the
    stage id in class names, a cycle now and then recompiles the few
    classes whose stage AQE numbered differently."""
    registry = load_all()
    compiled = []
    for _ in range(3):
        before, _ms = codegen_compiles(spark)
        for name in STAR_QUERIES:
            registry[name].fn(spark, sf_dir).collect()
            spark.catalog.clearCache()
        compiled.append(codegen_compiles(spark)[0] - before)
    assert compiled[2] == 0, f"classes compiled per cycle: {compiled}"
