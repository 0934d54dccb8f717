#!/usr/bin/env python
"""Codegen-cache probe: generated classes compiled per cycle of the bench set.

Spark keeps compiled codegen classes in a JVM-wide cache of
``spark.sql.codegen.cache.maxEntries`` entries.  When the engine's
working set outgrows it, every execution compiles its classes again.
This probe runs the bench queries CYCLES times in one fresh session
(``collect()`` then ``clearCache()`` per query) and prints, per cycle,
the classes compiled and their compile time (``plans.codegen_compiles``),
the cycle's wall time and the JVM's Metaspace.

Run: python dev/codegen_cache_probe.py SF_DIR [MAX_ENTRIES] [CYCLES]
(default: ``session.DEFAULT_CONF``'s value and 3 cycles).  The cache
size is a static conf, fixed when the session starts, so one arm per
process.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from conf_ab import bench_names  # noqa: E402

from datafusion_comet_spark.plans import codegen_compiles  # noqa: E402
from datafusion_comet_spark.queries import load_all  # noqa: E402
from datafusion_comet_spark.session import DEFAULT_CONF, get_session  # noqa: E402

KEY = "spark.sql.codegen.cache.maxEntries"


def metaspace_mb(spark) -> float:
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mgmt.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        if pools.get(i).getName() == "Metaspace":
            return pools.get(i).getUsage().getUsed() / 2**20
    return float("nan")


def main() -> None:
    sf_dir = sys.argv[1]
    entries = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_CONF[KEY]
    cycles = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_session(app_name="dcs-codegen-probe", extra_conf={KEY: entries})
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    names = bench_names(registry)
    print(f"{KEY}={entries}, {len(names)} queries, {sf_dir}")
    for cycle in range(1, cycles + 1):
        n0, ms0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        for name in names:
            registry[name].fn(spark, sf_dir).collect()
            spark.catalog.clearCache()
        wall = time.perf_counter() - t0
        n1, ms1 = codegen_compiles(spark)
        print(f"cycle {cycle}: {n1 - n0} classes compiled "
              f"({(ms1 - ms0) / 1e3:.1f} s compiling), {wall:.1f} s wall, "
              f"Metaspace {metaspace_mb(spark):.0f} MB")
    spark.stop()


if __name__ == "__main__":
    main()
