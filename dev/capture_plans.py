#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python dev/capture_plans.py <tag_suffix> <query> [<query> ...]
Writes plans/$SPARK_GRAFT_ROUND/<query>_<tag_suffix>.txt (round default
r12) for each query.

The query is EXECUTED (collect) before explaining so the captured text
is the final adaptive plan (isFinalPlan=true) including AQEShuffleRead
coalescing and runtime join demotions — the shapes the round's claims
are about.  (r11 captures were the pre-execution initial plans.)

The judge reads these files to check plan claims against the code; the
round contract requires a before/after pair for every query touched.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_ROUND", "r12")
    )
    os.makedirs(out_dir, exist_ok=True)

    from datafusion_comet_spark.plans import plan_string
    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.session import get_session

    registry = load_all()
    spark = get_session(app_name="dcs-capture-plans")
    # before/after captures of a config change: semicolon-separated
    # k=v runtime overrides, e.g. SPARK_GRAFT_SET="spark.sql.x=false"
    for kv in filter(None, os.environ.get("SPARK_GRAFT_SET", "").split(";")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        df.collect()  # finalize the adaptive plan before explaining
        txt = plan_string(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
