"""Benchmark workloads: which bench queries run, on what generated data.

Query lists are drawn from the repository's bench set -- ``bench.BENCH_QUERIES``
plus every registered query tagged ``bench`` -- and, for the write path,
from the registry's ``sink``-tagged parquet queries.  Each workload runs a
fixed subset of them, sized so that one run (JVM start, a cold pass and
several steady passes) stays within about a minute on a 4-core machine.
A pick that has left its source set stops the benchmark rather than
dropping out of it.  Why each workload was chosen is in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    dup_skew: float | None
    # (source set, query names): the names must belong to the source set
    picks: tuple[tuple[str, tuple[str, ...]], ...]
    # run once during set-up and never measured; not in the measured list
    warmup: str

    def queries(self, registry) -> list[str]:
        """The picked names; raises if one has left its source set."""
        import bench

        sets = {
            "bench": set(bench.BENCH_QUERIES)
            | {n for n, q in registry.items() if "bench" in q.tags},
            "sink": {n for n, q in registry.items() if "sink" in q.tags},
        }
        gone = [n for src, names in self.picks for n in names if n not in sets[src]]
        if gone:
            raise ValueError(f"workload {self.name}: not in their source set: {gone}")
        return [n for _src, names in self.picks for n in names]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="star_interactive",
            sf=0.01,
            dup_skew=None,
            picks=(
                (
                    "bench",
                    (
                        "q1_pricing_summary",
                        "q3_shipping_priority",
                        "tpcds_cross_channel_rollup",
                        "tpcds_return_ratio_rank",
                    ),
                ),
            ),
            warmup="q6_forecast_revenue",
        ),
        Workload(
            name="corpus_pipeline",
            sf=0.05,
            # the duplicate-cluster skew of the repository's measured
            # dedup workload (dev/dupskew_bench.py, sf1-dup1.5)
            dup_skew=1.5,
            picks=(
                (
                    "bench",
                    (
                        "dedup_exact",
                        "ann_ivf_kmeans",
                        "text_bm25_multiquery",
                    ),
                ),
                ("sink", ("parquet_write_partitioned",)),
            ),
            warmup="text_stats",
        ),
    )
}

# the write-path query a workload runs -> the source tables it reads, for
# write amplification
WRITE_SOURCES = {
    "parquet_write_partitioned": ("orders",),
}
