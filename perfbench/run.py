#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine's bench queries.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload star_interactive --seed 7 \\
        --seconds 15 --trace 0

One run generates (or reuses) the seeded tables and their DuckDB oracle
rows, starts one engine session (``local[nproc]``, this single client
process, a closed loop running one query at a time), and then:

1. set-up in a fresh JVM: ``session.get_session`` (which launches it),
   ``catalog.load_tables`` and a warm-up query; ``setup_s`` is its wall
   time;
2. the first pass: every workload query once, cold;
3. steady passes over the same queries until ``--seconds`` have elapsed
   (at least ``GATED_PASSES``).

Every execution is a full one: ``Query.fn`` plus ``collect()``, then
``spark.catalog.clearCache()``.  The IVF centroid memo is left alone,
because reusing a trained index is its purpose.  Outside the timed
region each result is compared with its DuckDB oracle (the first time a
query succeeds) or with that first result (every later pass).

``--trace 0`` prints the end-to-end metrics: ``setup_s`` and
``pass_cpu_s`` (for each query the least CPU time over its first
``GATED_PASSES`` steady executions, summed over the workload's queries;
CPU time of the engine JVM without its JIT compiler threads, plus this
process).  The least of several executions is taken because time lost
to other tenants of a shared machine (``run.cpu_steal_pct``) only ever
adds to an execution.  Wall-clock pass times follow the machine's load
much more than CPU time does, so they are reported with no bound, as
per-layer ``run.*`` metrics and on the info line; a change that costs
wall time but not CPU time (waiting, lost parallelism) is not gated.

``--trace 1`` wraps spans around each layer call, reads Spark's
executed-plan SQLMetrics, planning tracker and status tracker after each
execution, and prints the per-layer metrics: per query the median over
the steady passes, summed over the queries, unless the code says
otherwise.  The last line of stdout is the result object; the line before
it carries the environment, the table sizes, the failures by name and the
end-to-end figures that have no bound.  Details and spans go to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(STATE, "tmp")
RESULTS = os.path.join(STATE, "results")
# The end-to-end pass metrics take each query's best of its first
# GATED_PASSES steady executions, which every run makes.  The JVM keeps
# warming up for minutes, so a best-of over however many passes fit would
# read lower the faster a run went.
GATED_PASSES = 4
PROGRAM_FILES = ("bench.py", "dev/gen_scale_data.py", "datafusion_comet_spark/__init__.py")

END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}


def _driver_mem() -> str:
    """Driver heap that fits the machine: a fifth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(1, min(4, kib // (5 << 20)))}g"


def _configure_env() -> None:
    """Engine settings for this machine; every temporary file in the checkout."""
    spark_local = os.path.join(TMP, "spark-local")
    os.makedirs(spark_local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = spark_local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    tempfile.tempdir = TMP


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kib / 1024


def _stat_cpu_s(path: str) -> float:
    """User plus system CPU seconds from a /proc stat file (steal excluded)."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class EngineCpu:
    """CPU seconds of the JVM without its JIT compiler threads, plus this
    process.  In a run of about a minute the compiler threads burn more
    CPU than the engine itself, and how much varies from JVM to JVM."""

    def __init__(self, jvm_pid: int) -> None:
        self.pid = jvm_pid
        # compiler threads come and go; an ended one keeps its last reading
        self.jit: dict[str, float] = {}

    def __call__(self) -> float:
        task = f"/proc/{self.pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        self.jit[tid] = _stat_cpu_s(f"{task}/{tid}/stat")
            except FileNotFoundError:  # the thread ended meanwhile
                continue
        total = _stat_cpu_s(f"/proc/{self.pid}/stat")
        return total - sum(self.jit.values()) + time.process_time()


def _cpu_ticks() -> tuple[int, int]:
    """Machine-wide (steal, total) CPU ticks from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _tail(values: list[float]) -> tuple[float, int]:
    """The highest nearest-rank percentile with at least 10 samples above
    it, and that percentile; the maximum (percentile 100) below 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100
    p = max(p for p in range(1, 100) if n - -(-p * n // 100) >= 10)
    return xs[-(-p * n // 100) - 1], p


class CountingMemo(dict):
    """Stand-in for the IVF memo dict that counts lookups."""

    def __init__(self, base: dict) -> None:
        super().__init__(base)
        self.hits = self.misses = 0

    def get(self, key, default=None):
        v = super().get(key, default)
        if v is None:
            self.misses += 1
        else:
            self.hits += 1
        return v


def _written(since: float) -> tuple[int, int]:
    """(files, bytes) of data files modified under the scratch tree since ``since``."""
    files = size = 0
    for root, _dirs, names in os.walk(os.path.join(TMP, "dcs_io")):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


class Run:
    def __init__(self, args, workload, registry, names, sf_dir, manifest):
        from perfbench.trace import Tracer

        self.args = args
        self.trace = bool(args.trace)
        self.wl = workload
        self.registry = registry
        self.names = names
        self.sf_dir = sf_dir
        self.manifest = manifest
        self.tracer = Tracer()
        self.records: list[dict] = []
        self.first_rows: dict[str, list] = {}
        self.oracle_unchecked: set[str] = set()
        self.setup_times: dict[str, float] = {}
        self.memo = None
        self.spark = None
        self.cpu: EngineCpu | None = None

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from datafusion_comet_spark.catalog import load_tables
        from datafusion_comet_spark.session import get_session

        span = self.tracer.span
        with span("setup", exec_id="setup") as s:
            with span("session.get_session") as a:
                self.spark = get_session(app_name="perfbench")
            with span("catalog.load_tables") as b:
                load_tables(self.spark, self.sf_dir)
            with span("session.warmup") as c:
                self.registry[self.wl.warmup].fn(self.spark, self.sf_dir).collect()
        self.spark.catalog.clearCache()
        self.cpu = EngineCpu(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.setup_times = {
            "setup_s": s.end - s.start,
            "session.start_s": a.end - a.start,
            "catalog.load_s": b.end - b.start,
            "session.warmup_s": c.end - c.start,
        }

    # -- one execution ----------------------------------------------------
    def execute(self, name: str, pass_no: int) -> dict:
        from datafusion_comet_spark.testing import _rows_to_canonical

        rec: dict = {"query": name, "pass": pass_no}
        fn = self.registry[name].fn
        sc = self.spark.sparkContext
        exec_id = f"p{pass_no}.{name}"
        cpu0 = self.cpu()
        try:
            if self.trace:
                memo0 = (self.memo.hits, self.memo.misses)
                since = time.time()
                span = self.tracer.span
                sc.setJobGroup(exec_id + "/fn", name)
                with span("execution", exec_id=exec_id) as ex:
                    with span("queries.fn") as s_fn:
                        df = fn(self.spark, self.sf_dir)
                    sc.setJobGroup(exec_id + "/exec", name)
                    with span("spark.plan") as s_plan:
                        qe = df._jdf.queryExecution()
                        plan = qe.executedPlan()
                    with span("spark.exec") as s_exec:
                        rows = df.collect()
                rec["s"] = ex.end - ex.start
                rec["queries.build_s"] = s_fn.end - s_fn.start
                rec["plan.s"] = s_plan.end - s_plan.start
                rec["exec.s"] = s_exec.end - s_exec.start
                rec["remainder_s"] = (
                    rec["s"] - rec["queries.build_s"] - rec["plan.s"] - rec["exec.s"]
                )
            else:
                t0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                rows = df.collect()
                rec["s"] = time.perf_counter() - t0
        except Exception as exc:  # a failing query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc(file=sys.stderr)
            self.spark.catalog.clearCache()
            return rec
        rec["cpu_s"] = self.cpu() - cpu0
        canon = _rows_to_canonical([tuple(r) for r in rows], df.columns, 6)
        rec["error"] = self._check(name, df.columns, canon)
        if self.trace:
            rec.update(self._layers(name, qe, plan, exec_id, since))
            rec["queries.ivf_memo_hits"] = self.memo.hits - memo0[0]
            rec["queries.ivf_memo_misses"] = self.memo.misses - memo0[1]
        self.spark.catalog.clearCache()
        return rec

    def _check(self, name: str, cols: list[str], canon: list) -> str | None:
        from perfbench.data import load_oracle

        if name in self.first_rows:
            return None if canon == self.first_rows[name] else "rows differ from the first result"
        o = load_oracle(self.sf_dir, name)
        if o.get("pinned"):
            # no oracle for generated data: later passes must still agree
            self.oracle_unchecked.add(name)
            self.first_rows[name] = canon
            return None
        if sorted(cols) != sorted(o["columns"]):
            return f"columns {sorted(cols)} != oracle {sorted(o['columns'])}"
        if len(canon) != len(o["rows"]):
            return f"{len(canon)} rows != oracle {len(o['rows'])}"
        diff = sum(a != b for a, b in zip(canon, o["rows"]))
        if diff:
            return f"{diff}/{len(canon)} rows differ from oracle"
        self.first_rows[name] = canon
        return None

    def _layers(self, name, qe, plan, exec_id, since) -> dict:
        from perfbench import harvest
        from perfbench.workloads import WRITE_SOURCES

        out: dict = {}
        metrics, tables = harvest.plan_metrics(self.spark._jvm, plan)
        out.update(metrics)
        out["scan_tables"] = dict(tables)
        out.update(harvest.planning_phases_ms(qe))
        fn_jobs = harvest.job_counts(self.spark, exec_id + "/fn")
        ex_jobs = harvest.job_counts(self.spark, exec_id + "/exec")
        out["queries.build_jobs"] = fn_jobs["jobs"]
        out["exec.jobs"] = ex_jobs["jobs"]
        out["exec.stages"] = ex_jobs["stages"]
        out["exec.tasks"] = ex_jobs["tasks"]
        out["cache.relations_left"] = harvest.cached_entries(self.spark)
        if name in WRITE_SOURCES:
            files, size = _written(since)
            tables_meta = self.manifest["tables"]
            out["sources.files_written"] = files
            out["sources.bytes_written"] = size
            out["sources.source_bytes"] = sum(tables_meta[t]["bytes"] for t in WRITE_SOURCES[name])
        return out

    # -- passes -----------------------------------------------------------
    def run_pass(self, pass_no: int) -> None:
        for name in self.names:
            rec = self.execute(name, pass_no)
            self.records.append(rec)
            status = rec["error"] or "ok"
            secs = f"{rec['s']:.3f}s" if "s" in rec else "-"
            print(f"# pass {pass_no} {name}: {secs} {status}", file=sys.stderr)

    def measure(self) -> None:
        if self.trace:
            from datafusion_comet_spark.queries import similarity

            # the IVF centroid memo is counted, never cleared
            self.memo = CountingMemo(similarity._LLOYD_CACHE)
            similarity._LLOYD_CACHE = self.memo
        self.setup()
        steal0, total0 = _cpu_ticks()
        self.run_pass(0)
        deadline = time.perf_counter() + self.args.seconds
        pass_no = 1
        while pass_no <= GATED_PASSES or time.perf_counter() < deadline:
            self.run_pass(pass_no)
            pass_no += 1
        self.peak_rss_mb = _vmhwm_mb("self") + _vmhwm_mb(self.cpu.pid)
        steal1, total1 = _cpu_ticks()
        self.steal_pct = 100 * (steal1 - steal0) / max(1, total1 - total0)

    # -- results ----------------------------------------------------------
    def steady(self) -> list[dict]:
        """Steady-pass executions that completed (rows checked or not)."""
        return [r for r in self.records if r["pass"] > 0 and "s" in r]

    def pass_sum(self, key: str, rows: list[dict] | None = None,
                 stat=statistics.median) -> float:
        """A typical pass: each query's ``stat`` of ``key`` over the steady
        passes, summed over the queries."""
        by_query: dict[str, list[float]] = {}
        for r in self.steady() if rows is None else rows:
            by_query.setdefault(r["query"], []).append(r.get(key, 0))
        return sum(stat(v) for v in by_query.values())

    def end_to_end(self) -> dict[str, float]:
        lat = [r["s"] for r in self.steady()]
        gated = [r for r in self.steady() if r["pass"] <= GATED_PASSES]
        tail, pct = _tail(lat)
        first = [r for r in self.records if r["pass"] == 0 and "s" in r]
        self.tail_info = {"percentile": pct, "samples": len(lat),
                          "steady_passes": max(r["pass"] for r in self.records)}
        return {
            "setup_s": self.setup_times["setup_s"],
            # each query's best steady execution: time stolen by other
            # tenants of a shared machine only ever adds to it
            "pass_cpu_s": self.pass_sum("cpu_s", gated, stat=min),
            "pass_s": self.pass_sum("s", gated, stat=min),
            "pass_median_s": self.pass_sum("s"),
            "query_p50_s": statistics.median(lat),
            "first_pass_s": sum(r["s"] for r in first),
            "query_tail_s": tail,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        from perfbench.harvest import PLAN_METRICS

        per_pass = self.pass_sum
        out: dict[str, tuple[float, str]] = {}
        e2e = self.end_to_end()
        # too unsteady between runs for a bound; reported here, with no gate
        out["run.pass_s"] = (e2e["pass_s"], "s")
        out["run.pass_median_s"] = (e2e["pass_median_s"], "s")
        out["run.query_p50_s"] = (e2e["query_p50_s"], "s")
        out["run.first_pass_s"] = (e2e["first_pass_s"], "s")
        out["run.cpu_steal_pct"] = (self.steal_pct, "%")
        out["run.peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
        out["run.query_tail_s"] = (e2e["query_tail_s"], "s")
        for key in ("session.start_s", "catalog.load_s", "session.warmup_s"):
            out[key] = (self.setup_times[key], "s")
        for key in ("queries.build_s", "plan.s", "exec.s"):
            out[key] = (per_pass(key), "s")
        for key in ("queries.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
                    "cache.relations_left"):
            out[key] = (per_pass(key), "count")
        for key in ("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms"):
            out[key] = (per_pass(key), "ms")
        for key in PLAN_METRICS:
            unit = "bytes" if key.endswith("bytes") else "ms" if key.endswith("_ms") else "count"
            out[key] = (per_pass(key), unit)
        # the IVF memo counts over the whole run: cold builds are misses
        for key in ("queries.ivf_memo_hits", "queries.ivf_memo_misses"):
            out[key] = (float(sum(r.get(key, 0) for r in self.records)), "count")
        writes = [r for r in self.steady() if "sources.bytes_written" in r]
        write_s = per_pass("queries.build_s", writes)
        written = per_pass("sources.bytes_written", writes)
        source = per_pass("sources.source_bytes", writes)
        out["sources.write_s"] = (write_s, "s")
        out["sources.readback_s"] = (per_pass("plan.s", writes) + per_pass("exec.s", writes), "s")
        out["sources.files_written"] = (per_pass("sources.files_written", writes), "count")
        out["sources.bytes_written"] = (written, "bytes")
        out["sources.write_mb_s"] = (written / 1e6 / write_s if write_s else 0.0, "MB/s")
        out["sources.write_amp"] = (written / source if source else 0.0, "ratio")
        traced = per_pass("s")
        build_plan = per_pass("queries.build_s") + per_pass("plan.s")
        out["trace.build_plan_share"] = (build_plan / traced if traced else 0.0, "ratio")
        return out

    def print_split(self) -> None:
        """Per query: median queries / spark.plan / spark.exec / remainder."""
        cores = os.environ["SPARK_GRAFT_CPUS"]
        print(f"# split (steady medians, s); operator ms are summed over tasks "
              f"on {cores} cores", file=sys.stderr)
        for name in self.names:
            rs = [r for r in self.steady() if r["query"] == name]
            if not rs:
                continue
            med = {k: statistics.median(r[k] for r in rs)
                   for k in ("s", "queries.build_s", "plan.s", "exec.s", "remainder_s",
                             "scan.time_ms", "agg.time_ms", "exchange.write_ms")}
            print(f"#  {name:32s} total {med['s']:.3f} queries {med['queries.build_s']:.3f} "
                  f"plan {med['plan.s']:.3f} exec {med['exec.s']:.3f} "
                  f"unexplained {med['remainder_s']:.4f} | scan {med['scan.time_ms']:.0f}ms "
                  f"agg {med['agg.time_ms']:.0f}ms shuffle-write "
                  f"{med['exchange.write_ms']:.0f}ms (task-summed, {cores} cores)",
                  file=sys.stderr)

    def environment(self) -> dict:
        return {
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": self.spark.version,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="seeded engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found in {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    _configure_env()
    os.makedirs(RESULTS, exist_ok=True)

    from datafusion_comet_spark.queries import load_all
    from perfbench.data import load_manifest

    registry = load_all()
    names = wl.queries(registry)
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(HERE, "data.py"), "--seed", str(args.seed),
           "--sf", str(wl.sf), "--queries", ",".join(names)]
    if wl.dup_skew:
        cmd += ["--dup-skew", str(wl.dup_skew)]
    sf_dir = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True,
                            timeout=600).stdout.strip().splitlines()[-1]
    datagen_s = time.perf_counter() - t0
    manifest = load_manifest(sf_dir)

    run = Run(args, wl, registry, names, sf_dir, manifest)
    try:
        run.measure()
        env = run.environment()
    finally:
        run.stop()
        shutil.rmtree(os.path.join(TMP, "dcs_io"), ignore_errors=True)

    stem = os.path.join(RESULTS, f"{wl.name}-s{args.seed}-t{args.trace}")
    run.tracer.dump(stem + ".spans.json")
    e2e = run.end_to_end()
    if run.trace:
        run.print_split()
        layer = run.per_layer()
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    failures = [f"{r['query']} (pass {r['pass']}): {r['error']}"
                for r in run.records if r["error"]]
    info = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "queries": names, "env": env,
        "data": {"dir": os.path.relpath(sf_dir, ROOT), "datagen_s": datagen_s,
                 "generate_s": manifest["generate_s"], "tables": manifest["tables"]},
        "setup": run.setup_times, "tail": run.tail_info, "end_to_end": e2e,
        "cpu_steal_pct": run.steal_pct,
        "oracle_unchecked": sorted(run.oracle_unchecked),
        "failed_queries": sorted({r["query"] for r in run.records if r["error"]}),
        "failed_frac": len([r for r in run.records if r["error"]]) / len(run.records),
    }
    if run.trace:
        untraced = f"{os.path.join(RESULTS, f'{wl.name}-s{args.seed}-t0')}.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["info"]["end_to_end"]["pass_s"]
            info["tracing_overhead_s"] = e2e["pass_s"] - base
            print(f"# tracing overhead: {info['tracing_overhead_s']:+.3f}s of pass_s "
                  f"(traced {e2e['pass_s']:.3f}s vs untraced {base:.3f}s)", file=sys.stderr)
    for line in failures:
        print(f"# FAILED {line}", file=sys.stderr)
    with open(stem + ".json", "w") as f:
        json.dump({"info": info, "records": run.records}, f, indent=1, default=str)
    result = {
        "correct": not failures,
        "attempted": len(run.records),
        "failed": len(failures),
        "metrics": metrics,
    }
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
