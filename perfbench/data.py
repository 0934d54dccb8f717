"""Seeded benchmark inputs: star-schema tables plus DuckDB oracle rows.

The tables come from ``dev/gen_scale_data.py``'s own generators, imported
unchanged; only the random streams are re-seeded, from the benchmark's
``--seed`` instead of the generator's fixed 42.  Each (seed, scale,
dup-skew) set is generated once into ``.perfbench/data/`` inside the
checkout and reused by later runs with the same seed; the oracle rows of
every query a workload runs are computed by DuckDB next to it and cached
with the data.

Run as a script (``python3 perfbench/data.py --seed N --sf SF [--dup-skew D]
--queries a,b,c``), which is how ``run.py`` calls it: generation and the
oracle then happen in a child process, so neither the generator's arrays
nor DuckDB's buffers count in the benchmark process's peak memory.  The
script prints the data directory as its last line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
DATA_BASE = os.path.join(STATE, "data")
MANIFEST = "manifest.json"
# oracles written as VALUES literals by dev/gen_values_oracles.py hold the
# rows of the repository's fixed test data sets, not of generated data
PINNED_ORACLE_MARK = "generated by dev/gen_values_oracles.py"
# data sets kept per (scale, dup-skew); older seeds are evicted so a long
# series of seeded runs does not fill the disk
KEEP_PER_SCALE = 3


def data_dir(seed: int, sf: float, dup_skew: float | None) -> str:
    name = f"s{seed}-sf{sf:g}" + (f"-dup{dup_skew:g}" if dup_skew else "")
    return os.path.join(DATA_BASE, name)


def _table_stats(out: str) -> dict[str, dict[str, int]]:
    import pyarrow.parquet as pq

    stats = {}
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        stats[f[: -len(".parquet")]] = {
            "rows": md.num_rows,
            "bytes": os.path.getsize(os.path.join(out, f)),
            "row_groups": md.num_row_groups,
        }
    return stats


def generate(seed: int, sf: float, dup_skew: float | None, out: str) -> None:
    """Write every star-schema table at ``sf`` into ``out``, drawing all
    random streams from ``seed``."""
    import numpy as np

    sys.path.insert(0, os.path.join(ROOT, "dev"))
    import gen_scale_data as gen

    def seeded_rng(sf_: float, table: str) -> np.random.Generator:
        return np.random.default_rng(
            [seed, int(round(sf_ * 1000)), zlib.crc32(table.encode())]
        )

    gen._rng = seeded_rng
    gen.DUP_SKEW = dup_skew
    gen.gen_region_nation(out)
    n_cust = gen.gen_customer(out, sf)
    n_supp = gen.gen_supplier(out, sf)
    n_part = gen.gen_part(out, sf)
    gen.gen_orders_lineitem(out, sf, n_cust, n_part, n_supp)
    gen.gen_events(out, sf)
    gen.gen_documents(out, sf)
    gen.gen_embeddings(out, sf)


def _to_tuples(v):
    return tuple(_to_tuples(x) for x in v) if isinstance(v, list) else v


def oracle_rows(sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Canonical DuckDB oracle result per query: ``{"columns", "rows"}``,
    rows in ``testing._rows_to_canonical`` form (JSON-safe), or
    ``{"pinned": True}`` for an oracle that only holds fixed-data rows."""
    sys.path.insert(0, ROOT)
    from datafusion_comet_spark.queries import load_all
    from datafusion_comet_spark.testing import _rows_to_canonical, duckdb_connection

    registry = load_all()
    out = {}
    con = duckdb_connection(sf_dir)
    try:
        for name in names:
            if PINNED_ORACLE_MARK in registry[name].oracle:
                out[name] = {"pinned": True}
                continue
            cur = con.execute(registry[name].oracle)
            cols = [d[0] for d in cur.description]
            rows = _rows_to_canonical(cur.fetchall(), cols, 6)
            out[name] = {"columns": cols, "rows": rows}
    finally:
        con.close()
    return out


def load_oracle(sf_dir: str, name: str) -> dict:
    with open(os.path.join(sf_dir, "oracle", f"{name}.json")) as f:
        o = json.load(f)
    if "rows" in o:
        o["rows"] = [_to_tuples(r) for r in o["rows"]]
    return o


def load_manifest(sf_dir: str) -> dict:
    with open(os.path.join(sf_dir, MANIFEST)) as f:
        return json.load(f)


def _evict(keep: str) -> None:
    """Drop the oldest data sets of ``keep``'s scale beyond KEEP_PER_SCALE."""
    scale = os.path.basename(keep).split("-", 1)[1]
    same = [
        os.path.join(DATA_BASE, d)
        for d in os.listdir(DATA_BASE)
        if d.split("-", 1)[-1] == scale and os.path.join(DATA_BASE, d) != keep
    ]
    same.sort(key=os.path.getmtime, reverse=True)
    for d in same[KEEP_PER_SCALE - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def prepare(seed: int, sf: float, dup_skew: float | None, names: list[str]) -> str:
    """Ensure the data set and the oracle rows for ``names`` exist;
    return the data directory."""
    out = data_dir(seed, sf, dup_skew)
    manifest_path = os.path.join(out, MANIFEST)
    if os.path.exists(manifest_path):
        manifest = load_manifest(out)
    else:
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        generate(seed, sf, dup_skew, tmp)
        manifest = {
            "seed": seed,
            "sf": sf,
            "dup_skew": dup_skew,
            "generate_s": time.perf_counter() - t0,
            "tables": _table_stats(tmp),
        }
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, out)
    oracle_dir = os.path.join(out, "oracle")
    os.makedirs(oracle_dir, exist_ok=True)
    missing = [
        n for n in names if not os.path.exists(os.path.join(oracle_dir, f"{n}.json"))
    ]
    if missing:
        for name, res in oracle_rows(out, missing).items():
            with open(os.path.join(oracle_dir, f"{name}.json"), "w") as f:
                json.dump(res, f)
    os.utime(out)
    _evict(out)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--dup-skew", type=float, default=None)
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = [n for n in args.queries.split(",") if n]
    print(prepare(args.seed, args.sf, args.dup_skew, names))


if __name__ == "__main__":
    main()
