"""The batch_suite query list and its stored output references.

The list is a copy, not an import of ``bench.py``, so an edit there
cannot change this workload. Each entry names the table whose rows the
query consumes, for ``events_per_s``.

References are digests of each query's DuckDB ``oracle_sql()`` result
on the run's generated tables. They are computed before the engine
starts, so the oracle never competes with a measured run, and stored
in the checkout's cache by (seed, scale), so a repeated seed reuses
them. Regenerate them after a change to the tables or to an oracle:

    python3 perfbench/suite.py --seed 1 --seed 2 ...
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

SF = 0.01
SMOKE = os.environ.get("PERFBENCH_SMOKE") == "1"

QUERIES = [
    # operators/ through the queries registry: hourly windowed sum
    ("agg_sum_hourly", "events"),
    # pipeline/: a pandas-UDF signature join and the perceptual near-dup
    # path with the most jobs per query
    ("simhash_pairs", "documents"),
    ("image_near_dups", "documents"),
][: 2 if SMOKE else None]

# queries whose job count is reported on its own in traced runs
JOB_COUNTED = ["simhash_pairs", "image_near_dups"]

# Passes over the list: WARM_PASSES in set-up, then at least PASSES
# measured. The first pass costs twice a later one (JIT, generated code,
# Python workers and the Arrow path start) and the second is still about
# 15% slower than the ones after it; that one-off cost is set-up.
WARM_PASSES = 1 if SMOKE else 2
PASSES = 1 if SMOKE else 3
# A pass is mostly short Spark jobs, each a chain of thread wake-ups, so
# its time rises steeply with the CPU the hypervisor steals: 5-7% per
# percent of steal (4.2 s at 0.5%, 6.3 s at 11%, 10.5 s at 23% on a
# 4-core host). Steal comes in bursts of
# seconds, so while fewer than PASSES passes ran with at most
# PASS_STEAL_PCT_MAX steal, and the measured phase is shorter than
# ``--seconds``, another pass runs; the PASSES passes with the least
# steal are reported, each query's time as its median over them.
PASS_STEAL_PCT_MAX = 3.0

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def input_rows(tables_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        t: pq.ParquetFile(os.path.join(tables_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLES
    }


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _cell(v.tolist())
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(pdf) -> dict:
    """Order-insensitive digest: rows sorted, columns sorted by
    lower-cased name, every cell in its exact ``repr``."""
    pdf = pdf.rename(columns=str.lower)
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def matches(pdf, want: dict) -> bool:
    return digest(pdf) == want


def references(root: str, tables: str, seed: int, force: bool = False) -> str:
    """Path of the oracle digests for ``tables``, computing them if absent."""
    path = os.path.join(inputs.cache_dir(root, "digests"), f"s{seed}-sf{SF}.json")
    if os.path.exists(path) and not force:
        with open(path) as f:
            stored = json.load(f)
        # digests made for an older query list are made again
        if all(q in stored for q, _ in QUERIES):
            return path
    import duckdb

    sys.path.insert(0, root)
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    out = {q: digest(con.execute(oracles[q]).df()) for q, _ in QUERIES}
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return path


def main() -> int:
    ap = argparse.ArgumentParser(description="Regenerate the batch_suite references.")
    ap.add_argument("--seed", type=int, action="append", required=True)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    for seed in args.seed:
        tables = inputs.batch_tables(root, seed, SF)
        print(references(root, tables, seed, force=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
