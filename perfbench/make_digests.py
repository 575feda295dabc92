#!/usr/bin/env python3
"""Precompute the oracle digests the benchmark verifies query results with.

Runs each workload query's DuckDB oracle (``__spark_entry__.oracle_sql()``)
over the benchmark fixture and stores ``(rows, columns, value hash)`` as
``scripts/check_oracle.canon_frame`` computes them, in ``digests.json``.
Queries without an oracle are stored as rows-only (the benchmark then
requires rows > 0).  DuckDB runs with capped memory and threads and spills
under ``.perfbench/`` in the checkout, never in the repository tree.

Run from the repository root after changing a workload list or the
fixture::

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import duckdb

    from polybot_data_etl_spark.catalog import TABLES
    from scripts.check_oracle import canon_frame

    import __spark_entry__
    import workloads

    oracles = __spark_entry__.oracle_sql()
    tmp = os.path.join(ROOT, ".perfbench", "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')"
        )
    names = sorted({n for ws in workloads.QUERY_WORKLOADS.values() for n in ws})
    out = {}
    for name in names:
        t0 = time.time()
        if name not in oracles:
            out[name] = {"rows_only": True}
            continue
        n, cols, h, _ = canon_frame(con.execute(oracles[name]).fetchdf())
        out[name] = {"rows": n, "cols": cols, "hash": h}
        print(f"{name}: {n} rows ({time.time() - t0:.1f}s)")
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(
            {"fixture": "fixture/sf0.01", "queries": out}, fh, indent=1, sort_keys=True
        )
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
