#!/usr/bin/env python3
"""Write ``perfbench/expected.json``: the DuckDB oracle's canonical value
hash of every query the read workloads run, on the benchmark's own input
tables.

    python3 perfbench/make_expected.py

The seeded lake layout only reorders rows and re-splits files, so one
hash per query and scale factor serves every seed.  Run this once, when
the input tables or a workload's query list change; the benchmark reads
the file and never needs DuckDB itself.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

SCALES = ("0.01", "0.001")


def main() -> int:
    import duckdb

    from occupation_wage_etl_spark.queries import ORACLE_SQL
    from tools.oracle_check import TABLES, _value_hash

    with open(os.path.join(BENCH, "workloads.json"), encoding="utf-8") as f:
        config = json.load(f)
    names = sorted({q for w in config.values() for q in w.get("queries", [])})
    out: dict[str, dict] = {}
    for sf in SCALES:
        data = os.path.join(BENCH, "data", f"sf{sf}")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}.parquet')")
        got = out[f"sf{sf}"] = {}
        for name in names:
            t0 = time.perf_counter()
            cur = con.execute(ORACLE_SQL[name])
            cols = [d[0] for d in cur.description]
            rows = [tuple(r) for r in cur.fetchall()]
            got[name] = {"rows": len(rows), "hash": _value_hash(rows, cols)}
            print(f"sf{sf} {name} {len(rows)} rows "
                  f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        con.close()
    with open(os.path.join(BENCH, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
