#!/usr/bin/env python
"""Driver-replica correctness gate, runnable at any scale factor.

Runs every `queries()` entry AND its `oracle_sql()` DuckDB twin on the
same parquet directory, then compares:

- row counts,
- column-name sets,
- a value hash over (column-name-sorted, row-sorted) canonical output —
  floats are hashed via repr() so any cross-engine bit divergence shows
  up as a hash mismatch, exactly like the driver's gate.

Usage:  python tools/oracle_check.py [sf_dir] [query ...]
Prints one line per query and a JSON summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# TABLES and _value_hash are imported from here by perfbench/
from tools.harness import (  # noqa: E402, F401
    TABLES,
    collect,
    register_views,
    run_query,
    value_hash as _value_hash,
)


def main() -> int:
    import duckdb

    from occupation_wage_etl_spark.queries import ORACLE_SQL, SPARK_QUERIES
    from occupation_wage_etl_spark.session import get_spark

    argv = list(sys.argv[1:])
    json_out = None
    if "--json-out" in argv:
        i = argv.index("--json-out")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark()
    con = duckdb.connect()
    register_views(con, sf_dir)

    results, bad = {}, []
    names = sorted(n for n in SPARK_QUERIES if not only or n in only)
    for name in names:
        t0 = time.time()
        entry = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": None}
        try:
            (srows, scols), _, _ = run_query(spark, name, sf_dir, collect)
            cur = con.execute(ORACLE_SQL[name])
            ocols = [d[0] for d in cur.description]
            orows = [tuple(r) for r in cur.fetchall()]
            entry["rows_match"] = len(srows) == len(orows)
            entry["schema_match"] = sorted(scols) == sorted(ocols)
            entry["hash_match"] = (
                entry["rows_match"] and entry["schema_match"]
                and _value_hash(srows, scols) == _value_hash(orows, ocols)
            )
            entry["spark_rows"] = len(srows)
            entry["oracle_rows"] = len(orows)
        except Exception as exc:  # noqa: BLE001
            entry["err"] = f"{type(exc).__name__}: {exc}"[:200]
        dt = time.time() - t0
        ok = entry["hash_match"] is True
        if not ok:
            bad.append(name)
        print(f"{'PASS' if ok else 'FAIL':4s} {name:32s} {dt:6.2f}s "
              f"{json.dumps({k: v for k, v in entry.items() if k != 'err' or v})}")
        results[name] = entry

    print(json.dumps({"total": len(names), "bad": bad}))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": len(names),
                    "bad": bad,
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
