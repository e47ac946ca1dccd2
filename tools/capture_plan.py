#!/usr/bin/env python
"""Capture `.explain("formatted")` for named queries into plans/<round>/.

Usage:
    python tools/capture_plan.py before q80_triangles q194_clustering_coeff
    python tools/capture_plan.py after  q80_triangles

Writes plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt (round defaults
to r12).  Uses $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01 —
plan SHAPE is scale-independent; the bench's lake layout only changes
file counts, not operators).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from occupation_wage_etl_spark.session import get_spark  # noqa: E402
from tools.harness import explain, run_query  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(
            "usage: capture_plan.py <tag> <query> [<query> ...]\n"
            "  e.g. capture_plan.py before q80_triangles",
            file=sys.stderr,
        )
        return 2
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        plan, _, _ = run_query(spark, name, sf_dir, explain)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') @ {sf_dir} [{tag}]\n")
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
