#!/usr/bin/env python
"""Time single queries with the noop sink, exactly like bench.py's timed
pass (lake layout, warm JVM, min over the harness's fixed sample count),
without the other 300 queries.  For optimization work: isolate one
query, iterate fast.

Usage:
    python tools/profile_query.py q80_triangles q194_clustering_coeff

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_LAKE=0 to skip the lake rewrite.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from occupation_wage_etl_spark.session import get_spark  # noqa: E402
from tools.harness import SAMPLES, ingest_lake, run_query  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")

    if os.environ.get("SPARK_GRAFT_LAKE", "1") != "0":
        cpus = spark.sparkContext.defaultParallelism
        sf_dir, ingest = ingest_lake(spark, sf_dir, cpus)
        print(f"lake ingest: {ingest:.3f}s -> {sf_dir}")

    for name in names:
        run_query(spark, name, sf_dir)  # untimed: codegen + worker spin-up
        samples = [run_query(spark, name, sf_dir)[1:] for _ in range(SAMPLES)]
        build_s, exec_s = min(samples, key=sum)
        print(
            f"{name}: min={build_s + exec_s:.3f}s "
            f"(build {build_s:.3f}s, exec {exec_s:.3f}s) "
            f"samples={[round(sum(s), 3) for s in samples]}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
