"""Per-query profiler: splits a gate query's cost into DataFrame
construction (driver-side gate fn, incl. any collects inside),
plan generation (explain), and execution (noop sink), per guide §1.

Usage: python3 tools/profile_query.py <query> [query ...] [--sf DIR]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    from inferdb_spark.gate import queries as gate_queries
    from inferdb_spark.session import get_spark

    spark = get_spark("profile")
    gq = gate_queries()
    for name in names:
        fn = gq[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # untimed warm-up (JIT/codegen), mirroring bench.timed
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        for i in range(3):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            _ = df._jdf.queryExecution().executedPlan()  # force planning
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            print(
                f"{name} run{i}: construct={t1-t0:6.2f}s plan={t2-t1:6.2f}s "
                f"exec={t3-t2:6.2f}s total={t3-t0:6.2f}s"
            )
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
