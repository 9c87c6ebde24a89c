"""Capture `.explain("formatted")` output for named gate queries.

Usage: python3 tools/capture_plans.py <suffix> <query> [query ...]
Writes plans/$PLANS_ROUND/<query>_<suffix>.txt for each query
(PLANS_ROUND defaults to r11).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "plans", os.environ.get("PLANS_ROUND", "r11"))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    from inferdb_spark.gate import queries as gate_queries
    from inferdb_spark.session import get_spark

    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture-plans")
    gq = gate_queries()
    for name in names:
        try:
            df = gq[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            plan = f"ERROR capturing plan: {e}"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
