"""Alternating A/B timer for gate queries under a code toggle.

Round-10's methodology lesson (OPTIMIZATION_r10.md §7): sequential
A/Bs on this sandbox are drift-biased — whichever side runs first looks
faster.  This harness interleaves the sides (A,B,[C,]A,B,[C,]...) inside
ONE JVM and reports per-side min/median over >= `reps` samples.

Usage:
    python3 tools/ab_alternate.py <query> <toggle> <val_a> <val_b> [val_c ...] [--reps N]

<toggle> is "module.attr" set before each sample, e.g.
    python3 tools/ab_alternate.py split_leakage_audit \
        inferdb_spark.scale.SPREAD_BYTES_PER_TASK 16384 32768
or "conf:<spark.conf.key>" to toggle a runtime-settable Spark conf, e.g.
    python3 tools/ab_alternate.py bm25_ranked_retrieval \
        conf:spark.sql.adaptive.coalescePartitions.parallelismFirst true false
Values parse as int when possible, else float, else string
("True"/"False" parse as bools; conf values are passed as strings).
"""

from __future__ import annotations

import argparse
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _parse(v: str):
    if v == "True":
        return True
    if v == "False":
        return False
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Alternating A/B timer for one gate query.")
    ap.add_argument("query")
    ap.add_argument("toggle", help='"module.attr" or "conf:<spark.conf.key>"')
    ap.add_argument("values", nargs="+", metavar="value", help="one per side, at least two")
    ap.add_argument("--reps", type=int, default=6, help="timed samples per side")
    args = ap.parse_args(argv)
    if len(args.values) < 2:
        ap.error("give at least two values to compare")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    return args


def main() -> None:
    args = parse_args()
    query, toggle, reps = args.query, args.toggle, args.reps

    from inferdb_spark.gate import queries as gate_queries
    from inferdb_spark.session import get_spark

    spark = get_spark("ab-alternate")
    fn = gate_queries()[query]

    if toggle.startswith("conf:"):
        key = toggle[5:]
        values = list(args.values)  # conf values stay strings
        orig = spark.conf.get(key, None)

        def setattr_toggle(v):
            spark.conf.set(key, v)

        def restore():
            if orig is not None:
                spark.conf.set(key, orig)
    else:
        values = [_parse(v) for v in args.values]
        mod_name, attr = toggle.rsplit(".", 1)
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)

        def setattr_toggle(v):
            setattr(mod, attr, v)

        def restore():
            setattr(mod, attr, orig)

    def run_once() -> float:
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        # drive the ContextCleaner between samples so neither side
        # inherits the other's shuffle-state backlog (bench.timed parity)
        spark._jvm.System.gc()
        return dt

    # untimed warm-up on each side (JIT/codegen)
    for v in values:
        setattr_toggle(v)
        run_once()

    samples: dict[object, list[float]] = {v: [] for v in values}
    for r in range(reps):
        for v in values:
            setattr_toggle(v)
            la = os.getloadavg()[0]
            dt = run_once()
            samples[v].append(dt)
            print(f"rep {r} {toggle}={v}: {dt:.3f}s (load {la:.1f})", flush=True)
    restore()

    print(f"\n== {query} / {toggle} (reps={reps}) ==")
    for v in values:
        s = samples[v]
        print(
            f"  {v}: min {min(s):.3f}  median {statistics.median(s):.3f}  "
            f"max {max(s):.3f}"
        )


if __name__ == "__main__":
    main()
