"""Benchmark of inferdb_spark: learned-index lookups and iterative data prep.

Run from the repository root:

    python3 perfbench/run.py --workload index_lookup --seed 1 --seconds 6 --trace 0

Workloads (README.md says why each was chosen):
  index_lookup  fit the index in set-up, then selective scoring queries whose
                predictions are collected to the driver
  prep_loops    one pass over four driver-loop gate queries

The input is the sf0.1 test data under perfbench/data.  One closed-loop
client in one process on local[<cpus>].  `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics of a traced run.  A table of
every metric with its unit goes to stderr; the last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
WARMUP_DATA = os.path.join(HERE, "data", "sf0.01")  # the same tables at a tenth of the rows
STATE = os.path.join(ROOT, ".perfbench")  # Spark scratch, traces
EXPECTED = os.path.join(HERE, "expected.json")

FEATURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
GATES = ["connected_components", "logreg_train_replay", "bpe_fit_merges", "gbt_train_predict"]
# the gates whose first call in a fresh JVM is slow: CC about 2.5x, BPE about 3x
# its later calls; the other two run about as fast the first time
WARMUP_GATES = ["connected_components", "bpe_fit_merges"]
LOOKUP_KEYS = 2000
DRIVER_MEM = "4g"


def pin_environment(work: str) -> dict[str, str]:
    """Environment for a session that fits this machine and writes only
    under `work`; returns the extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def stop_spark() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Workload:
    """Set-up, an op, and its check.  `op()` is the timed part; `check()`
    runs outside the timed region and says whether the output is right."""

    warmup_ops = 1

    def __init__(self, data: str, conf: dict, seed: int, tracer, expected: dict) -> None:
        self.data = data
        self.conf = conf
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.expected = expected
        self.observed: dict = {}
        self.setup_ok = True

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def start_session(self) -> None:
        from inferdb_spark import session

        self.spark = session.get_spark("perfbench", extra_conf=self.conf)

    def prepare_checks(self) -> None:
        """Untimed work the output checks need once."""

    def warmup(self) -> None:
        """Untimed, unchecked ops that let JIT and caches settle."""
        for _ in range(self.warmup_ops):
            self.op()

    def trace_metrics(self) -> dict[str, float]:
        return {}

    def report(self, lat: list[float]) -> dict[str, tuple[float, str]]:
        """The workload's figures under the names README.md uses, for the
        stderr table only."""
        return {}


class IndexLookup(Workload):
    """Set-up: session, `lineitem` loaded and cached, and the index fit
    (target l_returnflag='R', trained on the rows with l_orderkey % 5 != 0).
    One op scores the rows of a seeded random 2,000-key l_orderkey range
    and collects the predictions."""

    warmup_ops = 6

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from inferdb_spark import api, catalog

        self.start_session()
        li = catalog.load_table(self.spark, self.data, "lineitem")
        with self.span("setup.cache"):
            self.li = li.cache()
            self.li.count()
        train = self.li.filter(F.col("l_orderkey") % 5 != 0).withColumn(
            "y", (F.col("l_returnflag") == "R").cast("int")
        )
        self.index = api.fit_index_pipeline(train, FEATURES, "y", task="classification").index

    def prepare_checks(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from checks import Trie

        self.kv = {r["key"]: r["value"] for r in self.index.kv.collect()}
        prefixes = {L: [tuple(r) for r in df.collect()] for L, df in self.index.prefix_aggs.items()}
        self.observed["index_fit"] = _index_fingerprint(self.index, self.kv, prefixes)
        self.setup_ok = self.observed["index_fit"] == self.expected.get("index_fit")
        if any(s.kind != "numeric" for s in self.index.specs):
            raise RuntimeError("the lookup check expects numeric bins only")
        self.trie = Trie(self.kv, self.index.task)
        # every stored prefix aggregate must be the trie's aggregate there
        for rows in prefixes.values():
            for prefix, value in rows:
                self.setup_ok &= self.trie.aggregate(self.trie.node(prefix.split("."))) == value
        self.setup_ok &= self.trie.aggregate(self.trie.root) == self.index.global_value
        path = os.path.join(self.data, "lineitem.parquet")
        self.orderkeys = np.sort(pq.read_table(path, columns=["l_orderkey"])["l_orderkey"].to_numpy())
        self.hits = self.checked_rows = 0

    def op(self):
        from pyspark.sql import functions as F

        from inferdb_spark.operators import scoring

        lo = self.rng.randrange(0, int(self.orderkeys[-1]) - LOOKUP_KEYS + 2)
        hi = lo + LOOKUP_KEYS - 1
        query = self.li.filter(F.col("l_orderkey").between(lo, hi))
        cols = [s.column for s in self.index.specs]
        scored = scoring.index_score(query, self.index).select(*cols, "prediction")
        if self.tracer:  # plan under its own span; collect() reuses the plan
            with self.span("scoring.plan"):
                scored._jdf.queryExecution().executedPlan()
        with self.span("scoring.exec"):
            return lo, hi, scored.collect()

    def check(self, out) -> bool:
        import numpy as np

        from checks import bin_id, trie_mismatches

        lo, hi, rows = out
        want = np.searchsorted(self.orderkeys, hi, "right") - np.searchsorted(self.orderkeys, lo)
        specs = self.index.specs
        keys = [
            ".".join(str(bin_id(r[i], s.splits, s.null_bin)) for i, s in enumerate(specs))
            for r in rows
        ]
        bad, hits = trie_mismatches(self.trie, keys, [r["prediction"] for r in rows])
        self.hits += hits
        self.checked_rows += len(rows)
        return bad == 0 and len(rows) == want

    def trace_metrics(self) -> dict[str, float]:
        return {
            "index.kv_rows": len(self.kv),
            "index.mb": _cached_mb(self.spark, [self.index.kv, *self.index.prefix_aggs.values()]),
            "scoring.exact_hit_frac": self.hits / max(self.checked_rows, 1),
        }

    def report(self, lat: list[float]) -> dict[str, tuple[float, str]]:
        from checks import percentile

        return {
            "lookup_p50_ms": (percentile(lat, 50) * 1e3, "ms"),
            "lookup_p90_ms": (percentile(lat, 90) * 1e3, f"ms (n={len(lat)})"),
            "index_mb": (self.trace_metrics()["index.mb"], "MB"),
        }


class PrepLoops(Workload):
    """Set-up: session and gate registration.  One op is one pass over
    GATES, each written to the noop sink; the gates read the tables.
    A first pass on sf0.1 in a fresh JVM takes about twice as long as
    later ones, so the untimed warm-up runs WARMUP_GATES on the sf0.01
    tables."""

    def setup(self) -> None:
        from inferdb_spark.gate import queries

        self.start_session()
        self.queries = queries()

    def warmup(self) -> None:
        self.op(WARMUP_DATA, WARMUP_GATES)

    def op(self, data: str | None = None, gates: list[str] = GATES):
        outs = {}
        for q in gates:
            with self.span(f"gate.{q}"):
                df = self.queries[q](self.spark, data or self.data)
            with self.span("prep.exec"):
                df.write.format("noop").mode("overwrite").save()
            outs[q] = df
        return outs

    def check(self, outs) -> bool:
        """Hash each gate's output.  The hash executes the gate's
        DataFrame again; the driver-side loops that built it do not rerun."""
        want = self.expected.get("prep_loops", {})
        got = self.observed.setdefault("prep_loops", {})
        for q, df in outs.items():
            got[q] = _content_hash(df)
        return all(got[q] == want.get(q) for q in outs)

    def report(self, lat: list[float]) -> dict[str, tuple[float, str]]:
        from checks import percentile

        return {"prep_pass_s": (percentile(lat, 50), "s")}


WORKLOADS = {"index_lookup": IndexLookup, "prep_loops": PrepLoops}


def _content_hash(df) -> str:
    """Row count and an order-independent sum of per-row 64-bit hashes."""
    from pyspark.sql import functions as F

    n, h = df.agg(
        F.count(F.lit(1)), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007)))
    ).first()
    return f"{n}:{h or 0}"


def _index_fingerprint(idx, kv: dict, prefixes: dict) -> str:
    from checks import fingerprint

    return fingerprint(
        {
            "specs": [[s.column, s.splits] for s in idx.specs],
            "kv": sorted(kv.items()),
            "prefix": {str(L): sorted(rows) for L, rows in sorted(prefixes.items())},
            "global": idx.global_value,
        }
    )


def _cached_mb(spark, frames) -> float:
    """In-memory size of the cached frames, as Spark's storage status
    reports it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    ids = set()
    for df in frames:
        cached = cache.lookupCachedData(df._jdf)
        if cached.isDefined():
            ids.add(cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id())
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos if i.id() in ids) / 1e6


def run(workload: Workload, seconds: float, tracer) -> dict:
    from checks import percentile

    t0 = time.perf_counter()
    workload.setup()
    setup_s = time.perf_counter() - t0
    workload.prepare_checks()
    if tracer:
        tracer.flush()
        tracer.phase = "warmup"
    workload.warmup()
    if tracer:
        tracer.flush()
        tracer.phase = "op"
        tracer.overhead_s = 0.0

    lat: list[float] = []
    attempted = failed = 0
    start = time.perf_counter()
    # start no op that the median op time says would end past the budget
    while attempted == 0 or time.perf_counter() - start + percentile(lat or [0.0], 50) <= seconds:
        attempted += 1
        t0 = time.perf_counter()
        try:
            out = workload.op()
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            failed += 1
            continue
        lat.append(time.perf_counter() - t0)
        failed += not workload.check(out)
        if tracer:
            tracer.flush()
    if not workload.setup_ok:  # a wrong index makes every op wrong
        failed = attempted
    if not lat:
        raise RuntimeError("every op failed")

    if tracer:
        metrics = layer_metrics(tracer, workload, len(lat))
        metrics["trace.op_p50_ms"] = (percentile(lat, 50) * 1e3, "ms")
    else:
        metrics = {"setup_s": (setup_s, "s"), "op_p50_ms": (percentile(lat, 50) * 1e3, "ms")}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "latencies_s": lat,
        "report": workload.report(lat),
    }


# per-layer metric -> (span name, quantity from tracing.layer_totals, unit)
LAYERS = {
    "session.get_spark_s": ("session.get_spark", "s", "s"),
    "catalog.load_table_s": ("catalog.load_table", "s", "s"),
    "setup.cache_s": ("setup.cache", "s", "s"),
    "api.fit_index_pipeline.self_s": ("api.fit_index_pipeline", "self_s", "s"),
    "binning.fit_supervised_bins_s": ("binning.fit_supervised_bins", "s", "s"),
    "binning.jobs": ("binning.fit_supervised_bins", "jobs", "count"),
    "iv.greedy_select_s": ("iv.greedy_select", "s", "s"),
    "iv.jobs": ("iv.greedy_select", "jobs", "count"),
    "iv.evals": ("iv.eval", "calls", "count"),
    "index.build_index_s": ("index.build_index", "s", "s"),
    "index.jobs": ("index.build_index", "jobs", "count"),
    "scoring.index_score_s": ("scoring.index_score", "s", "s"),
    "scoring.plan_s": ("scoring.plan", "s", "s"),
    "scoring.exec_s": ("scoring.exec", "s", "s"),
    "graph.connected_components_s": ("graph.connected_components", "s", "s"),
    "graph.connected_components_jobs": ("graph.connected_components", "jobs", "count"),
    "logreg.fit_logreg_gd_s": ("logreg.fit_logreg_gd", "s", "s"),
    "logreg.fit_logreg_gd_jobs": ("logreg.fit_logreg_gd", "jobs", "count"),
    "bpe_train.fit_bpe_merges_s": ("bpe_train.fit_bpe_merges", "s", "s"),
    "bpe_train.fit_bpe_merges_jobs": ("bpe_train.fit_bpe_merges", "jobs", "count"),
    "gbt_train.fit_hist_gbt_s": ("gbt_train.fit_hist_gbt", "s", "s"),
    "gbt_train.fit_hist_gbt_jobs": ("gbt_train.fit_hist_gbt", "jobs", "count"),
    **{f"gate.{q}.self_s": (f"gate.{q}", "self_s", "s") for q in GATES},
    "prep.exec_s": ("prep.exec", "s", "s"),
}
SCORING_SPANS = ("scoring.index_score", "scoring.plan", "scoring.exec")


def layer_metrics(tracer, workload: Workload, n_ops: int) -> dict:
    from tracing import layer_totals

    totals = layer_totals(tracer.spans, n_ops)
    zero: dict[str, float] = {}
    metrics = {
        name: (totals.get(span, zero).get(q, 0.0), unit)
        for name, (span, q, unit) in LAYERS.items()
    }
    for q in ("jobs", "stages", "tasks"):
        metrics[f"scoring.{q}"] = (sum(totals.get(s, zero).get(q, 0) for s in SCORING_SPANS), "count")
    extra = workload.trace_metrics()
    metrics["index.kv_rows"] = (extra.get("index.kv_rows", 0), "count")
    metrics["index.mb"] = (extra.get("index.mb", 0.0), "MB")
    metrics["scoring.exact_hit_frac"] = (extra.get("scoring.exact_hit_frac", 0.0), "ratio")
    metrics["spark.failed_tasks"] = (sum(s.failed_tasks for s in tracer.spans), "count")
    metrics["trace.overhead_ms"] = (tracer.overhead_s * 1e3 / n_ops, "ms")
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="store this run's outputs in expected.json")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "inferdb_spark", "__init__.py")):
        print(f"perfbench: no inferdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import tracing

    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    conf = pin_environment(work)
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    expected = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    workload = WORKLOADS[args.workload](DATA, conf, args.seed, tracer, expected)
    try:
        result = run(workload, args.seconds, tracer)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    if tracer:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    if args.record:
        expected.update(workload.observed)
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
    lat = result.pop("latencies_s")
    for name, (value, unit) in sorted(result["metrics"].items()) + list(result.pop("report").items()):
        print(f"{name:40s} {value:16.4f} {unit}", file=sys.stderr)
    print(
        f"{'error_rate':40s} {result['failed'] / result['attempted']:16.4f} "
        f"failed/attempted ({result['failed']}/{result['attempted']})",
        file=sys.stderr,
    )
    print("op latencies (s): " + " ".join(f"{t:.3f}" for t in lat), file=sys.stderr)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
