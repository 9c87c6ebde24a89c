"""Spans for the benchmark's traced runs, recorded from outside the program.

`install()` replaces public functions of `inferdb_spark` with wrappers, at
the attribute their callers read (for example `inferdb_spark.api.
fit_supervised_bins`, which `fit_index_pipeline` calls).  Each wrapper opens
a span: name, start, end, parent.  While a span is innermost, every Spark
job goes to a job group of its own, so `flush()` can count the span's jobs,
stages, tasks and failed tasks from `SparkContext.statusTracker()`.

Spans stay in memory; `layer_metrics()` turns them into the per-layer
figures and `dump()` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module the caller reads the function from, attribute, span name)
WRAPPED = [
    ("inferdb_spark.session", "get_spark", "session.get_spark"),
    ("inferdb_spark.catalog", "load_table", "catalog.load_table"),
    ("inferdb_spark.api", "fit_index_pipeline", "api.fit_index_pipeline"),
    ("inferdb_spark.api", "fit_supervised_bins", "binning.fit_supervised_bins"),
    ("inferdb_spark.api", "greedy_select", "iv.greedy_select"),
    ("inferdb_spark.operators.iv", "iv_classification", "iv.eval"),
    ("inferdb_spark.api", "build_index", "index.build_index"),
    ("inferdb_spark.operators.scoring", "index_score", "scoring.index_score"),
    ("inferdb_spark.operators.graph", "connected_components", "graph.connected_components"),
    ("inferdb_spark.operators.logreg", "fit_logreg_gd", "logreg.fit_logreg_gd"),
    ("inferdb_spark.operators.bpe_train", "fit_bpe_merges", "bpe_train.fit_bpe_merges"),
    ("inferdb_spark.operators.gbt_train", "fit_hist_gbt", "gbt_train.fit_hist_gbt"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    phase: str = "setup"
    group: str | None = None
    # Spark work submitted while this span was the innermost one
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        # time the tracer's span bookkeeping adds inside the timed ops;
        # flush() runs between ops and is not counted
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._resolved = 0

    def _set_group(self, sc, span: Span | None) -> None:
        if span is None or span.group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        sp = Span(name, t0, parent=self._stack[-1] if self._stack else None, phase=self.phase)
        sc = _active_context()
        if sc is not None:
            sp.group = f"perfbench-{idx}"
            self._set_group(sc, sp)
        self.spans.append(sp)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc = _active_context()
            if sc is not None:
                self._set_group(sc, self.spans[self._stack[-1]] if self._stack else None)
            self.overhead_s += time.perf_counter() - sp.end

    def flush(self) -> None:
        """Attribute Spark jobs to the spans closed since the last flush.
        Call it between ops, outside their timed region, so the status
        store never has to retain more than one op's jobs."""
        if self._stack:
            raise RuntimeError("flush() with open spans")
        sc = _active_context()
        if sc is not None:
            # the status store is fed asynchronously by the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            st = sc.statusTracker()
            for sp in self.spans[self._resolved:]:
                if sp.group is None:
                    continue
                for jid in st.getJobIdsForGroup(sp.group):
                    sp.jobs += 1
                    info = st.getJobInfo(jid)
                    for sid in info.stageIds if info else []:
                        si = st.getStageInfo(sid)
                        ran = si.numCompletedTasks + si.numFailedTasks if si else 0
                        if ran:  # skipped stages ran no task
                            sp.stages += 1
                            sp.tasks += ran
                            sp.failed_tasks += si.numFailedTasks
        self._resolved = len(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def install(tracer: Tracer) -> None:
    """Wrap every function in WRAPPED.  Call before the gate modules are
    imported, so that those binding `load_table` at import see the wrapper."""
    for module, attr, name in WRAPPED:
        mod = importlib.import_module(module)
        setattr(mod, attr, _traced(tracer, name, getattr(mod, attr)))


def _traced(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, lo, hi = 0.0, None, None
        for c_lo, c_hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, [])
        ):
            if c_hi <= c_lo:
                continue
            if hi is None or c_lo > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = c_lo, c_hi
            else:
                hi = max(hi, c_hi)
        if hi is not None:
            covered += hi - lo
        out.append((s.end - s.start) - covered)
    return out


def inclusive_counts(spans: list[Span]) -> list[dict[str, int]]:
    """Jobs, stages, tasks and failed tasks of each span and its descendants."""
    out = [
        {"jobs": s.jobs, "stages": s.stages, "tasks": s.tasks, "failed_tasks": s.failed_tasks}
        for s in spans
    ]
    for i in range(len(spans) - 1, -1, -1):  # children always follow their parent
        p = spans[i].parent
        if p is not None:
            for k, v in out[i].items():
                out[p][k] += v
    return out


def layer_totals(spans: list[Span], n_ops: int) -> dict[str, dict[str, float]]:
    """Per span name: seconds, self seconds, calls and inclusive counts.

    A layer the timed ops call is reported per op (its op-phase total over
    `n_ops`); a layer only set-up calls is reported as its set-up total.
    Warm-up spans are left out."""
    selfs = self_times(spans)
    incl = inclusive_counts(spans)
    by_name: dict[str, dict[str, dict[str, float]]] = {}
    for s, st, cnt in zip(spans, selfs, incl):
        if s.phase == "warmup":
            continue
        acc = by_name.setdefault(s.name, {}).setdefault(
            s.phase, {"s": 0.0, "self_s": 0.0, "calls": 0, **dict.fromkeys(cnt, 0)}
        )
        acc["s"] += s.end - s.start
        acc["self_s"] += st
        acc["calls"] += 1
        for k, v in cnt.items():
            acc[k] += v
    out = {}
    for name, phases in by_name.items():
        if "op" in phases:
            out[name] = {k: v / max(n_ops, 1) for k, v in phases["op"].items()}
        else:
            out[name] = phases["setup"]
    return out
