"""Layer spans for the traced run, timed from outside the library.

``Tracer.installed()`` wraps the public layer functions that
``logdag_spark.pipeline.runner.run_pipeline`` calls (the names bound in the
runner's module namespace) and ``Catalog.write``.  Each wrapped call is one
span, and the span:

* sets a job description and the ``perfbench.span`` local property, so
  every Spark job it starts is tagged in the event log;
* materialises the layer's output once (cache + count), so the span holds
  the layer's own work and the next layer starts from a ready input (a
  span whose function returns a row count reports that count instead);
* records its wall time; a nested span's time is taken out of its
  parent's (self time).

``fold_event_log`` then sums the event log's task metrics per span.  The
library is not edited: the wrappers are installed for one call and
removed afterwards.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

LAYERS = (
    "parse", "enrich", "route", "catalog", "series_filter", "aggregate",
    "correlate", "pc", "entry_queries",
)
LAYER_METRICS = (
    ("wall_s", "s", "lower"), ("task_s", "s", "lower"), ("cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"), ("busy_frac", "ratio", "higher"),
    ("task_skew", "ratio", "lower"), ("rows_out", "count", "lower"),
    ("shuffle_bytes", "B", "lower"), ("spill_bytes", "B", "lower"),
)
# runner-module name -> layer
RUNNER_HOOKS = {
    "parse_tokens_arrow": "parse",
    "enrich": "enrich",
    "route": "route",
    "filter_series": "series_filter",
    "discretize": "aggregate",
    "assign_units": "correlate",
    "event_dim": "correlate",
    "unit_matrix": "correlate",
    "pairwise_corr": "correlate",
    "fisherz_edges": "correlate",
    "orient_depth0_edges": "pc",
    "pc_edges": "pc",
}
SPAN_PROP = "perfbench.span"
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.outputs: dict[str, object] = {}
        self.inputs: dict[str, object] = {}
        self._stack: list[dict] = []

    def _tag(self, span: dict | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, span["id"] if span else None)
        self.sc.setJobDescription(f"{span['layer']}:{span['name']}" if span else None)

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        from pyspark.sql import DataFrame

        rec = {"id": str(len(self.spans)), "layer": layer, "name": name,
               "wall": 0.0, "child": 0.0, "rows": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.cache()
                rec["rows"] = out.count()
            elif isinstance(out, int):  # the span ran a count action itself
                rec["rows"] = out
        finally:
            rec["wall"] = time.perf_counter() - t0
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent:
                parent["child"] += rec["wall"]
            self._tag(parent)
        self.inputs[name] = args[0] if args else None
        self.outputs[name] = out
        return out

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)

        return traced

    @contextmanager
    def installed(self):
        from logdag_spark.io.catalog import Catalog
        from logdag_spark.pipeline import runner

        saved = {n: getattr(runner, n) for n in RUNNER_HOOKS}
        saved_write = Catalog.write
        tracer = self

        def write(cat, df, table, *args, **kwargs):
            return tracer.span("catalog", table, saved_write, cat, df, table, *args, **kwargs)

        for n, layer in RUNNER_HOOKS.items():
            setattr(runner, n, self._wrap(layer, n, saved[n]))
        Catalog.write = write
        try:
            yield self
        finally:
            for n, fn in saved.items():
                setattr(runner, n, fn)
            Catalog.write = saved_write

    def self_time(self, layer: str) -> float:
        return sum(s["wall"] - s["child"] for s in self.spans if s["layer"] == layer)


def _task_fold():
    return {"stages": {}, "cpu_ns": 0, "gc_ms": 0, "shuffle": 0, "spill": 0, "py": 0}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per-span task metrics from the (finished) event log in ``log_dir``:
    task run times per stage, CPU, GC, shuffle write, disk spill and the
    Python-worker bytes.  Stages whose jobs carry no span tag fold under
    ``""``."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_span: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_span[ev["Stage Info"]["Stage ID"]] = props.get(SPAN_PROP) or ""
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                stage = ev["Stage ID"]
                acc = out.setdefault(stage_span.get(stage, ""), _task_fold())
                acc["stages"].setdefault(stage, []).append(m.get("Executor Run Time", 0))
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill"] += m.get("Disk Bytes Spilled", 0)
                for a in ev["Task Info"].get("Accumulables") or []:
                    if a.get("Name") in PYTHON_BYTES and "Update" in a:
                        acc["py"] += int(float(a["Update"]))
    return out


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    from bench import HEADLINE

    spec = [(f"{layer}.{m}", unit, better)
            for layer in LAYERS for m, unit, better in LAYER_METRICS]
    spec += [(f"{layer}.python_bytes", "B", "lower")
             for layer in ("parse", "series_filter", "pc")]
    spec += [
        ("catalog.events_ts_bytes", "B", "lower"),
        ("series_filter.kept_frac", "ratio", "lower"),
        ("correlate.edge_frac", "ratio", "lower"),
    ]
    spec += [(f"entry_queries.{q}_s", "s", "lower") for q in HEADLINE]
    spec += [
        ("session.peak_rss_mb", "MB", "lower"),
        ("trace.total_s", "s", "lower"),
        ("runner.unattributed_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return spec


def layer_metrics(tracer: Tracer, folded: dict[str, dict], cores: int) -> dict[str, float]:
    """The nine per-layer metrics for every layer in ``LAYERS`` (0 for a
    layer the workload does not reach), plus ``<layer>.python_bytes``."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        acc = _task_fold()
        for span in tracer.spans:
            t = folded.get(span["id"]) if span["layer"] == layer else None
            if t:
                acc["stages"].update(t["stages"])
                for k in ("cpu_ns", "gc_ms", "shuffle", "spill", "py"):
                    acc[k] += t[k]
        wall = tracer.self_time(layer)
        task_s = sum(map(sum, acc["stages"].values())) / 1000.0
        # skew of the layer's heaviest stage: max over median task time
        heavy = max(acc["stages"].values(), key=sum, default=[])
        med = statistics.median(heavy) if heavy else 0
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.task_s": task_s,
            f"{layer}.cpu_s": acc["cpu_ns"] / 1e9,
            f"{layer}.gc_s": acc["gc_ms"] / 1000.0,
            f"{layer}.busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
            f"{layer}.task_skew": max(heavy) / med if med > 0 else 0.0,
            f"{layer}.rows_out": sum(s["rows"] for s in tracer.spans if s["layer"] == layer),
            f"{layer}.shuffle_bytes": acc["shuffle"],
            f"{layer}.spill_bytes": acc["spill"],
            f"{layer}.python_bytes": acc["py"],
        })
    return out


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> resident kB) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        rss[int(d)] = int(fields[21]) * page_kb
    return children, rss


def _walk(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    return _walk(_proc_table()[0], root)


def _tree_rss_kb(root: int) -> int:
    children, rss = _proc_table()
    return sum(rss.get(pid, 0) for pid in _walk(children, root))


class PeakRss:
    """Samples the resident set of this process and all its descendants
    (JVM, Python workers) every ``period`` seconds; ``peak_mb`` is the max."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak_kb = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
