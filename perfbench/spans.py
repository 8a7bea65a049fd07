"""Layer spans for the traced run, with task metrics from Spark's event log.

The traced run calls the same public entry points as the timed run
(``pipeline.run_kg``, ``pipeline.related_entities``) with the layer
functions they call replaced by wrappers from this module. A wrapper

- opens a span named after its layer, in a Spark job group of its own, so
  every job the call runs is attributed to that span;
- materializes the call's DataFrame result inside the span
  (``localCheckpoint``), so the lazy work lands in the layer that defines
  it rather than in whichever later action first pulls it;
- counts rows at the boundary inside a *probe*: probe time is cut out of
  every span it overlaps and probe jobs are attributed to no layer.

Spans live in memory. After the session stops, ``layer_metrics`` joins
them with the task records of the event log and folds them into
per-layer numbers. Task metrics of a span are exclusive: a child span's
jobs run in the child's job group.
"""

from __future__ import annotations

import json
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame

LAYERS = (
    "session", "extract", "materialize", "lineage", "link", "canon",
    "triples", "graph", "pipeline",
)
# layers whose work runs as Spark tasks (session start runs none)
TASK_LAYERS = LAYERS[1:]
GENERIC = (
    "wall_s", "self_s", "task_s", "cpu_s", "gc_s", "idle_s", "jobs", "tasks",
    "failed_tasks", "shuffle_bytes", "spill_bytes",
)
# GENERIC metrics summed from the tasks of a span's own job group
TASK_KEYS = (
    "jobs", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s", "shuffle_bytes",
    "spill_bytes",
)
PROBE_GROUP = "perfbench-probe"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.probes: list[tuple[float, float]] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _group(self, group: str, desc: str) -> Iterator[None]:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, desc)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    @contextmanager
    def span(self, layer: str, label: str) -> Iterator[dict]:
        stack = self._stack()
        # a span opened on a helper thread hangs under the main thread's
        # innermost span (run_extraction runs the id audit on a pool thread)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "layer": layer, "label": label, "parent": parent,
                "group": f"perfbench-span-{sid}", "t0": time.time(), "t1": None,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            with self._group(rec["group"], f"{layer}:{label}"):
                yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()

    @contextmanager
    def probe(self) -> Iterator[None]:
        t0 = time.time()
        try:
            with self._group(PROBE_GROUP, "perfbench boundary count"):
                yield
        finally:
            with self._lock:
                self.probes.append((t0, time.time()))

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    def peak(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = max(self.counts.get(name, 0), value)

    # -- wrappers --------------------------------------------------------

    def wrap(
        self,
        module: object,
        name: str,
        layer: str,
        materialize: bool = False,
        after: Callable[[Tracer, tuple, dict, object], None] | None = None,
    ) -> None:
        """Replace ``module.name`` with a spanned version until ``restore``."""
        real = getattr(module, name)

        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                out = real(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            if after is not None:
                with self.probe():
                    after(self, args, kwargs, out)
            return out

        setattr(module, name, wrapper)
        self._patches.append((module, name, real))

    def replace(self, module: object, name: str, make: Callable) -> None:
        """Replace ``module.name`` with ``make(real)`` until ``restore``."""
        real = getattr(module, name)
        setattr(module, name, make(real))
        self._patches.append((module, name, real))

    def restore(self) -> None:
        while self._patches:
            module, name, real = self._patches.pop()
            setattr(module, name, real)


# -- event log --------------------------------------------------------------


def read_event_log(event_dir: Path) -> tuple[dict[str, dict], list[tuple]]:
    """(per job-group task totals, all task intervals) from the one event
    log in ``event_dir``. A job outside any group is keyed
    ``nogroup@<submission time in s>``."""
    logs = [p for p in event_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    intervals: list[tuple[float, float]] = []

    def totals(group: str) -> dict:
        return groups.setdefault(
            group, dict.fromkeys(TASK_KEYS + ("records_written", "bytes_written"), 0)
        )

    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or (
                    f"nogroup@{ev.get('Submission Time', 0) / 1e3}"
                )
                totals(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                t = totals(stage_group.get(ev.get("Stage ID"), ""))
                t["tasks"] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if info.get("Failed") or reason != "Success":
                    t["failed_tasks"] += 1
                t["task_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                out = m.get("Output Metrics") or {}
                t["records_written"] += out.get("Records Written", 0)
                t["bytes_written"] += out.get("Bytes Written", 0)
                if info.get("Launch Time") and info.get("Finish Time"):
                    intervals.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return groups, intervals


# -- interval arithmetic ----------------------------------------------------


def union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def minus(
    iv: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    """Union of ``iv`` with the union of ``cut`` removed."""
    out = []
    cut = union(cut)
    for a, b in union(iv):
        pos = a
        for c, d in cut:
            if d <= pos or c >= b:
                continue
            if c > pos:
                out.append((pos, c))
            pos = max(pos, d)
        if pos < b:
            out.append((pos, b))
    return out


def length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def layer_metrics(tracer: Tracer, event_dir: Path) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer and every GENERIC metric, plus
    the materialize write totals taken from task output metrics."""
    groups, task_iv = read_event_log(event_dir)
    spans = [s for s in tracer.spans if s["t1"] is not None]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    probes = tracer.probes
    out: dict[str, float] = {f"{l}.{m}": 0.0 for l in LAYERS for m in GENERIC}
    out["materialize.rows_written"] = 0
    out["materialize.bytes_written"] = 0
    by_layer: dict[str, list[dict]] = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)
    for layer, ss in by_layer.items():
        own = minus([(s["t0"], s["t1"]) for s in ss], probes)
        out[f"{layer}.wall_s"] = length(own)
        out[f"{layer}.self_s"] = sum(
            length(minus(
                [(s["t0"], s["t1"])],
                probes + [(c["t0"], c["t1"]) for c in children.get(s["id"], ())],
            ))
            for s in ss
        )
        out[f"{layer}.idle_s"] = length(minus(own, task_iv))
        for s in ss:
            t = groups.get(s["group"])
            if t is None:
                continue
            for k in TASK_KEYS:
                out[f"{layer}.{k}"] += t[k]
            if layer == "materialize":
                out["materialize.rows_written"] += t["records_written"]
                out["materialize.bytes_written"] += t["bytes_written"]
    # jobs submitted during a traced call from a thread that never set a
    # group (run_extraction's pool thread counting lineage rows) are
    # orchestration: charge the pipeline
    roots = [(s["t0"], s["t1"]) for s in spans if s["parent"] is None]
    for group, t in groups.items():
        if not group.startswith("nogroup@"):
            continue
        at = float(group.split("@", 1)[1])
        if not any(a <= at <= b for a, b in roots):
            continue
        for k in TASK_KEYS:
            out[f"pipeline.{k}"] += t[k]
    return out
