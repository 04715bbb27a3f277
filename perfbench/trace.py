"""Per-layer spans recorded from outside the engine.

The tracer replaces the public functions of the traced modules with thin
wrappers, everywhere the function object is referenced (module globals that
imported it by name included), so no span lives inside ``vite_spark``. Each
outermost call into a layer is one span:

- it runs under its own Spark job group, so the jobs, stages and tasks it
  launched are read back from ``sc.statusTracker()`` after the op, and the
  task time, shuffle writes and spills from the event log after the run;
- a ``derive`` span persists and counts the DataFrame it returns, so the
  derivation is paid inside its own span rather than by the algorithm
  that first consumes it;
- an ``algos.*`` span that takes a ``metrics`` collector gets one when the
  caller passed none, and keeps the rows the engine recorded.

Nested calls into the same layer belong to the open span. Calls into
another layer open a child span; a span's ``wall_s`` is its self time, its
duration minus its children, so the layers of one op add up to the op.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from dataclasses import dataclass, field

LAYERS = (
    "session", "derive", "kernels.ids", "algos.louvain", "algos.pagerank",
    "algos.components", "algos.triangles", "algos.lpa",
    "runtime.checkpoint", "emit",
)
BASE = ("wall_s", "jobs", "stages", "tasks", "task_s", "shuffle_write_mb",
        "spill_mb", "rdds_delta")
UNITS = {"wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
         "task_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "rdds_delta": "count"}
# Layer-specific extras: name -> unit.
EXTRAS = {
    "derive": {"edges_out": "count"},
    "kernels.ids": {"rows_out": "count"},
    "algos.louvain": {"supersteps": "count", "superstep_s": "s",
                      "levels": "count", "teps": "edges/s"},
    "algos.pagerank": {"supersteps": "count"},
    "algos.components": {"supersteps": "count"},
    "algos.lpa": {"supersteps": "count"},
    "runtime.checkpoint": {"mb_written": "MB", "files": "count"},
    "emit": {"rows": "count"},
}
MB = 1 << 20
TRACE_GROUP = "perfbench-trace"   # jobs the tracer itself launches


def _modules() -> dict[str, str]:
    import vite_spark.algos as algos

    mods = {"session": "vite_spark.session", "derive": "vite_spark.derive",
            "kernels.ids": "vite_spark.kernels.ids",
            "runtime.checkpoint": "vite_spark.runtime.checkpoint"}
    for m in pkgutil.iter_modules(algos.__path__):
        mods[f"algos.{m.name}"] = f"vite_spark.algos.{m.name}"
    return mods


def _is_superstep(kind: str) -> bool:
    return kind == "superstep" or kind.endswith(("_superstep", "_round"))


@dataclass
class Span:
    layer: str
    gid: str
    op: int | None                 # None: set-up, outside any measured op
    t0: float = 0.0
    wall: float = 0.0
    child_s: float = 0.0
    rdds0: int = 0
    rdds1: int = 0
    counts: dict = field(default_factory=dict)
    rows: list = field(default_factory=list)

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


class Tracer:
    """Spans of one traced session. ``op`` is the index of the op in
    progress (None during set-up)."""

    def __init__(self):
        self.sc = None
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self._base_group = None
        self._pinned = []          # DataFrames a derive span persisted
        self._patched = []         # (module, attr, original)
        self._n = 0

    # ---- session binding and op boundaries ----
    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def begin_op(self, i: int) -> None:
        self.op = i
        self._base_group = f"perfbench-op{i}"
        self.sc.setJobGroup(self._base_group, "op")

    def _release(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    def end_op(self) -> None:
        """Release what the tracer pinned and read the job counts of the op's
        spans (outside the op's wall)."""
        self._release()
        self._read_status([s for s in self.spans if s.op == self.op])
        self.op = None
        self._base_group = None

    def _rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size()) if self.sc else 0

    def _set_group(self, gid: str | None) -> None:
        if self.sc is None:
            return
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def span(self, layer: str):
        self._n += 1
        sp = Span(layer, f"perfbench-{self._n}-{layer}", self.op)
        parent = self.stack[-1] if self.stack else None
        self.stack.append(sp)
        self._set_group(sp.gid)
        sp.rdds0 = self._rdds()
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall = time.perf_counter() - sp.t0
            sp.rdds1 = self._rdds()
            self.stack.pop()
            if parent is not None:
                parent.child_s += sp.wall
            self._set_group(parent.gid if parent else self._base_group)
            self.spans.append(sp)
            if layer == "emit":
                # the op's result is out: a derivation the tracer pinned
                # must not serve the next query of the op from cache
                self._release()

    @contextlib.contextmanager
    def _hidden(self):
        """Work the tracer adds (row counts): its own job group, and its time
        is taken out of the enclosing span."""
        t0 = time.perf_counter()
        self._set_group(TRACE_GROUP)
        try:
            yield
        finally:
            self._set_group(self.stack[-1].gid if self.stack
                            else self._base_group)
            if self.stack:
                self.stack[-1].child_s += time.perf_counter() - t0

    # ---- wrapping ----
    def _wrap(self, fn, layer: str):
        from pyspark.sql import DataFrame

        sig = inspect.signature(fn)
        takes_metrics = "metrics" in sig.parameters

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if any(s.layer == layer for s in self.stack):
                return fn(*args, **kwargs)
            with self.span(layer) as sp:
                coll = None
                if takes_metrics:
                    from vite_spark.runtime.metrics import MetricsCollector

                    coll = sig.bind_partial(*args, **kwargs).arguments.get(
                        "metrics")
                    if coll is None:
                        coll = kwargs["metrics"] = MetricsCollector()
                    n0 = len(coll.rows)
                res = fn(*args, **kwargs)
                if coll is not None:
                    sp.rows = list(coll.rows[n0:])
                if getattr(res, "levels", None) is not None:
                    sp.counts["levels"] = int(res.levels)
                out = res[0] if isinstance(res, tuple) and res else res
                if isinstance(out, DataFrame):
                    if layer == "derive":
                        out.persist()
                        sp.counts["edges_out"] = out.count()
                        if self.op is not None:
                            self._pinned.append(out)
                    elif layer == "kernels.ids":
                        with self._hidden():
                            sp.counts["rows_out"] = out.count()
                return res

        return traced

    def install(self) -> None:
        """Wrap every public function of the traced modules, in every loaded
        ``vite_spark`` module that references it."""
        originals = {}
        for layer, name in _modules().items():
            mod = importlib.import_module(name)
            for attr, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == name):
                    originals[id(obj)] = (obj, self._wrap(obj, layer))
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(("vite_spark", "perfbench")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, obj))

    def uninstall(self) -> None:
        for mod, attr, obj in self._patched:
            setattr(mod, attr, obj)
        self._patched.clear()

    # ---- read-back ----
    def _read_status(self, spans) -> None:
        st = self.sc.statusTracker()
        for sp in spans:
            jobs = st.getJobIdsForGroup(sp.gid)
            stage_ids = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = 0
            for s in stage_ids:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
            sp.counts.update(jobs=len(jobs), stages=stages, tasks=tasks)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: summed executor run time (s), shuffle bytes written and
    bytes spilled (memory + disk), from the Spark event log."""
    events = []
    for dp, _, fs in os.walk(log_dir):
        for f in fs:
            if not f.startswith((".", "appstatus")):
                with open(os.path.join(dp, f)) as fh:
                    events.extend(json.loads(line) for line in fh if line.strip())
    stage_group = {
        ev["Stage Info"]["Stage ID"]: (ev.get("Properties") or {}).get(
            "spark.jobGroup.id")
        for ev in events if ev.get("Event") == "SparkListenerStageSubmitted"}
    out: dict[str, dict] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        g, tm = stage_group.get(ev.get("Stage ID")), ev.get("Task Metrics")
        if g is None or not tm:
            continue
        acc = out.setdefault(g, {"task_s": 0.0, "shuffle_write_b": 0,
                                 "spill_b": 0})
        acc["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
        acc["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        acc["spill_b"] += (tm.get("Memory Bytes Spilled", 0)
                           + tm.get("Disk Bytes Spilled", 0))
    return out


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
            except OSError:
                pass
    return files, size


def layer_metrics(tracer: Tracer, events: dict, ops: list[int],
                  op_extra: dict[int, dict]) -> dict[str, float]:
    """Per-op means of every per-layer metric over the measured ``ops``;
    ``session`` is taken from the set-up spans. ``op_extra`` carries
    per-op counts measured outside the spans (checkpoint files)."""
    n = max(1, len(ops))
    out: dict[str, float] = {}
    for layer in LAYERS:
        if layer == "session":
            spans = [s for s in tracer.spans if s.layer == layer]
            div = max(1, len(spans))
        else:
            spans = [s for s in tracer.spans if s.layer == layer and s.op in ops]
            div = n
        acc = dict.fromkeys(BASE, 0.0)
        for s in spans:
            ev = events.get(s.gid, {})
            acc["wall_s"] += s.self_s
            acc["jobs"] += s.counts.get("jobs", 0)
            acc["stages"] += s.counts.get("stages", 0)
            acc["tasks"] += s.counts.get("tasks", 0)
            acc["task_s"] += ev.get("task_s", 0.0)
            acc["shuffle_write_mb"] += ev.get("shuffle_write_b", 0) / MB
            acc["spill_mb"] += ev.get("spill_b", 0) / MB
            acc["rdds_delta"] += s.rdds1 - s.rdds0
        for k, v in acc.items():
            out[f"{layer}.{k}"] = v / div
        extras = EXTRAS.get(layer, {})
        rows = [r for s in spans for r in s.rows if _is_superstep(r.get("kind", ""))]
        for k in extras:
            if k == "supersteps":
                v = len(rows)
            elif k == "superstep_s":
                v = sum(r.get("wall_s", 0.0) for r in rows)
            elif k == "teps":
                wall = sum(r.get("wall_s", 0.0) for r in rows)
                edges = sum(r.get("edges_processed", 0) for r in rows)
                v = edges / wall if wall > 0 else 0.0
                out[f"{layer}.{k}"] = v
                continue
            elif k in ("mb_written", "files"):
                v = sum(op_extra.get(i, {}).get(f"{layer}.{k}", 0) for i in ops)
            else:
                v = sum(s.counts.get(k, 0) for s in spans)
            out[f"{layer}.{k}"] = v / div
    return out


def superstep_modes(tracer: Tracer, ops: list[int]) -> dict[str, dict[str, int]]:
    """Superstep counts by execution mode, per layer (labels, not metrics)."""
    modes: dict[str, dict[str, int]] = {}
    for s in tracer.spans:
        if s.op not in ops:
            continue
        for r in s.rows:
            if _is_superstep(r.get("kind", "")):
                m = modes.setdefault(s.layer, {})
                k = f"{r.get('kind')}:{r.get('mode', 'join')}"
                m[k] = m.get(k, 0) + 1
    return modes
