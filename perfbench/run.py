#!/usr/bin/env python3
"""Link-graph benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The inputs for the seed are generated (and
cached under ``.perfbench/``) before anything is timed. The run then
launches the JVM and sets the session up (``setup_s``), runs ops back to
back for ``--seconds`` seconds (at least one op; the first is the JVM's
first), checks every op's output, and prints one JSON object
as the last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, no_span  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "op_s.p50": "s", "peak_rss_mb": "MB",
              "heap_live_mb": "MB"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def _environment(ncores: int) -> None:
    """Process environment, fixed before the JVM and its workers start."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        # one task per core: no BLAS/OpenMP threads inside Python workers
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(ncores),
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = tmp


def _spark_conf(event_log: str | None) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # The heap is committed and touched up front (-Xms = -Xmx): a
        # growing heap's RSS follows GC timing, not the engine.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


class Run:
    """One benchmark process: sessions, ops, checks and hygiene counts."""

    def __init__(self, wl, seconds: float, sampler):
        from perfbench import memory

        self.wl, self.seconds, self.sampler = wl, seconds, sampler
        self.memory = memory
        self.spark = None
        self.attempted = self.failed = 0
        self.scratch_dirs = [memory.SHM, os.path.join(WORK, "tmp")]
        self.shm_at_start = memory.engine_entries([memory.SHM])
        self.leftover_rdds: list[int] = []
        self.leftover_scratch: list[int] = []
        self.last_out = None

    def start_session(self, conf: dict):
        from vite_spark.session import get_spark

        if self.spark is not None:
            self.stop_session()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        self.wl.release()
        self.spark.stop()
        self.spark = None

    def op(self, span=no_span) -> float:
        """One op plus its check and hygiene readout; returns the op wall."""
        m = self.memory
        rdds0 = m.persistent_rdds(self.spark)
        scratch0 = m.engine_entries(self.scratch_dirs)
        self.attempted += 1
        out = None
        t0 = time.perf_counter()
        try:
            out = self.wl.op(self.spark, span)
            wall = time.perf_counter() - t0
            errs = self.wl.check(out)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            wall = time.perf_counter() - t0
            errs = [traceback.format_exc()]
        if errs:
            self.failed += 1
            for e in errs:
                print(f"[perfbench] op {self.attempted} FAILED: {e}",
                      file=sys.stderr, flush=True)
        self.leftover_rdds.append(m.persistent_rdds(self.spark) - rdds0)
        self.leftover_scratch.append(
            len(m.engine_entries(self.scratch_dirs) - scratch0))
        self.last_out = out
        return wall

    def cleanup_op(self) -> None:
        if self.last_out is not None:
            self.wl.cleanup(self.last_out)

    def loop(self, span=no_span, before=None, after=None) -> list[float]:
        """Closed loop: ops back to back until ``seconds`` have passed (at
        least one op)."""
        walls = []
        t_end = time.perf_counter() + self.seconds
        while not walls or time.perf_counter() < t_end:
            if before:
                before(len(walls))
            walls.append(self.op(span))
            if after:
                after(len(walls) - 1)
            self.cleanup_op()
        return walls

    def finish(self) -> None:
        """Stop the session and the JVM, wait for every process this run
        started, and remove the engine scratch it left in /dev/shm."""
        from pyspark import SparkContext

        self.sampler.sample()       # record every process still running
        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        self.sampler.stop()
        self.memory.reap(self.sampler.seen)
        for p in self.memory.engine_entries([self.memory.SHM]) - self.shm_at_start:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure_untraced(run: Run, conf: dict) -> dict:
    """The cold set-up (JVM launch, session, workload set-up), then the
    measured loop; its first op is the first op of the JVM. The live heap is
    read after the last op, with whatever the ops left cached still held."""
    t0 = time.perf_counter()
    run.start_session(conf)                    # launches the JVM
    run.wl.setup(run.spark)
    setup_s = time.perf_counter() - t0
    walls = run.loop()
    heap = run.memory.heap_live(run.spark)
    log(f"setup_s {setup_s:.3f}; op walls: {[round(x, 3) for x in walls]}")
    log(f"live heap after each GC (MB): {[round(x / 2**20, 1) for x in heap]}")
    log("peak RSS by process: " + ", ".join(
        f"{k} {v / 2**20:.0f} MB" for k, v in run.sampler.peak_procs.items()))
    return {"setup_s": setup_s, "op_s.p50": _median(walls),
            "peak_rss_mb": run.sampler.peak_rss / 2**20,
            "heap_live_mb": min(heap) / 2**20}


def measure_traced(run: Run) -> dict:
    """Per-layer metrics of warm ops: the JVM's first op and one reference op
    run untraced, then ops run traced for ``seconds``. The Spark event log
    is on for all of them."""
    from perfbench import trace

    ev_dir = os.path.join(WORK, "eventlog")
    os.makedirs(ev_dir)
    conf = _spark_conf(ev_dir)
    run.start_session(conf)                    # launches the JVM
    run.sampler.reset()
    tracer = trace.Tracer()
    tracer.install()
    run.start_session(conf)                    # the traced session set-up
    tracer.uninstall()
    tracer.bind(run.spark)
    run.wl.setup(run.spark)
    first = run.op()
    run.cleanup_op()
    ref = run.op()
    run.cleanup_op()
    tracer.install()
    op_extra: dict[int, dict] = {}

    def before(i):
        tracer.begin_op(i)

    def after(i):
        tracer.end_op()
        if run.last_out is None:               # the op failed
            return
        for layer, d in run.wl.artifacts(run.last_out).items():
            files, size = trace.dir_usage(d)
            op_extra[i] = {f"{layer}.files": files,
                           f"{layer}.mb_written": size / trace.MB}

    walls = run.loop(tracer.span, before, after)
    run.stop_session()
    events = trace.read_event_log(ev_dir)
    ops = list(range(len(walls)))
    metrics = trace.layer_metrics(tracer, events, ops, op_extra)
    layer_sum = sum(v for k, v in metrics.items()
                    if k.endswith(".wall_s") and not k.startswith("session."))
    metrics.update({
        "hygiene.leftover_rdds": _mean(run.leftover_rdds),
        "hygiene.leftover_scratch": _mean(run.leftover_scratch),
        "memory.peak_shm_mb": run.sampler.peak_shm / 2**20,
        "session.first_op_s": first,
        "trace.untraced_op_s": ref,
        "trace.traced_op_s.p50": _median(walls),
        "trace.layer_sum_s": layer_sum,
        "trace.unattributed_s": _mean(walls) - layer_sum,
        "trace.overhead_s": layer_sum - ref,
        "trace.overhead_frac": (layer_sum - ref) / ref,
    })
    log(f"untraced ops: first {first:.3f} s, reference {ref:.3f} s; traced "
        f"op walls: {[round(x, 3) for x in walls]}")
    log(f"superstep modes: {json.dumps(trace.superstep_modes(tracer, ops))}")
    return metrics


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer_units() -> dict[str, str]:
    from perfbench import trace

    units = {}
    for layer in trace.LAYERS:
        for k in trace.BASE:
            units[f"{layer}.{k}"] = trace.UNITS[k]
        for k, u in trace.EXTRAS.get(layer, {}).items():
            units[f"{layer}.{k}"] = u
    units.update({
        "hygiene.leftover_rdds": "count", "hygiene.leftover_scratch": "count",
        "memory.peak_shm_mb": "MB", "session.first_op_s": "s",
        "trace.untraced_op_s": "s", "trace.traced_op_s.p50": "s",
        "trace.layer_sum_s": "s", "trace.unattributed_s": "s",
        "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
    })
    return units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import vite_spark
    except ImportError as e:
        print(f"perfbench: the engine is not in this checkout: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(vite_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: vite_spark resolved outside the checkout "
              f"({vite_spark.__file__})", file=sys.stderr)
        return 2
    from perfbench import inputs, memory

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    ncores = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "ckpt", "out", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    _environment(ncores)

    t0 = time.perf_counter()
    inp_dir, exp = inputs.prepare(args.workload, args.seed,
                                  os.path.join(WORK, "inputs"))
    log(f"workload {args.workload} seed {args.seed}: {int(exp['edges'])} "
        f"edges, inputs ready in {time.perf_counter() - t0:.2f} s, "
        f"local[{ncores}]")
    wl = WORKLOADS[args.workload](inp_dir, exp, WORK)
    sampler = memory.Sampler()
    sampler.start()
    run = Run(wl, args.seconds, sampler)
    try:
        values = (measure_traced(run) if args.trace
                  else measure_untraced(run, _spark_conf(None)))
    finally:
        run.finish()
        for d in ("tmp", "spark-local", "ckpt", "out", "warehouse"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    log(f"ops attempted {run.attempted}, failed {run.failed} "
        f"(op_fail_frac {run.failed / run.attempted:.3f})")
    log(f"leftover persistent RDDs per op: {run.leftover_rdds}")
    log(f"leftover engine scratch entries per op: {run.leftover_scratch}")
    units = per_layer_units() if args.trace else END_TO_END
    missing = [k for k in units if k not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
