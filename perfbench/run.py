"""Benchmark of the web-KG engine.

    python3 perfbench/run.py --workload webkg_batch --seed 1 --seconds 8 --trace 0

Run from the repository root.  Starts one local Spark session, sets up
the workload, runs untimed warm-up operations, then times operations in
a closed loop for ``--seconds``, but never fewer or more than the
workload's minimum and maximum count, and checks every output.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a
separate run that alternates untraced and traced operations; a traced
operation puts a span and a Spark job group around each layer call, and
the per-layer metrics come from those spans and from the Spark event log
the run writes.  Everything the run writes lives under ``.perfbench/``
in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

MASTER = "local[4]"
# well below physical memory: the session's own default asks for 24g
DRIVER_MEMORY = "3g"

from probes import (  # noqa: E402
    RssSampler,
    cpu_times,
    jvm_gc_s,
    jvm_live_heap_mb,
    note,
    process_age_s,
    storage_held,
    tree_cpu_s,
    wait_for_descendants,
)
from stats import median  # noqa: E402

END_TO_END = ("setup_s", "op_s_p50", "cpu_ms_per_item")
UNITS = {"setup_s": "s", "op_s_p50": "s", "cpu_ms_per_item": "ms"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(trace: bool):
    # Spark's scratch space, the JVM's and Python's temp files stay inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from inferdf_rs_spark.session import get_spark

    return get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every process
    this run started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    if not wait_for_descendants(timeout=60):
        raise RuntimeError("processes started by the benchmark did not end")


class Loop:
    """The closed loop: warm-up, then timed operations."""

    def __init__(self, wl, sc, seconds: float, tracer=None):
        self.wl, self.sc, self.seconds, self.tracer = wl, sc, seconds, tracer
        self.attempted = self.failed = 0
        self.times: list[float] = []  # untraced timed operations
        self.traced_times: list[float] = []
        self.cpu_s = 0.0
        self.items = 0
        self.cache_mb = 0.0
        self.rdds_held = 0
        self.traced_ops: list[int] = []
        self.steal = [0, 0]  # steal and total CPU ticks over the timed operations

    def _one(self, i: int, traced: bool, timed: bool) -> None:
        wl = self.wl
        self.attempted += 1
        try:
            st0, c0, t0 = cpu_times(), tree_cpu_s(), time.perf_counter()
            out = wl.traced_op(i, self.tracer) if traced else wl.op(i)
            dt, dc, st1 = time.perf_counter() - t0, tree_cpu_s() - c0, cpu_times()
            ok = wl.check(out)
            mb, n_rdds = storage_held(self.sc)
            wl.release(out)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"{wl.name}: operation {i} failed", file=sys.stderr)
            return
        steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
        print(
            f"{wl.name} op {i}{' traced' if traced else ''}: {dt:.3f}s cpu {dc:.2f}s steal {steal:.1%}",
            file=sys.stderr,
        )
        if timed:
            self.steal[0] += st1[0] - st0[0]
            self.steal[1] += st1[1] - st0[1]
            self.cache_mb, self.rdds_held = max(self.cache_mb, mb), max(self.rdds_held, n_rdds)
            if traced:
                self.traced_times.append(dt)
                self.traced_ops.append(i)
            else:
                self.times.append(dt)
                self.cpu_s += dc
                self.items += wl.items(out)

    def run(self) -> float:
        """Returns the set-up time: process start until the first timed op."""
        wl = self.wl
        for i in range(wl.warmup):
            self._one(i, False, False)
        setup_s = process_age_s()
        note("warm-up done, timing starts")
        start = time.perf_counter()
        # traced runs alternate untraced and traced operations and end on
        # an untraced one, so that warm-up drift cancels out of the overhead
        extra = 0 if self.tracer is None else 1
        n = 0
        while n < wl.max_ops + extra and (
            n < wl.min_ops + extra or time.perf_counter() - start < self.seconds
        ):
            traced = self.tracer is not None and n % 2 == 1
            self._one(wl.warmup + n, traced, True)
            n += 1
        self.attempted += 1
        try:
            ok = wl.finish()
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"{wl.name}: final check failed", file=sys.stderr)
        return setup_s


def end_to_end(loop: Loop, setup_s: float) -> dict:
    # a run with no successful timed operation reports 0 (and is not correct)
    vals = {
        "setup_s": setup_s,
        "op_s_p50": median(loop.times) if loop.times else 0.0,
        "cpu_ms_per_item": 1000 * loop.cpu_s / loop.items if loop.items else 0.0,
    }
    return {k: {"value": vals[k], "unit": UNITS[k]} for k in END_TO_END}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "inferdf_rs_spark")):
        print(f"engine package inferdf_rs_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    spark = start_session(bool(args.trace))
    note("session started")
    tracer = process = None
    try:
        sc = spark.sparkContext
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(sc)
        # the resident-memory sampler only runs in traced runs, so it
        # takes no CPU from the timed ones
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(WORK, "data"))
            wl.setup(tracer)
            gc0 = jvm_gc_s(sc)
            loop = Loop(wl, sc, args.seconds, tracer)
            setup_s = loop.run()
            if args.trace:
                process = {"gc_s": jvm_gc_s(sc) - gc0, "live_heap_mb": jvm_live_heap_mb(sc)}
    finally:
        stop_session(spark)

    if args.trace:
        import layers

        logs = glob.glob(os.path.join(WORK, "eventlog", "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        tracer.dump(os.path.join(WORK, "spans.json"))
        process["peak_rss_mb"] = rss.peak_bytes / (1024 * 1024)
        metrics = layers.per_layer_metrics(tracer, logs[0], loop, process)
    else:
        metrics = end_to_end(loop, setup_s)
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
