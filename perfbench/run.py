#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_sf0.01 --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One run:

1. sets up ``SETUPS`` times (session build, inputs generated from the
   seed, one untimed warm pass) and reports the median as ``setup_s``;
2. checks the first set-up's outputs (outside every timed window);
3. repeats full passes over the workload's calls for ``--seconds``, at
   least ``MIN_PASSES``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics (traced passes alternate with
untraced ones, so the run also reports the tracing overhead).  A
human-readable table goes to stderr; the line before the result holds
the run's context (cpus, master, shuffle partitions, Spark version,
steal, and each measured pass's wall clock, CPU seconds and share of
CPU time stolen).
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import Counter

from probes import CLK_TCK

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_individual_assignment_spark"
SETUPS = 2
# The JIT is still compiling through the first passes after the set-ups
# (the first spends 25-50% more CPU seconds than the third); the median of
# three drops that pass, or one that a burst of neighbours' load slowed.
MIN_PASSES = 3
HEAP = "2g"

END_TO_END = {"wall_s": "s", "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.build_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.sql_executions": "count",
    "sources.scan_rows": "rows",
    "sources.scan_mb": "MB",
    "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_records": "rows",
    "exchange.broadcast_mb": "MB",
    "aggregate.peak_mem_mb": "MB",
    "sort.spill_mb": "MB",
    "python.rows_to_worker": "rows",
    "python.mb_to_worker": "MB",
    "operators.persisted_rdds": "count",
    "operators.released": "count",
    "sinks.files_written": "count",
    "sinks.mb_written": "MB",
    "sinks.write_amp": "ratio",
    "jvm.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "trace.overhead_s": "s",
}
# Layer times that read exactly 0 on every run of some workload: fetch
# waits on local[N], whose shuffle blocks are all local, and the commit
# and serving times that only daily_pipeline has.  A time that never
# changes says nothing, so these go to the context line, not the result.
CONTEXT_LAYERS = {
    "exchange.fetch_wait_s": "s",
    "sinks.commit_s": "s",
    "pipeline.serve_s": "s",
}


START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def configure_environment(work: str) -> None:
    """Pin the session shape and keep every file the run writes inside
    ``work``.  All of it is set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the Python workers import the package (media queries) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the package's 8g default heap is far more than these inputs need on
    # a machine other jobs share; the heap starts at its full size, so peak
    # memory does not depend on when the collector chose to grow it
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "spark-warehouse")
    os.environ["TMPDIR"] = tmp
    # status stores keep every job/stage/execution of the run, so the
    # trace can read them back by id; no perf-data files in /tmp
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
    }
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def log_calls(p: dict) -> None:
    log("  " + " ".join(f"{n}={t:.3f}" for n, t in p["calls"].items()))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _steal_jiffies() -> int:
    from bench import _steal_jiffies as steal

    return steal() or 0


class Runner:
    def __init__(self, workload, seed: int, work: str, trace: bool) -> None:
        from probes import ProcWatch

        self.workload = workload
        self.seed = seed
        self.work = work
        self.trace = trace
        self.watch = ProcWatch()
        self.attempted = 0
        self.failed: Counter = Counter()
        self.spark = None

    def session(self):
        from data_engineering_individual_assignment_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def run_pass(self, traced: bool, collect: bool = False) -> dict:
        """One pass over the workload's calls.  Only the calls themselves
        are timed; releases, tracing reads and checks happen between them."""
        from data_engineering_individual_assignment_spark.operators.dedup import (
            release_intermediates,
        )

        from probes import SparkTrace

        tracer = SparkTrace(self.spark) if traced else None
        layers: Counter = Counter()
        outputs: dict = {}
        wall = 0.0
        call_s: dict = {}
        self.workload.begin_pass()
        cpu0, jit0 = self.watch.cpu_s(), self.watch.jit_cpu_s()
        steal0, start = _steal_jiffies(), time.perf_counter()
        for call in self.workload.calls():
            self.attempted += 1
            if tracer:
                tracer.begin(call.name)
            t0 = time.perf_counter()
            try:
                built = call.build(self.spark) if call.build else None
                t1 = time.perf_counter()
                if tracer:
                    tracer.exec_phase()
                    t1b = time.perf_counter()
                out = call.run(self.spark, built, collect)
                t2 = time.perf_counter()
            except Exception:  # a failing call is counted, the pass goes on
                self.failed[call.name] += 1
                log(f"call {call.name} failed:\n{traceback.format_exc()}")
                release_intermediates()
                continue
            if tracer:
                t2 -= t1b - t1  # the job-group switch is not the call's time
            wall += t2 - t0
            call_s[call.name] = t2 - t0
            layers["plans.build_s"] += t1 - t0
            layers[call.layer] += t2 - t1
            self.watch.sample()
            if collect:
                outputs[call.name] = out
            if tracer:
                layers.update(tracer.end())
            layers["operators.released"] += release_intermediates()
        cpu = self.watch.cpu_s() - cpu0
        layers["jvm.jit_cpu_s"] = self.watch.jit_cpu_s() - jit0
        capacity = (time.perf_counter() - start) * os.cpu_count() * CLK_TCK
        return {
            "wall": wall,
            "cpu": cpu,
            "steal": (_steal_jiffies() - steal0) / capacity,
            "layers": layers,
            "outputs": outputs,
            "calls": call_s,
        }

    def check(self, outputs: dict) -> dict:
        """Check one warm pass's outputs; a mismatch counts as a failed call."""
        try:
            problems, details = self.workload.check(self.spark, outputs)
        except Exception:
            problems, details = {"check": traceback.format_exc()}, {}
        for name, why in problems.items():
            log(f"check failed: {name}: {why}")
            self.failed[name] += 1
        return details

    def setup(self) -> tuple[list[float], list[float], dict]:
        """Set up ``SETUPS`` times; the last set-up stays for measuring.

        The first set-up also pays JVM start and the cold pass, so its warm
        pass collects the outputs, which are checked before the next
        set-up; the others force into the sink like the measured passes."""
        setup_s, session_s = [], []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            self.spark = self.session()
            t1 = time.perf_counter()
            inputs = os.path.join(self.work, f"inputs{k}")
            self.workload.prepare(inputs, self.seed)
            t2 = time.perf_counter()
            warm = self.run_pass(traced=False, collect=k == 0)
            setup_s.append(t2 - t0 + warm["wall"])
            session_s.append(t1 - t0)
            log(f"setup {k + 1}/{SETUPS}: {setup_s[-1]:.3f} s "
                f"(session {t1 - t0:.3f} s, inputs {t2 - t1:.3f} s, warm pass {warm['wall']:.3f} s)")
            log_calls(warm)
            if k == 0:
                details = self.check(warm["outputs"])
                log("checked the warm pass's outputs")
            if k < SETUPS - 1:
                self.spark.stop()
                shutil.rmtree(inputs, ignore_errors=True)
        return setup_s, session_s, details

    def measure(self, seconds: float) -> list[dict]:
        passes = []
        deadline = time.perf_counter() + seconds
        # at least MIN_PASSES; with tracing, untraced passes alternate with
        # traced ones
        while time.perf_counter() < deadline or len(passes) < MIN_PASSES:
            traced = self.trace and len(passes) % 2 == 1
            p = self.run_pass(traced)
            p["traced"] = traced
            passes.append(p)
            log(f"pass {len(passes)}{' (traced)' if traced else ''}: "
                f"wall {p['wall']:.3f} s, cpu {p['cpu']:.2f} s, steal {p['steal']:.1%}")
            log_calls(p)
        return passes


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and anything left below this process, and
    wait for each to end."""
    from pyspark import SparkContext

    from probes import descendants

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            log(traceback.format_exc())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 30
    while left and time.time() < deadline:
        for pid in list(left):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"the package directory {PACKAGE}/ is not next to perfbench/; "
            "run from the root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_environment(work)
    runner = Runner(WORKLOADS[args.workload](), args.seed, work, bool(args.trace))
    steal0 = _steal_jiffies()
    try:
        setup_s, session_s, details = runner.setup()
        passes = runner.measure(args.seconds)
        spark = runner.spark
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": spark.sparkContext.defaultParallelism,
            "machine_cpus": os.cpu_count(),
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "spark_version": spark.version,
            "steal_jiffies": _steal_jiffies() - steal0,
            "passes": len(passes),
            "pass_wall": [round(p["wall"], 3) for p in passes],
            "pass_cpu": [round(p["cpu"], 2) for p in passes],
            "pass_steal": [round(p["steal"], 4) for p in passes],
            **details,
        }
    finally:
        shutdown(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    failed = sum(runner.failed.values())
    context["error_rate"] = failed / runner.attempted
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        landing = runner.workload.landing_mb()
        values = {}
        for name in {**PER_LAYER, **CONTEXT_LAYERS}:
            values[name] = median([p["layers"][name] for p in traced])
        values["session.build_s"] = median(session_s)
        values["sinks.write_amp"] = values["sinks.mb_written"] / landing if landing else 0.0
        values["trace.overhead_s"] = median([p["wall"] for p in traced]) - median(
            [p["wall"] for p in plain]
        )
        units = {**PER_LAYER, **CONTEXT_LAYERS}
        context["layers"] = {k: values.pop(k) for k in CONTEXT_LAYERS}
    else:
        values = {
            "wall_s": median([p["wall"] for p in passes]),
            "setup_s": median(setup_s),
            "cpu_s": median([p["cpu"] for p in passes]),
            "peak_rss_mb": runner.watch.peak_rss_mb(),
        }
        units = END_TO_END
    log(f"{'metric':<28} {'value':>14}  unit")
    for name, value in values.items():
        log(f"{name:<28} {value:>14.6g}  {units[name]}")
    for name, value in context.get("layers", {}).items():
        log(f"{name:<28} {value:>14.6g}  {units[name]}  (context line only)")
    log(f"{'error_rate':<28} {context['error_rate']:>14.6g}  ratio")
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
