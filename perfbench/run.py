"""Benchmark of the coefficient engine.

    python3 perfbench/run.py --workload coeffmap_a10 --seed 1 --seconds 10 --trace 0

One closed-loop client: a single process drives one pass at a time
through the engine's public API on ``local[<cores>]``.  A run starts a
Spark session, makes the workload's inputs from the seed, runs a few
warm-up passes, then runs warm passes for ``--seconds`` and checks every
pass's outputs against numpy/pandas/mpmath.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of a traced run).

The bounded per-pass metric is CPU time, not wall time: on a shared
host whose speed drifts, the wall time of the same pass can triple
between minutes, while the CPU seconds the driver, the JVM and the
Python workers spend on it rise about half as much: most of a pass's
wall time is spent waiting on py4j round trips.  The JVM's JIT
compiler threads are left out of it: they compile in the background, in
lumps that tail off over many passes.  Wall times and JIT CPU are still
reported, without a bound, by the traced run.

Everything the run writes stays under ``.perfbench/`` in the checkout;
its scratch directory is removed at the end, the span file of a traced
run is kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ssb_coefficient_maker_spark"
SETUP_REPEATS = 3  # input generation is repeated and its median reported
MIN_PASSES = 3
# after the first pass, which set-up includes, each pass costs less CPU
# than the one before while the JIT compiles; these warm-up passes are
# run and checked but neither timed nor counted in set-up.  A fixed
# count, so that every run times the same passes of a fresh JVM.
WARMUP_PASSES = 3
# thread names (as /proc truncates them) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# name -> unit, as BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "run_wall_s": "s",
    "formula_latency_p50_ms": "ms",
    "output_cells_per_s": "1/s",
    "cpu.python_s": "s",
    "cpu.jvm_s": "s",
    "cpu.workers_s": "s",
    "cpu.jit_s": "s",
    "formula.parse_s": "s",
    "formula.parse_calls": "count",
    "catalog.ingest_s": "s",
    "catalog.ingest_cells": "count",
    "catalog.collect_s": "s",
    "plans.alignment.compile_s": "s",
    "plans.alignment.compile_calls": "count",
    "plans.alignment.projected_columns": "count",
    "plans.triplet.compile_s": "s",
    "plans.triplet.leontief_s": "s",
    "plans.triplet.matmul_calls": "count",
    "validation.audit_s": "s",
    "validation.audit_calls": "count",
    "validation.invalid_cells": "count",
    "adp.compile_s": "s",
    "adp.validate_s": "s",
    "adp.collect_s": "s",
    "api.evaluate_s": "s",
    "api.evaluate_self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "py4j.calls": "count",
    "py4j.s": "s",
    "trace.overhead_s": "s",
    "first_pass_s": "s",
    "python.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except FileNotFoundError:  # the thread ended meanwhile
            pass
    return out


def _cpu_ticks(stat_file: Path) -> list[int]:
    """utime, stime, cutime and cstime from a /proc ``stat`` file."""
    return [int(f) for f in stat_file.read_text().rsplit(")", 1)[1].split()[11:15]]


def _cpu_s(pid: int) -> float:
    """CPU seconds of a process, its ended threads and its reaped children."""
    return sum(_cpu_ticks(Path(f"/proc/{pid}/stat"))) / CLK_TCK


def _jit_cpu_s(jvm_pid: int) -> float:
    ticks = 0
    for task in Path(f"/proc/{jvm_pid}/task").iterdir():
        try:
            if (task / "comm").read_text().strip() in JIT_THREADS:
                # a thread's cutime and cstime are its process's
                ticks += sum(_cpu_ticks(task / "stat")[:2])
        except FileNotFoundError:  # the thread ended meanwhile
            pass
    return ticks / CLK_TCK


def process_cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM without its JIT
    compiler threads, those threads, and the JVM's descendants (Spark's
    Python workers).  A worker that ends is reaped by its parent, whose
    count then takes its time over."""
    workers, todo = 0.0, _children(jvm_pid)
    while todo:
        pid = todo.pop()
        try:
            workers += _cpu_s(pid)
            todo += _children(pid)
        except FileNotFoundError:  # ended meanwhile
            pass
    jit = _jit_cpu_s(jvm_pid)
    return {
        "python": _cpu_s(os.getpid()),
        "jvm": _cpu_s(jvm_pid) - jit,
        "workers": workers,
        "jit": jit,
    }


def put_engine_on_worker_path() -> None:
    """Let Spark's Python workers import the engine: ADP formulas run
    in ``mapInPandas`` workers, which unpickle engine functions.  The
    JVM, started after this, passes PYTHONPATH on to the workers."""
    if str(ROOT) not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )


def _prepare_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and run on as many cores as the process may use."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # both JVMs spark-submit starts (its launcher and the driver) would
    # otherwise write hsperfdata files to the system temp directory; a
    # fixed set of JIT compiler threads keeps the CPU of one that ends
    # from dropping out of the JIT count
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = (
            os.environ.get(var, "")
            + f" -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    put_engine_on_worker_path()


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every child
    process (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _children(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.05)


class Run:
    """One benchmark run of one workload: set-up, warm-up, timed passes."""

    def __init__(self, workload_cls, spark, seed: int):
        self.workload = workload_cls(spark, seed)
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = 0
        self.failed = 0

    def generate(self) -> float:
        """Median seconds of ``SETUP_REPEATS`` input generations."""
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.workload.generate()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    def one_pass(self, run_pass=None):
        before = process_cpu_s(self.jvm_pid)
        res = (run_pass or self.workload.run_pass)()
        after = process_cpu_s(self.jvm_pid)
        res.cpu_s = {k: after[k] - before[k] for k in after}
        bad = self.workload.check(res)
        bad.update(res.errors)
        for name, why in bad.items():
            print(f"[perfbench] {self.workload.name}: {name}: {why}", file=sys.stderr)
        self.attempted += len(res.outputs) + len(res.errors)
        self.failed += len(bad)
        return res

    def warm_up(self) -> None:
        for _ in range(WARMUP_PASSES):
            self.one_pass()

    def timed_passes(self, seconds: float, traced=None) -> tuple[list, list]:
        """Warm passes until ``seconds`` have passed (at least
        ``MIN_PASSES``).  With a tracer, passes alternate untraced and
        traced; returns (untraced, traced) pass results."""
        plain, traced_res = [], []
        t_end = time.perf_counter() + seconds
        last = 0.0
        # stop when the next pass would end more than half a pass late
        while time.perf_counter() + last / 2 < t_end or len(plain) + len(traced_res) < MIN_PASSES:
            t = time.perf_counter()
            if traced is not None and len(traced_res) < len(plain):
                run_pass = lambda: traced.trace_pass(self.spark, self.workload.run_pass)  # noqa: E731
                traced_res.append(self.one_pass(run_pass))
            else:
                plain.append(self.one_pass())
            last = time.perf_counter() - t
        return plain, traced_res


def _work_cpu_s(res) -> float:
    return res.cpu_s["python"] + res.cpu_s["jvm"] + res.cpu_s["workers"]


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS

    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    t0 = time.perf_counter()
    from ssb_coefficient_maker_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    try:
        run = Run(WORKLOADS[workload], spark, seed)
        generate_s = run.generate()
        first = run.one_pass()
        setup_s = session_s + generate_s + first.wall_s
        run.warm_up()
        if trace:
            from tracing import Tracer

            tracer = Tracer()
            plain, traced = run.timed_passes(seconds, tracer)
            metrics = tracer.medians()
            metrics["trace.overhead_s"] = (
                statistics.median(r.wall_s for r in traced)
                - statistics.median(r.wall_s for r in plain)
            )
            # single samples per run, too unsteady for a bound: reported
            # here, without one
            metrics["first_pass_s"] = first.wall_s
            metrics["python.peak_rss_mb"] = _vm_hwm_kb(os.getpid()) / 1024.0
            metrics["jvm.peak_rss_mb"] = _vm_hwm_kb(run.jvm_pid) / 1024.0
            # wall times drift with the host's speed: reported here,
            # from the untraced passes, without a bound
            latencies = [t for r in plain for t in r.latencies_s]
            metrics["run_wall_s"] = statistics.median(r.wall_s for r in plain)
            metrics["formula_latency_p50_ms"] = 1000.0 * statistics.median(latencies)
            metrics["output_cells_per_s"] = (
                sum(r.cells for r in plain) / sum(r.wall_s for r in plain))
            for kind in ("python", "jvm", "workers", "jit"):
                metrics[f"cpu.{kind}_s"] = statistics.median(r.cpu_s[kind] for r in plain)
            traces = ROOT / ".perfbench" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.write(traces / f"{workload}-seed{seed}.jsonl")
            units = PER_LAYER
        else:
            plain, _ = run.timed_passes(seconds)
            metrics = {
                "setup_s": setup_s,
                "pass_cpu_s": statistics.median(_work_cpu_s(r) for r in plain),
            }
            units = END_TO_END
        walls = " ".join(f"{r.wall_s:.3f}/{_work_cpu_s(r):.2f}" for r in plain)
        kinds = " ".join(f"{k} {statistics.median(r.cpu_s[k] for r in plain):.2f}"
                         for k in plain[0].cpu_s)
        print(f"[perfbench] {workload} seed={seed}: session {session_s:.3f} s, first pass "
              f"{first.wall_s:.3f} s, untraced passes (wall/cpu s) {walls}; "
              f"median cpu s: {kinds}", file=sys.stderr)
    finally:
        _stop_spark(spark)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    _prepare_environment(work)
    try:
        result = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
