"""The run harness shared by the workloads: environment pinning, the Spark
session, the timed window, tracing spans, and the result record."""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager

import eventlog
import procstat


HEAP = "1g"


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def has_p90(n: int) -> bool:
    """p90 is reported only from 100 samples, so that at least ten lie
    beyond it."""
    return n >= 100


class Spans:
    """Spans around calls into the engine's layers, kept in memory.

    ``span(name)`` records (name, start, end, parent, op) with perf_counter
    times; ``total(name)`` sums a name's durations. ``cost_s`` is the time
    the tracer itself spent, for the traced run's overhead ratio."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, int | None]] = []
        self.op: int | None = None
        self.cost_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        self.spans.append((name, 0.0, 0.0, parent, self.op))
        start = time.perf_counter()
        self.cost_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            idx = self._stack.pop()
            self.spans[idx] = (name, start, end, parent, self.op)
            self.cost_s += time.perf_counter() - end

    def export(self, t0: float) -> list[list]:
        """Spans as [name, start_s, end_s, parent index, op], times relative
        to ``t0``."""
        return [[n, round(s - t0, 6), round(e - t0, 6), p, op] for n, s, e, p, op in self.spans]

    def total(self, name: str, ops: set[int] | None = None) -> float:
        return sum(
            e - s for n, s, e, _, op in self.spans if n == name and (ops is None or op in ops)
        )


class Run:
    """One benchmark process: a per-run work directory inside the checkout,
    the pinned Spark environment, and the measurements of the timed window."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool, t_start: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.t_start = t_start
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{uuid.uuid4().hex[:12]}")
        self.events_dir = os.path.join(self.work, "events")
        self.spans = Spans(trace)
        self.spark = None
        self.jvm_proc = None
        self.cleanups: list = []
        # directories outside the work directory that the run created and
        # removes at exit even when Spark can no longer drop them
        self.owned_dirs: list[str] = []
        self.window: dict = {}
        self.session_s = 0.0
        self.latencies: dict[int, float] = {}
        self.cpus = len(os.sched_getaffinity(0))
        self._warehouse_existed = os.path.isdir(os.path.join(root, "spark-warehouse"))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def pin_environment(self) -> None:
        """Cores, driver heap, local and temp dirs are fixed for every run;
        the event log is on only when tracing. The heap starts at its
        maximum: grown from the JVM's default start size, its size -- and
        with it peak RSS and GC pacing -- varied by a fifth between runs of
        the same inputs."""
        for d in ("local", "tmp", "events"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = HEAP
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        args = [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Xms{HEAP} -Djava.io.tmpdir={self.path('tmp')}",
        ]
        if self.trace:
            args += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.events_dir}",
                "--conf", "spark.eventLog.rolling.enabled=false",
                "--conf", "spark.eventLog.compress=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def start_session(self) -> None:
        from sentiment_analysis_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.session_s = time.perf_counter() - t0
        self.jvm_proc = self.spark.sparkContext._gateway.proc

    def jvm_counters(self) -> tuple[float, float]:
        """(JIT compile seconds, GC seconds) of the driver JVM so far."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1e3
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3
        return jit, gc

    def open_window(self) -> None:
        w = self.window
        w["setup_s"] = time.perf_counter() - self.t_start
        w["jvm0"] = self.jvm_counters()
        w["steal0"] = procstat.cpu_times()
        w["cpu0"] = procstat.tree_cpu_s(os.getpid())
        w["epoch0_ms"] = int(time.time() * 1000)
        w["t0"] = time.perf_counter()

    def close_window(self) -> None:
        w = self.window
        w["wall_s"] = time.perf_counter() - w["t0"]
        w["epoch1_ms"] = int(time.time() * 1000)
        w["cpu_s"] = procstat.tree_cpu_s(os.getpid()) - w["cpu0"]
        w["steal_frac"] = procstat.steal_frac(w["steal0"], procstat.cpu_times())
        jit, gc = self.jvm_counters()
        w["jit_s"], w["gc_s"] = jit - w["jvm0"][0], gc - w["jvm0"][1]
        w["rss_parts_mb"] = [procstat.peak_rss_mb(os.getpid()), procstat.peak_rss_mb(self.jvm_proc.pid)]
        w["peak_rss_mb"] = sum(w["rss_parts_mb"])

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and the Python workers it
        forked) to exit."""
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 -- a signal can break the gateway mid-call; the JVM is stopped below
            print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr, flush=True)
        finally:
            gateway = spark.sparkContext._gateway
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 -- the JVM may already be gone
                pass
            proc = self.jvm_proc
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway server exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    def events(self) -> list[dict]:
        log = eventlog.find_log(self.events_dir)
        if log is None:
            raise RuntimeError(f"no event log in {self.events_dir}")
        return eventlog.read_events(log)

    def release(self) -> None:
        """Run the registered clean-ups (they need the live session), then
        stop Spark. Safe to call twice."""
        cleanups, self.cleanups = self.cleanups, []
        for fn in reversed(cleanups):
            try:
                fn()
            except Exception as e:  # noqa: BLE001 -- clean up the rest regardless
                print(f"perfbench: cleanup step failed: {e!r}", file=sys.stderr, flush=True)
        self.stop_spark()

    def remove_work(self) -> None:
        for d in [self.work, *self.owned_dirs]:
            shutil.rmtree(d, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        wh = os.path.join(self.root, "spark-warehouse")
        if not self._warehouse_existed and os.path.isdir(wh) and not os.listdir(wh):
            os.rmdir(wh)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


def latency_summary(latencies: list[float]) -> dict:
    out = {"n": len(latencies), "latency_p50_s": statistics.median(latencies)}
    if has_p90(len(latencies)):
        out["latency_p90_s"] = percentile(latencies, 90)
    return out
