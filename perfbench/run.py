"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_stream|analytics_board>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload as a closed
loop with one client on ``local[<cores>]``: set-up (session start, fixture
landing, the workload's fixed warm-up), then a fixed number of timed ops
(the count scales with ``--seconds`` but never with measured speed), then the
correctness check, outside the timed window. Every run writes only under
``.perfbench_work/`` (and the engine's own ``spark-warehouse/``) in the
checkout and removes what it wrote.

Standard output carries one record line (inputs, latencies, checks, layer
numbers) and, last, the result line: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a separate traced run,
named as in ``BENCHMARK.json``. Per-layer values are means per timed op,
except ratios and the ``state.*`` counts at the end of the run. A failed
op -- an exception or a failed check -- counts in ``failed``.

The wall-clock metrics are medians over the timed ops: ``latency_p50_s`` is
the median op latency, and ``throughput_per_s`` is the units of one op
divided by it, the closed loop's rate at its median op. On a shared host a
burst of CPU steal can slow one op by half; the median leaves that op out,
where a mean over the timed wall time would carry it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import eventlog  # noqa: E402
import harness  # noqa: E402
import procstat  # noqa: E402
from board import AnalyticsBoard  # noqa: E402
from ingest import IngestStream  # noqa: E402

PACKAGE = "sentiment_analysis_data_pipeline_spark"
WORKLOADS = {w.name: w for w in (AnalyticsBoard, IngestStream)}
MIN_TIMED_OPS = 3
OPS_PER_SECOND = 0.1


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def timed_ops(seconds: float) -> int:
    """The run's fixed op count: it scales with ``--seconds``, never with
    measured speed."""
    return max(MIN_TIMED_OPS, round(seconds * OPS_PER_SECOND))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {root}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    # a terminated run still drops its table and work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]()
    run = harness.Run(root, args.workload, args.seed, bool(args.trace), T_START)
    n_timed = timed_ops(args.seconds)
    warm = list(range(wl.warmup_ops))
    timed = list(range(wl.warmup_ops, wl.warmup_ops + n_timed))
    failed: set[int] = set()
    errors: list[str] = []
    units = 0
    op_steal: dict[int, float] = {}
    try:
        run.pin_environment()
        run.start_session()
        t_land = time.perf_counter()
        wl.setup(run, len(warm) + len(timed))
        landing_s = time.perf_counter() - t_land
        for i in warm + timed:
            if i == timed[0]:
                run.open_window()
            run.spans.op = i
            cpu0 = procstat.cpu_times()
            t0 = time.perf_counter()
            try:
                done = wl.op(run, i)
            except Exception:  # noqa: BLE001 -- a failed op is counted, the loop goes on
                failed.add(i)
                errors.append(traceback.format_exc(limit=3))
                done = 0
            run.latencies[i] = time.perf_counter() - t0
            op_steal[i] = procstat.steal_frac(cpu0, procstat.cpu_times())
            if i in timed:
                units += done
        run.close_window()
        verdict = wl.check(run, timed)
        failed |= verdict.pop("failed_ops")
        layers = wl.trace_metrics(run, timed) if run.trace else {}
        run.release()
        if run.trace:
            events = run.events()
            w = run.window
            engine = eventlog.engine_metrics(events, w["epoch0_ms"], w["epoch1_ms"])
            layers.update({f"engine.{k}": v / n_timed for k, v in engine.items()})
            layers.update(wl.event_metrics(run, events, timed))
    finally:
        try:
            run.release()
        finally:
            # also when release raised, e.g. writing to a closed stderr
            run.remove_work()

    w = run.window
    lat = [run.latencies[i] for i in timed]
    failed_timed = failed & set(timed)
    correct = not failed and not errors
    summary = harness.latency_summary(lat)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": run.cpus,
        "timed_ops": n_timed,
        "units": units,
        "warmup_latencies_s": [run.latencies[i] for i in warm],
        "latencies_s": lat,
        "op_steal_frac": [op_steal.get(i) for i in warm + timed],
        "error_rate": len(failed_timed) / n_timed,
        "warmup_failures": sorted(failed - set(timed)),
        "env.steal_frac": w["steal_frac"],
        "env.warmup_ops": len(warm),
        "jvm.jit_s": w["jit_s"],
        "jvm.gc_s": w["gc_s"],
        "timed_wall_s": w["wall_s"],
        "peak_rss_mb_python_jvm": w["rss_parts_mb"],
        "setup_parts_s": {
            "session": run.session_s,
            "landing": landing_s,
            "warmup": sum(run.latencies[i] for i in warm),
        },
        **summary,
        **verdict,
        "errors": errors[:3],
    }
    if args.trace:
        layers.update({
            "session.start_s": run.session_s,
            "jvm.jit_s": w["jit_s"],
            "jvm.gc_s": w["gc_s"],
            "env.steal_frac": w["steal_frac"],
            "env.warmup_ops": float(len(warm)),
            "trace.overhead_ratio": w["wall_s"] / max(1e-9, w["wall_s"] - run.spans.cost_s),
        })
        # a layer this workload does not exercise reads 0
        values = {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec["per_layer"]}
        record["layers"] = values
        record["spans"] = run.spans.export(run.t_start)
        units_of = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "throughput_per_s": wl.units_per_op / summary["latency_p50_s"],
            "latency_p50_s": summary["latency_p50_s"],
            "cpu_s_per_op": w["cpu_s"] / n_timed,
            "setup_s": w["setup_s"],
            "mem.peak_rss_mb": w["peak_rss_mb"],
        }
        units_of = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: (values[k], units_of[k]) for k in units_of}
    print(json.dumps(record, default=str), flush=True)
    print(harness.result_line(correct, n_timed, len(failed_timed), metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
