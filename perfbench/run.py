"""The repo benchmark: closed-loop, single-client workloads on the Engine.

    python3 perfbench/run.py --workload monitor_sweep --seed 1 \
        --seconds 10 --trace 0

One driver process, one client, ``local[<cores>]``. The run sets up once
(session start, table loads, state seeding, a warm-up), then runs units of
work back to back until ``--seconds`` have passed and the workload's
minimum count of units (one day; three triggers) is done, checks every
op's output, and prints one JSON object as the last line of
stdout. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` the library's public calls are wrapped in spans and it
reports the per-layer metrics instead. Lines before the JSON report every
metric by its workload-specific name, and per-op counters.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

T0 = time.perf_counter()

import harness  # noqa: E402
from harness import log  # noqa: E402

WORKLOADS = ("monitor_sweep", "corpus_intake", "check_suite")
# the op whose latency is reported as op_p50_s, per workload
MAIN_OP = {"monitor_sweep": "table_monitor", "corpus_intake": "trigger",
           "check_suite": "check"}

# gated (BENCHMARK.json); op_p50_s and op_tail_s are reported only: the
# median of six table monitors spread 0.15-0.19 across seeds
END_TO_END = ["unit_s", "items_per_s", "setup_s", "peak_rss_mb"]
E2E_UNITS = {"unit_s": "s", "op_p50_s": "s", "items_per_s": "1/s",
             "setup_s": "s", "peak_rss_mb": "MB"}
# the workload-specific names the same numbers go by
ALIASES = {
    "monitor_sweep": {"unit_s": "sweep_day_s",
                      "op_p50_s": "table_monitor_p50_s",
                      "op_tail_s": "table_monitor_tail_s",
                      "items_per_s": "sweep_rows_per_s"},
    "corpus_intake": {"unit_s": "trigger_wall_s",
                      "op_p50_s": "trigger_p50_s",
                      "op_tail_s": "trigger_tail_s",
                      "items_per_s": "intake_docs_per_s"},
    "check_suite": {"unit_s": "suite_pass_s", "op_p50_s": "check_p50_s",
                    "op_tail_s": "check_tail_s",
                    "items_per_s": "checks_per_s"},
}


def make_workload(name, spark, runner, work, seed):
    if name == "monitor_sweep":
        from monitor_sweep import MonitorSweep
        return MonitorSweep(spark, runner, work, seed)
    if name == "corpus_intake":
        from corpus_intake import CorpusIntake
        return CorpusIntake(spark, runner, work, seed)
    from check_suite import CheckSuite
    return CheckSuite(spark, runner, work, seed)


def measure(args, work: Path) -> dict:
    """Set up, warm up, run units for ``args.seconds`` and return the
    result object (without printing it)."""
    from layers import end_to_end, per_layer, print_report
    from spans import Tracer
    from workload import OpRunner

    t0 = time.perf_counter()
    spark = harness.start_session()
    try:
        harness.check_worker_env(spark)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        if args.trace:
            tracer.install()
            if args.workload == "check_suite":
                from check_suite import bind_check_modules
                bind_check_modules(tracer)
            tracer.enabled = True
        runner = OpRunner(spark, tracer)
        w = make_workload(args.workload, spark, runner, work, args.seed)
        first_setup_span = len(tracer.spans)
        t = time.perf_counter()
        w.setup()
        prep_s = time.perf_counter() - t
        setup_spans = tracer.spans[first_setup_span:]
        t = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + prep_s + warm_s
        log(f"setup: session {session_s:.2f}s, set-up {prep_s:.2f}s, "
            f"warm {warm_s:.2f}s")

        overhead = []
        start = time.perf_counter()
        log(f"set-up done at {start - T0:.1f}s after process start")
        unit = 0
        while True:
            before = tracer.overhead_s
            w.unit(unit)
            overhead.append(tracer.overhead_s - before)
            unit += 1
            if (time.perf_counter() - start >= args.seconds
                    and unit >= w.min_units):
                break
        log(f"{unit} units measured in {time.perf_counter() - start:.1f}s")
        rss = harness.peak_rss_mb(spark)
        e2e = end_to_end(runner.ops, MAIN_OP[args.workload], setup_s, rss)
        layers = per_layer(tracer, runner.ops, setup_spans, overhead,
                           MAIN_OP[args.workload])
        print_report(args.workload, ALIASES[args.workload], e2e, layers,
                     runner.ops, E2E_UNITS)
        if args.trace:
            trace_dir = harness.WORK_ROOT / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}"
                                        ".jsonl"))
            tracer.uninstall()
        attempted = len(runner.ops)
        failed = sum(not o.ok for o in runner.ops)
        if args.trace:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]}
                       for k in END_TO_END}
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        t = time.perf_counter()
        harness.stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t:.1f}s")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    work = harness.WORK_ROOT / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    harness.prepare_env(work)
    try:
        try:
            import sparvi_spark  # noqa: F401
        except ImportError as exc:
            log(f"perfbench: cannot import the library under test: {exc}")
            return 2
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"done at {time.perf_counter() - T0:.1f}s after process start")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
