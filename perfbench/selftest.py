"""Self-tests of the benchmark, at sf0.001 with a tiny seeded intake.

    python3 perfbench/selftest.py

One session runs a traced monitor_sweep day, a tiny corpus intake and two
graded checks. The tests then check that every metric name is printed
with its unit, that every correctness gate rejects a corrupted copy of a
real output, and that the spans of each ``engine.*`` call account for its
wall time. Exits non-zero if any test fails.
"""

from __future__ import annotations

import contextlib
import copy
import datetime as dt
import io
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
import run  # noqa: E402


class Fixture:
    def __init__(self):
        from layers import end_to_end, per_layer, print_report
        from spans import Tracer
        from workload import OpRunner

        self.work = harness.WORK_ROOT / f"selftest-{os.getpid()}"
        harness.prepare_env(self.work)
        self.spark = harness.start_session()
        harness.check_worker_env(self.spark)
        self.tracer = Tracer(self.spark)
        self.tracer.install()
        self.tracer.enabled = True
        self.reports: dict[str, tuple[str, dict]] = {}

        def drive(name, w):
            runner = w.runner
            first = len(self.tracer.spans)
            w.setup()
            setup_spans = self.tracer.spans[first:]
            w.warm()
            w.unit(0)
            e2e = end_to_end(runner.ops, run.MAIN_OP[name], 1.0, 1.0)
            layers = per_layer(self.tracer, runner.ops, setup_spans, [0.0],
                               run.MAIN_OP[name])
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                print_report(name, run.ALIASES[name], e2e, layers,
                             runner.ops, run.E2E_UNITS)
            self.reports[name] = (out.getvalue(), e2e, layers)
            return w

        from check_suite import CheckSuite
        from corpus_intake import CorpusIntake
        from monitor_sweep import MonitorSweep

        monitor = MonitorSweep(self.spark, OpRunner(self.spark, self.tracer),
                               self.work / "monitor", seed=7, sf=0.001)
        # keep the real outputs the gates saw, to corrupt them later
        self.monitor_outputs = {}
        check_table, check_anomalies = (monitor._check_table,
                                        monitor._check_anomalies)

        def record_table(t, when, result):
            self.monitor_outputs[t] = (when, result)
            return check_table(t, when, result)

        def record_anomalies(when, rows):
            self.monitor_outputs["anomalies"] = (when, rows)
            return check_anomalies(when, rows)

        monitor._check_table = record_table
        monitor._check_anomalies = record_anomalies
        self.monitor = drive("monitor_sweep", monitor)
        self.intake = drive("corpus_intake", CorpusIntake(
            self.spark, OpRunner(self.spark, self.tracer),
            self.work / "intake", seed=7, stored=3000, batch=300,
            stored_copies=6, in_batch_dups=3))
        suite = CheckSuite(self.spark, OpRunner(self.spark, self.tracer),
                           self.work / "suite", seed=7, sf=0.001,
                           only=("p01_row_counts", "d01_exact_dedup"))
        assert len(suite.checks) == 2, sorted(suite.checks)
        self.suite = drive("check_suite", suite)

    def close(self):
        self.tracer.uninstall()
        harness.stop_session(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)


def test_every_metric_printed_with_unit(f: Fixture):
    from layers import PER_LAYER, SUITE_LAYER

    for name, (text, e2e, layers) in f.reports.items():
        aliases = run.ALIASES[name]
        for key in ("unit_s", "op_p50_s", "op_tail_s", "items_per_s"):
            unit = run.E2E_UNITS.get(key, "s")
            assert f"metric {aliases[key]} " in text, (name, key)
            line = next(x for x in text.splitlines()
                        if x.startswith(f"metric {aliases[key]} "))
            assert line.split()[3] == unit, line
        for key, unit in (("setup_s", "s"), ("peak_rss_mb", "MB"),
                          ("failed_ops_frac", "ratio")):
            assert f"metric {key} " in text and f" {unit}" in text, key
        names = PER_LAYER | (SUITE_LAYER if name == "check_suite" else {})
        for key, unit in names.items():
            assert f"layer {key} " in text, (name, key)
            assert layers[key][1] == unit
        for key in run.END_TO_END:
            assert key in e2e, (name, key)
        assert e2e["failed_ops_frac"] == 0, (name, text)


def test_metrics_match_benchmark_definition(f: Fixture):
    from layers import PER_LAYER, SUITE_LAYER

    definition = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in definition["end_to_end"]] == run.END_TO_END
    assert {m["name"]: m["unit"] for m in definition["per_layer"]} == \
        PER_LAYER
    for m in definition["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]], m
    for name, (_, _, layers) in f.reports.items():
        extra = SUITE_LAYER if name == "check_suite" else {}
        assert set(layers) == set(PER_LAYER) | set(extra), name


def test_monitor_gates_reject_corruption(f: Fixture):
    w = f.monitor
    ops = [o for o in w.runner.ops if o.kind.startswith("table_monitor")]
    assert ops and all(o.ok for o in ops)
    t = w.planted_table
    when, (profile, results, changes) = f.monitor_outputs[t]
    w._validations = {}
    assert w._check_table(t, when, (profile, results, changes)) is None
    bad_profile = copy.deepcopy(profile)
    bad_profile["row_count"] += 1
    assert w._check_table(t, when, (bad_profile, results, changes))
    assert w._check_table(t, when, (profile, [], changes))
    # the planted column change missing from the detected changes
    assert w._check_table(t, when, (profile, results, []))
    # a change reported for a table that had none
    other = next(x for x in f.monitor_outputs if x != t)
    when_o, (p_o, r_o, _) = f.monitor_outputs[other]
    assert w._check_table(other, when_o, (p_o, r_o, changes))
    when_a, rows = f.monitor_outputs["anomalies"]
    spiked = [r for r in rows if r["table_name"] == w.spike_table]
    assert spiked
    assert w._check_anomalies(when_a, [r for r in rows if r not in spiked])


def test_monitor_spike_gate_needs_both_methods(f: Fixture):
    from monitor_sweep import DAY0, HISTORY_DAYS

    w = f.monitor
    spike_ts = DAY0 - dt.timedelta(days=HISTORY_DAYS - w.spike_day)
    row = {"table_name": w.spike_table, "metric_name": "row_count",
           "ts": spike_ts}
    err = w._check_anomalies(DAY0, [dict(row, method="iqr")])
    assert err and "zscore" in err


def test_intake_gate_rejects_corruption(f: Fixture):
    w = f.intake
    ops = [o for o in w.runner.ops if o.kind == "trigger"]
    assert ops and all(o.ok for o in ops)
    good = {"n_in": w.batch, "n_vs_corpus_dups": w.stored_copies,
            "n_in_batch_dups": w.in_batch_dups}
    assert w._check(good) is None
    assert w._check(dict(good, n_vs_corpus_dups=w.stored_copies - 1))
    assert w._check(dict(good, n_in_batch_dups=w.in_batch_dups - 1))
    assert w._check(dict(good, n_in=w.batch - 1))


def test_suite_gate_rejects_corruption(f: Fixture):
    w = f.suite
    ops = [o for o in w.runner.ops if o.kind.startswith("check:")]
    assert ops and all(o.ok for o in ops), [o.error for o in ops]
    name, (fn, _sql) = next(iter(w.checks.items()))
    pdf = fn(w.spark, w.data_dir).toPandas()
    assert w._check(name, pdf) is None
    assert w._check(name, pdf.iloc[1:]) if len(pdf) > 1 else True
    bad = pdf.copy()
    col = bad.columns[0]
    bad[col] = bad[col].astype(str) + "x"
    assert w._check(name, bad)


def test_engine_spans_account_for_wall(f: Fixture):
    kids = f.tracer.children()
    engine = [s for s in f.tracer.spans if s.name.startswith("engine.")]
    assert {s.name for s in engine} >= {
        "engine.run_profile", "engine.run_validations",
        "engine.track_schema", "engine.run_anomaly_detection",
        "engine.dedup_corpus_incremental"}
    for s in engine:
        children = kids.get(s.sid, [])
        assert all(s.start <= c.start and c.end <= s.end for c in children)
        total = f.tracer.self_time(s, kids) + sum(c.wall for c in children)
        assert abs(total - s.wall) < 1e-9, s
        assert f.tracer.self_time(s, kids) >= 0, s


def test_spark_work_lands_on_spans(f: Fixture):
    spans = [s for s in f.tracer.spans
             if s.name == "operators.profile.profile_table"]
    assert spans and all(s.resolved for s in spans)
    assert all(s.jobs > 0 for s in spans)


def test_tail_definition():
    from harness import tail

    assert tail([1.0] * 5) == (1.0, 50.0)
    xs = [float(i) for i in range(100)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 90.0


def test_datagen_is_seeded():
    import datagen

    a = datagen.make_tables(3, 0.001)
    b = datagen.make_tables(3, 0.001)
    c = datagen.make_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def main() -> int:
    failures = 0
    plain = [test_tail_definition, test_datagen_is_seeded]
    for t in plain:
        failures += _run(t)
    f = Fixture()
    try:
        for t in (test_every_metric_printed_with_unit,
                  test_metrics_match_benchmark_definition,
                  test_monitor_gates_reject_corruption,
                  test_monitor_spike_gate_needs_both_methods,
                  test_intake_gate_rejects_corruption,
                  test_suite_gate_rejects_corruption,
                  test_engine_spans_account_for_wall,
                  test_spark_work_lands_on_spans):
            failures += _run(t, f)
    finally:
        f.close()
    print(f"{failures} failed")
    return 1 if failures else 0


def _run(test, *args) -> int:
    try:
        test(*args)
    except Exception:
        print(f"FAIL {test.__name__}\n{traceback.format_exc()}")
        return 1
    print(f"PASS {test.__name__}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
