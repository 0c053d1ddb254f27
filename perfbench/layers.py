"""Turn ops and spans into the reported metrics.

End-to-end metrics come from op latencies (tracing off). Per-layer
metrics come from spans (tracing on): each is per unit of work (a day, a
trigger, a pass), as the median over the run's units, and 0 for a layer
the workload does not touch. The checks layer is reported by check_suite
alone.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from harness import cores, tail

ENGINE = ["run_profile", "run_validations", "track_schema",
          "run_anomaly_detection", "dedup_corpus_incremental"]
STATE = ["append", "append_rows", "read", "save_profile", "latest_profile"]
ENTITIES = ["profiles", "validation_results", "historical_metrics",
            "schema_snapshots", "schema_changes", "anomaly_results",
            "engine_events", "corpus_signatures"]
# per-layer metric -> unit; the order is the report order
PER_LAYER: dict[str, str] = {}
for _m in ENGINE:
    PER_LAYER[f"engine.{_m}.s"] = "s"
    PER_LAYER[f"engine.{_m}.self_s"] = "s"
PER_LAYER.update({
    "operators.profile.profile_table.s": "s",
    "operators.profile.profile_table.jobs": "count",
    "operators.profile.profile_table.shuffle_bytes": "B",
    "operators.validation.run_rules.s": "s",
    "operators.validation.run_rules.jobs": "count",
    "operators.schema_diff.snapshot_from_dataframe.s": "s",
    "operators.schema_diff.detect_changes.s": "s",
    "operators.anomalies.detect_anomalies.s": "s",
    "operators.trends.profile_trends.s": "s",
    "operators.trends.retain_latest.s": "s",
    "operators.dedup.minhash_signed.s": "s",
    "operators.dedup.minhash_lsh_pairs.s": "s",
    "operators.dedup.minhash_pairs_from_sigs.s": "s",
    "operators.dedup.dedup_near.s": "s",
    "operators.dedup.jobs_per_trigger": "count",
})
for _m in STATE:
    PER_LAYER[f"sources.state.{_m}.s"] = "s"
    PER_LAYER[f"sources.state.{_m}.calls"] = "count"
PER_LAYER["sources.state.bytes_written"] = "B"
for _e in ENTITIES:
    PER_LAYER[f"sources.state.files.{_e}"] = "count"
PER_LAYER.update({
    "testdata.load_table.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.task_time_s": "s",
    "spark.core_busy_frac": "ratio",
    "failed_ops_frac": "ratio",
    "trace.unit_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "counters.varying": "count",
})
# the checks layer: reported by check_suite only, which BENCHMARK.json
# does not gate, so these are not among its per-layer metrics
SUITE_LAYER = {"checks.build_s": "s", "checks.exec_s": "s"}
COUNTERS = ["jobs", "stages", "tasks", "shuffle_write_bytes",
            "state_files", "state_bytes"]


def _units(ops):
    """unit -> its ops, for units whose ops all ran without raising (an
    op with a wrong answer is timed, and counted in ``failed``)."""
    by_unit = defaultdict(list)
    for o in ops:
        if o.unit >= 0:  # set-up ops are gated, not timed
            by_unit[o.unit].append(o)
    return {u: os_ for u, os_ in by_unit.items() if all(o.done for o in os_)}


def _main(ops, main_op):
    return [o for o in ops
            if o.done and o.unit >= 0 and o.kind.split(":")[0] == main_op]


def end_to_end(ops, main_op, setup_s, rss_mb) -> dict[str, float]:
    units = _units(ops)
    walls = [sum(o.latency for o in os_) for os_ in units.values()]
    main = _main(ops, main_op)
    lat = [o.latency for o in main]
    items = sum(o.items for os_ in units.values() for o in os_)
    out = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "failed_ops_frac": sum(not o.ok for o in ops) / max(1, len(ops)),
        "n_ops": len(lat),
        "n_units": len(walls),
    }
    if walls and lat:
        out["unit_s"] = statistics.median(walls)
        out["op_p50_s"] = statistics.median(lat)
        out["op_tail_s"], out["op_tail_pct"] = tail(lat)
        out["items_per_s"] = items / sum(walls)
    return out


def varying_counters(ops) -> list[str]:
    """(op kind, counter) pairs whose value differs between repeats of
    the same kind of op within the run."""
    seen = defaultdict(set)
    for o in ops:
        if o.done and o.unit >= 0:
            for c in COUNTERS:
                seen[(o.kind, c)].add(o.counters.get(c))
    return [f"{k}.{c}" for (k, c), v in sorted(seen.items()) if len(v) > 1]


def per_layer(tracer, ops, setup_spans, overhead, main_op
              ) -> dict[str, tuple[float, str]]:
    """``setup_spans``: the spans of the timed set-up."""
    units = _units(ops)
    unit_of = {i: o.unit for i, o in enumerate(ops)}
    kids = tracer.children()
    vals: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))

    def inclusive(span, attr):
        return getattr(span, attr) + sum(inclusive(c, attr)
                                         for c in kids.get(span.sid, ()))

    for s in setup_spans:
        if s.name == "testdata.load_table":
            vals["testdata.load_table.s"][-1] += s.wall
    for s in tracer.spans:
        u = unit_of.get(s.op)
        if u not in units:
            continue
        vals[f"{s.name}.s"][u] += s.wall
        vals[f"{s.name}.calls"][u] += 1
        vals[f"{s.name}.self_s"][u] += tracer.self_time(s, kids)
        vals[f"{s.name}.jobs"][u] += inclusive(s, "jobs")
        vals[f"{s.name}.shuffle_bytes"][u] += inclusive(
            s, "shuffle_write_bytes")
    # the check build and toPandas spans, under their metric names
    for part in ("build", "exec"):
        if f"checks.{part}.s" in vals:
            vals[f"checks.{part}_s"] = vals[f"checks.{part}.s"]
    for u, os_ in units.items():
        wall = sum(o.latency for o in os_)
        for c in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "task_time_s"):
            vals[f"spark.{c}"][u] = sum(o.counters.get(c, 0) for o in os_)
        vals["spark.core_busy_frac"][u] = (
            vals["spark.task_time_s"][u] / (wall * cores()))
        vals["sources.state.bytes_written"][u] = sum(
            o.counters.get("state_bytes", 0) for o in os_)
        for e in ENTITIES:
            vals[f"sources.state.files.{e}"][u] = sum(
                o.state.get(e, (0, 0))[0] for o in os_)
        if main_op == "trigger":
            vals["operators.dedup.jobs_per_trigger"][u] = \
                vals["spark.jobs"][u]
        vals["trace.unit_s"][u] = wall
        vals["trace.overhead_s"][u] = overhead[u] if u < len(overhead) else 0
        vals["trace.overhead_frac"][u] = vals["trace.overhead_s"][u] / wall
    out = {}
    names = PER_LAYER | SUITE_LAYER if main_op == "check" else PER_LAYER
    for name, unit in names.items():
        per_unit = vals.get(name)
        out[name] = (float(statistics.median(per_unit.values()))
                     if per_unit else 0.0, unit)
    out["failed_ops_frac"] = (
        sum(not o.ok for o in ops) / max(1, len(ops)), "ratio")
    out["counters.varying"] = (float(len(varying_counters(ops))), "count")
    return out


def print_report(workload, aliases, e2e, layers, ops, units) -> None:
    """Every metric by name and unit, then the counters of every op."""
    print(f"# workload {workload}: {e2e['n_units']} units, "
          f"{e2e['n_ops']} {aliases['op_p50_s'][:-7]} ops")
    for key in ("unit_s", "op_p50_s", "op_tail_s", "items_per_s"):
        if key in e2e:
            unit = units.get(key, "s")
            extra = ""
            if key == "op_tail_s":
                extra = f" (p{e2e['op_tail_pct']:.0f} of n={e2e['n_ops']})"
            print(f"metric {aliases[key]} {e2e[key]:.6g} {unit}{extra}")
    print(f"metric setup_s {e2e['setup_s']:.6g} s")
    print(f"metric peak_rss_mb {e2e['peak_rss_mb']:.6g} MB")
    print(f"metric failed_ops_frac {e2e['failed_ops_frac']:.6g} ratio")
    for o in ops:
        c = " ".join(f"{k}={o.counters.get(k, 0):.0f}" for k in COUNTERS)
        print(f"op {o.kind} unit={o.unit} ok={o.ok} "
              f"latency_s={o.latency:.4f} {c}")
    varying = varying_counters(ops)
    print(f"counters varying: {', '.join(varying) if varying else 'none'}")
    if any(v for v, _ in layers.values()):
        for name, (v, unit) in layers.items():
            print(f"layer {name} {v:.6g} {unit}")
