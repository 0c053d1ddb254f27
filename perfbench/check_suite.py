"""check_suite: serial passes over the 50 graded checks.

One unit of work is one pass over ``collect_all_checks(prepared=False)``
in name order; one op is one check: a fresh plan build (the builder call,
including its eager actions) plus ``toPandas``. Caches are cleared and the
tables reloaded between passes, untimed, as ``bench.py``'s ``isolate()``
does. Every check's frame is compared with its DuckDB oracle SQL, run
once and untimed before the first set-up, using the normalisation of
``scripts/check_oracle.py`` (``frame_key``).

Not among the gated workloads of ``BENCHMARK.json``: a cold pass plus a
measured pass does not fit the per-run time the gate allows. Run it by
name for the ``checks`` layer metrics.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import datagen
from harness import ROOT
from workload import Op, OpRunner

SF = 0.01


def _frame_key():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_key


def bind_check_modules(tracer) -> None:
    """Wrap the names the check modules imported at import time."""
    from sparvi_spark.checks import (anomaly_checks, pipeline_checks,
                                     profile_checks, trend_checks,
                                     validation_checks)

    tracer.bind_also(pipeline_checks, {
        f: f"operators.dedup.{f}" for f in ("minhash_lsh_pairs",)})
    for mod in (anomaly_checks, pipeline_checks, profile_checks,
                trend_checks, validation_checks):
        tracer.bind_also(mod, {"load_table": "testdata.load_table"})


def oracle_answers(data_dir: str, checks: dict, frame_key) -> dict:
    """name -> (rows, sorted columns, frame_key) from DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name, (_fn, sql) in checks.items():
            if sql is not None:
                odf = con.execute(sql).fetchdf()
                out[name] = (len(odf), sorted(odf.columns), frame_key(odf))
        return out
    finally:
        con.close()


class CheckSuite:
    min_units = 1

    def __init__(self, spark, runner: OpRunner, work: Path, seed: int,
                 sf: float = SF, only: tuple[str, ...] | None = None):
        """``only``: run just these checks (the self-test's small suite)."""
        from sparvi_spark.checks import collect_all_checks

        self.spark, self.runner = spark, runner
        self.data_dir = datagen.write_tables(
            datagen.make_tables(seed, sf), str(work / "data"))
        self.checks = {k: v for k, v in sorted(
            collect_all_checks(prepared=False).items())
            if only is None or k in only}
        self.frame_key = _frame_key()
        self.oracle = oracle_answers(self.data_dir, self.checks,
                                     self.frame_key)

    def setup(self) -> None:
        """Clear caches and reload every table (``isolate()``)."""
        from sparvi_spark import testdata

        self.spark.catalog.clearCache()
        testdata._CACHE.clear()
        for t in datagen.TABLES:
            testdata.load_table(self.spark, t, self.data_dir).count()

    def warm(self) -> None:
        """The JIT warm pass, untimed and unchecked."""
        for fn, _sql in self.checks.values():
            fn(self.spark, self.data_dir).toPandas()

    def _check(self, name: str, pdf) -> str | None:
        want = self.oracle.get(name)
        if want is None:
            return None if len(pdf) else "no rows and no oracle"
        got = (len(pdf), sorted(pdf.columns), self.frame_key(pdf))
        if got != want:
            return (f"frame differs from oracle: rows {got[0]} vs "
                    f"{want[0]}, columns {got[1]} vs {want[1]}")
        return None

    def unit(self, i: int) -> None:
        self.setup()  # untimed, like isolate()
        tracer = self.runner.tracer
        for name, (fn, _sql) in self.checks.items():
            def one(fn=fn):
                with tracer.span("checks.build"):
                    df = fn(self.spark, self.data_dir)
                with tracer.span("checks.exec"):
                    return df.toPandas()

            self.runner.run(Op(f"check:{name}", i, items=1), one,
                            lambda pdf, name=name: self._check(name, pdf))
