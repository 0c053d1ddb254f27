"""monitor_sweep: one simulated monitoring day per unit of work.

For each of six tables: ``Engine.run_profile``, then
``Engine.run_validations`` (its result consumed), then
``Engine.track_schema`` (its change rows consumed) — one *table monitor*
op. The day ends with one ``Engine.run_anomaly_detection`` over zscore
and iqr configs for every table. Each set-up starts from a fresh
warehouse, seeded with ``HISTORY_DAYS`` days of ``historical_metrics``
per series (one series carries a planted spike) and a schema baseline
per table; the first measured day presents one table with a planted
added column.

Correctness gates: profile ``row_count`` equals the table's rows; the
planted column change is detected (and no other table reports one); the
planted spike is flagged; the validation results are stored.
"""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import numpy as np

import datagen
from workload import Op, OpRunner

TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events"]
SF = 0.01
HISTORY_DAYS = 14
SPIKE_FACTOR = 8.0
PLANTED_COL = "planted_col"
DAY0 = dt.datetime(2026, 3, 1, 6, 0, 0)


def _ts(d: dt.datetime) -> str:
    return d.strftime("%Y-%m-%d %H:%M:%S")


class MonitorSweep:
    min_units = 1

    def __init__(self, spark, runner: OpRunner, work: Path, seed: int,
                 sf: float = SF):
        self.spark, self.runner, self.work = spark, runner, work
        rng = np.random.default_rng(seed + 1)
        self.spike_table = TABLES[int(rng.integers(0, len(TABLES)))]
        self.spike_day = int(rng.integers(2, HISTORY_DAYS - 2))
        self.planted_table = TABLES[int(rng.integers(0, len(TABLES)))]
        self.noise = rng.uniform(-0.002, 0.002, (len(TABLES), HISTORY_DAYS))
        self.data_dir = datagen.write_tables(
            datagen.make_tables(seed, sf), str(work / "data"))
        self.rows: dict[str, int] = {}
        self.engine = None
        self.dfs = {}

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from sparvi_spark import testdata
        from sparvi_spark.engine import Engine
        from sparvi_spark.operators.schema_diff import snapshot_from_dataframe
        from pyspark.sql import functions as F

        self.spark.catalog.clearCache()
        testdata._CACHE.clear()
        self.dfs = {t: testdata.load_table(self.spark, t, self.data_dir)
                    for t in TABLES}
        self.rows = {t: df.count() for t, df in self.dfs.items()}
        wh = self.work / "warehouse"
        shutil.rmtree(wh, ignore_errors=True)
        self.engine = Engine(self.spark, str(wh))
        self.runner.warehouse = wh
        hist = []
        for i, t in enumerate(TABLES):
            for d in range(HISTORY_DAYS):
                ts = _ts(DAY0 - dt.timedelta(days=HISTORY_DAYS - d))
                rc = self.rows[t] * (1.0 + self.noise[i, d])
                if t == self.spike_table and d == self.spike_day:
                    rc = self.rows[t] * SPIKE_FACTOR
                for name, v in (("row_count", round(rc)),
                                ("duplicate_count", 0.0)):
                    hist.append({"metric_name": name, "metric_value": v,
                                 "metric_type": "profile", "table_name": t,
                                 "source": "profiler", "ts": ts})
        self.engine.state.append_rows("historical_metrics", hist)
        base_ts = _ts(DAY0 - dt.timedelta(days=1))
        snaps = None
        for t in TABLES:
            pks = testdata.SCHEMAS[t].primary_keys
            s = snapshot_from_dataframe(self.spark, self.dfs[t], t, pks)
            snaps = s if snaps is None else snaps.unionByName(s)
        self.engine.state.append("schema_snapshots", snaps.withColumn(
            "collected_at", F.lit(base_ts).cast("timestamp")))

    def warm(self) -> None:
        """Nothing beyond the set-up, which runs the loads and state
        writes a day does."""

    # -- one day ------------------------------------------------------------
    def _monitor_table(self, t: str, day: int) -> None:
        from pyspark.sql import functions as F

        from sparvi_spark import testdata

        when = DAY0 + dt.timedelta(days=day)
        as_of = _ts(when)
        pks = testdata.SCHEMAS[t].primary_keys
        df = self.dfs[t]
        if t == self.planted_table and when == DAY0:
            df = df.withColumn(PLANTED_COL, F.lit(1))

        def monitor():
            profile = self.engine.run_profile(df, t, as_of=as_of)
            results = self.engine.run_validations(
                df, t, run_at=as_of, primary_keys=pks).collect()
            changes = self.engine.track_schema(df, t, primary_keys=pks,
                                               as_of=as_of)
            changes = [] if changes is None else changes.collect()
            return profile, results, changes

        self.runner.run(Op(f"table_monitor:{t}", day, items=self.rows[t]),
                        monitor, lambda r: self._check_table(t, when, r))

    def _check_table(self, t: str, when: dt.datetime, result) -> str | None:
        profile, results, changes = result
        if profile["row_count"] != self.rows[t]:
            return (f"profile row_count {profile['row_count']} != "
                    f"{self.rows[t]} rows")
        if not results:
            return "no validation results"
        self._validations[t] = len(results)
        got = {(r["change_type"], r["column_name"]) for r in changes}
        expected = set()
        if t == self.planted_table and when == DAY0:
            expected = {("column_added", PLANTED_COL)}
        elif t == self.planted_table and when == DAY0 + dt.timedelta(days=1):
            expected = {("column_removed", PLANTED_COL)}
        if got != expected:
            return f"schema changes {sorted(got)} != {sorted(expected)}"
        return None

    def _check_anomalies(self, when: dt.datetime, rows) -> str | None:
        from pyspark.sql import functions as F

        spike_ts = DAY0 - dt.timedelta(days=HISTORY_DAYS - self.spike_day)
        hits = {r["method"] for r in rows
                if r["table_name"] == self.spike_table
                and r["metric_name"] == "row_count"
                and r["ts"] == spike_ts}
        if hits != {"zscore", "iqr"}:
            return (f"planted spike ({self.spike_table} row_count at "
                    f"{spike_ts}) flagged by {sorted(hits)}, expected "
                    "zscore and iqr")
        stored = {r["table_name"]: r["n"] for r in (
            self.engine.state.read("validation_results")
            .where(F.col("run_at") == F.lit(_ts(when)).cast("timestamp"))
            .groupBy("table_name").agg(F.count("*").alias("n")).collect())}
        if stored != self._validations:
            return (f"stored validation results {stored} != returned "
                    f"{self._validations}")
        return None

    def unit(self, day: int) -> None:
        self._validations: dict[str, int] = {}
        when = DAY0 + dt.timedelta(days=day)
        for t in TABLES:
            self._monitor_table(t, day)
        configs = [{"metric_name": "row_count", "table_name": t,
                    "detection_method": m}
                   for t in TABLES for m in ("zscore", "iqr")]

        def detect():
            out = self.engine.run_anomaly_detection(configs,
                                                    as_of=_ts(when))
            return [] if out is None else out.collect()

        self.runner.run(Op("anomaly_detection", day), detect,
                        lambda rows: self._check_anomalies(when, rows))
