"""Spans around the library's public calls, with Spark work attributed.

The benchmark never edits ``sparvi_spark``: it wraps the public functions
where the calling module binds them (``sparvi_spark.engine.profile_table``
is wrapped in ``sparvi_spark.engine``; ``operators.dedup.*`` at the module,
because the Engine imports those names at call time). Each wrapper opens a
span with name, start, end, parent and op id, and runs the call under a
Spark job group of its own, so the jobs, stages and tasks the call launches
land on the span that launched them. The outer group is restored on exit.

Spans stay in memory; ``resolve()`` attaches Spark counters after a unit of
work, outside its timed region, and ``dump()`` writes them out at the end.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")

# (module path, attribute, span name) — public calls as the callers bind
# them. Class methods are given as "Class.method".
TARGETS: list[tuple[str, str, str]] = [
    ("sparvi_spark.engine", f"Engine.{m}", f"engine.{m}")
    for m in ("run_profile", "run_validations", "track_schema",
              "run_anomaly_detection", "dedup_corpus_incremental")
] + [
    ("sparvi_spark.engine", "profile_table",
     "operators.profile.profile_table"),
    ("sparvi_spark.engine", "run_rules", "operators.validation.run_rules"),
    ("sparvi_spark.engine", "snapshot_from_dataframe",
     "operators.schema_diff.snapshot_from_dataframe"),
    ("sparvi_spark.engine", "detect_changes",
     "operators.schema_diff.detect_changes"),
    ("sparvi_spark.engine", "detect_anomalies",
     "operators.anomalies.detect_anomalies"),
    ("sparvi_spark.engine", "profile_trends",
     "operators.trends.profile_trends"),
    ("sparvi_spark.engine", "retain_latest", "operators.trends.retain_latest"),
] + [
    ("sparvi_spark.operators.dedup", f, f"operators.dedup.{f}")
    for f in ("minhash_signed", "minhash_lsh_pairs",
              "minhash_pairs_from_sigs", "dedup_near")
] + [
    ("sparvi_spark.sources.state", f"StateStore.{m}", f"sources.state.{m}")
    for m in ("append", "append_rows", "read", "save_profile",
              "latest_profile")
] + [
    ("sparvi_spark.testdata", "load_table", "testdata.load_table"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    task_time_s: float = 0.0
    resolved: bool = False

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def wall(self) -> float:
        return self.end - self.start


def spark_work(spark, group: str) -> dict[str, float]:
    """Jobs, completed stages and tasks, shuffle bytes written and task
    time of every job run under job group ``group``. Call after the
    listener bus has drained (``drain``)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "task_time_s": 0.0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            attempts = store.stageData(stage_id, False, None, False, None)
            for i in range(attempts.size()):
                stage = attempts.apply(i)
                if str(stage.status()) != "COMPLETE":
                    continue  # a skipped stage reused earlier shuffle output
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["task_time_s"] += stage.executorRunTime() / 1000.0
    return out


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the final metrics of every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class JobGroup:
    """Run a block under a Spark job group and restore the outer one."""

    def __init__(self, spark, group: str, description: str):
        self.sc = spark.sparkContext
        self.group, self.description = group, description

    def __enter__(self):
        self.outer = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(self.group, self.description)
        return self

    def __exit__(self, *exc) -> None:
        for k, v in zip(_GROUP_PROPS, self.outer):
            self.sc.setLocalProperty(k, v)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.enabled = False
        self.overhead_s = 0.0  # wrapper bookkeeping time, summed
        self._restore: list[tuple[object, str, object]] = []

    # -- wrapping ---------------------------------------------------------
    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target where its caller binds it."""
        import importlib

        for module_path, attr, name in TARGETS:
            owner = importlib.import_module(module_path)
            *cls, fname = attr.split(".")
            if cls:
                owner = getattr(owner, cls[0])
            self._patch(owner, fname, name)

    def bind_also(self, module, names: dict[str, str]) -> None:
        """Wrap names a module imported at its own import time."""
        for attr, name in names.items():
            self._patch(module, attr, name)

    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)  # a method is a plain function
        self._restore.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def uninstall(self) -> None:
        for owner, fname, original in reversed(self._restore):
            setattr(owner, fname, original)
        self._restore.clear()

    def span(self, name: str):
        """Context-manager form of a span, for blocks the benchmark times
        itself (a check's build and its toPandas)."""
        return _SpanBlock(self, name)

    # -- Spark attribution --------------------------------------------------
    def resolve(self) -> None:
        """Attach Spark counters to every finished span not yet resolved."""
        todo = [s for s in self.spans if not s.resolved and s.end]
        if not todo:
            return
        drain(self.spark)
        for s in todo:
            for k, v in spark_work(self.spark, s.group).items():
                setattr(s, k, v)
            s.resolved = True

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, span: Span, kids: dict[int, list[Span]]) -> float:
        return span.wall - sum(c.wall for c in kids.get(span.sid, ()))

    def dump(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["wall"] = s.wall
                row["self"] = self.self_time(s, kids)
                f.write(json.dumps(row) + "\n")


class _SpanBlock:
    """One span: opened on enter, closed on exit. The time spent setting
    and restoring job groups is counted in ``Tracer.overhead_s``."""

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.span: Span | None = None

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        t0 = time.perf_counter()
        self.span = Span(len(t.spans), self.name,
                         t.stack[-1].sid if t.stack else None, t.op, 0.0)
        t.spans.append(self.span)
        self.group = JobGroup(t.spark, self.span.group, self.name)
        self.group.__enter__()
        t.stack.append(self.span)
        self.span.start = time.perf_counter()
        t.overhead_s += self.span.start - t0
        return self

    def __exit__(self, *exc) -> None:
        if self.span is None:
            return
        t = self.tracer
        self.span.end = time.perf_counter()
        t.stack.pop()
        self.group.__exit__()
        t.overhead_s += time.perf_counter() - self.span.end
