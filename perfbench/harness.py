"""Process environment, Spark session, memory and statistics helpers.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
generated tables, the state warehouse, Spark's local and temp dirs, and
the span dumps of traced runs. The session is ``local[<cores>]`` with
cores = the CPUs this process may run on, from one driver process.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench"
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every temp and state dir into ``work`` and put the checkout
    on the Python workers' path. Must run before pyspark starts its JVM."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # collected timestamps compare with the UTC session's wall clock
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "spark-warehouse")
    # a fixed heap (initial = maximum): no heap-growth warm-up in the
    # timed region, and a steadier peak RSS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import sparvi_spark from pickled closures; without
    # the checkout on their path every Python-worker lane fails.
    paths = [str(ROOT)] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    # no JVM (the launcher's included) writes perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # span attribution reads finished jobs back from the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.ui.showConsoleProgress=false",
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        f'-Xms{DRIVER_MEM}"',
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session():
    from sparvi_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited; the JVM exits when its
    stdin closes. After a monitor_sweep day its shutdown hooks take ~10 s
    (everything they clean up lives in the run's work dir, which the
    caller deletes), so a JVM still running after a short grace period is
    killed. Its Python workers exit when it does; wait for them too."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = _children(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=0.5)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Python workers {workers} outlived the JVM")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"  # a zombie has ended


def _children(pid: int) -> list[int]:
    """Child processes of ``pid`` (the JVM's Python worker daemon)."""
    out: list[int] = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        out += [int(p) for p in task.read_text().split()]
    return out


class WorkerEnvError(RuntimeError):
    pass


def check_worker_env(spark) -> None:
    """Fail loudly, before anything is timed, if a Python worker cannot
    import this checkout's ``sparvi_spark``."""
    def probe(_):  # nested, so it is pickled by value
        import sparvi_spark

        return sparvi_spark.__file__

    try:
        path = spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    except Exception as exc:  # the worker's traceback is in the message
        raise WorkerEnvError(
            "Python workers cannot import sparvi_spark; the checkout must "
            f"be on the workers' PYTHONPATH: {exc}") from exc
    got = Path(path).resolve()
    if ROOT not in got.parents:
        raise WorkerEnvError(
            f"Python workers import sparvi_spark from {got}, not from "
            f"{ROOT}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark driver: this Python process plus
    its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the median when there are fewer than 20 samples."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11  # the highest index with ten samples above it
    if n < 20:
        return statistics.median(xs), 50.0
    return xs[k], 100.0 * (k + 1) / n


def dir_usage(path: Path) -> dict[str, tuple[int, int]]:
    """(files, bytes) per top-level entry of ``path``, data files only."""
    out: dict[str, tuple[int, int]] = {}
    if not path.exists():
        return out
    for entry in sorted(path.iterdir()):
        files = size = 0
        for dirpath, _, names in os.walk(entry):
            for n in names:
                if n.startswith((".", "_")):
                    continue  # checksums, _SUCCESS, pointer and lease files
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
        out[entry.name] = (files, size)
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
