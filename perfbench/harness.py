"""Session lifetime, Spark counters and summary statistics.

Everything the benchmark times goes through the engine's own session
factory (`session.get_spark`) with a fixed `local[2]` master, a 2 GiB
driver heap and every temp directory inside the run's work dir.
"""

from __future__ import annotations

import os
import signal
import statistics
import sys
import time

CPUS = 2
DRIVER_MEMORY = "2g"


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit. Must run before
    the session starts: workers import the engine from `root`, and every
    temp file stays inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # the workload is set by the benchmark, never by an inherited engine
    # setting (session size, driver-or-distributed path bounds)
    for name in [n for n in os.environ if n.startswith("SPARK_GRAFT_")]:
        del os.environ[name]
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(work: str, app: str, event_log: bool):
    """Start the engine session; returns (spark, seconds it took)."""
    t0 = time.perf_counter()
    from kol_bigdata_realtime_analytics_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # no hsperfdata file in the system temp dir: every file stays in `work`
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "-XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # every micro-batch's progress is read after the pass
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        # the status store must keep every job and stage of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=app, cpus=CPUS, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — a JVM that hangs is killed
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap_descendants()


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; kill what is left at the end."""
    from cpu_sampler import descendants

    deadline = time.monotonic() + timeout
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Counters:
    """Spark's job/stage id counters and the status store's task counts."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def between(self, start: tuple[int, int], end: tuple[int, int]) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        tasks = 0
        for sid in range(start[1], end[1]):
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": end[0] - start[0], "stages": end[1] - start[1], "tasks": tasks}


def p(values, q: float) -> float:
    """Linear-interpolated percentile q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0
