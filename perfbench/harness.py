"""Driver-side harness: the Spark session, and one record per engine
operation (wall time, Spark jobs and tasks, answer check)."""

from __future__ import annotations

import os
import statistics
import tempfile
import time
import traceback

import hostinfo
import spantrace

SETUP_REPS = 3          # setup_s is the median of this many set-ups
DRIVER_MEMORY = "2g"


def start_session(root: str, work: str, cores: int, traced: bool):
    """A local[cores] session whose JVM and Python workers import the
    engine from ``root`` and keep their scratch files under ``work``.
    Traced runs swap in :mod:`trace_daemon` as the worker daemon."""
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, bench_dir] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        os.environ[spantrace.TRACE_DIR_ENV] = trace_dir
        extra["spark.python.daemon.module"] = "trace_daemon"
    from br_archive_spark.plans import get_spark

    spark = get_spark(f"local[{cores}]", app_name="perfbench",
                      shuffle_partitions=cores, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start_workers(spark, cores: int) -> None:
    """Start the Python workers, one per core, with the engine
    imported, so every timed set-up starts from warm workers."""

    def load(batches):
        import br_archive_spark.operators  # noqa: F401

        yield from batches

    spark.range(0, 2 * cores, 1, 2 * cores) \
        .mapInArrow(load, "id long").count()


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:           # noqa: BLE001 — any wait failure
            proc.kill()
            proc.wait(timeout=30)


class Harness:
    """Runs engine operations one at a time (a closed loop with one
    client) and keeps a record of each."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.ops: list[dict] = []
        self.errors: list[str] = []

    def op(self, kind: str, fn, check=None, *, phase: str = "loop",
           traced: bool | None = None, **tags):
        """Run ``fn()`` as operation ``kind``; ``check(result)`` returns
        a list of wrong answers. An exception or a wrong answer marks
        the operation failed. Returns the result (None on failure)."""
        traced = self.traced if traced is None else traced
        op_id = f"{kind}-{len(self.ops)}"
        self.sc.setJobGroup(op_id, kind)
        self.sc.setLocalProperty(spantrace.TRACE_PROPERTY,
                                 "1" if traced else "0")
        rec = {"id": op_id, "kind": kind, "phase": phase,
               "traced": traced, **tags}
        cpu0 = hostinfo.tree_cpu_s()
        t0 = time.perf_counter()
        result = None
        try:
            result = fn()
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = hostinfo.tree_cpu_s() - cpu0
            wrong = check(result) if check else []
        except Exception:            # noqa: BLE001 — counted, reported
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = hostinfo.tree_cpu_s() - cpu0
            wrong = [traceback.format_exc(limit=4)]
            result = None
        rec["failed"] = bool(wrong)
        for w in wrong:
            self.errors.append(f"{op_id}: {w}"[:2000])
        rec["jobs"], rec["tasks"] = self._jobs_tasks(op_id)
        self.sc.setLocalProperty(spantrace.TRACE_PROPERTY, "0")
        self.ops.append(rec)
        return result

    def _jobs_tasks(self, op_id: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
        return len(jobs), tasks

    def loop_ops(self, kinds=None) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "loop"
                and (kinds is None or o["kind"] in kinds)]


def median(values):
    return statistics.median(values) if values else None


def tail(values) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; (None, None) with fewer than 11."""
    xs = sorted(values)
    if len(xs) < 11:
        return None, None
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)
