"""Spark-side counters for a window of calls, read from outside the engine.

A window is the half-open range of job and stage ids the DAG scheduler
hands out between ``mark()`` and ``stats()``. Ids are global to the
SparkContext, so jobs submitted from the build's helper threads count too.
Per-stage task time, CPU time, shuffle and spill bytes come from the
application status store, which Spark keeps even with the UI disabled.
"""

from __future__ import annotations

import os
from pathlib import Path

_MB = 1024.0 * 1024.0


def session(app: str, run_dir: Path):
    """A ``session.get_spark`` session whose scratch files stay in run_dir."""
    from hadoopsearchengine_spark.session import get_spark
    cores = len(os.sched_getaffinity(0))
    # shuffle partitions = cores, as bench.py runs the registry
    return get_spark(app, cores=cores, shuffle_partitions=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    })


class Window:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def mark(self) -> tuple[int, int]:
        return (self._dag.nextJobId(), self._dag.nextStageId())

    def stats(self, mark: tuple[int, int]) -> dict:
        """Counters of every job and stage started since ``mark``."""
        from py4j.protocol import Py4JJavaError
        self._bus.waitUntilEmpty()  # stage-completed events are async
        (j0, s0), (j1, s1) = mark, self.mark()
        out = {"jobs": j1 - j0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
               "task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for sid in range(s0, s1):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # id handed out, stage never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / _MB
        return out


def stop(spark) -> None:
    """Stop the session and wait for its JVM (and its Python workers) to
    exit: the gateway JVM quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def jvm_peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the Spark JVM that pyspark launched."""
    pid = spark.sparkContext._gateway.proc.pid
    return peak_rss_mb(f"/proc/{pid}/status")


def peak_rss_mb(status: str = "/proc/self/status") -> float:
    for line in Path(status).read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in {status}")
