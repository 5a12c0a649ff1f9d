"""Spark session lifecycle for one benchmark run.

The session comes from the engine's own factory
(``session.get_spark``) with the run pinned to ``local[N]``, N at most
the machine's cores, and every scratch location (JVM temp dir, shuffle
spill, warehouse, Python temp files) inside the run's work directory so
the run touches nothing outside its checkout.
"""

from __future__ import annotations

import os
import resource
import subprocess
import tempfile

MAX_CORES = 4
HEAP = "2g"


def cores() -> int:
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def start(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # takes precedence over spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    from azure_databricks_lakehouse_spark.session import get_spark

    n = cores()
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=str(n),
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    name = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    return int(name.split("@", 1)[0])


def peak_rss_mb(spark) -> float:
    """High-water resident set of the JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class JobCounter:
    """Spark jobs and tasks submitted between two points of the run,
    read from the status tracker (job ids rise by one per job)."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()

    def mark(self) -> int:
        ids = self._tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    def since(self, mark: int, tasks: bool = False) -> dict:
        last = self.mark()
        out = {"jobs": last - mark}
        if tasks:
            stages = set()
            for job in range(mark + 1, last + 1):
                info = self._tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
            out["tasks"] = sum(
                s.numCompletedTasks
                for s in map(self._tracker.getStageInfo, stages)
                if s is not None
            )
        return out
