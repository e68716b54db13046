"""Shared plumbing for the workloads: the Spark session and its shutdown,
the work directory, Spark-side counters, peak RSS and the CLI runner.

Everything the benchmark writes goes under ``WORK_DIR`` inside the checkout
(lakes, generated inputs, Spark's local files, the JVM's temp files).
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
from contextlib import redirect_stdout
from dataclasses import dataclass

from py4j.protocol import Py4JError

# everything a run writes; each process works in its own subdirectory
WORK_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")


def run_dir() -> str:
    return os.path.join(WORK_DIR, f"run-{os.getpid()}")


def fresh_dir(*parts: str) -> str:
    path = os.path.join(run_dir(), *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark():
    """The engine's own session (``session.get_spark``) on local[nproc],
    with Spark's local files and temp files kept inside the work directory."""
    from beacon_indexer_spark.session import get_spark

    tmp = fresh_dir("tmp")
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{os.cpu_count() or 1}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage in the status store, so the task
            # time of every job of a run can be read after it
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait for it, then
    remove this process's work directory."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    shutil.rmtree(run_dir(), ignore_errors=True)


@dataclass(frozen=True)
class SparkTotals:
    """Spark jobs, and their task time, GC time and shuffle-write bytes."""

    jobs: int
    task_s: float
    gc_s: float
    shuffle_bytes: int


class SparkCounters:
    """Spark jobs launched so far, from the DAG scheduler's job counter
    (synchronous, so the jobs a call launched are exact), and the task time,
    GC time and shuffle-write bytes of each job, summed over its stages in
    the application status store. The executor summaries' ``totalDuration``
    is not used: in local mode it grows with wall time, idle or not."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def jobs(self) -> int:
        """Jobs launched so far, which is also the next job's id."""
        return self.sc.dagScheduler().nextJobId()

    def per_job(self, end: int) -> list[SparkTotals]:
        """Totals of each job with an id below ``end``, once the status
        store has seen every event. A stage that several jobs list (a reused
        shuffle) counts in the first; a stage that never ran counts 0."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        seen: set[int] = set()
        out = []
        for job in range(end):
            run_ms = gc_ms = shuffle = 0
            stages = store.job(job).stageIds().iterator()
            while stages.hasNext():
                sid = stages.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                run_ms += st.executorRunTime()
                gc_ms += st.jvmGcTime()
                shuffle += st.shuffleWriteBytes()
            out.append(SparkTotals(1, run_ms / 1000.0, gc_ms / 1000.0, shuffle))
        return out

    @staticmethod
    def total(per_job: list[SparkTotals], first: int, end: int) -> SparkTotals:
        """Sum of the jobs with ids in [first, end)."""
        jobs = per_job[first:end]
        return SparkTotals(len(jobs), sum(j.task_s for j in jobs),
                           sum(j.gc_s for j in jobs),
                           sum(j.shuffle_bytes for j in jobs))


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_cli(argv: list[str], spark, api_factory=None) -> dict:
    """``cli.main`` in-process; returns the JSON document it prints."""
    from beacon_indexer_spark import cli

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(argv, spark=spark, api_factory=api_factory)
    if rc != 0:
        raise RuntimeError(f"cli {argv} returned {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
