"""Execution statistics of queries and operators, from Spark's own counters.

Jobs are counted with the DAG scheduler's job counter, which is exact and
synchronous. Task, GC and shuffle totals are summed over each job's
stages in the status store; the executor summaries' ``totalDuration`` is
not used, since in local mode it grows with wall time, idle or not. The
status store keeps the last ``spark.ui.retainedJobs`` jobs (1000 by
default), so read a job table soon after the jobs ran.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

DESCRIPTION = "spark.job.description"
EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
SCANS = ("FileSourceScanExec", "BatchScanExec")


@contextmanager
def stage(operator: str, scope: str | None = None) -> Iterator[None]:
    """Describe the Spark jobs this thread launches inside the block as
    ``bis:<scope>:<operator>``. ``scope`` defaults to the scope of the
    enclosing ``stage`` (threads started by
    ``functions.core.run_concurrently`` inherit it), else ``engine``."""
    sc = SparkSession.active().sparkContext
    prev = sc.getLocalProperty(DESCRIPTION)
    if scope is None:
        parts = (prev or "").split(":")
        scope = parts[1] if len(parts) > 2 and parts[0] == "bis" else "engine"
    sc.setJobDescription(f"bis:{scope}:{operator}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def job_count(spark: SparkSession) -> int:
    """Jobs launched so far in this application (the next job's id)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def plan_nodes(plan) -> Iterator:
    """The nodes of a physical plan (a JVM ``SparkPlan``). Under adaptive
    execution these are the final plan's, entered through its query
    stages; the plans of cached relations and subqueries are not
    entered."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        yield from plan_nodes(plan.executedPlan())
    elif kind.endswith("QueryStageExec"):  # shuffle, broadcast, result stages
        yield from plan_nodes(plan.plan())
    else:
        yield plan
        children = plan.children().iterator()
        while children.hasNext():
            yield from plan_nodes(children.next())


def plan_counts(plan) -> tuple[int, int]:
    """(Exchanges, scans) of a physical plan's ``plan_nodes``: shuffle and
    broadcast exchanges, file and DataSource V2 scans. Reused exchanges do
    not count."""
    kinds = [n.getClass().getSimpleName() for n in plan_nodes(plan)]
    return sum(k in EXCHANGES for k in kinds), sum(k in SCANS for k in kinds)


@dataclass(frozen=True)
class Job:
    """One finished Spark job as the status store saw it."""

    id: int
    description: str
    start_ms: int
    end_ms: int
    task_s: float
    gc_s: float
    shuffle_bytes: int

    @property
    def duration_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


def job_table(spark: SparkSession, first: int, end: int) -> list[Job]:
    """The finished jobs with ids in [first, end), once the status store
    has seen every event. A stage that several of them list (a reused
    shuffle) counts in the first; a stage that never ran counts 0."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    seen: set[int] = set()
    out = []
    for job_id in range(first, end):
        data = store.job(job_id)
        run_ms = gc_ms = shuffle = 0
        stages = data.stageIds().iterator()
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
        desc = data.description()
        out.append(Job(
            job_id, desc.get() if desc.isDefined() else "",
            data.submissionTime().get().getTime(),
            data.completionTime().get().getTime(),
            run_ms / 1000.0, gc_ms / 1000.0, shuffle,
        ))
    return out


@dataclass(frozen=True)
class Measurement:
    """One build and execution of the query frame ``df``; the jobs it
    launched have ids in [first_job, end_job)."""

    df: DataFrame
    build_s: float
    exec_s: float
    first_job: int
    end_job: int
    exchanges: int
    scans: int
    rows: list | None

    @property
    def jobs(self) -> int:
        return self.end_job - self.first_job

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


def measure(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    name: str,
    collect: bool = False,
) -> Measurement:
    """Build a frame with ``build()`` and run it to completion; the jobs of
    each phase are described ``bis:<name>:build`` and ``bis:<name>:exec``
    (operator stages inside keep the scope ``name``).

    With ``collect`` the rows are collected and returned; otherwise they
    are computed and discarded on the executors, like a no-op sink.
    Either way the frame's own plan executes, so its final adaptive plan
    is the one counted. The two ways can plan differently (a collected
    ``limit`` is taken from the first partitions), so compare counts taken
    the same way only."""
    first = job_count(spark)
    t0 = time.perf_counter()
    with stage("build", scope=name):
        df = build()
    t1 = time.perf_counter()
    with stage("exec", scope=name):
        if collect:
            rows = df.collect()
        else:
            rows = None
            df._jdf.queryExecution().toRdd().count()
    t2 = time.perf_counter()
    end = job_count(spark)
    exchanges, scans = plan_counts(df._jdf.queryExecution().executedPlan())
    return Measurement(df, t1 - t0, t2 - t1, first, end, exchanges, scans, rows)
