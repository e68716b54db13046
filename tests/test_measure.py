"""The measurement core: exact job counts, task time that ignores idle
wall time, Exchanges and scans from the final plan, and ``bis:`` job
descriptions that name the operator (and, inside a measured query, the
query) that launched each job."""

from __future__ import annotations

import time

from beacon_indexer_spark.measure import job_count, job_table, measure


def test_job_count_is_exact(spark):
    """One eager action in the build and a one-stage execution are exactly
    two jobs, both described with the measured region's tags, and the
    first job after the region is the next id."""
    def build():
        df = spark.range(0, 64, numPartitions=2)
        df.collect()
        return df

    m = measure(spark, build, "t_jobs")
    assert m.jobs == 2 and job_count(spark) == m.end_job
    jobs = job_table(spark, m.first_job, m.end_job)
    assert [j.description for j in jobs] == ["bis:t_jobs:build", "bis:t_jobs:exec"]
    spark.range(1).collect()
    [after] = job_table(spark, m.end_job, job_count(spark))
    assert not after.description.startswith("bis:")


def test_idle_time_adds_no_task_seconds(spark):
    """Task time is summed over the region's stages, so an idle sleep
    inside the region adds wall time but no task time (the executors'
    ``totalDuration`` grows with wall time in local mode)."""
    def build():
        time.sleep(1.5)
        return spark.range(0, 64, numPartitions=2)

    m = measure(spark, build, "t_idle")
    task_s = sum(j.task_s for j in job_table(spark, m.first_job, m.end_job))
    assert m.build_s >= 1.5
    assert task_s < 0.5, task_s


def test_two_shuffle_plan_counts_two_exchanges(spark, sf_dir):
    m = measure(
        spark,
        lambda: spark.read.parquet(f"{sf_dir}/nation.parquet")
        .repartition(3).groupBy("n_regionkey").count(),
        "t_plan", collect=True,
    )
    assert (m.exchanges, m.scans) == (2, 1)
    assert len(m.rows) == 5


def test_curation_run_jobs_name_their_operator(spark):
    """A CurationRun measured as a query: its staging, connected-components
    and execution jobs carry the query's scope and their operator, and a
    connected-components round runs three jobs."""
    from beacon_indexer_spark.plans.pipeline import CurationRun

    docs = spark.createDataFrame(
        [(i, "the same shared words in every copy of this document")
         for i in range(4)] + [(9, "an unrelated text about something else")],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keys())
    try:
        m = measure(spark, lambda: CurationRun(docs, k=8, bands=4, shingle_n=3)
                    .summary(), "spine")
        jobs = [j.description for j in job_table(spark, m.first_job, m.end_job)]
    finally:
        # release the run's checkpoints now: left to the context cleaner,
        # they vanish at some later GC, under another test's cache checks
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in cached:
                rdd.unpersist(True)
    descs = set(jobs)
    assert {"bis:spine:curation.clusters", "bis:spine:cc.init",
            "bis:spine:cc.round0", "bis:spine:exec"} <= descs, descs
    assert all(d.startswith("bis:spine:") for d in descs), descs
    # one round, and three jobs in it: the label broadcast, the min
    # aggregate's shuffle-map stage and the checkpoint
    assert jobs.count("bis:spine:cc.round0") == 3, jobs
    assert "bis:spine:cc.round1" not in descs, descs
