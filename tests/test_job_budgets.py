"""Spark job budgets for the daily run's two gold-side steps over the
fixture lake: one incremental ``materialize_marts`` (both marts' MERGE)
and one ``run_suite`` of the reference manifest. At this scale a job's
fixed cost dominates, so the job count is the cost model; a change that
adds jobs to either step fails here.

Jobs are counted through a job group and ``SparkStatusTracker``; jobs a
step launches on helper threads (broadcasts, AQE stages) inherit the
group and count too."""

from __future__ import annotations

import uuid

# measured on the fixture lake (local[4], 4 shuffle partitions)
MATERIALIZE_MARTS_JOBS = 29
RUN_SUITE_JOBS = 64


def count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_incremental_materialize_marts_job_budget(spark, pipeline, tmp_path):
    from openaq_data_pipeline_spark.plans.runner import PipelinePaths, materialize_marts

    src = pipeline["paths"]
    paths = PipelinePaths(root=str(tmp_path / "wh"), bronze_locations=src.bronze_locations,
                          bronze_measurements=src.bronze_measurements)
    materialize_marts(spark, paths)  # no targets yet: both marts written in full
    jobs = count_jobs(spark, lambda: materialize_marts(spark, paths))
    assert jobs <= MATERIALIZE_MARTS_JOBS, jobs


def test_run_suite_job_budget(spark, pipeline):
    from openaq_data_pipeline_spark import quality as Q

    models = pipeline["models"]
    jobs = count_jobs(
        spark, lambda: Q.run_suite(models, Q.REFERENCE_SUITE, Q.REFERENCE_SINGULARS))
    assert jobs <= RUN_SUITE_JOBS, jobs
