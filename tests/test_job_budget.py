"""Spark-job budget for the daily DAG.

At the daily input size ``run_daily`` is bound by its number of Spark
jobs, not by rows: nearly every job is one task. Evaluation builds its
six metrics from one user-partitioned plan that ends in one
aggregation and one ``collect()``; this test fails if it goes back to
one action per metric family. Jobs are counted per job group with the
status tracker, after draining the listener bus: the tracker is filled
by an asynchronous listener, so a count read straight after an action
can miss the last job."""

from __future__ import annotations

from data_pipeline_mlops_spark.plans import medallion
from tests.test_pipeline import _source_orders

EVALUATE_JOBS = 8
DAILY_JOBS = 27


def test_run_daily_stays_within_job_budget(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    evaluate_model = medallion.evaluate_model

    def grouped(*args, **kwargs):
        sc.setJobGroup("budget-evaluate", "evaluate_model")
        try:
            return evaluate_model(*args, **kwargs)
        finally:
            sc.setJobGroup("budget-daily", "run_daily")

    monkeypatch.setattr(medallion, "evaluate_model", grouped)
    sc.setJobGroup("budget-daily", "run_daily")
    try:
        medallion.run_daily(
            spark,
            _source_orders(spark),
            medallion.MedallionConfig(base=str(tmp_path), ds="2024-03-01"),
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    evaluate_jobs = len(tracker.getJobIdsForGroup("budget-evaluate"))
    daily_jobs = len(tracker.getJobIdsForGroup("budget-daily")) + evaluate_jobs
    assert evaluate_jobs <= EVALUATE_JOBS, evaluate_jobs
    assert daily_jobs <= DAILY_JOBS, daily_jobs
