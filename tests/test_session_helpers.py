"""core.session.thread_target: the worker-thread wrapper that carries
the caller's Spark local properties, in both pinned-thread modes."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyspark

from luma_etl_data_platform_spark.core.session import thread_target


def test_thread_target_carries_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("luma-thread-target", "carried into the worker")
    try:
        fn = thread_target(spark, lambda: sc.getLocalProperty("spark.jobGroup.id"))
        with ThreadPoolExecutor(max_workers=1) as pool:
            assert pool.submit(fn).result() == "luma-thread-target"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_thread_target_when_pinned_thread_mode_is_off(spark, monkeypatch):
    """With ``PYSPARK_PIN_THREAD=false`` PySpark's
    ``inheritable_thread_target(session)`` returns the session itself;
    calling that raised ``TypeError: 'SparkSession' object is not
    callable``. The helper runs the target unwrapped instead."""
    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)

    def target(x):
        return x + 1
    assert thread_target(spark, target) is target
    with ThreadPoolExecutor(max_workers=1) as pool:
        assert pool.submit(thread_target(spark, target), 41).result() == 42
