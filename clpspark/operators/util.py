"""Shared operator plumbing."""

from __future__ import annotations

import contextlib
import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


# Logical-plan nodes whose presence means the input is already downstream
# of a shuffle (output partitions = spark.sql.shuffle.partitions): probing
# such a plan with df.rdd would EXECUTE its upstream stages under AQE
# (AdaptiveSparkPlanExec materializes query stages to answer
# getNumPartitions), and actions don't share Exchange reuse — the work
# would be thrown away and repeated.
_SHUFFLE_NODES = ("Join", "Aggregate", "Window", "Repartition", "Sort",
                  "Deduplicate", "GlobalLimit")


def rebalance_for_udf(df: DataFrame) -> DataFrame:
    """Even out input partitions before an expensive python-UDF pass.

    A small single-file parquet input arrives as ONE partition, stranding
    the whole Arrow/python stage on one core (measured: the sf0.1
    shingle pass ran 1-of-32 tasks). At production scale input splits >>
    cores and this no-ops — same guard the pipeline's parse stage uses.

    Shuffle-bearing inputs are returned untouched: they already run at
    shuffle-partition parallelism, and the partition-count probe on an
    adaptive plan would eagerly execute (and then discard) the upstream
    stages.
    """
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if any(node in plan for node in _SHUFFLE_NODES):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


@contextlib.contextmanager
def job_group(spark: SparkSession, group: str | None, description: str):
    """Run the block's Spark jobs under job group ``group`` (None: no
    group); the thread's previous group is restored on exit."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for k, v in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)  # None removes the property


def run_jobs(spark: SparkSession, jobs: dict[str, Callable[[], T]],
             max_workers: int) -> dict[str, T]:
    """Run independent Spark actions concurrently so each back-fills the
    others' straggler tails; returns ``{label: fn()}`` in ``jobs`` order.

    A pool thread does not inherit the caller's Spark local properties
    (under PySpark's pinned threads it maps to a fresh JVM thread), so each
    worker takes over the caller's job group and job tags, uses its label
    as the job description, and tags its jobs with a tag of this call. On
    the first failure the jobs not yet started are dropped, the tag's
    running jobs are cancelled, and that failure is re-raised once every
    worker has returned.
    """
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    tag = f"clpspark-run-jobs-{uuid.uuid4().hex}"
    tags = {*sc.getJobTags(), tag}

    def run(label: str, fn: Callable[[], T]) -> T:
        with job_group(spark, group, label):
            for t in tags:
                sc.addJobTag(t)
            try:
                return fn()
            finally:
                sc.clearJobTags()

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = {label: pool.submit(run, label, fn)
                   for label, fn in jobs.items()}
        done, pending = wait(futures.values(), return_when=FIRST_EXCEPTION)
        failed = next((f for f in futures.values()
                       if f in done and f.exception() is not None), None)
        if failed is not None:
            for f in pending:
                f.cancel()
            sc.cancelJobsWithTag(tag)
    if failed is not None:
        raise failed.exception()
    return {label: f.result() for label, f in futures.items()}
