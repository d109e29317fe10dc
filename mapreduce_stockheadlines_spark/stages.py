"""Stage attribution from Spark's own job records.

A builder names an eager section with ``with stage(spark, name):``; every
Spark job that section launches carries the job tag ``stage:<name>``.
``stage_walls`` reads those jobs back from the application status store
(the same records the Spark UI shows) for a job-id window and returns each
stage's wall time: the latest completion minus the earliest submission of
the jobs carrying its tag. A stage that launches no job has no entry, and
stages that run concurrently (``plans/extensions._overlap``) report walls
that overlap in time, so the walls of one query need not add up to its
total.

Job tags are thread-local. A section run on a helper thread must open its
own ``stage`` there; ``_overlap`` hands each of its threads the caller's
tags, so a stage opened around an ``_overlap`` call covers the jobs of
every thunk.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import SparkSession

TAG_PREFIX = "stage:"


@contextmanager
def stage(spark: SparkSession, name: str):
    """Tag every job the body launches on this thread ``stage:<name>``."""
    sc = spark.sparkContext
    tag = TAG_PREFIX + name
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def _status_store(spark: SparkSession):
    """The live status store, after the listener bus has delivered every
    queued event: a job whose action has returned is then recorded with
    its completion time."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def last_job_id(spark: SparkSession) -> int:
    """Id of the newest job in the status store; -1 before the first."""
    jobs = _status_store(spark).jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def stage_walls(
    spark: SparkSession, first_job: int, last_job: int
) -> dict[str, float]:
    """Wall seconds per stage name over jobs ``first_job..last_job``.

    Raises ``RuntimeError`` when a job of the window is missing from the
    status store (evicted past ``spark.ui.retainedJobs``, or not started)
    or has not finished: a partial window would under-report silently.
    """
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    )
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    raw = mapper.writeValueAsString(_status_store(spark).jobsList(None))
    jobs = {
        j["jobId"]: j
        for j in json.loads(raw)
        if first_job <= j["jobId"] <= last_job
    }
    missing = sorted(set(range(first_job, last_job + 1)) - set(jobs))
    if missing:
        raise RuntimeError(
            f"jobs {first_job}..{last_job}: {len(missing)} not in the status "
            f"store (first missing: {missing[0]})"
        )
    spans: dict[str, list[int]] = {}
    for j in jobs.values():
        if j["completionTime"] is None:
            raise RuntimeError(f"job {j['jobId']} has not finished")
        for tag in j["jobTags"]:
            if tag.startswith(TAG_PREFIX):
                lo_hi = spans.setdefault(
                    tag[len(TAG_PREFIX):],
                    [j["submissionTime"], j["completionTime"]],
                )
                lo_hi[0] = min(lo_hi[0], j["submissionTime"])
                lo_hi[1] = max(lo_hi[1], j["completionTime"])
    return {name: round((hi - lo) / 1000, 3) for name, (lo, hi) in spans.items()}
