"""Stage tags and the status-store reader (mapreduce_stockheadlines_spark/
stages.py), and job cancellation in plans/extensions._overlap."""

from __future__ import annotations

import time

import pytest

from mapreduce_stockheadlines_spark.plans.extensions import _overlap
from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES
from mapreduce_stockheadlines_spark.stages import (
    last_job_id,
    stage,
    stage_walls,
)


def test_stage_tag_removed_when_body_raises(spark):
    sc = spark.sparkContext
    with pytest.raises(ValueError, match="inside"):
        with stage(spark, "boom"):
            assert "stage:boom" in sc.getJobTags()
            raise ValueError("inside")
    assert "stage:boom" not in sc.getJobTags()


def test_stage_walls_span_first_submission_to_last_completion(spark):
    first = last_job_id(spark) + 1
    t0 = time.time()
    with stage(spark, "pair"):
        spark.range(10).collect()
        time.sleep(0.5)
        spark.range(10).collect()
    block = time.time() - t0
    spark.range(5).collect()  # untagged: belongs to no stage
    last = last_job_id(spark)
    assert last - first + 1 >= 3
    walls = stage_walls(spark, first, last)
    assert set(walls) == {"pair"}
    # both jobs and the sleep between them lie inside the wall, and the
    # wall lies inside the block (the store's times are milliseconds)
    assert 0.5 <= walls["pair"] <= block + 0.002


def test_stage_walls_fails_on_a_window_the_store_does_not_hold(spark):
    spark.range(3).collect()
    last = last_job_id(spark)
    with pytest.raises(RuntimeError, match="not in the status store"):
        stage_walls(spark, last, last + 1)


def test_x31_stage_record_is_complete(spark, sf_dir):
    first = last_job_id(spark) + 1
    df = ALL_QUERIES["x31_pagerank"].builder(spark, sf_dir)
    with stage(spark, "execute"):
        df.write.format("noop").mode("overwrite").save()
    walls = stage_walls(spark, first, last_job_id(spark))
    assert set(walls) == {"edges", "components", "pagerank", "hits", "execute"}
    assert all(w >= 0 for w in walls.values())


def test_overlap_cancels_running_sibling_when_one_thunk_fails(spark):
    sc = spark.sparkContext
    sibling_errors: list[str] = []

    def long_job():
        try:
            # one task scanning 2^38 ids: minutes of work unless cancelled
            spark.range(0, 1 << 38, 1, 1).selectExpr("max(id)").collect()
        except Exception as e:  # the cancellation surfaces here
            sibling_errors.append(str(e))
            raise

    def failing():
        deadline = time.time() + 60
        while not sc.statusTracker().getActiveJobsIds():
            assert time.time() < deadline, "sibling job never started"
            time.sleep(0.05)
        raise ValueError("first error")

    first = last_job_id(spark) + 1
    t0 = time.time()
    with pytest.raises(ValueError, match="first error"):
        _overlap(long_job, failing)
    assert time.time() - t0 < 60
    assert len(sibling_errors) == 1
    assert "cancel" in sibling_errors[0].lower()
    # every job of the call has ended (the reader raises on an
    # unfinished one) and none carries a stage tag
    assert stage_walls(spark, first, last_job_id(spark)) == {}
    assert not sc.statusTracker().getActiveJobsIds()
