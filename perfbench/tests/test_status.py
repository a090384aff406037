from __future__ import annotations

from operator import add

from status import StatusReader


def test_two_stage_job_counts(spark):
    reader = StatusReader(spark)
    before = reader.last_job_id()
    out = (
        spark.sparkContext.parallelize(range(100), 4)
        .map(lambda x: (x % 3, 1))
        .reduceByKey(add, 2)
        .collect()
    )
    assert sorted(out) == [(0, 34), (1, 33), (2, 33)]
    ex = reader.stats_since(before)
    assert (ex.jobs, ex.stages, ex.tasks, ex.failed_tasks) == (1, 2, 6, 0)
    assert ex.shuffle_write_mb > 0 and ex.shuffle_read_mb > 0
    assert ex.task_s >= 0 and ex.sched_gap_s >= 0
    # the window excludes jobs up to and including `before`
    assert reader.stats_since(reader.last_job_id()).jobs == 0
