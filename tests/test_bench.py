"""bench.measure: one query's best time plus what its best run ran."""

import bench
from node_etl_spark.plans import QUERIES
from perfbench.status import StatusReader

LAYER_KEYS = {
    "fn_s", "fn_jobs", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "sched_gap_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "rdds_left", "plan_lines",
}


def test_measure_reads_layers_before_clearing_blocks(spark, sf_dir):
    q01 = QUERIES["q01_pricing_summary"].fn

    def fn(spark, sf_dir):
        # an eager action inside fn, and a block left for the write:
        # fn_jobs must see the count, rdds_left the cached frame
        df = q01(spark, sf_dir).persist()
        df.count()
        return df

    reader = StatusReader(spark)
    best, layers = bench.measure(spark, fn, sf_dir, 2, reader)
    assert best > 0
    assert set(layers) == LAYER_KEYS
    assert layers["jobs"] >= 1
    assert 1 <= layers["fn_jobs"] <= layers["jobs"]
    assert 0 < layers["fn_s"] <= best
    assert layers["tasks"] >= layers["stages"] >= 1
    assert layers["rdds_left"] >= 1
    assert layers["plan_lines"] >= 1
    assert reader.persistent_rdds() == 0, "measure leaves the session clear"
