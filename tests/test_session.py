"""``session.run_concurrently``: bounded, error-preserving, and every
call runs in the caller's job group with local properties of its own."""

from __future__ import annotations

import json
import threading
import time

import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

from graal_cdc_spark.session import run_concurrently


def test_runs_at_most_default_parallelism_at_once(spark):
    bound = spark.sparkContext.defaultParallelism
    lock = threading.Lock()
    running, peak, threads = [0], [0], set()

    def fn(i):
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
            threads.add(threading.get_ident())
        time.sleep(0.1)
        with lock:
            running[0] -= 1
        return i * i

    items = range(12)
    assert run_concurrently(spark, fn, items) == [i * i for i in items]
    assert min(2, bound) <= peak[0] <= bound
    assert len(threads) <= bound
    assert run_concurrently(spark, fn, []) == []


def test_first_error_raised_after_every_item_finished(spark):
    lock = threading.Lock()
    finished = set()

    def fn(i):
        if i in (1, 3):
            raise ValueError(f"item {i}")
        time.sleep(0.2)
        with lock:
            finished.add(i)

    with pytest.raises(ValueError, match="item 1"):
        run_concurrently(spark, fn, range(6))
    # nothing is still running once the error reaches the caller
    assert finished == {0, 2, 4, 5}


def test_jobs_run_in_the_callers_job_group(spark):
    sc = spark.sparkContext
    group = "run-concurrently-test"
    sc.setJobGroup(group, "run_concurrently job-group propagation")
    try:
        run_concurrently(spark, lambda n: spark.range(n).collect(), [1, 2, 3])
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_each_call_keeps_its_own_sql_execution_properties(spark):
    # Spark SQL sets the execution id and the session's spark.* confs in
    # the running thread's local properties for every action and
    # restores them after it. Two concurrent multi-job actions (an AQE
    # map-stage job, then the result job) must each see only their own.
    @F.udf("string")
    def props(item):
        tc = TaskContext.get()
        time.sleep(0.3)  # keep both items' actions in flight together
        return json.dumps([
            item,
            tc.getLocalProperty("spark.sql.execution.id"),
            tc.getLocalProperty("spark.sql.session.timeZone"),
        ])

    def fn(item):
        rows = (
            spark.range(0, 2, 1, 2)
            .select(props(F.lit(item)).alias("map_side"))
            .groupBy("map_side").count()
            .select("map_side", props(F.lit(item)).alias("result_side"))
            .collect()
        )
        return {json.dumps(json.loads(v)) for r in rows for v in r}

    seen = run_concurrently(spark, fn, ["a", "b"])
    execution_ids = []
    for item, props_seen in zip(["a", "b"], seen):
        decoded = [json.loads(p) for p in props_seen]
        assert {p[0] for p in decoded} == {item}
        # both of the item's jobs ran under one execution id, with the
        # session's time zone propagated
        assert len({p[1] for p in decoded}) == 1, decoded
        assert decoded[0][1] is not None
        assert {p[2] for p in decoded} == {"UTC"}, decoded
        execution_ids.append(decoded[0][1])
    assert execution_ids[0] != execution_ids[1]
