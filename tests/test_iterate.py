"""The iteration driver shared by the iterative operators
(operators/_iterate.py): convergence aggregates ride the checkpoint job,
an empty state stops the loop instead of hanging it, and superseded
passes release their checkpoint blocks."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.operators._iterate import (
    _iterate,
)


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def _persisted_ids(spark) -> set:
    # ID set, not size: other tests' checkpoint RDDs are collected by
    # the async ContextCleaner at arbitrary points
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _shrink(state, i, _seen):
    """Pass i keeps ids below 5 - i: pass 5 leaves nothing."""
    return state.filter(F.col("id") < 5 - i)


def test_convergence_aggregate_runs_no_count_job(spark):
    """Six passes that observe a row count run exactly the jobs of six
    passes that observe nothing: the count arrives from each pass's
    checkpoint job, never from a job of its own. The stop fires at the
    first pass whose aggregate reads 0, and ``seen`` hands each step the
    previous pass's figures."""
    start = spark.range(6)
    seen_log = []

    def step(state, i, seen):
        seen_log.append(seen)
        return _shrink(state, i, seen)

    before = _job_ids(spark)
    state, done = _iterate(
        start, step, 10, until=[F.count(F.lit(1)).alias("n")]
    )
    observed_jobs = len(_job_ids(spark) - before)
    assert done and state.count() == 0
    assert seen_log == [None] + [{"n": n} for n in (5, 4, 3, 2, 1)]

    before = _job_ids(spark)
    plain, done = _iterate(start, _shrink, 6)
    plain_jobs = len(_job_ids(spark) - before)
    assert not done and plain.count() == 0
    # one job per checkpoint (a range scan has no exchange): the start
    # state and six passes
    assert observed_jobs == plain_jobs == 7


def test_empty_start_stops_after_one_pass(spark):
    """A drained frontier must read 0, not block obs.get: the
    observation fires over an empty frame, including a join and an
    aggregate over an empty side."""
    other = spark.range(10)
    calls = []

    def step(state, i, _seen):
        calls.append(i)
        return state.join(other, "id").groupBy("id").count()

    state, done = _iterate(
        spark.createDataFrame([], "id long"),
        step,
        5,
        until=[F.count(F.lit(1)).alias("n"), F.min("id").alias("lo")],
    )
    assert done and calls == [0]
    assert state.collect() == []


def test_superseded_passes_release_their_blocks(spark):
    """Only the returned pass keeps checkpoint blocks; ``keep=True``
    keeps (and returns) every pass, the start state first."""
    base = _persisted_ids(spark)
    state, _ = _iterate(spark.range(6), _shrink, 4)
    assert len(_persisted_ids(spark) - base) == 1
    assert sorted(r.id for r in state.collect()) == [0, 1]

    base = _persisted_ids(spark)
    passes, _ = _iterate(spark.range(6), _shrink, 4, keep=True)
    assert len(_persisted_ids(spark) - base) == 5
    assert [p.count() for p in passes] == [6, 5, 4, 3, 2]
