"""Concurrent Spark actions: the run_concurrently helper and the report
sinks that use it."""

import threading
import time

import pytest
from py4j.protocol import Py4JJavaError

from sgb_data_validator_spark.plans.pipeline import (
    TranscriptTables,
    materialize,
    run_concurrently,
    validate,
)
from sgb_data_validator_spark.sources import sinks
from sgb_data_validator_spark.sources.generator import FixtureConfig, generate_turns


def test_results_come_back_in_argument_order(spark):
    # the first thunk finishes last, so completion order is reversed
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    assert run_concurrently(after(0.3, "a"), after(0.1, "b"), after(0.0, "c")) == ["a", "b", "c"]


def test_thunks_run_side_by_side(spark):
    barrier = threading.Barrier(3, timeout=10)
    # each thunk waits for the other two, so the barrier times out and
    # raises unless all three run at once
    assert sorted(run_concurrently(barrier.wait, barrier.wait, barrier.wait)) == [0, 1, 2]


def test_first_failure_reraises_after_all_thunks_finish(spark):
    done = []

    def fails(msg):
        def thunk():
            raise ValueError(msg)

        return thunk

    def slow():
        time.sleep(0.2)
        done.append("slow")

    with pytest.raises(ValueError, match="first"):
        run_concurrently(slow, fails("first"), fails("second"))
    assert done == ["slow"]


def test_thunks_see_the_callers_job_description(spark):
    sc = spark.sparkContext
    sc.setJobDescription("concurrent-probe")
    try:
        descs = run_concurrently(
            *[lambda: sc.getLocalProperty("spark.job.description")] * 3
        )
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert descs == ["concurrent-probe"] * 3


def test_thunks_keep_their_own_job_descriptions(spark):
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=10)

    def labelled(desc):
        def thunk():
            sc.setJobDescription(desc)
            barrier.wait()  # both have set theirs before either reads
            return sc.getLocalProperty("spark.job.description")

        return thunk

    assert run_concurrently(labelled("a"), labelled("b")) == ["a", "b"]


def test_write_all_raises_when_one_sink_cannot_write(spark, tmp_path):
    turns = generate_turns(spark, FixtureConfig(n_turns=300))
    result = materialize(validate(TranscriptTables(turns=turns)), turns)
    base = str(tmp_path)
    # a regular file where the verdicts sink needs a directory
    (tmp_path / "verdicts").write_text("not a directory")
    with pytest.raises(Py4JJavaError):
        sinks.write_all(result, base)
    # the failure did not stop the other sinks
    assert spark.read.parquet(f"{base}/violations").count() > 0
