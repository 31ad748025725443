"""Driver-thread legs (session.run_legs)."""

from __future__ import annotations

import pytest

from logistics_data_pipeline_spark.session import run_legs


def test_leg_jobs_carry_the_callers_job_group(spark):
    """Jobs a leg starts on its driver thread are attributed to the
    caller's job group — a plain thread pool runs them on a fresh JVM
    thread with no group, so a per-key job probe misses them."""
    sc = spark.sparkContext
    group = "run-legs-pin"
    sc.setJobGroup(group, "run_legs attribution")
    try:
        tracker = sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(group))
        a, b = run_legs(
            lambda: spark.range(7).count(),
            lambda: spark.range(11).count(),
        )
    finally:
        sc.setJobGroup(None, None)
    assert (a, b) == (7, 11)
    # one job per count() at least, from each of the two legs
    assert len(set(tracker.getJobIdsForGroup(group)) - before) >= 2


def test_legs_return_in_order_and_reraise(spark):
    assert run_legs(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]

    def boom():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        run_legs(lambda: 1, boom)
