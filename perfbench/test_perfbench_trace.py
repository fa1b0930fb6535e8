"""The traced run's wall partition and its reconciliation check. No Spark
needed."""

import pytest

from perfbench.spark_stats import union_length, wall_partition
from perfbench.workloads import RECONCILE_TOL, harrell_davis, reconciled


def test_union_length_counts_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_wall_partition_gives_each_moment_to_the_first_layer():
    parts = wall_partition(10.0, 20.0, [
        ("plan", [(9.0, 12.0)]),               # clipped to the wall
        ("tasks", [(11.0, 15.0), (14.0, 16.0)]),
        ("driver", [(10.0, 17.0)]),
        ("runner", [])])
    assert parts == pytest.approx({
        "plan": 2.0, "tasks": 4.0, "driver": 1.0, "runner": 0.0,
        "wall.unattributed_s": 3.0})
    assert sum(parts.values()) == pytest.approx(10.0)


def _row(unattributed, core, other):
    return {"trace.unattributed_share": unattributed, "tasks.core_s": core,
            "tasks.other_s": other}


def test_reconciled():
    assert reconciled(_row(0.05, 4.0, 1.0))
    assert reconciled(_row(RECONCILE_TOL, 4.0, 0.0))
    # too much of the wall in no layer
    assert not reconciled(_row(RECONCILE_TOL + 0.01, 4.0, 1.0))
    # task self times that add up to more than the task time
    assert not reconciled(_row(0.05, 4.0, -RECONCILE_TOL * 4.0 - 0.1))


def test_harrell_davis_quantiles():
    assert harrell_davis([2.0] * 7, 0.9) == pytest.approx(2.0)
    # symmetric samples: the median estimate is the middle
    assert harrell_davis([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    # many samples: close to the interpolated quantile
    xs = [i / 1000 for i in range(1001)]
    assert harrell_davis(xs, 0.9) == pytest.approx(0.9, abs=1e-3)
    # a weighted mean of the order statistics, so within their range and
    # pulled towards the top for a high quantile
    v = harrell_davis([1.0, 1.1, 1.2, 3.0], 0.9)
    assert 1.2 < v < 3.0
