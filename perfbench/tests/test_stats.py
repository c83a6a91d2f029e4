"""Arithmetic of the reported numbers: tail percentile, geomean and span
self time."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_tail_takes_the_rank_with_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100, shuffled order must not matter
    values.reverse()
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90, 90.0, 100)


def test_tail_with_eleven_samples_is_the_smallest():
    value, pct, n = stats.tail([float(v) for v in range(11, 0, -1)])
    assert (value, pct, n) == (1.0, 100.0 / 11, 11)


def test_tail_with_too_few_samples_falls_back_to_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        stats.tail([])


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([2.5]) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (1.5, 2.5)]) == 3.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_part_only():
    # parent 0..10; children overlap each other and one sticks out
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (2, 4)]) == 7
    assert stats.self_time(0, 10, [(8, 12), (-5, 1)]) == 7
    assert stats.self_time(0, 10, [(20, 30)]) == 10


def test_steal_share():
    before = dict.fromkeys(["user", "nice", "system", "idle", "iowait", "irq",
                            "softirq", "steal"], 0)
    after = dict(before, user=70, idle=20, steal=10)
    assert stats.steal_share(before, after) == pytest.approx(0.1)
    assert stats.steal_share({}, after) == 0.0


def test_proc_readers_on_this_process():
    assert stats.vm_hwm_mb() > 1.0
    assert stats.vm_hwm_mb(pid=2**31 - 1) == 0.0
    assert not math.isnan(stats.loadavg_1m())
