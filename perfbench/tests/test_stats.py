import statistics

import pytest

import stats
from procstat import ProcSampler, Sample


def test_median_and_percentile_match_numpy_linear_definition():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 90) == 7.0


def test_tail_percentile_needs_ten_samples_beyond():
    # 100 samples: p90 = 90.1, with exactly 10 samples above it
    xs = [float(i) for i in range(1, 101)]
    p = stats.tail_percentile(xs, 90)
    assert p == pytest.approx(90.1)
    assert stats.samples_beyond(xs, p) == 10
    # 50 samples leave only 5 beyond p90: not reported
    assert stats.tail_percentile(xs[:50], 90) is None
    assert stats.tail_percentile([], 90) is None
    # ties at the top do not count as beyond
    assert stats.tail_percentile([1.0] * 200, 90) is None


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 9.9, 11.5]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([4.0] * 10) == 0.0


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0
    assert stats.union_length([(3, 1)]) == 0.0  # empty interval


def test_self_time_subtracts_clipped_children_and_jobs():
    # span 0..10, child 1..3, job 2..5 overlapping the child, job 9..12
    # sticking out of the span: covered = 1..5 and 9..10
    assert stats.self_time(0, 10, [(1, 3), (2, 5), (9, 12)]) == pytest.approx(5.0)
    assert stats.self_time(0, 10, []) == pytest.approx(10.0)
    assert stats.self_time(0, 10, [(20, 30)]) == pytest.approx(10.0)


def test_sample_cpu_leaves_out_jit_compilation():
    s = Sample(driver_cpu_s=1.0, jvm_cpu_s=5.0, worker_cpu_s=2.0, rss_bytes=0, jit_cpu_s=1.5)
    assert s.cpu_s == pytest.approx(6.5)
    own = ProcSampler().sample()  # no JVM below this process
    assert own.jit_cpu_s == 0.0 and own.cpu_s >= own.driver_cpu_s > 0
