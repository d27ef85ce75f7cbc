import pytest

from measure import median, percentile, process_age_s, supported_percentiles


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    assert percentile(list(range(1, 101)), 90) == 90


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        percentile([], 50)


def test_supported_percentiles_need_ten_beyond():
    assert supported_percentiles(16) == []
    assert supported_percentiles(20) == [50]
    assert supported_percentiles(99) == [50]
    assert supported_percentiles(100) == [50, 90]
    assert supported_percentiles(1000) == [50, 90, 99]


def test_process_age_is_positive():
    assert 0 < process_age_s() < 24 * 3600


def test_steal_share_from_tick_deltas():
    from measure import steal_share

    a = {"cpu_ticks": [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]}
    b = {"cpu_ticks": [160, 0, 20, 520, 0, 0, 0, 15, 0, 0]}
    assert steal_share(a, b) == 10 / 100
    assert steal_share(a, a) == 0.0


def test_tree_cpu_counts_this_process():
    from measure import tree_cpu_s

    before = tree_cpu_s()
    x = 0
    for i in range(2_000_000):
        x += i
    assert tree_cpu_s() > before
