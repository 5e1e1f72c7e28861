import math
import statistics

import pytest

from measure import error_rate, geomean, median, spread, summary, tail_percentile


def test_tail_needs_ten_samples_beyond():
    # 20 samples: the only percentile with >= 10 beyond is the median
    assert tail_percentile(list(range(20))) is None
    xs = list(range(1, 101))           # 1..100
    p, v = tail_percentile(xs)
    assert (p, v) == (90, 90)
    assert sum(1 for x in xs if x > v) == 10


@pytest.mark.parametrize("n", [21, 25, 30, 47, 64, 99, 100, 250])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    p, v = tail_percentile(xs)
    assert sum(1 for x in xs if x > v) >= 10
    # one whole percentile higher would leave fewer than ten beyond
    rank = math.ceil((p + 1) * n / 100)
    assert n - rank < 10
    assert p > 50


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0] * 10
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert geomean([0.1, 10.0]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_error_rate():
    assert error_rate(0, 7) == 0.0
    assert error_rate(3, 12) == 0.25
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(5, 4)


def test_spread_matches_statistics_quantiles():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / 5.5)


def test_summary_shape():
    assert summary([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    s = summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["median"] == 49.5 and s["p90"] == 89.0
    with pytest.raises(ValueError):
        median([])
