import pytest

from perfbench.stats import beyond, latency_summary, percentile, tail_percentile


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 95) == pytest.approx(3.85)
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [
        (1000, 99.0),  # 10 samples beyond p99
        (999, 95.0),  # 9.99 beyond p99: not enough
        (200, 95.0),  # exactly 10 beyond p95
        (199, 90.0),
        (100, 90.0),
        (40, 75.0),
        (20, 50.0),
        (19, None),  # not even the median has 10 beyond it
    ],
)
def test_tail_percentile_picks_highest_with_ten_beyond(n, want):
    values = list(range(n))
    p, v, count = tail_percentile(values)
    assert count == n
    assert p == want
    if want is None:
        assert v is None
    else:
        assert beyond(n, p) >= 10
        assert v == percentile(values, p)


def test_latency_summary_reports_count_and_qualified_tail():
    s = latency_summary([0.001 * i for i in range(1, 201)])
    assert s["n"] == 200
    assert s["p95_qualifies"] is True
    assert s["tail_p"] == 95.0
    assert s["p50_ms"] == pytest.approx(100.5)
    short = latency_summary([0.01] * 50)
    assert short["p95_qualifies"] is False and short["tail_p"] == 75.0
    assert latency_summary([]) == {"n": 0}
