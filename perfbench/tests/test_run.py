"""End-to-end metric arithmetic of the parent process."""

import pytest

from perfbench import run


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_but_at_least_p90():
    assert run.percentile_tail([float(v) for v in range(1, 201)]) == 190.0  # 10 beyond
    assert run.percentile_tail([float(v) for v in range(1, 21)]) == 18.0  # p90
    assert run.percentile_tail([3.0, 1.0, 2.0]) == 3.0
    assert run.percentile_tail([5.0]) == 5.0


def test_end_to_end_times_warm_passes_and_every_drop():
    def p(wall, fresh, written):
        return {"wall_s": wall, "freshness_s": fresh, "write_bytes": written}

    result = {
        "passes": [p(30.0, [4.0], 999), p(10.0, [1.0, 3.0], 200), p(12.0, [2.0], 400)],
        "input_rows": 1100,
        "input_bytes": 100,
        "peak_rss_mb": 512.0,
    }
    m = run.end_to_end(result, setup_s=7.5)
    assert m["setup_s"] == 7.5 and m["cold_s"] == 30.0
    assert m["warm_s"] == pytest.approx(11.0)
    assert m["rows_per_s"] == pytest.approx(100.0)
    assert m["freshness_p50_s"] == 2.5 and m["freshness_tail_s"] == 4.0
    assert m["write_amp"] == pytest.approx(3.0)
    assert set(m) == set(run.UNITS)
