"""Summary statistics and metric definitions of the benchmark.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import metrics  # noqa: E402
from layers import END_TO_END, PER_LAYER  # noqa: E402


def test_tail_percentile_needs_twenty_samples():
    assert metrics.tail_percentile(19) is None
    assert metrics.tail_percentile(20) == 50.0
    assert metrics.op_tail([1.0] * 19) is None


@pytest.mark.parametrize(
    "n, expected",
    [(20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (30, 66.6)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = metrics.tail_percentile(n)
    assert p == expected
    tenths = round(p * 10)
    assert n * (1000 - tenths) >= 10 * 1000
    # the next step up would leave fewer than ten
    assert n * (1000 - tenths - 1) < 10 * 1000


def test_op_tail_reports_value_percentile_and_count():
    values = [float(i) for i in range(1, 101)]  # 1..100
    tail = metrics.op_tail(values)
    assert tail["percentile"] == 90.0
    assert tail["samples"] == 100
    assert tail["value"] == pytest.approx(90.1)  # numpy-style interpolation
    assert sum(v > tail["value"] for v in values) == 10


def test_percentile_matches_linear_interpolation():
    assert metrics.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert metrics.percentile([1.0, 2.0], 25) == 1.25
    assert metrics.percentile([5.0], 99) == 5.0


def test_geomean_weighs_each_op_once():
    samples = {"a": [1.0, 1.0, 1.0, 100.0], "b": [4.0]}
    # medians 1.0 and 4.0: the repeated op does not dominate
    assert metrics.geomean_of_medians(samples) == pytest.approx(2.0)
    assert metrics.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert math.isclose(metrics.geomean([3.0]), 3.0)


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        metrics.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        metrics.geomean([])


def test_benchmark_json_matches_metric_definitions():
    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (m["name"], m["unit"]) for m in END_TO_END
    ]
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
