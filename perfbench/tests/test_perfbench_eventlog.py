"""Event-log parsing, against a small log recorded from Spark 4.1 (one
broadcast hash join plus aggregate under a timed job group, trimmed to
the fields the parser reads) with one warm-up job appended.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from tracing import parse_event_log, read_event_log  # noqa: E402

LOG = HERE / "data" / "eventlog_small.jsonl"


def parse(**kwargs):
    with open(LOG) as f:
        return parse_event_log(f, **kwargs)


def test_sums_task_metrics_of_timed_jobs_only():
    got = parse()
    assert got["jobs"] == 3  # the warm-up job is not counted
    cpu_ns = 29836315 + 67247559 + 323532128 + 133277815 + 119963881
    assert got["executor_cpu_s"] == pytest.approx(cpu_ns / 1e9)
    assert got["executor_run_s"] == pytest.approx((86 + 97 + 434 + 441 + 124) / 1e3)
    assert got["shuffle_write_mb"] == pytest.approx(2 * 626 / 2**20)
    assert got["shuffle_read_mb"] == pytest.approx(1252 / 2**20)
    assert got["spill_mb"] == 0.0
    assert got["input_mb"] == 0.0


def test_broadcast_build_time_from_driver_accumulators():
    # "time to build" of the BroadcastExchange, a driver-side metric
    # updated through SparkListenerDriverAccumUpdates (ms)
    assert parse()["broadcast_build_s"] == pytest.approx(0.1)


def test_group_selection():
    assert parse(group_prefix="nothing|") == {"jobs": 0.0}
    other = parse(group_prefix="warmup|")
    assert other["jobs"] == 1
    assert other["executor_cpu_s"] == pytest.approx(4.0)
    assert other["spill_mb"] == pytest.approx(1.0)
    assert other["input_mb"] == pytest.approx(2.0)
    # a streaming query's run id is named explicitly
    extra = parse(group_prefix="nothing|", extra_groups=frozenset({"pb|0|x|a"}))
    assert extra["jobs"] == 3


def test_read_event_log_skips_hidden_files(tmp_path):
    (tmp_path / "local-1").write_text(LOG.read_text())
    (tmp_path / ".local-1.crc").write_text("not json")
    assert read_event_log(tmp_path)["jobs"] == 3
