"""Self-tests for the benchmark's reductions.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(99)), 90) is None  # rank 90 of 99: 9 beyond
    assert stats.percentile([float(i) for i in range(100)], 90) == 89.0  # 10 beyond
    assert stats.percentile([1.0] * 20, 50) == 1.0
    assert stats.percentile([1.0] * 19, 50) is None
    assert stats.percentile([], 50) is None
    assert stats.percentile([3.0, 1.0, 2.0] + [9.0] * 10, 1) == 1.0


def test_percentile_is_order_free():
    vals = [float((i * 37) % 101) for i in range(101)]
    assert stats.percentile(vals, 50) == stats.percentile(sorted(vals), 50) == 50.0


def test_failed_frac_counts_every_attempt():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_bytes_written_sums_every_kind_of_write():
    written = {"staged": 300, "output": 500, "compaction": 150, "metadata": 50}
    assert stats.bytes_written_per_input_byte(written, 1000) == 1.0
    assert stats.bytes_written_per_input_byte({}, 10) == 0.0
    with pytest.raises(ValueError):
        stats.bytes_written_per_input_byte({"x": 1}, 0)
    with pytest.raises(ValueError):
        stats.bytes_written_per_input_byte({"x": -1}, 10)


def test_self_time_subtracts_covered_child_interval():
    parent = {"start": 0.0, "end": 10.0}
    assert stats.self_time(parent, []) == 10.0
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0}]  # overlap counted once
    assert stats.self_time(parent, kids) == 6.0
    # a child running past its parent only covers the parent's part
    assert stats.self_time(parent, [{"start": 8.0, "end": 12.0}]) == 8.0
    assert stats.self_time(parent, [{"start": 0.0, "end": 10.0}]) == 0.0


def test_parse_spark_metric_values():
    import spans

    assert spans.parse_metric("60,000") == 60000.0
    assert spans.parse_metric("1018.0 KiB") == 1018.0 * 1024
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)") \
        == 2.0 * (1 << 20)
    with pytest.raises(ValueError):
        spans.parse_metric("n/a")


class _Dag:
    def __init__(self):
        self.jobs = self.stages = 0

    def nextJobId(self):
        return self.jobs

    def nextStageId(self):
        return self.stages


def test_wrapper_rebinds_every_name_and_reports_unfired():
    import types

    import spans

    lib = types.ModuleType(spans.PACKAGE + "._lib")
    user = types.ModuleType(spans.PACKAGE + "._user")
    lib.f = lambda x: x + 1
    lib.g = lambda: None
    user.f = lib.f  # bound by `from lib import f` before patching
    frozen = lib.f  # captured where no module attribute reaches it
    sys.modules[lib.__name__], sys.modules[user.__name__] = lib, user
    try:
        t = spans.Tracer()
        t._dag = _Dag()
        t.wrap(lib, "f", "lib.f")
        t.wrap(lib, "g", "lib.g")
        t.enabled = True
        t._dag.stages = 3
        assert user.f(1) == 2 and lib.f(2) == 3 and frozen(0) == 1
        assert t.fired == {"lib.f": 2, "lib.g": 0}
        assert t.unfired() == ["lib.g"]
        assert [s["stage0"] for s in t.spans] == [3, 3]
        t.unwrap()
        assert user.f is frozen and lib.f is frozen
    finally:
        del sys.modules[lib.__name__], sys.modules[user.__name__]
