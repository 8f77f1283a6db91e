"""Unit tests for the benchmark's statistics and input generator (no Spark
needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import stats


def test_op_class_latency_weighs_every_op_the_same():
    # one slow op measured once beside a cheap op measured many times: the
    # pooled median would be the cheap op's latency alone
    samples = [("probe", 1.0)] * 9 + [("build", 16.0)]
    p50, tail = stats.op_class_latency(samples)
    assert p50 == pytest.approx(4.0)
    assert tail == pytest.approx(4.0)


def test_op_class_latency_tail_is_each_ops_slowest():
    samples = [("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 2.0), ("b", 8.0)]
    p50, tail = stats.op_class_latency(samples)
    assert p50 == pytest.approx(math.sqrt(2.0 * 5.0))
    assert tail == pytest.approx(math.sqrt(4.0 * 8.0))


def test_op_class_latency_needs_samples():
    with pytest.raises(ValueError):
        stats.op_class_latency([])


def test_drift_zero_for_identical_halves():
    samples = [(p, op, 1.0) for p in (3, 4, 5, 6) for op in ("a", "b")]
    assert stats.drift(samples) == 0.0


def test_drift_measures_second_half_against_first():
    samples = [(1, "a", 1.0), (1, "b", 3.0), (2, "a", 1.2), (2, "b", 3.6)]
    assert stats.drift(samples) == pytest.approx(0.2)


def test_drift_skips_middle_pass_and_unmatched_ops():
    samples = [
        (1, "a", 1.0), (1, "even_only", 50.0),
        (2, "a", 9.0),  # middle of three passes: left out
        (3, "a", 1.1), (3, "odd_only", 70.0),
    ]
    assert stats.drift(samples) == pytest.approx(0.1)


def test_drift_needs_two_passes():
    assert stats.drift([(1, "a", 1.0), (1, "b", 2.0)]) == 0.0


def test_spread_is_iqr_over_median():
    assert stats.spread([1.0] * 10) == 0.0
    assert stats.spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(
        (10.75 - 9.25) / 10.0
    )


def test_datagen_is_seeded(tmp_path):
    from perfbench import datagen

    tables = ("customer", "documents")
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.generate(str(tmp_path / name), seed, tables)
    read = lambda d, t: (tmp_path / d / f"{t}.parquet").read_bytes()  # noqa: E731
    for t in tables:
        assert read("a", t) == read("b", t)
        assert read("a", t) != read("c", t)
    # a table's bytes do not depend on which other tables were asked for
    datagen.generate(str(tmp_path / "d"), 7, ("documents",))
    assert read("d", "documents") == read("a", "documents")
