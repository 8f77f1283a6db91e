"""The event-log parser on a small recorded log.

The log (data/eventlog_small.jsonl, trimmed to the fields the parser reads)
was recorded from five jobs: op A ran a two-job aggregation under job group
``perfbench:opA:0``; op B set group ``perfbench:opB:0``, ran two jobs from a
driver thread (which carry no group) and one no-op write.
"""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def folded():
    return eventlog.parse(LOG, [("opA", 0, 2), ("opB", 2, 5)])


def test_jobs_attributed_by_id_range_including_groupless_threads(folded):
    assert folded["opA"]["jobs"] == 2
    assert folded["opB"]["jobs"] == 3
    assert folded["opA"]["groups"] == {"perfbench:opA:0"}
    assert folded["opB"]["groups"] == {"perfbench:opB:0"}


def test_tasks_and_stages(folded):
    assert (folded["opA"]["tasks"], folded["opA"]["stages"]) == (5, 2)
    assert (folded["opB"]["tasks"], folded["opB"]["stages"]) == (5, 3)


def test_task_metrics(folded):
    a = folded["opA"]
    assert a["run_s"] == pytest.approx(0.941)
    assert a["deser_s"] == pytest.approx(0.225)
    assert a["gc_s"] == pytest.approx(0.044)
    assert a["cpu_s"] == pytest.approx(0.458897439)
    assert a["records_read"] == 1000
    assert a["shuffle_write_bytes"] == a["shuffle_read_bytes"] == 745
    assert a["spill_bytes"] == 0
    assert 0 <= a["sched_delay_s"] < a["run_s"]


def test_skew_is_max_over_median_run_time(folded):
    # op A's first stage ran tasks of 372, 376, 16 and 51 ms
    assert folded["opA"]["skew"] == pytest.approx(376 / ((51 + 372) / 2))


def test_jobs_outside_every_range_are_ignored():
    only_a = eventlog.parse(LOG, [("opA", 0, 2)])
    assert set(only_a) == {"opA"}
    assert only_a["opA"]["tasks"] == 5
