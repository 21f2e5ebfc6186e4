"""Event-log folding and span bookkeeping, over a tiny canned log.

Run with: python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import UNGROUPED, read_events, summarize, union_ms  # noqa: E402
import spans  # noqa: E402
from spans import Tracer  # noqa: E402

LOG = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
GROUP = "cdc_cycles/pipeline.process_batch"
RUN_ID = "0f2c9a1e-5b7d-4c1e-9a53-2d8e6f1b7c40"


@pytest.fixture()
def groups():
    return summarize(read_events(LOG), {RUN_ID: "cdc_cycles/lanes.bronze"})


def test_union_of_intervals():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (20, 30)]) == 20  # disjoint
    assert union_ms([(0, 10), (5, 15)]) == 15  # overlapping
    assert union_ms([(0, 30), (5, 10)]) == 30  # nested
    assert union_ms([(10, 20), (0, 10)]) == 20  # touching, unsorted


def test_jobs_fold_by_group(groups):
    g = groups[GROUP]
    # jobs 0, 1 and the never-finished job 4
    assert g.jobs == 3
    assert g.tasks == 4  # stages 0, 1 and 2 belong to the group's jobs
    assert g.shuffle_write_bytes == 2 * 1048576
    assert g.spill_bytes == 4096


def test_overlapping_jobs_count_once_in_job_s(groups):
    # job 0 runs 1000-2000, job 1 1500-2500; job 4 never ended
    assert groups[GROUP].job_s == pytest.approx(1.5)


def test_stream_jobs_follow_run_id(groups):
    g = groups["cdc_cycles/lanes.bronze"]
    assert (g.jobs, g.tasks, g.job_s) == (1, 2, pytest.approx(0.4))
    assert RUN_ID not in groups


def test_ungrouped_jobs_are_kept_apart(groups):
    g = groups[UNGROUPED]
    assert (g.jobs, g.tasks, g.job_s) == (1, 1, pytest.approx(0.1))


def test_without_run_map_stream_keeps_run_id():
    assert summarize(read_events(LOG))[RUN_ID].jobs == 1


class FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}
        self.groups: list[str] = []

    def getLocalProperty(self, key):  # noqa: N802 (Spark's name)
        return self.props.get(key)

    def setLocalProperty(self, key, value):  # noqa: N802
        self.props[key] = value

    def setJobGroup(self, group, description):  # noqa: N802
        self.props["spark.jobGroup.id"] = group
        self.groups.append(group)


class FakeSession:
    def __init__(self):
        self.sparkContext = FakeContext()


def _tracer() -> tuple[Tracer, FakeContext]:
    tr = Tracer("wl", enabled=True)
    spark = FakeSession()
    tr.bind(spark)
    tr.start_timed()
    return tr, spark.sparkContext


def test_nested_spans_split_self_time_and_restore_group(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 10.0])
    monkeypatch.setattr(spans, "time", SimpleNamespace(perf_counter=lambda: next(clock)))
    tr, sc = _tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == "wl/inner"
        assert sc.props["spark.jobGroup.id"] == "wl/outer"
    assert sc.props["spark.jobGroup.id"] is None
    assert tr.spans["inner"].self_s == pytest.approx(2.0)
    assert tr.spans["outer"].wall_s == pytest.approx(10.0)
    assert tr.spans["outer"].self_s == pytest.approx(8.0)


def test_reentered_span_counts_one_call():
    tr, _ = _tracer()
    with tr.span("timetravel.read"):
        with tr.span("timetravel.read"):
            pass
    assert tr.spans["timetravel.read"].calls == 1


def test_patch_wraps_until_unpatched():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    tr, sc = _tracer()
    seen = []
    tr.patch(Owner, "work", "layer.work", on_result=lambda r, x: seen.append((r, x)))
    assert Owner.work(1) == 2
    assert sc.groups == ["wl/layer.work"] and seen == [(2, 1)]
    tr.unpatch()
    assert Owner.work(1) == 2 and tr.spans["layer.work"].calls == 1


def test_disabled_tracer_patches_nothing():
    class Owner:
        @staticmethod
        def work():
            return 1

    original = Owner.work
    tr = Tracer("wl", enabled=False)
    tr.patch(Owner, "work", "layer.work")
    with tr.span("anything"):
        pass
    assert Owner.work is original and tr.spans == {}
