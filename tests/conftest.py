from __future__ import annotations

import contextlib
import sys
import uuid
from dataclasses import dataclass

import pytest

sys.path.insert(0, "/root/repo")

from hybrid_data_lakehouse_lab_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark("pytest", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@dataclass
class JobCensus:
    jobs: int | None = None


@pytest.fixture(scope="session")
def job_census(spark):
    """`with job_census() as c: ...` sets `c.jobs` to the number of
    Spark jobs the block ran: the block's jobs run under a fresh job
    group, and once the listener bus has drained, Spark's status
    tracker lists the group's jobs. The previous group is restored."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def census():
        group = f"census-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        c = JobCensus()
        try:
            yield c
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            c.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", None)

    return census


@pytest.fixture()
def before_manifest_lock(monkeypatch):
    """`before_manifest_lock(fn)` runs `fn()` once, just before the next
    `SnapshotTable` manifest mutation takes its lock: the way to land a
    competing commit between a mutation's start and its swap. `fn` runs
    before the lock is taken, never while it is held: flock locks per
    open file description, so a nested commit under the lock in the
    same process would block forever. Other locks taken through
    `util.locked` (an Iceberg tree's commit lock) do not trigger it."""
    from hybrid_data_lakehouse_lab_spark.operators import util

    real = util.fcntl.flock
    pending: list = []

    def flock(fh, op):
        if pending and fh.name.endswith(".manifest.lock"):
            pending.pop()()
        return real(fh, op)

    monkeypatch.setattr(util.fcntl, "flock", flock)
    return pending.append
