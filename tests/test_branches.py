"""SnapshotTable branches: zero-copy creation, isolated writes, the
write-audit-publish flow, and vacuum protection of branch heads."""

from __future__ import annotations

import pytest

from hybrid_data_lakehouse_lab_spark.operators.maintenance import vacuum_snapshots
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def _df(spark, n):
    return spark.range(n).toDF("id")


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 10), committed_at_ms=1_000)
    return t


def test_branch_write_is_invisible_to_main(spark, table):
    table.create_branch("audit")
    table.write(_df(spark, 25), branch="audit", committed_at_ms=2_000)
    assert table.read().count() == 10           # main unchanged
    assert table.read(branch="audit").count() == 25


def test_write_audit_publish(spark, table):
    table.create_branch("audit")
    table.write(_df(spark, 25), branch="audit", committed_at_ms=2_000)
    # audit step: validate the staged snapshot, then publish atomically
    assert table.read(branch="audit").count() == 25
    table.fast_forward("main", "audit")
    assert table.read().count() == 25
    table.drop_branch("audit")
    assert table.branch_head("audit") is None


def test_unknown_branch_write_refused(spark, table):
    with pytest.raises(ValueError, match="create_branch first"):
        table.write(_df(spark, 1), branch="typo")


def test_versions_stay_global_across_branches(spark, table):
    table.create_branch("dev")
    v_dev = table.write(_df(spark, 5), branch="dev", committed_at_ms=2_000).version
    v_main = table.write(_df(spark, 7), committed_at_ms=3_000).version
    assert v_main != v_dev  # no collision: versions allocated globally
    assert table.read(version=v_dev).count() == 5
    assert table.read().count() == 7


def test_vacuum_protects_branch_heads(spark, table):
    table.create_branch("pinned")  # points at v1 (committed_at 1000)
    table.write(_df(spark, 7), committed_at_ms=2_000)
    table.write(_df(spark, 8), committed_at_ms=3_000)
    expired = vacuum_snapshots(table, older_than_ms=5_000, keep_last=1)
    assert 1 not in expired  # v1 is a branch head — must survive
    assert table.read(branch="pinned").count() == 10
    assert 2 in expired  # the unreferenced middle version goes

def test_concurrent_write_aborts_not_clobbers(spark, table, before_manifest_lock):
    """Optimistic concurrency: a writer whose manifest read is stale
    must fail its commit, not silently drop the other writer's
    snapshot."""
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import (
        ConcurrentWriteError,
    )

    # writer B lands v2 after writer A allocated its own v2, before A's
    # commit takes the manifest lock
    before_manifest_lock(
        lambda: SnapshotTable(spark, table.root).write(
            _df(spark, 20), committed_at_ms=2_000
        )
    )
    with pytest.raises(ConcurrentWriteError, match="reload and retry"):
        table.write(_df(spark, 5), committed_at_ms=2_500)
    # B's snapshot survived
    assert table.read().count() == 20
