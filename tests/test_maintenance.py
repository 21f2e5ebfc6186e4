"""Maintenance jobs: compaction preserves data and bounds file counts;
vacuum expires old snapshots but never the current/protected ones."""

from __future__ import annotations

import glob
import os

from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
    compact_partition_dir,
    vacuum_snapshots,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def test_compaction_bounds_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "bronze")
    # simulate many micro-batch appends → many small files per partition
    for batch in range(8):
        (
            spark.range(batch * 100, batch * 100 + 100)
            .selectExpr("id", "CAST(id % 2 AS STRING) AS dt")
            .repartition(4)
            .write.mode("append")
            .partitionBy("dt")
            .parquet(path)
        )
    before = spark.read.parquet(path).orderBy("id").collect()
    files_before = len(glob.glob(f"{path}/dt=*/*.parquet"))
    assert files_before >= 32  # genuinely fragmented

    result = compact_partition_dir(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert set(result) == {"0", "1"} and all(n == 1 for n in result.values())
    files_after = len(glob.glob(f"{path}/dt=*/*.parquet"))
    assert files_after == 2
    assert spark.read.parquet(path).orderBy("id").collect() == before


def test_compaction_leaves_compact_partitions_alone(spark, tmp_path, job_census):
    """A second call on a compacted dir rewrites nothing: every
    partition is at its target file count already."""
    path = str(tmp_path / "bronze")
    for batch in range(3):
        (
            spark.range(batch * 100, batch * 100 + 100)
            .selectExpr("id", "CAST(id % 2 AS STRING) AS dt")
            .repartition(3)
            .write.mode("append")
            .partitionBy("dt")
            .parquet(path)
        )
    assert set(compact_partition_dir(spark, path)) == {"0", "1"}

    def stats():
        return {
            p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
            for p in glob.glob(f"{path}/**", recursive=True)
        }

    before = stats()
    with job_census() as c:
        assert compact_partition_dir(spark, path) == {}
    assert c.jobs == 0
    assert stats() == before


def test_vacuum_expires_only_unprotected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    paths = []
    for v in range(1, 5):
        info = t.write(spark.range(v).toDF("id"), committed_at_ms=v * 1000)
        paths.append(info.path)

    # expire everything committed before t=3500; current (v4) is protected
    expired = vacuum_snapshots(t, older_than_ms=3500, keep_last=1)
    assert expired == [1, 2, 3]
    for p in paths[:3]:
        assert not os.path.exists(p)
    assert [s.version for s in t.snapshots()] == [4]
    assert t.read().count() == 4
    # expired version reads fail loudly, never silently return stale data
    import pytest

    with pytest.raises(ValueError):
        t.read(version=1)

    # keep_last=2 would have protected v3: verify on a fresh table
    t2 = SnapshotTable(spark, str(tmp_path / "tbl_keep2"))
    for v in range(1, 5):
        t2.write(spark.range(v).toDF("id"), committed_at_ms=v * 1000)
    assert vacuum_snapshots(t2, older_than_ms=3500, keep_last=2) == [1, 2]
    assert [s.version for s in t2.snapshots()] == [3, 4]


def test_vacuum_keeps_everything_when_young(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl2"))
    for v in range(1, 4):
        t.write(spark.range(v).toDF("id"), committed_at_ms=v * 1000)
    assert vacuum_snapshots(t, older_than_ms=500) == []
    assert [s.version for s in t.snapshots()] == [1, 2, 3]


def test_vacuum_keeps_every_branch_pointer_history(spark, tmp_path):
    """A vacuum rewrites the manifest with every branch's pointer
    history: an as-of read on a branch still resolves after it, and one
    that resolves to an expired version raises naming that version."""
    import pytest

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    for v in range(1, 4):
        t.write(spark.range(v).toDF("id"), committed_at_ms=v * 1000)
    t.create_branch("old", at_ms=3500)
    assert vacuum_snapshots(t, older_than_ms=1500, keep_last=2) == [1]
    assert t.read(as_of_ms=3600, branch="old").count() == 3  # v3
    assert t.read(as_of_ms=2500).count() == 2  # v2, main's history
    with pytest.raises(ValueError, match="version 1 not found"):
        t.read(as_of_ms=1200)
