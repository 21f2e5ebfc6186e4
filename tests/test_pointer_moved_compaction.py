"""A compaction that reaches the exported branch by a pointer move is a
data-changing commit (`mor_diff.MorBase.transition`).

A snapshot flagged `operation=compaction` changes no data only relative
to the snapshot it compacted (`compacted-from`). When the event before
it in the branch's pointer history is some other snapshot — a
write-audit-publish fast-forward to a branch that compacted — the
exporters must render it as an ordinary rewrite: Delta `WRITE` with
`dataChange: true`, Iceberg summary `overwrite`. Every exported version
must read back the rows of the snapshot its event names.
"""

from __future__ import annotations

import json
import os

import pytest

from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    export_delta_log,
    read_delta_table,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    load_table_metadata,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import compact_snapshot
from hybrid_data_lakehouse_lab_spark.operators.timetravel import (
    SnapshotTable,
    live_history,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _publish_after_main_moved(spark, t):
    """Load 6 rows, branch `b1`, compact `b1`, write 3 rows on main,
    fast-forward main to `b1`: main's history is v1, v3, v2, and v2's
    source v1 is not the event before it."""
    t.write(spark.range(6).selectExpr("id AS k"), committed_at_ms=1000)
    t.create_branch("b1", at_ms=2000)
    compact_snapshot(t, branch="b1", committed_at_ms=3000)
    t.write(spark.range(3).selectExpr("id AS k"), committed_at_ms=4000)
    t.fast_forward("main", "b1", at_ms=5000)


def _publish_branch_compaction(spark, t):
    """Main writes v1; `b1` writes v2 and compacts it to v3; main
    fast-forwards to `b1`: main's history is v1, v3, and v3's source v2
    is not the event before it."""
    t.write(spark.range(6).selectExpr("id AS k"), committed_at_ms=1000)
    t.create_branch("b1", at_ms=2000)
    t.write(spark.range(9).selectExpr("id AS k"), committed_at_ms=3000, branch="b1")
    compact_snapshot(t, branch="b1", committed_at_ms=4000)
    t.fast_forward("main", "b1", at_ms=5000)


@pytest.mark.parametrize(
    "history", [_publish_after_main_moved, _publish_branch_compaction]
)
def test_pointer_moved_compaction_exports_as_data_change(spark, tmp_path, history):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    history(spark, t)
    events = live_history(t._load_manifest(), "main")
    want = [_rows(t.read(version=e["version"])) for e in events]
    last = len(events) - 1
    props = {s.version: s.properties for s in t.snapshots()}[events[-1]["version"]]
    assert props["operation"] == "compaction"

    log_dir = export_delta_log(t, mor_deletes=True, change_data=True)
    with open(os.path.join(log_dir, f"{last:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh]
    info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    assert info["operation"] == "WRITE"
    files = [a.get("add") or a.get("remove") for a in actions]
    files = [f for f in files if f is not None]
    assert files and all(f["dataChange"] for f in files)
    for i in range(len(events)):
        assert _rows(read_delta_table(spark, t.root, version=i)) == want[i], i

    for fv in (2, 3):
        meta_dir = export_iceberg_metadata(t, format_version=fv)
        md = load_table_metadata(meta_dir)[1]
        assert md["snapshots"][-1]["summary"]["operation"] == "overwrite"
        for i in range(len(events)):
            got = read_iceberg_table(spark, t.root, snapshot_id=i + 1)
            assert _rows(got) == want[i], (fv, i)
