"""One Delta log walk (operators/delta_log.py, "THE LOG WALK"): every
reader of a `_delta_log/` — replay, TIMESTAMP AS OF, DESCRIBE HISTORY,
the change data feed, RESTORE, VACUUM and orphan reachability — folds
over the same commit walk, with one timestamp rule and one
deletion-vector path rule, and every writer commits under the log
lock.

- Orphans: after a checkpoint and a log clean, the live deletion
  vectors the checkpoint names stay reachable, so orphan removal keeps
  them and the table still reads.
- Timestamps: on a log whose raw commit timestamps disagree with their
  effective ones (an inCommitTimestamp, or skewed clocks), DESCRIBE
  HISTORY, TIMESTAMP AS OF and the change data feed agree.
- Restore race: a restore that lands while another restore holds the
  lock commits after it, never over it.
- Guard: only the walk lists commit files, reads `_last_checkpoint` or
  parses commit lines, and only `_dv_path` resolves a DV descriptor.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import threading

from pyspark.sql import functions as F

import hybrid_data_lakehouse_lab_spark
from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    clean_log_commits,
    export_delta_log,
    read_delta_changes,
    read_delta_table,
    replay_delta_log,
    restore_delta_table,
    version_at_timestamp,
    write_checkpoint,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_inspect import (
    delta_history_table,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
    find_orphan_files,
    remove_orphan_files,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_orphan_removal_keeps_dvs_the_checkpoint_names(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "orph"))
    # two files (ids 0-19 and 20-39); each delete touches one of them,
    # so the head state names both deletion-vector files
    full = spark.range(0, 40, 1, 2).selectExpr("id", "id * 2 AS v")
    first = "NOT (id < 20 AND id % 5 = 0)"
    t.write(full, committed_at_ms=1000)
    t.write(full.where(first), committed_at_ms=2000)
    t.write(full.where(f"{first} AND NOT (id >= 20 AND id % 7 = 0)"), committed_at_ms=3000)
    log = export_delta_log(t, mor_deletes=True, change_data=True)
    export_iceberg_metadata(t, format_version=2)
    dvs = [f for f in os.listdir(t.root) if f.startswith("deletion_vector_")]
    assert len(dvs) == 2
    write_checkpoint(log)
    clean_log_commits(log)
    assert find_orphan_files(t.root) == []
    remove_orphan_files(t.root, older_than_ms=2**62)
    assert _rows(read_delta_table(spark, t.root)) == _rows(t.read())


def _rewrite_commit_info(log: str, version: int, **fields) -> None:
    path = os.path.join(log, f"{version:020d}.json")
    with open(path) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    for a in actions:
        if "commitInfo" in a:
            a["commitInfo"].update(fields)
    with open(path, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)


def _three_versions(spark, root: str) -> SnapshotTable:
    t = SnapshotTable(spark, root)
    for i, n in enumerate((6, 9, 4)):
        t.write(
            spark.range(n).selectExpr("id", f"id * {i + 2} AS v"),
            committed_at_ms=1000 * (i + 1),
        )
    return t


def test_history_time_travel_and_cdf_share_one_timestamp(spark, tmp_path):
    skewed = _three_versions(spark, str(tmp_path / "ict"))
    log = export_delta_log(skewed)
    # the raw clock says 500, the commit's own timestamp says 2500
    _rewrite_commit_info(log, 1, timestamp=500, inCommitTimestamp=2500)
    decreasing = _three_versions(spark, str(tmp_path / "dec"))
    log = export_delta_log(decreasing)
    for v, ts in enumerate((3000, 2000, 1000)):
        _rewrite_commit_info(log, v, timestamp=ts)
    for t, want in ((skewed, [1000, 2500, 3000]), (decreasing, [3000, 3001, 3002])):
        log = os.path.join(t.root, "_delta_log")
        history = {
            r["version"]: r["timestamp_ms"]
            for r in delta_history_table(spark, t.root).collect()
        }
        assert [history[v] for v in range(3)] == want
        for v, ts in history.items():
            assert version_at_timestamp(log, ts) == v
        cdf = read_delta_changes(spark, t.root, 0).select(
            "_commit_version", F.unix_millis("_commit_timestamp").alias("ms")
        )
        assert {(r["_commit_version"], r["ms"]) for r in cdf.collect()} == set(
            history.items()
        )


def test_restore_racing_a_restore_commits_after_it(spark, tmp_path, monkeypatch):
    t = _three_versions(spark, str(tmp_path / "race"))
    log = export_delta_log(t)
    done: dict = {}
    thread = threading.Thread(
        target=lambda: done.update(other=restore_delta_table(log, 1))
    )
    real_exists = os.path.exists

    def exists(path):
        # restore checks its returning data files exist after reading
        # the head and before writing its commit: land the competing
        # restore there (with the lock it waits for this one instead)
        if str(path).endswith(".parquet") and not done:
            done["started"] = True
            thread.start()
            thread.join(timeout=2.0)
        return real_exists(path)

    monkeypatch.setattr(os.path, "exists", exists)
    mine = restore_delta_table(log, 0)
    monkeypatch.undo()
    thread.join(timeout=120)
    assert not thread.is_alive()
    assert {mine["version"], done["other"]["version"]} == {3, 4}
    assert replay_delta_log(log)["version"] == 4
    restored = []
    for v in (3, 4):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            info = json.loads(fh.readline())["commitInfo"]
        restored.append(info["operationParameters"]["version"])
    assert sorted(restored) == ["0", "1"]
    # the head is the later restore's target
    target = int(restored[-1])
    assert _rows(read_delta_table(spark, t.root)) == _rows(t.read(version=target + 1))


# -- guard -------------------------------------------------------------------

#: the walk: the only code that lists commit files, reads
#: `_last_checkpoint` or parses commit lines
WALK = "_DeltaLog."
#: the v2 checkpoint reader parses a checkpoint manifest's lines (a
#: checkpoint, not a commit)
CHECKPOINT_READER = "_read_checkpoint"


def _units(tree: ast.Module):
    """(qualified name, node) of every top-level function and method."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{sub.name}", sub


def _called(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            out.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    return out


def _iterates_file_lines(node: ast.AST) -> bool:
    """Does the function iterate the lines of a file it opened, parsing
    each as JSON (a `for` or comprehension over a `with open(...) as
    fh` handle, or `fh.readline()` / `fh.readlines()`)?"""
    handles = {
        item.optional_vars.id
        for n in ast.walk(node)
        if isinstance(n, ast.With)
        for item in n.items
        if isinstance(item.context_expr, ast.Call)
        and getattr(item.context_expr.func, "id", None) == "open"
        and isinstance(item.optional_vars, ast.Name)
    }
    if not handles or "loads" not in _called(node):
        return False
    for n in ast.walk(node):
        if isinstance(n, (ast.For, ast.comprehension)):
            if isinstance(n.iter, ast.Name) and n.iter.id in handles:
                return True
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("readline", "readlines")
            and getattr(n.func.value, "id", None) in handles
        ):
            return True
    return False


def test_only_the_walk_reads_the_log_format():
    # the library; the lanes under plans/ check the exported bytes
    # independently, the way tests do
    pkg = pathlib.Path(hybrid_data_lakehouse_lab_spark.__file__).parent / "operators"
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for name, node in _units(tree):
            where = f"{path.relative_to(pkg)}:{name}"
            called = _called(node)
            if not name.startswith(WALK):
                for f in ("_is_commit_file", "_load_last_checkpoint"):
                    if f in called:
                        bad.append(f"{where} calls {f}")
                if name != CHECKPOINT_READER and _iterates_file_lines(node):
                    bad.append(f"{where} parses file lines")
            if "dv_relative_path" in called and name != "_dv_path":
                bad.append(f"{where} resolves a DV path")
    assert bad == []
