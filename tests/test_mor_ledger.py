"""The change-set ledger (`operators/mor_diff.py`, `MorBase`): each
merge-on-read transition is diffed, and each delete's deletion vectors
folded, once per table root, whichever exporter asks first. Later
exports of any dialect on that root read the entry back from
`_mor_ledger/`, and only an entry that still matches the base state and
its own recorded counts is used.

The histories have the `mor_interop` shape: load, delete, append.
Counters wrap the position-delete diff, the append diff and the DV
encoder. A torn or stale entry must be recomputed, and the export it
feeds must equal a fresh root's. A crash in the middle of a deletion
vector file leaves every committed version readable."""

from __future__ import annotations

import builtins
import json
import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq
import pytest

from hybrid_data_lakehouse_lab_spark.operators import dv_kernel, mor_diff
from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    export_delta_log,
    read_delta_table,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
    remove_orphan_files,
    vacuum_snapshots,
)
from hybrid_data_lakehouse_lab_spark.operators.mor_diff import LEDGER_DIR
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

_G = "CAST(id % 3 AS STRING) AS g"


def _history(spark, root):
    """load(300) -> delete (every fifth id, in all three files) ->
    append(30)."""
    t = SnapshotTable(spark, root)
    df = spark.range(300).selectExpr("id", _G)
    t.write(df.repartition(3), committed_at_ms=1000)
    live = df.filter("id % 5 != 0")
    t.write(live.repartition(3), committed_at_ms=2000)
    more = spark.range(300, 330).selectExpr("id", _G)
    t.write(live.unionByName(more).repartition(3), committed_at_ms=3000)
    return t


def _export_all(t):
    """The benchmark's order on one root: Delta DV+CDF, Iceberg v2, v3."""
    export_delta_log(t, mor_deletes=True, change_data=True)
    export_iceberg_metadata(t, format_version=2)
    export_iceberg_metadata(t, format_version=3)


@pytest.fixture()
def calls(monkeypatch):
    """Counts of the delete diffs, append diffs and DV folds run."""
    counts = Counter()
    for mod, name in (
        (mor_diff, "_position_delete_diff"),
        (mor_diff, "_append_diff"),
        (dv_kernel, "dv_blobs_by_file"),
    ):

        def counted(*a, _fn=getattr(mod, name), _name=name, **k):
            counts[_name] += 1
            return _fn(*a, **k)

        monkeypatch.setattr(mod, name, counted)
    return counts


def _runs(calls):
    return (
        calls["_position_delete_diff"],
        calls["_append_diff"],
        calls["dv_blobs_by_file"],
    )


def _rows(df):
    return sorted((r["id"], r["g"]) for r in df.select("id", "g").collect())


def _check_reads(spark, t):
    versions = [e["version"] for e in t._load_manifest()["history"]["main"]]
    for i, v in enumerate(versions):
        want = _rows(t.read(version=v))
        assert _rows(read_delta_table(spark, t.root, version=i)) == want, ("delta", v)
        got = _rows(read_iceberg_table(spark, t.root, snapshot_id=i + 1))
        assert got == want, ("iceberg", v)


def _tree(root, ledger=False):
    """{relative path: content} of every file under `root` outside the
    ledger dir (with `ledger`, of the ledger dir's files only). Parquet
    files compare by schema and sorted rows."""
    out = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        if (rel_dir.split(os.sep)[0] == LEDGER_DIR) != ledger:
            continue
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root)
            if fn.endswith(".parquet"):
                tbl = pq.read_table(full)
                out[rel] = (str(tbl.schema), sorted(map(repr, tbl.to_pylist())))
            else:
                with open(full, "rb") as fh:
                    out[rel] = fh.read()
    return out


def _entries(root):
    """{kind: (entry path without `.json`, document)} of the ledger."""
    ledger = os.path.join(root, LEDGER_DIR)
    out = {}
    for n in os.listdir(ledger):
        if n.endswith(".json"):
            with open(os.path.join(ledger, n)) as fh:
                doc = json.load(fh)
            out[doc["kind"]] = (os.path.join(ledger, n[: -len(".json")]), doc)
    return out


def test_each_transition_is_diffed_once(spark, tmp_path, calls):
    t = _history(spark, str(tmp_path / "t"))
    _export_all(t)
    assert _runs(calls) == (1, 1, 1)
    _check_reads(spark, t)
    entries = _entries(t.root)
    assert sorted(entries) == ["append", "delete"]
    # the delete touches every file of the load
    base = os.path.abspath(t.snapshots()[0].path)
    assert set(entries["delete"][1]["dv"]) == {
        os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet")
    }
    ledger = _tree(t.root, ledger=True)

    calls.clear()
    _export_all(t)
    assert _runs(calls) == (0, 0, 0)
    _check_reads(spark, t)
    assert _tree(t.root, ledger=True) == ledger

    calls.clear()
    more = t.spark.range(400, 420).selectExpr("id", _G)
    t.write(t.read().unionByName(more).repartition(3), committed_at_ms=4000)
    _export_all(t)
    # Delta exports the new append as a rewrite; Iceberg v2 diffs it
    # and v3 reads that entry
    assert _runs(calls) == (0, 1, 0)
    _check_reads(spark, t)


def _resized(t, tmp_path):
    """(source, target): a copy of one data file of the delete's child
    snapshot, same rows, written uncompressed — same name, another
    size."""
    child = t.snapshots()[1].path
    name = sorted(f for f in os.listdir(child) if f.endswith(".parquet"))[0]
    src = str(tmp_path / "resized.parquet")
    pq.write_table(pq.read_table(os.path.join(child, name)), src, compression="none")
    assert os.path.getsize(src) != os.path.getsize(os.path.join(child, name))
    return src, os.path.join(child, name)


def _replace(src, dst):
    """Put `src` at `dst` as another writer would: the Hadoop checksum
    file Spark wrote beside `dst` goes with it."""
    shutil.copy2(src, dst)
    head, name = os.path.split(dst)
    os.remove(os.path.join(head, f".{name}.crc"))


@pytest.mark.parametrize(
    "tamper",
    ["truncated-json", "missing-positions", "count-mismatch", "child-resized"],
)
def test_torn_or_stale_entry_is_recomputed(spark, tmp_path, calls, tamper):
    root = str(tmp_path / "t")
    t = _history(spark, root)
    pristine = str(tmp_path / "pristine")
    shutil.copytree(root, pristine)
    resized = _resized(t, tmp_path)
    _export_all(t)
    path, doc = _entries(root)["delete"]
    if tamper == "truncated-json":
        with open(path + ".json") as fh:
            text = fh.read()
        with open(path + ".json", "w") as fh:
            fh.write(text[: len(text) // 2])
    elif tamper == "missing-positions":
        shutil.rmtree(path)
    elif tamper == "count-mismatch":
        part = os.path.join(path, sorted(os.listdir(path))[0])
        pq.write_table(pq.read_table(part).slice(1), part)
    else:
        _replace(*resized)

    calls.clear()
    _export_all(t)
    # the delete is diffed and folded again; after a data change the
    # append's base state (its chain) changed with it
    assert _runs(calls) == ((1, 1, 1) if tamper == "child-resized" else (1, 0, 1))
    _check_reads(spark, t)
    got, got_ledger = _tree(root), _tree(root, ledger=True)

    shutil.rmtree(root)
    shutil.copytree(pristine, root)
    if tamper == "child-resized":
        _replace(*resized)
    _export_all(SnapshotTable(spark, root))
    assert got == _tree(root)
    # the recomputed entries equal a fresh root's; an entry for the old
    # child file stays until its snapshot is gone
    fresh_ledger = _tree(root, ledger=True)
    assert {k: got_ledger.get(k) for k in fresh_ledger} == fresh_ledger


class _Torn:
    """A file handle that raises on the write after its first `n`."""

    def __init__(self, fh, n):
        self.fh, self.n = fh, n

    def write(self, data):
        self.n -= 1
        if self.n < 0:
            raise OSError("injected crash")
        return self.fh.write(data)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.fh.close()

    def __getattr__(self, name):
        return getattr(self.fh, name)


@pytest.mark.parametrize("dialect", ["delta", "iceberg_v3"])
def test_crash_after_first_blob_keeps_every_version_readable(
    spark, tmp_path, monkeypatch, dialect
):
    """A re-export of an unchanged history raises right after the first
    deletion vector of a three-blob file. Every version still reads as
    before the re-export, and a re-run converges."""
    t = _history(spark, str(tmp_path / "t"))
    if dialect == "delta":
        suffix, n = ".bin", 4  # version byte, then size + blob + crc

        def export():
            export_delta_log(t, mor_deletes=True, change_data=True)

        def read(i):
            return _rows(read_delta_table(spark, t.root, version=i))
    else:
        suffix, n = ".puffin", 2  # magic, then the first blob

        def export():
            export_iceberg_metadata(t, format_version=3)

        def read(i):
            return _rows(read_iceberg_table(spark, t.root, snapshot_id=i + 1))

    export()
    want = [read(i) for i in range(3)]
    real_open = builtins.open

    def torn_open(file, mode="r", *a, **k):
        fh = real_open(file, mode, *a, **k)
        if "w" in mode and str(file).endswith((suffix, suffix + ".tmp")):
            return _Torn(fh, n)
        return fh

    monkeypatch.setattr(builtins, "open", torn_open)
    with pytest.raises(OSError, match="injected crash"):
        export()
    monkeypatch.setattr(builtins, "open", real_open)
    assert [read(i) for i in range(3)] == want
    export()
    assert [read(i) for i in range(3)] == want


def test_orphan_gc_keeps_the_ledger(spark, tmp_path, calls):
    t = _history(spark, str(tmp_path / "t"))
    _export_all(t)
    ledger = _tree(t.root, ledger=True)
    removed = remove_orphan_files(t.root, older_than_ms=int(time.time() * 1000) + 1)
    assert not [p for p in removed if f"{os.sep}{LEDGER_DIR}{os.sep}" in p]
    assert _tree(t.root, ledger=True) == ledger
    calls.clear()
    _export_all(t)
    assert _runs(calls) == (0, 0, 0)
    _check_reads(spark, t)


def test_entries_of_expired_snapshots_are_dropped(spark, tmp_path):
    """An entry goes with its child snapshot, and so does debris no
    entry names."""
    t = _history(spark, str(tmp_path / "t"))
    _export_all(t)
    entries = _entries(t.root)
    debris = os.path.join(t.root, LEDGER_DIR, ".0123.tmp")
    os.makedirs(debris)
    assert vacuum_snapshots(t, older_than_ms=2500) == [1, 2]
    export_iceberg_metadata(t, format_version=3)
    left = sorted(os.listdir(os.path.join(t.root, LEDGER_DIR)))
    append = os.path.basename(entries["append"][0])
    assert left == [append, append + ".json"]
