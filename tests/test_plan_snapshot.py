"""`plan_snapshot` without Spark: small manifest trees written with the
exporter's own Avro schemas, planned, and checked against the spec's
inheritance rules and refusals."""

from __future__ import annotations

import pytest

from hybrid_data_lakehouse_lab_spark.operators.avro_io import write_avro
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    _entry_schema,
    _manifest_list_schema,
    plan_snapshot,
)


def _file(path, rc=10, content=0, fmt="PARQUET", **extra):
    return {
        "content": content,
        "file_path": path,
        "file_format": fmt,
        "partition": {},
        "record_count": rc,
        "file_size_in_bytes": 100,
        **extra,
    }


def _entry(status, rec, seq=None, snapshot_id=None):
    # status: 0 EXISTING, 1 ADDED, 2 DELETED
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "data_sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": rec,
    }


def _plan(tmp_path, fv, manifests, list_schema=None, snap=None, **md):
    """Write one manifest per (list-row overrides, entries) pair, a
    manifest list over them and plan snapshot 1."""
    rows = []
    for i, (over, entries) in enumerate(manifests):
        mpath = str(tmp_path / f"m{i}.avro")
        write_avro(mpath, _entry_schema([], fv), entries)
        rows.append(
            {
                "manifest_path": mpath,
                "manifest_length": 1,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 1,
                "added_files_count": 0,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "first_row_id": None,
                **over,
            }
        )
    lpath = str(tmp_path / "list.avro")
    write_avro(lpath, list_schema or _manifest_list_schema(fv), rows)
    snapshot = {"snapshot-id": 1, "manifest-list": lpath, **(snap or {})}
    return plan_snapshot({"format-version": fv, **md}, snapshot)


def test_added_entry_inherits_list_row_sequence_number(tmp_path):
    data, deletes = _plan(
        tmp_path,
        2,
        [
            (
                {"sequence_number": 5, "added_snapshot_id": 7},
                [_entry(1, _file("/a")), _entry(0, _file("/b"), seq=3, snapshot_id=4)],
            )
        ],
    )
    assert deletes == []
    a, b = data
    assert (a["seq"], a["file_seq"], a["snapshot_id"]) == (5, 5, 7)
    assert (b["seq"], b["file_seq"], b["snapshot_id"]) == (3, 3, 4)


def test_v2_existing_entry_without_sequence_number_raises(tmp_path):
    with pytest.raises(ValueError, match="data_sequence_number"):
        _plan(tmp_path, 2, [({}, [_entry(0, _file("/a"))])])


def test_deleted_entry_drops_earlier_added_file(tmp_path):
    data, _ = _plan(
        tmp_path,
        2,
        [
            ({}, [_entry(1, _file("/a")), _entry(1, _file("/b"))]),
            ({"sequence_number": 2}, [_entry(2, _file("/a"), seq=1)]),
        ],
    )
    assert [d["record"]["file_path"] for d in data] == ["/b"]


def _dv(**extra):
    return _file(
        "/dv.puffin",
        rc=2,
        content=1,
        fmt="PUFFIN",
        referenced_data_file="/a",
        content_size_in_bytes=40,
        **extra,
    )


def test_dv_in_v2_table_raises(tmp_path):
    # v2 manifests have no content_offset field; the PUFFIN format alone
    # marks the deletion vector
    rec = _file("/d.puffin", content=1, fmt="PUFFIN")
    with pytest.raises(ValueError, match="deletion-vector entry in a v2"):
        _plan(tmp_path, 2, [({"content": 1}, [_entry(1, rec)])])


def test_dv_without_content_offset_raises(tmp_path):
    with pytest.raises(ValueError, match="content_offset"):
        _plan(tmp_path, 3, [({"content": 1}, [_entry(1, _dv())])])


def test_equality_delete_without_equality_ids_raises(tmp_path):
    rec = _file("/eq.parquet", content=2)
    with pytest.raises(ValueError, match="equality_ids"):
        _plan(tmp_path, 2, [({"content": 1}, [_entry(1, rec)])])


def test_delete_kinds_in_manifest_order(tmp_path):
    _, deletes = _plan(
        tmp_path,
        3,
        [
            (
                {"content": 1, "sequence_number": 2},
                [
                    _entry(1, _dv(content_offset=4)),
                    _entry(1, _file("/eq.parquet", content=2, equality_ids=[1])),
                    # referenced_data_file alone keeps a position delete
                    _entry(1, _file("/pos.parquet", content=1, referenced_data_file="/a")),
                    _entry(2, _file("/gone.parquet", content=1), seq=1),
                ],
            )
        ],
    )
    assert [(d["kind"], d["record"]["file_path"], d["seq"]) for d in deletes] == [
        ("dv", "/dv.puffin", 2),
        ("equality", "/eq.parquet", 2),
        ("position", "/pos.parquet", 2),
    ]


def test_v3_first_row_id_inheritance(tmp_path):
    data, _ = _plan(
        tmp_path,
        3,
        [
            # added by this snapshot, null first_row_id: inherits the
            # snapshot cursor (100) and advances it by added_rows_count
            (
                {"added_rows_count": 35},
                [
                    _entry(1, _file("/a", rc=10)),
                    _entry(1, _file("/b", rc=20, first_row_id=500)),
                    _entry(1, _file("/c", rc=5)),
                ],
            ),
            # carried forward from an older snapshot: no inheritance
            ({"added_snapshot_id": 0}, [_entry(1, _file("/d"))]),
            ({"added_rows_count": 7}, [_entry(1, _file("/e", rc=7))]),
        ],
        snap={"first-row-id": 100},
    )
    got = {d["record"]["file_path"]: d["first_row_id"] for d in data}
    assert got == {"/a": 100, "/b": 500, "/c": 110, "/d": None, "/e": 135}


def test_missing_partition_spec_id_falls_back_to_default_spec(tmp_path):
    schema = _manifest_list_schema(2)
    for f in schema["fields"]:
        if f["name"] == "partition_spec_id":
            f["type"], f["default"] = ["null", "int"], None
    data, deletes = _plan(
        tmp_path,
        2,
        [
            ({"partition_spec_id": None}, [_entry(1, _file("/a"))]),
            (
                {"partition_spec_id": None, "content": 1},
                [_entry(1, _file("/p.parquet", content=1))],
            ),
        ],
        list_schema=schema,
        **{"default-spec-id": 3},
    )
    assert [d["spec_id"] for d in data + deletes] == [3, 3]
