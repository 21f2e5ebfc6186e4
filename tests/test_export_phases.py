"""The pure phases of `export_iceberg_metadata`, without Spark:
`_schema_history` (field ids across a pointer history) and
`_snapshot_summary` (the spec summary counters)."""

from __future__ import annotations

import pytest

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    _schema_history,
    _snapshot_summary,
)


def _history(*columns, renamed=None, hidden=None):
    return _schema_history(
        list(columns), list(range(1, len(columns) + 1)), hidden or {}, renamed or {}
    )


def test_field_id_is_stable_across_snapshots():
    h = _history(
        [("a", "int"), ("b", "string")],
        [("a", "int"), ("b", "string"), ("c", "bigint")],
        [("b", "string"), ("c", "bigint"), ("dt", "date")],
        hidden={"dt": ("c", "day")},
    )
    assert h.col_ids == [{"a": 1, "b": 2}, {"a": 1, "b": 2, "c": 3}, {"b": 2, "c": 3}]
    assert h.schema_ids == [0, 1, 2]
    assert h.last_column_id == 3
    # the hidden partition's directory column is not a table column
    assert [f["name"] for f in h.schemas[2]["fields"]] == ["b", "c"]


def test_unchanged_schema_reuses_its_schema_id():
    h = _history([("a", "int")], [("a", "int")], [("a", "int"), ("b", "int")])
    assert h.schema_ids == [0, 0, 1]
    assert len(h.schemas) == 2


def test_drop_and_readd_mints_a_new_id():
    h = _history(
        [("a", "int"), ("b", "string")],
        [("a", "int")],
        [("a", "int"), ("b", "string")],
    )
    assert h.col_ids[2] == {"a": 1, "b": 3}
    assert h.aliases == {1: ["a"], 2: ["b"], 3: ["b"]}
    assert h.last_column_id == 3


def test_rename_transfers_the_id_and_records_the_alias():
    h = _history(
        [("k", "int"), ("val", "int")],
        [("k", "int"), ("amount", "int")],
        renamed={"amount": "val"},
    )
    assert h.col_ids[1] == {"k": 1, "amount": 2}
    assert h.aliases[2] == ["val", "amount"]
    assert h.last_column_id == 2


def test_int_to_long_is_accepted():
    h = _history([("a", "int")], [("a", "bigint")])
    assert h.col_ids == [{"a": 1}, {"a": 1}]
    assert h.types == [{"a": "int"}, {"a": "long"}]


def test_string_to_int_is_refused():
    with pytest.raises(ValueError, match="changes type string -> int in snapshot v2"):
        _history([("a", "string")], [("a", "int")])


def test_rename_typo_is_refused():
    with pytest.raises(ValueError, match="renamed_columns maps .*'amount': 'vall'"):
        _history(
            [("val", "int")], [("amount", "int")], renamed={"amount": "vall"}
        )


def test_rename_whose_old_name_is_live_is_refused():
    with pytest.raises(ValueError, match="old name is still present"):
        _history(
            [("val", "int")],
            [("val", "int"), ("amount", "int")],
            renamed={"amount": "val"},
        )


def _row(path, content, snapshot_id, files, rows):
    return {
        "manifest_path": path,
        "content": content,
        "added_snapshot_id": snapshot_id,
        "added_files_count": files,
        "existing_files_count": 0,
        "added_rows_count": rows,
        "existing_rows_count": 0,
    }


def test_rewrite_summary_counts_the_dropped_data_files():
    before = [_row("m-0.avro", 0, 1, 3, 30), _row("m-1-del.avro", 1, 2, 1, 5)]
    after = [_row("m-2.avro", 0, 3, 2, 25)]
    s = _snapshot_summary(
        "replace", {"operation": "compaction", "k": 7}, after, before, 3, 2, "position"
    )
    assert s == {
        "operation": "replace",
        "k": "7",
        "added-data-files": "2",
        "added-records": "25",
        "added-delete-files": "0",
        "added-position-deletes": "0",
        # only data manifests count: the dropped delete manifest does not
        "deleted-data-files": "3",
        "deleted-records": "30",
        "total-data-files": "2",
        "total-records": "25",
        "total-delete-files": "0",
        "total-position-deletes": "0",
    }


def test_dv_replace_summary_deletes_no_data_files():
    data = _row("m-0.avro", 0, 1, 3, 30)
    before = [data, _row("m-1-del.avro", 1, 2, 2, 4)]
    after = [data, _row("m-2-del.avro", 1, 3, 3, 7)]
    s = _snapshot_summary("delete", None, after, before, 3, 3, "position")
    assert s["deleted-data-files"] == "0"
    assert s["deleted-records"] == "0"
    assert (s["added-data-files"], s["added-records"]) == ("0", "0")
    assert (s["added-delete-files"], s["added-position-deletes"]) == ("3", "7")
    assert (s["total-delete-files"], s["total-position-deletes"]) == ("3", "7")
    assert (s["total-data-files"], s["total-records"]) == ("3", "30")


def test_upsert_summary_uses_the_equality_flavour():
    before = [_row("m-0.avro", 0, 1, 2, 20)]
    after = before + [_row("m-1-ups.avro", 0, 2, 1, 4), _row("m-1-del.avro", 1, 2, 1, 3)]
    s = _snapshot_summary("overwrite", {}, after, before, 2, 2, "equality")
    assert (s["added-equality-deletes"], s["total-equality-deletes"]) == ("3", "3")
    assert not any("position" in k for k in s)
    assert (s["total-data-files"], s["total-records"]) == ("3", "24")


def test_v1_summary_has_no_counters():
    s = _snapshot_summary(
        "overwrite", {"operation": "x", "a": 1}, [_row("m.avro", 0, 1, 1, 1)], [], 1, 1,
        "position",
    )
    assert s == {"operation": "overwrite", "a": "1"}
