"""Regression tests for the round-8 advisory findings:

1. (medium) A position-delete PARQUET entry carrying the optional
   `referenced_data_file` hint (field id 143 — the spec allows it on
   v2 entries as a single-file scope hint) is an ORDINARY position
   delete, not a deletion vector. Before the fix the reader classified
   any entry with the hint as a DV: a valid external v2 table was
   rejected with "deletion-vector entry in a v2 table", and a v2-era
   hinted delete inside an upgraded v3 tree raised on the missing
   content_offset.
2. (low) Theta NDV statistics over a long column CONTAINING NULLS:
   Arrow shipped a null-bearing long batch to the old pandas UDF as
   float64, rounding |v| > 2^53 — adjacent huge longs hashed
   identically and the sketch silently undercounted. The sketch is now
   Spark's native `theta_sketch_agg`, which never leaves the JVM; the
   test pins it to the library's sketch of the exact integers.
3. (low) `read_iceberg_statistics` on an external blob whose metadata
   omits the optional `ndv` property falls back to the sketch's own
   estimate instead of raising KeyError.
4. (low) `lz4_frame_decompress` raises its documented ValueError on
   truncated input (header, block-size and end-mark fields) instead of
   IndexError/struct.error.
"""

from __future__ import annotations

import json
import os
import struct

import pytest

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    export_iceberg_statistics,
    read_iceberg_statistics,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.puffin import (
    lz4_frame_compress,
    lz4_frame_decompress,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


# --- 1. referenced_data_file hint on position-delete parquet ----------------


def _hinted_tree(spark, root: str, format_version: int) -> None:
    """One data file (ids 0..9), one position-delete PARQUET file
    deleting positions {0, 1}, whose manifest entry carries the
    OPTIONAL referenced_data_file hint (and no content_offset) — the
    shape an external engine that scopes its delete files emits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybrid_data_lakehouse_lab_spark.operators.avro_io import write_avro
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        _entry_schema,
        _manifest_list_schema,
    )

    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    fa = os.path.join(root, "a.parquet")
    pq.write_table(pa.table({"id": list(range(10))}), fa)
    pd_file = os.path.join(root, "pd.parquet")
    pq.write_table(pa.table({"file_path": [fa, fa], "pos": [0, 1]}), pd_file)
    # v3 entry schema carries the optional 143/144/145 fields; the spec
    # allows 143 on v2 entries too, so the same Avro schema stands in
    # for what a hint-writing v2 engine declares
    es = _entry_schema([], 3)

    def entry(path, content, extra):
        return {
            "status": 1,
            "snapshot_id": None,
            "data_sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 2,
                "file_size_in_bytes": os.path.getsize(path),
                **extra,
            },
        }

    m_data = os.path.join(meta_dir, "m-data.avro")
    m_del = os.path.join(meta_dir, "m-del.avro")
    write_avro(m_data, es, [entry(fa, 0, {})])
    write_avro(
        m_del, es, [entry(pd_file, 1, {"referenced_data_file": fa})]
    )

    def row(path, content, seq):
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": 2,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 2,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            **({"first_row_id": 0} if format_version >= 3 else {}),
        }

    mlist = os.path.join(meta_dir, "snap-2-1-manifest-list.avro")
    write_avro(
        mlist,
        _manifest_list_schema(format_version),
        [row(m_data, 0, 1), row(m_del, 1, 2)],
    )
    snapshot = {
        "snapshot-id": 2,
        "sequence-number": 2,
        "timestamp-ms": 2,
        "summary": {"operation": "delete"},
        "manifest-list": mlist,
        "schema-id": 0,
    }
    if format_version >= 3:
        snapshot["first-row-id"] = 10
    metadata = {
        "format-version": format_version,
        "table-uuid": "00000000-0000-0000-0000-00000000007b",
        "location": root,
        "last-sequence-number": 2,
        "last-updated-ms": 2,
        "last-column-id": 1,
        "schema": {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"}
            ],
        },
        "schemas": [],
        "current-schema-id": 0,
        "partition-spec": [],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "properties": {},
        "current-snapshot-id": 2,
        "snapshots": [snapshot],
        "snapshot-log": [{"snapshot-id": 2, "timestamp-ms": 2}],
        "metadata-log": [],
    }
    if format_version >= 3:
        metadata["next-row-id"] = 10
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")


def test_v2_position_delete_with_hint_accepted(spark, tmp_path):
    root = str(tmp_path / "v2hint")
    _hinted_tree(spark, root, format_version=2)
    got = sorted(r["id"] for r in read_iceberg_table(spark, root).collect())
    assert got == list(range(2, 10))


def test_v3_hinted_parquet_delete_is_positional_not_dv(spark, tmp_path):
    """A v2-era hinted position-delete parquet inside an upgraded v3
    tree: classified positional (applied), never a DV (no raise on
    missing content_offset)."""
    root = str(tmp_path / "v3hint")
    _hinted_tree(spark, root, format_version=3)
    got = sorted(r["id"] for r in read_iceberg_table(spark, root).collect())
    assert got == list(range(2, 10))


# --- 2. theta NDV precision on null-bearing long columns --------------------


def test_theta_ndv_exact_for_huge_longs_with_nulls(spark, tmp_path):
    """50 adjacent longs at 2^60 (float64 spacing there is 128, so a
    float round-trip collapses ALL of them) plus nulls: the blob must
    be, byte for byte, datasketches-java's sketch of the exact
    integers."""
    from hybrid_data_lakehouse_lab_spark.operators.puffin import read_blob

    base = 1 << 60
    vals = [base + i for i in range(50)]
    rows = [(v,) for v in vals] + [(None,)] * 7
    t = SnapshotTable(spark, str(tmp_path / "prec"))
    t.write(spark.createDataFrame(rows, "v long"), committed_at_ms=1000)
    export_iceberg_metadata(t, format_version=2)
    est = export_iceberg_statistics(t, columns=["v"])
    assert est["v"] == 50.0
    got = read_iceberg_statistics(spark, t.root)
    assert got["v"] == {"ndv": 50, "estimate": 50.0, "retained": 50}
    meta_dir = os.path.join(t.root, "metadata")
    n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    md = json.load(open(os.path.join(meta_dir, f"v{n}.metadata.json")))
    (st,) = md["statistics"]
    (bm,) = st["blob-metadata"]
    sk = spark._jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
    for v in vals:
        sk.update(v)
    assert read_blob(st["statistics-path"], bm["offset"], bm["length"]) == bytes(
        sk.compact(True, None).toByteArray()
    )


# --- 3. external stats blob without the optional ndv property ---------------


def test_read_statistics_without_ndv_property_falls_back(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "nondv"))
    t.write(spark.range(100).selectExpr("id"), committed_at_ms=1000)
    export_iceberg_metadata(t, format_version=2)
    export_iceberg_statistics(t, columns=["id"])
    meta_dir = os.path.join(t.root, "metadata")
    n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    meta_path = os.path.join(meta_dir, f"v{n}.metadata.json")
    md = json.load(open(meta_path))
    for bm in md["statistics"][0]["blob-metadata"]:
        bm.pop("properties", None)  # external writers may omit ndv
    with open(meta_path, "w") as fh:
        json.dump(md, fh)
    got = read_iceberg_statistics(spark, t.root)
    assert got["id"]["ndv"] == 100  # exact-mode sketch: estimate is exact
    assert got["id"]["estimate"] == 100.0


# --- 4. lz4 truncation -> ValueError -----------------------------------------


def test_lz4_frame_truncation_raises_valueerror():
    # magic only: the frame descriptor is missing
    with pytest.raises(ValueError, match="Truncated"):
        lz4_frame_decompress(struct.pack("<I", 0x184D2204))
    whole = lz4_frame_compress(b"hello world")
    # the header alone: no block size follows it
    with pytest.raises(ValueError, match="Truncated"):
        lz4_frame_decompress(whole[:7])
    # chopping inside the trailing end mark
    with pytest.raises(ValueError, match="Truncated"):
        lz4_frame_decompress(whole[:-2])
    with pytest.raises(ValueError, match="not an LZ4 frame"):
        lz4_frame_decompress(b"")
    assert lz4_frame_decompress(whole) == b"hello world"
