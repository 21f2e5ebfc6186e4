"""Iceberg METADATA TABLES — the `table$snapshots` / `$files` /
`$manifests` / `$history` / `$partitions` inspection surface real
engines expose (Spark: `SELECT * FROM tbl.files`), over any
`metadata/` tree `read_iceberg_table` can read.

Each function returns a DataFrame built from the tree's own metadata:
snapshot records from metadata.json, manifest rows from the manifest
list Avro, file rows from the manifest Avro entries. Row counts are
O(snapshots) / O(manifests) / O(files) — the bounded-metadata domain;
resolution is driver-side like the reader's manifest walk (the spec
makes manifest metadata deliberately small enough for this: a 100 TB
table with ~1M files is ~1M tiny rows, and the returned DataFrame
distributes any downstream aggregation).

Reference parity: the reference's Iceberg table is queried through
Trino/Spark which expose these as `$`-suffixed system tables; a
maintenance operator (compaction cadence, file-size audits, snapshot
retention planning) is built on exactly this surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

from .avro_io import read_avro
from .iceberg_meta import load_table_metadata, plan_snapshot, resolve_snapshot
from .util import local_frame


def _snap(metadata: dict, snapshot_id: int | None) -> dict:
    s = resolve_snapshot(metadata, snapshot_id, None, None)
    if s is None:
        raise ValueError(f"table {metadata.get('location')} has no snapshot")
    return s


def snapshots_table(spark: SparkSession, root: str) -> DataFrame:
    """One row per snapshot: (committed_at_ms, snapshot_id, parent_id,
    operation, manifest_list, summary map) — `tbl$snapshots`."""
    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    schema = T.StructType(
        [
            T.StructField("committed_at_ms", T.LongType()),
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("parent_id", T.LongType(), True),
            T.StructField("operation", T.StringType(), True),
            T.StructField("manifest_list", T.StringType()),
            T.StructField(
                "summary", T.MapType(T.StringType(), T.StringType()), True
            ),
        ]
    )
    rows = [
        (
            s.get("timestamp-ms"),
            s["snapshot-id"],
            s.get("parent-snapshot-id"),
            (s.get("summary") or {}).get("operation"),
            s["manifest-list"],
            {k: str(v) for k, v in (s.get("summary") or {}).items()},
        )
        for s in metadata["snapshots"]
    ]
    return local_frame(spark, rows, schema)


def history_table(spark: SparkSession, root: str) -> DataFrame:
    """One row per snapshot-log entry: (made_current_at_ms, snapshot_id,
    is_current_ancestor) — `tbl$history`. Ancestry walks
    parent-snapshot-id from the current snapshot; a logged snapshot off
    that chain (a rolled-back line) is not a current ancestor."""
    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    by_id = {s["snapshot-id"]: s for s in metadata["snapshots"]}
    ancestors = set()
    cur = metadata.get("current-snapshot-id")
    while cur is not None and cur in by_id:
        ancestors.add(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    schema = T.StructType(
        [
            T.StructField("made_current_at_ms", T.LongType()),
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("is_current_ancestor", T.BooleanType()),
        ]
    )
    rows = [
        (e.get("timestamp-ms"), e["snapshot-id"], e["snapshot-id"] in ancestors)
        for e in metadata.get("snapshot-log") or []
    ]
    return local_frame(spark, rows, schema)


def manifests_table(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame:
    """One row per manifest in the snapshot's manifest list —
    `tbl$manifests`. content 0 = data, 1 = deletes."""
    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    s = _snap(metadata, snapshot_id)
    _, rows = read_avro(s["manifest-list"])
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("length", T.LongType(), True),
            T.StructField("partition_spec_id", T.IntegerType(), True),
            T.StructField("content", T.IntegerType()),
            T.StructField("sequence_number", T.LongType(), True),
            T.StructField("added_snapshot_id", T.LongType(), True),
            T.StructField("added_files_count", T.IntegerType(), True),
            T.StructField("existing_files_count", T.IntegerType(), True),
            T.StructField("deleted_files_count", T.IntegerType(), True),
            T.StructField("added_rows_count", T.LongType(), True),
        ]
    )
    out = [
        (
            r["manifest_path"],
            r.get("manifest_length"),
            r.get("partition_spec_id"),
            r.get("content") or 0,
            r.get("sequence_number"),
            r.get("added_snapshot_id"),
            r.get("added_files_count"),
            r.get("existing_files_count"),
            r.get("deleted_files_count"),
            r.get("added_rows_count"),
        )
        for r in rows
    ]
    return local_frame(spark, out, schema)


_CONTENT_NAMES = {0: "data", 1: "position-deletes", 2: "equality-deletes"}


def _live_entries(metadata: dict, s: dict):
    """(content, spec_id, data_file record) for every live data file and
    then every live delete file of snapshot `s`, as `plan_snapshot`
    resolves them — the reader's own rules."""
    data, deletes = plan_snapshot(metadata, s)
    return [
        (d["record"].get("content") or 0, d["spec_id"], d["record"])
        for d in data
    ] + [
        (d["record"].get("content", 1), d["spec_id"], d["record"])
        for d in deletes
    ]


def files_table(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame:
    """One row per live file (data AND delete flavors) in the snapshot —
    `tbl$files`. Partition values arrive as a map<string,string> (typed
    per-spec structs don't union across evolved specs)."""
    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    s = _snap(metadata, snapshot_id)
    schema = T.StructType(
        [
            T.StructField("content", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("file_path", T.StringType()),
            T.StructField("file_format", T.StringType(), True),
            T.StructField("spec_id", T.IntegerType()),
            T.StructField(
                "partition",
                T.MapType(T.StringType(), T.StringType()),
                True,
            ),
            T.StructField("record_count", T.LongType(), True),
            T.StructField("file_size_in_bytes", T.LongType(), True),
            T.StructField("sort_order_id", T.IntegerType(), True),
        ]
    )
    rows = [
        (
            content,
            _CONTENT_NAMES.get(content, str(content)),
            rec["file_path"],
            rec.get("file_format"),
            spec_id,
            {
                k: (None if v is None else str(v))
                for k, v in (rec.get("partition") or {}).items()
            }
            or None,
            rec.get("record_count"),
            rec.get("file_size_in_bytes"),
            rec.get("sort_order_id"),
        )
        for content, spec_id, rec in _live_entries(metadata, s)
    ]
    return local_frame(spark, rows, schema)


def partitions_table(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame:
    """Per-partition rollup of live DATA files: (partition map,
    file_count, record_count) — `tbl$partitions`."""
    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    s = _snap(metadata, snapshot_id)
    agg: dict[tuple, list[int]] = {}
    for content, _spec, rec in _live_entries(metadata, s):
        if content != 0:
            continue
        key = tuple(
            sorted(
                (k, None if v is None else str(v))
                for k, v in (rec.get("partition") or {}).items()
            )
        )
        a = agg.setdefault(key, [0, 0])
        a[0] += 1
        a[1] += rec.get("record_count") or 0
    schema = T.StructType(
        [
            T.StructField(
                "partition",
                T.MapType(T.StringType(), T.StringType()),
                True,
            ),
            T.StructField("file_count", T.LongType()),
            T.StructField("record_count", T.LongType()),
        ]
    )
    rows = [
        (dict(k) or None, a[0], a[1]) for k, a in sorted(agg.items())
    ]
    return local_frame(spark, rows, schema)


def delta_history_table(spark: SparkSession, root: str) -> DataFrame:
    """Delta DESCRIBE HISTORY: one row per commit from the
    `_delta_log/` JSON files — (version, timestamp_ms, operation,
    operation_parameters, user_metadata), the timestamp being the
    commit's effective one, the same TIMESTAMP AS OF and the change data
    feed use (`delta_log`, "THE LOG WALK"). Commits retired by
    `clean_log_commits` are absent, exactly as in stock Delta (history
    is bounded by log retention)."""
    from .delta_log import _DeltaLog

    rows = [
        (
            c.version,
            c.timestamp,
            c.info.get("operation"),
            {k: str(val) for k, val in (c.info.get("operationParameters") or {}).items()},
            c.info.get("userMetadata"),
        )
        for c in _DeltaLog(os.path.join(root, "_delta_log")).walk()
    ]
    schema = T.StructType(
        [
            T.StructField("version", T.LongType()),
            T.StructField("timestamp_ms", T.LongType(), True),
            T.StructField("operation", T.StringType(), True),
            T.StructField(
                "operation_parameters",
                T.MapType(T.StringType(), T.StringType()),
                True,
            ),
            T.StructField("user_metadata", T.StringType(), True),
        ]
    )
    return local_frame(spark, rows, schema)


def refs_table(spark: SparkSession, root: str) -> DataFrame:
    """One row per ref: (name, type, snapshot_id) — `tbl$refs`."""
    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("snapshot_id", T.LongType()),
        ]
    )
    rows = [
        (name, r.get("type", "branch"), r["snapshot-id"])
        for name, r in sorted((metadata.get("refs") or {}).items())
    ]
    return local_frame(spark, rows, schema)
