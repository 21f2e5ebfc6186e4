"""Iceberg PARTITION STATISTICS files (spec "Partition Statistics"):
one parquet file per snapshot summarizing every live partition —
(unified partition struct, spec_id, data/delete record+file counts,
total data bytes) — registered in table metadata under
`partition-statistics` as {snapshot-id, statistics-path,
file-size-in-bytes}. Planners read this O(|partitions|) artifact
instead of walking O(|files|) manifests when costing joins and picking
bucketed strategies — at 100 TB the difference between planning from
KBs and planning from GBs of manifest entries.

The file's schema follows the spec's column ids (partition=1,
spec_id=2, data_record_count=3, data_file_count=4,
total_data_file_size_in_bytes=5, position_delete_record_count=6,
position_delete_file_count=7, equality_delete_record_count=8,
equality_delete_file_count=9), with the partition struct's fields
carrying their partition-spec field ids — the "unified partition
type": the union of every spec's fields, null where a file's spec
lacks the field. Parquet field ids ride in the standard
`PARQUET:field_id` metadata so external engines resolve columns by id.

Scale note: the rollup itself is O(live manifest entries) — the same
driver-side metadata walk every inspection table and real engine's
stats writer performs; the OUTPUT is O(partitions). Data files are
never touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .util import atomic_open

__all__ = [
    "write_partition_stats",
    "partition_stats_table",
]

# spec partition-statistics column ids
_COLS = [
    ("partition", 1),
    ("spec_id", 2),
    ("data_record_count", 3),
    ("data_file_count", 4),
    ("total_data_file_size_in_bytes", 5),
    ("position_delete_record_count", 6),
    ("position_delete_file_count", 7),
    ("equality_delete_record_count", 8),
    ("equality_delete_file_count", 9),
]


def _unified_partition_fields(metadata: dict) -> list[dict]:
    """The union of every spec's partition fields, ordered by field id
    (the spec's unified partition type)."""
    seen: dict[int, dict] = {}
    for spec in metadata.get("partition-specs") or []:
        for f in spec.get("fields") or []:
            seen.setdefault(f["field-id"], f)
    return [seen[fid] for fid in sorted(seen)]


def _pa_type(iceberg_type: str):
    import pyarrow as pa

    t = (iceberg_type or "string").lower()
    if t == "int":
        return pa.int32()
    if t == "long":
        return pa.int64()
    if t == "date":
        return pa.date32()
    if t in ("float", "double"):
        return pa.float64()
    if t == "boolean":
        return pa.bool_()
    return pa.string()


def write_partition_stats(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    catalog_url: str | None = None,
) -> dict:
    """Compute and persist the partition-statistics file for
    `snapshot_id` (default: current snapshot) of the Iceberg tree at
    `root`, and register it in a NEW metadata version. The stats file
    is staged first, then ONE `set-partition-statistics` update (the
    spec's action, which replaces the snapshot's prior entry, so
    re-running is idempotent) commits it: through
    `iceberg_commit.commit_table`, under the tree's commit lock, or
    with `catalog_url` (the table's load endpoint) through the catalog's
    COMMIT endpoint, the way an external stats writer registers against
    a catalog-owned table. Either way a commit that landed since the
    load is kept. Returns the registered entry dict."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .iceberg_commit import commit_table
    from .iceberg_inspect import _live_entries, _snap
    from .iceberg_meta import load_table_metadata
    from .iceberg_transforms import result_type

    meta_dir = os.path.join(root, "metadata")
    _, metadata = load_table_metadata(meta_dir)
    s = _snap(metadata, snapshot_id)
    sid = s["snapshot-id"]
    unified = _unified_partition_fields(metadata)
    names = [f["name"] for f in unified]
    type_by_id = {
        f["id"]: f["type"]
        for sch in metadata.get("schemas") or [metadata.get("schema")]
        for f in (sch or {}).get("fields") or []
    }

    # rollup: (spec_id, partition value tuple) -> counters
    agg: dict[tuple, list[int]] = {}
    for content, spec_id, rec in _live_entries(metadata, s):
        part = rec.get("partition") or {}
        key = (spec_id, tuple(part.get(n) for n in names))
        a = agg.setdefault(key, [0] * 8)
        rc = rec.get("record_count") or 0
        if content == 0:
            a[0] += rc
            a[1] += 1
            a[2] += rec.get("file_size_in_bytes") or 0
        elif content == 1:
            a[3] += rc
            a[4] += 1
        else:
            a[5] += rc
            a[6] += 1

    part_fields = [
        pa.field(
            f["name"],
            _pa_type(
                result_type(f["transform"], type_by_id.get(f["source-id"]))
            ),
            nullable=True,
            metadata={b"PARQUET:field_id": str(f["field-id"]).encode()},
        )
        for f in unified
    ]
    int_types = {
        "partition": pa.struct(part_fields),
        "spec_id": pa.int32(),
        "data_record_count": pa.int64(),
        "data_file_count": pa.int32(),
        "total_data_file_size_in_bytes": pa.int64(),
        "position_delete_record_count": pa.int64(),
        "position_delete_file_count": pa.int32(),
        "equality_delete_record_count": pa.int64(),
        "equality_delete_file_count": pa.int32(),
    }
    # parquet cannot encode an empty struct: a table that has never
    # been partitioned gets no `partition` column at all — the same
    # shape Iceberg's $partitions metadata table presents there
    cols = _COLS if unified else [c for c in _COLS if c[0] != "partition"]
    schema = pa.schema(
        [
            pa.field(
                name,
                int_types[name],
                nullable=(name != "spec_id"),
                metadata={b"PARQUET:field_id": str(cid).encode()},
            )
            for name, cid in cols
        ]
    )
    rows = []
    for (spec_id, values), a in sorted(
        agg.items(), key=lambda kv: (kv[0][0], str(kv[0][1]))
    ):
        rows.append(
            {
                **(
                    {"partition": dict(zip(names, values))}
                    if unified
                    else {}
                ),
                "spec_id": spec_id,
                "data_record_count": a[0],
                "data_file_count": a[1],
                "total_data_file_size_in_bytes": a[2],
                "position_delete_record_count": a[3],
                "position_delete_file_count": a[4],
                "equality_delete_record_count": a[5],
                "equality_delete_file_count": a[6],
            }
        )
    table = pa.Table.from_pylist(rows, schema=schema)
    path = os.path.join(meta_dir, f"partition-stats-{sid}.parquet")
    with atomic_open(path) as fh:
        pq.write_table(table, fh)
    entry = {
        "snapshot-id": sid,
        "statistics-path": path,
        "file-size-in-bytes": os.path.getsize(path),
    }

    updates = [
        {"action": "set-partition-statistics", "partition-statistics": entry}
    ]
    if catalog_url is not None:
        from .rest_catalog import rest_commit_table

        rest_commit_table(catalog_url, updates=updates)
    else:
        commit_table(meta_dir, updates)
    return entry


def partition_stats_table(
    spark: SparkSession, root: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the REGISTERED partition-statistics file for the snapshot
    (default: current) — what an external planner would consume.
    Raises if none is registered (stats are opt-in artifacts)."""
    from .iceberg_inspect import _snap
    from .iceberg_meta import load_table_metadata

    _, metadata = load_table_metadata(os.path.join(root, "metadata"))
    sid = _snap(metadata, snapshot_id)["snapshot-id"]
    entry = next(
        (
            e
            for e in metadata.get("partition-statistics") or []
            if e["snapshot-id"] == sid
        ),
        None,
    )
    if entry is None:
        raise ValueError(
            f"no partition-statistics registered for snapshot {sid}"
        )
    return spark.read.parquet(entry["statistics-path"])
