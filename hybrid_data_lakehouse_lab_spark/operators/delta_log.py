"""Write-side Delta transaction-log interop for `SnapshotTable`.

`delta-spark` is not installable in this environment (ROUND5.md records
the blocked attempt), but the Delta Lake transaction-log PROTOCOL is an
open spec (github.com/delta-io/delta/blob/master/PROTOCOL.md): a table
is a `_delta_log/` directory of numbered newline-delimited-JSON commit
files, each a list of actions (protocol / metaData / add / remove /
commitInfo), and the table state at version N is the result of replaying
actions 0..N (add wins by path; remove deletes by path).

`export_delta_log` emits exactly that from a `SnapshotTable`'s manifest,
so a REAL Delta reader elsewhere (delta-spark, delta-rs, DuckDB's delta
extension, Trino) can consume the engine's versioned tables without this
repo's code. Mapping:

- Delta commit ``i`` (0-based)  ↔  the i-th event of the branch's
  POINTER HISTORY (not the raw snapshot list): an unpublished WAP
  branch write is invisible to main's Delta log until `fast_forward`
  publishes it, and a rollback (backward pointer move) becomes a new
  Delta commit that re-adds the old files — exactly Delta RESTORE
  semantics. Linear log, honest lineage.
- Each snapshot is a full rewrite (SnapshotTable's model), so commit i
  emits `remove` for every file of commit i-1 and `add` for every file
  of snapshot i — the action shape of a `mode("overwrite")` Delta write.
- Snapshot `properties` (the SCD2 checkpoint rides there) map to
  `commitInfo.userMetadata`, the same field the DeltaSnapshotTable shim
  uses (operators/lakehouse_adapter.py), so checkpoint recovery works
  from either log.

Reference parity: the reference's time travel is Iceberg snapshots via
Nessie (README.MD:308-313); this exporter gives the SnapshotTable the
interop half of that story — the format an external engine can read —
while staying pure stdlib (json/os/uuid), no jars.

Round 7 adds the spec's DELETION VECTORS (PROTOCOL.md "Deletion
Vectors") on both sides: `export_delta_log(mor_deletes=True)`
re-expresses pure-delete transitions as DV commits (roaring bitmaps via
operators/roaring.py, remove + re-add with cumulative descriptors,
reader v3 / writer v7 feature protocol), and `read_delta_table` masks
DV'd files — 'u'/'p'/'i' storage, CRC + cardinality verified — with one
broadcast anti-join on (file, `_metadata.row_index`). Checkpoints carry
descriptors so checkpoint-seeded reads still mask.

Verified by `tests/test_delta_log.py` with an INDEPENDENT pure-Python
log replay (spec semantics re-implemented from scratch in the test, not
imported from here) proving version-N live-file sets equal the
manifest's snapshot directories, plus a DuckDB read of the final live
set value-matched against `SnapshotTable.read()`, plus a from-scratch
DV bitmap decoder cross-checking the masked state.
"""

from __future__ import annotations

import json
import os
import urllib.parse
import uuid

from .dv_kernel import dv_blobs_by_file, dv_state_positions
from .mor_diff import (
    _SCHEME_RE,
    _parquet_row_count,
    _position_delete_diff,
    _with_file_pos,
)
from .timetravel import SnapshotTable

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


def _contains_variant(dt) -> bool:
    """True iff the type tree contains a VariantType anywhere — the
    protocol feature is required whenever variant appears, including
    nested inside struct/array/map (a name-substring check would false-
    positive on a column literally named 'variant')."""
    from pyspark.sql import types as T

    if isinstance(dt, T.VariantType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_variant(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_variant(dt.elementType)
    if isinstance(dt, T.MapType):
        return _contains_variant(dt.keyType) or _contains_variant(
            dt.valueType
        )
    return False


def _variant_protocol(proto: dict) -> dict:
    """Upgrade a protocol to table-features form carrying variantType
    (PROTOCOL.md "Variant Data Type": reader 3 + writer 7, feature in
    BOTH lists). Converting a legacy version to the features form must
    list the capabilities the legacy version implied — the spec's
    conversion rule — so a writer 2 base becomes
    [appendOnly, invariants, variantType]."""
    _WRITER_IMPLIED = {
        2: {"appendOnly", "invariants"},
        3: {"appendOnly", "invariants", "checkConstraints"},
        4: {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
        },
    }
    _READER_IMPLIED = {2: {"columnMapping"}}
    rv = proto.get("minReaderVersion", 1)
    wv = proto.get("minWriterVersion", 2)
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if rv < 3:
        rf |= _READER_IMPLIED.get(rv, set())
    if wv < 7:
        wf |= _WRITER_IMPLIED.get(wv, _WRITER_IMPLIED[2])
    rf.add("variantType")
    wf.add("variantType")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }
# Deletion vectors are a reader/writer table FEATURE (PROTOCOL.md):
# tables carrying them must declare reader v3 / writer v7 with the
# feature named, and old readers must refuse rather than return
# undeleted rows.
DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}


def _is_commit_file(f: str) -> bool:
    """A {version}.json commit file: exactly two dot segments with a
    numeric version. Anything with more segments is NOT a commit — a v2
    checkpoint manifest (`{v}.checkpoint.{u}.json`) or a log-compaction
    file (`{lo}.{hi}.compacted.json`) replayed as a commit would
    corrupt version resolution."""
    parts = f.split(".")
    return len(parts) == 2 and parts[1] == "json" and parts[0].isdigit()


def _snapshot_files(root: str, snapshot_path: str) -> list[dict]:
    """Data files of one snapshot directory as Delta `add`-action dicts
    (path relative to the table root, percent-encoded per the spec)."""
    out = []
    for dirpath, _dirnames, filenames in os.walk(snapshot_path):
        for fn in sorted(filenames):
            if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            partition_values = {}
            for seg in rel.split("/")[:-1]:
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    partition_values[k] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else urllib.parse.unquote(v)
                    )
            st = os.stat(full)
            out.append(
                {
                    "path": urllib.parse.quote(rel, safe="/=-._"),
                    "partitionValues": partition_values,
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": True,
                }
            )
    return out


def _footer_rows(root: str, files: list[dict]) -> list[int]:
    """Parquet-footer row count of each of `files` (`_snapshot_files`
    dicts), in order — footer reads only, no data scan."""
    return [
        _parquet_row_count(os.path.join(root, urllib.parse.unquote(f["path"])))
        for f in files
    ]


def _check_compaction_rows(
    root: str, prev_dir: str, files: list[dict], version: int, rows=None
) -> int | None:
    """Refuse a snapshot flagged as a compaction whose live row count
    (`rows`, or the footer total of `files`) differs from its parent
    snapshot's at `prev_dir`: exporters emit compactions as logical
    no-ops (Delta OPTIMIZE with dataChange=false, Iceberg "replace"),
    so a wrong flag would hide a data change from every CDF, streaming
    or incremental consumer. Skipped when the parent dir is gone
    (vacuumed). Returns the compaction's row total when it was known
    or read, else None."""
    if not os.path.isdir(prev_dir):
        return rows
    if rows is None:
        rows = sum(_footer_rows(root, files))
    want = sum(_footer_rows(root, _snapshot_files(root, prev_dir)))
    if rows != want:
        raise ValueError(
            f"snapshot v{version} is flagged operation=compaction but "
            f"changes the row count ({want} -> {rows}); a compaction "
            "must preserve the table's rows"
        )
    return rows


def _delta_stats(path: str) -> str | None:
    """Per-file statistics JSON for the `add.stats` field
    (numRecords / minValues / maxValues / nullCount — the shape
    delta-spark writes and reads for DATA SKIPPING), computed from the
    parquet FOOTER only. At 100 TB these are what let an external Delta
    engine prune files by predicate instead of scanning the table.
    Values serialize as JSON-native types; timestamps in the
    delta-spark stats format — UTC, millisecond precision, 'Z' suffix
    (yyyy-MM-dd'T'HH:mm:ss.SSS'Z') — so external engines parse and
    order the bounds; minima truncate to the millisecond and maxima
    round UP, keeping [min, max] a superset of the true range (a
    tightened bound could make an engine skip a file it needs).
    Columns whose footer lacks statistics are simply omitted."""
    import datetime as _dt

    import pyarrow.parquet as pq

    def conv(v, round_up=False):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            us = v.microsecond
            if round_up and us % 1000:
                v += _dt.timedelta(microseconds=1000 - us % 1000)
            return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, bool) or isinstance(v, (int, float, str)):
            return v
        return None

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        # Parquet VARIANT footers are rejected by this pyarrow; keep
        # the numRecords half of the stats through the DuckDB-backed
        # counter (bounds stay absent — engines then simply cannot
        # skip these files, which is correct)
        try:
            return json.dumps(
                {
                    "numRecords": _parquet_row_count(path),
                    "minValues": {},
                    "maxValues": {},
                    "nullCount": {},
                }
            )
        except Exception:
            return None
    agg: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            ent = agg.setdefault(
                name, {"nulls": 0, "min": None, "max": None, "ok": st is not None}
            )
            if st is None or not st.has_min_max or st.null_count is None:
                ent["ok"] = False
                continue
            ent["nulls"] += st.null_count
            ent["min"] = st.min if ent["min"] is None else min(ent["min"], st.min)
            ent["max"] = st.max if ent["max"] is None else max(ent["max"], st.max)
    mins, maxs, nulls = {}, {}, {}
    for name, ent in agg.items():
        if not ent["ok"]:
            continue
        nulls[name] = ent["nulls"]
        lo, hi = conv(ent["min"]), conv(ent["max"], round_up=True)
        if lo is not None and hi is not None:
            mins[name] = lo
            maxs[name] = hi
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _write_change_data(
    spark, root: str, version: int, deleted, touched: list, pv_of: dict
) -> list[dict]:
    """Materialize THIS commit's newly-deleted rows as `_change_data/`
    cdc parquet (`_change_type='delete'`) and return the `cdc` actions.
    Distributed: one scan of the `touched` files semi-joined to the
    broadcast `deleted` (file_path, pos) DataFrame — the positions
    never visit the driver; partitioned tables attach their partition
    values (broadcast file→values map) and route through partitionBy so
    change files mirror the data layout. Files are renamed
    deterministically (`cdc-NNNNN.parquet`) so re-exports reference
    stable paths."""
    from pyspark.sql import functions as F

    pairs = deleted.select(
        F.col("file_path").alias("_f"), F.col("pos").alias("_p")
    )
    rows = _with_file_pos(spark.read.parquet(*touched), "_f", "_p").join(
        F.broadcast(pairs), ["_f", "_p"], "left_semi"
    )
    pcols = next((list(pv) for pv in pv_of.values() if pv), [])
    if pcols:
        mapping = spark.createDataFrame(
            [(f, *[pv_of[f].get(c) for c in pcols]) for f in touched],
            ", ".join(["_f STRING"] + [f"`{c}` STRING" for c in pcols]),
        )
        rows = rows.join(F.broadcast(mapping), "_f")
    rows = rows.drop("_f", "_p").withColumn("_change_type", F.lit("delete"))
    out_dir = os.path.join(root, "_change_data", f"v{version:020d}")
    writer = rows.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(out_dir)
    from .mor_diff import finalize_spark_parts

    return [
        {
            "cdc": {
                "path": urllib.parse.quote(
                    os.path.relpath(p["path"], root).replace(os.sep, "/"),
                    safe="/=-._",
                ),
                "partitionValues": p["partition"],
                "size": p["size"],
                "dataChange": False,
            }
        }
        for p in finalize_spark_parts(out_dir, "cdc")
    ]


def export_delta_log(
    table: SnapshotTable,
    branch: str = "main",
    mor_deletes: bool = False,
    change_data: bool = False,
) -> str:
    """Emit `_delta_log/` under the table root for `branch`'s pointer
    history. Idempotent full regeneration: commit files are rewritten
    deterministically (stable metaData id via uuid5 of the root), so
    re-export after new commits extends the log in place, and a SHRUNK
    history (vacuum) drops the stale tail + checkpoint pointer.

    With `mor_deletes=True`, pure-delete transitions (partitioned or
    not — a DV targets one data file, so partitioning is orthogonal)
    export as DELETION-VECTOR commits (PROTOCOL.md "Deletion
    Vectors"): the shared distributed diff (operators/mor_diff.py)
    decides whether the transition is a pure delete, validating its
    (file, row-position) pairs against the parquet-footer row totals;
    anything else exports as a rewrite. Each touched file gets `remove`
    + re-`add` with a `deletionVector` descriptor (storageType
    "u"), and the positions serialize as 64-bit roaring bitmaps
    (operators/roaring.py) into a `deletion_vector_<uuid>.bin` at the
    table root (version byte, size-framed, CRC-checked blobs). Chained
    deletes REPLACE a file's descriptor with the cumulative bitmap, as
    the spec requires. The protocol action declares reader v3 /
    writer v7 + the deletionVectors feature. DV construction is FULLY
    DISTRIBUTED: the position diff is a Spark plan, per-file bitmaps
    are sorted/merged/serialized in a cogrouped Arrow kernel on the
    executors (prior state decoded there too), and the driver receives
    only (file, blob bytes, cardinality) rows to frame into the .bin
    file — it never materializes positions, so a GDPR-scale purge of a
    100 TB table costs the driver compressed-bitmap bytes, not billions
    of Row objects.

    With `change_data=True`, the table declares CHANGE DATA FEED
    (PROTOCOL.md "Change Data Files"): `delta.enableChangeDataFeed` in
    the table configuration, writer version 4 (or the `changeDataFeed`
    writer feature when DVs already force the feature protocol), and
    every DV delete commit ALSO writes its deleted rows as
    `_change_data/` cdc parquet (`_change_type='delete'`) referenced by
    `cdc` actions — the authoritative row-level changes a CDF reader
    consumes for that commit. Full-rewrite commits write no cdc files;
    CDF readers derive insert/delete rows from their add/remove actions,
    the same rule delta-spark applies to overwrites. The deleted rows
    are materialized DISTRIBUTED (one scan of the touched files
    semi-joined to the broadcast position set); partitioned tables
    route cdc rows through partitionBy so change files live beside the
    data layout.

    SOLE-WRITER assumption: this exporter owns `_delta_log/` — the
    regeneration (and especially the stale-tail cleanup) would
    overwrite or delete commits appended by an EXTERNAL Delta writer.
    Interop is one-directional by design: external engines READ the
    exported log, and `read_delta_table` conversely reads external
    logs; dual-writer coordination is what a real catalog/log store
    provides and is out of scope here.

    Returns the `_delta_log` directory path. Raises if the branch has
    no history (a Delta log must have a version 0).
    """
    m = table._load_manifest()
    events = m["history"].get(branch, [])
    if not events:
        raise ValueError(f"branch {branch!r} has no commits to export")
    by_version = {s["version"]: s for s in m["snapshots"]}

    log_dir = os.path.join(table.root, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)

    prev_files: list[dict] = []
    prev_schema: str | None = None
    # DV export state: physical dir of the last rewrite commit, the
    # cumulative deletion-vector state per (absolute) data file path —
    # held as (framed blob bytes, cardinality), NEVER as positions (the
    # driver's footprint is compressed-bitmap bytes; expansion and
    # aggregation happen executor-side) — and the base's logical row
    # count under those masks.
    base_dir: str | None = None
    dv_state: dict[str, tuple[bytes, int]] = {}
    base_live_rows: int | None = None
    referenced_dv_files: set[str] = set()
    referenced_cdc_dirs: set[str] = set()
    cur_protocol: dict | None = None
    cur_protocol_variant = False
    for i, ev in enumerate(events):
        snap = by_version[ev["version"]]
        files = _snapshot_files(table.root, snap["path"])
        snap_schema = table.spark.read.parquet(snap["path"]).schema
        snap_has_variant = _contains_variant(snap_schema)
        schema_str = snap_schema.json()
        # partition columns in path-segment order (every file of one
        # snapshot shares the same partitioning scheme)
        partition_cols = next(
            (list(f["partitionValues"]) for f in files if f["partitionValues"]), []
        )

        # Unlike Iceberg positional delete files (partition-scoped per
        # the spec, so our Iceberg exporter rewrites partitioned
        # tables), a Delta DV is attached to ONE data file and carries
        # no partition tuple of its own — partitioned tables take the
        # DV path too; the re-added file keeps its partitionValues.
        # compaction snapshots (operators/maintenance.py compact_snapshot)
        # rewrite the SAME rows into right-sized files: always the
        # rewrite branch, exported with OPTIMIZE semantics below. A
        # compaction that became the FIRST exported commit (vacuum
        # expired its whole ancestry) exports as a normal creation
        # WRITE instead — delta-spark never emits OPTIMIZE at version 0,
        # and dataChange=false on a creation commit would hide the
        # table's rows from CDF/streaming consumers.
        # "rewrite-deletes" (minor compaction) has no Delta-side minor
        # form — DV descriptors already replace per file — so it exports
        # with the same OPTIMIZE no-op semantics.
        is_compaction = i > 0 and (
            (snap.get("properties") or {}).get("operation")
            in ("compaction", "rewrite-deletes")
        )
        dv_rows = None  # [(file_path, framed blob, cardinality)]
        deleted = None
        cur_rows = None  # this snapshot's footer row total, read once
        if (
            mor_deletes
            and not is_compaction
            and base_dir is not None
            and os.path.isdir(base_dir)
            and base_live_rows is not None
            and schema_str == prev_schema
        ):
            cur_rows = sum(_footer_rows(table.root, files))
            if cur_rows < base_live_rows:
                deleted = _position_delete_diff(
                    table.spark,
                    [base_dir],
                    dv_state_positions(table.spark, dv_state)
                    if dv_state
                    else None,
                    snap["path"],
                    base_live_rows,
                    cur_rows,
                )
                if deleted is not None:
                    dv_rows = dv_blobs_by_file(table.spark, deleted, dv_state)
                    base_live_rows = cur_rows

        actions: list[dict] = []
        if dv_rows is not None:
            op, op_params = "DELETE", {"predicate": "[]"}
        elif is_compaction:
            # delta-spark OPTIMIZE: a logical no-op rewrite; dataChange
            # false on every action so CDF/streaming consumers skip it.
            # A z-ordered rewrite (maintenance.rewrite_data_files_sorted
            # strategy="zorder") records its columns exactly as
            # delta-spark does: the zOrderBy operationParameter.
            op, op_params = "OPTIMIZE", {"predicate": "[]", "auto": "false"}
            _zb = (snap.get("properties") or {}).get("zorder-by")
            if _zb:
                op_params["zOrderBy"] = _zb
        else:
            op, op_params = "WRITE", {
                "mode": "Overwrite",
                "partitionBy": json.dumps(partition_cols),
            }
        commit_info = {
            "timestamp": ev["at_ms"],
            "operation": op,
            "operationParameters": op_params,
            "engineInfo": "hybrid_data_lakehouse_lab_spark SnapshotTable exporter",
        }
        if snap.get("properties"):
            commit_info["userMetadata"] = json.dumps(snap["properties"])
        actions.append({"commitInfo": commit_info})
        if i == 0:
            if mor_deletes:
                proto = {k: list(v) if isinstance(v, list) else v
                         for k, v in DV_PROTOCOL.items()}
                if change_data:
                    proto["writerFeatures"] = sorted(
                        set(proto["writerFeatures"]) | {"changeDataFeed"}
                    )
            elif change_data:
                # legacy CDF protocol: no reader requirement, writer 4
                proto = {"minReaderVersion": 1, "minWriterVersion": 4}
            else:
                proto = PROTOCOL
            if snap_has_variant:
                proto = _variant_protocol(proto)
                cur_protocol_variant = True
            actions.append({"protocol": proto})
            cur_protocol = proto
        elif snap_has_variant and not cur_protocol_variant:
            # variant first appears mid-history (schema evolution):
            # emit the protocol UPGRADE in the same commit, like a real
            # writer enabling a table feature
            cur_protocol = _variant_protocol(cur_protocol)
            cur_protocol_variant = True
            actions.append({"protocol": cur_protocol})
        if schema_str != prev_schema:
            configuration = (
                {"delta.enableDeletionVectors": "true"} if mor_deletes else {}
            )
            if change_data:
                configuration["delta.enableChangeDataFeed"] = "true"
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table.root)),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_str,
                        "partitionColumns": partition_cols,
                        "configuration": configuration,
                        "createdTime": events[0]["at_ms"],
                    }
                }
            )

        if dv_rows is not None:
            # --- deletion-vector commit: touched files get remove +
            # re-add with the CUMULATIVE bitmap (a descriptor replaces
            # any prior one for that file, per the spec). The bitmaps
            # arrive pre-serialized from the executors; the driver only
            # frames them into the .bin file and the log actions. ---
            from .roaring import encode_dv_uuid, write_dv_file

            by_abs = {
                os.path.abspath(
                    os.path.join(table.root, urllib.parse.unquote(f["path"]))
                ): f
                for f in prev_files
            }
            blob_of = {
                r["file_path"]: (bytes(r["blob"]), r["cardinality"])
                for r in dv_rows
            }
            changed = sorted(blob_of)
            unknown = [p for p in changed if p not in by_abs]
            if unknown:
                raise RuntimeError(
                    f"diff produced positions for unknown files: {unknown}"
                )
            dv_uuid = uuid.uuid5(uuid.NAMESPACE_URL, f"{table.root}#dv{i}")
            dv_state.update({p: blob_of[p] for p in changed})
            dv_name = f"deletion_vector_{dv_uuid}.bin"
            descs = write_dv_file(
                os.path.join(table.root, dv_name),
                [blob_of[p][0] for p in changed],
            )
            referenced_dv_files.add(dv_name)
            new_prev = []
            updated = {}
            for p, (off, sz) in zip(changed, descs):
                old = by_abs[p]
                add = dict(old)
                add["deletionVector"] = {
                    "storageType": "u",
                    "pathOrInlineDv": encode_dv_uuid(dv_uuid),
                    "offset": off,
                    "sizeInBytes": sz,
                    "cardinality": blob_of[p][1],
                }
                updated[old["path"]] = add
                actions.append(
                    {
                        "remove": {
                            "path": old["path"],
                            "deletionTimestamp": ev["at_ms"],
                            "dataChange": True,
                        }
                    }
                )
                actions.append({"add": add})
            for f in prev_files:
                new_prev.append(updated.get(f["path"], f))
            prev_files = new_prev
            if change_data:
                actions.extend(
                    _write_change_data(
                        table.spark,
                        table.root,
                        i,
                        deleted,
                        changed,
                        {
                            p: by_abs[p].get("partitionValues") or {}
                            for p in changed
                        },
                    )
                )
                referenced_cdc_dirs.add(f"v{i:020d}")
        else:
            # --- full-rewrite commit (always, without mor_deletes) ---
            # a DV'd base file keeps its descriptor in referenced state
            # until rewritten here, at which point DV state resets
            if is_compaction:
                cur_rows = _check_compaction_rows(
                    table.root,
                    by_version[events[i - 1]["version"]]["path"],
                    files,
                    ev["version"],
                )
            current_paths = {f["path"] for f in files}
            for f in prev_files:
                if f["path"] not in current_paths:
                    actions.append(
                        {
                            "remove": {
                                "path": f["path"],
                                "deletionTimestamp": ev["at_ms"],
                                "dataChange": not is_compaction,
                            }
                        }
                    )
            stat_files = []
            for f in files:
                f2 = dict(f)
                if is_compaction:
                    f2["dataChange"] = False
                st = _delta_stats(
                    os.path.join(table.root, urllib.parse.unquote(f["path"]))
                )
                if st:
                    f2["stats"] = st
                stat_files.append(f2)
            actions.extend({"add": f} for f in stat_files)
            prev_files = stat_files
            base_dir = snap["path"]
            dv_state = {}
            if mor_deletes:
                base_live_rows = (
                    sum(_footer_rows(table.root, files))
                    if cur_rows is None
                    else cur_rows
                )

        tmp = os.path.join(log_dir, f".{i:020d}.json.tmp")
        with open(tmp, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        os.replace(tmp, os.path.join(log_dir, f"{i:020d}.json"))
        prev_schema = schema_str
    # A vacuum can SHRINK the pointer history (it rewrites the manifest
    # without the vacuumed versions). Any previously-exported commit
    # files past the new end would otherwise still replay — referencing
    # deleted data files — so drop the stale tail, and drop a
    # _last_checkpoint that points past the new end for the same reason.
    last = len(events) - 1
    for f in os.listdir(log_dir):
        if _is_commit_file(f):
            if int(f.split(".")[0]) > last:
                os.remove(os.path.join(log_dir, f))
        elif ".checkpoint" in f and f.endswith((".parquet", ".json")):
            # External readers (delta-spark, delta-rs) discover
            # checkpoints by LISTING _delta_log, not only via
            # _last_checkpoint — an orphaned {v}.checkpoint*.parquet
            # past the new log end would seed a reader with vacuumed
            # state referencing deleted data files (ADVICE r6).
            v = f.split(".")[0]
            if v.isdigit() and int(v) > last:
                os.remove(os.path.join(log_dir, f))
    cp = _load_last_checkpoint(log_dir)
    if cp is not None and cp["version"] > last:
        os.remove(os.path.join(log_dir, "_last_checkpoint"))
    # DV files not referenced by THIS export (shrunk history, or a
    # transition that re-exported as a rewrite) would outlive the adds
    # naming them — same GC contract as the stale commit tail.
    for f in os.listdir(table.root):
        if (
            f.startswith("deletion_vector_")
            and f.endswith(".bin")
            and f not in referenced_dv_files
        ):
            os.remove(os.path.join(table.root, f))
    # _change_data dirs not referenced by THIS export (shrunk history,
    # or change_data turned off) — same GC contract as DV bins.
    cdc_root = os.path.join(table.root, "_change_data")
    if os.path.isdir(cdc_root):
        import shutil

        for d in os.listdir(cdc_root):
            if d not in referenced_cdc_dirs:
                shutil.rmtree(os.path.join(cdc_root, d), ignore_errors=True)
        if not os.listdir(cdc_root):
            os.rmdir(cdc_root)
    return log_dir


def _load_last_checkpoint(log_dir: str) -> dict | None:
    p = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _checkpoint_paths(log_dir: str, cp: dict) -> list[str]:
    """Resolve the file(s) of a `_last_checkpoint` pointer: single-file
    `{v}.checkpoint.parquet`, multi-part
    `{v}.checkpoint.{i}.{n}.parquet`, or a V2 CHECKPOINT manifest
    `{v}.checkpoint.{uniqueStr}.{json|parquet}` (discovered by listing
    when the classic name is absent), per the spec's naming."""
    v = cp["version"]
    parts = cp.get("parts")
    if parts:
        names = [
            f"{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
            for i in range(1, parts + 1)
        ]
    else:
        classic = f"{v:020d}.checkpoint.parquet"
        if os.path.exists(os.path.join(log_dir, classic)):
            names = [classic]
        else:
            # v2 manifest: 4 dot-segments ({v}.checkpoint.{u}.{ext})
            cands = sorted(
                f
                for f in os.listdir(log_dir)
                if f.startswith(f"{v:020d}.checkpoint.")
                and f.endswith((".parquet", ".json"))
                and len(f.split(".")) == 4
            )
            if not cands:
                raise FileNotFoundError(
                    f"_last_checkpoint points at version {v} but no "
                    f"checkpoint file found in {log_dir}"
                )
            names = [cands[-1]]  # any one manifest is complete; pick one
    paths = [os.path.join(log_dir, n) for n in names]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"_last_checkpoint points at version {v} but checkpoint file(s) "
            f"missing: {[os.path.basename(p) for p in missing]}"
        )
    return paths


def _read_checkpoint(log_dir: str, cp: dict) -> tuple[dict, dict | None, dict | None]:
    """Load checkpoint rows back into replay state (live add-actions by
    path, metaData, protocol). Handles classic single/multi-part
    parquet checkpoints AND V2 CHECKPOINTS (PROTOCOL.md "V2 Spec
    Checkpoints"): a json- or parquet-format manifest carrying
    `checkpointMetadata` plus `sidecar` actions whose parquet files
    (under `_delta_log/_sidecars/`) hold the file actions; remove rows
    in any checkpoint are vacuum tombstones and never enter live state.
    Arrow returns map columns as key/value tuple lists — normalize them
    back to dicts."""
    import pyarrow.parquet as pq

    def _demap(v):
        return dict(v) if isinstance(v, list) else v

    def _rows(path):
        if path.endswith(".json"):
            with open(path) as fh:
                return [json.loads(ln) for ln in fh if ln.strip()]
        return pq.read_table(path).to_pylist()

    live: dict[str, dict] = {}
    meta = protocol = None
    sidecars: list[str] = []

    def _apply(row):
        nonlocal meta, protocol
        if row.get("add"):
            add = dict(row["add"])
            add["partitionValues"] = _demap(add.get("partitionValues")) or {}
            dv = add.get("deletionVector")
            if dv is not None and not dv:
                add.pop("deletionVector")  # all-null struct from parquet
            live[add["path"]] = add
        elif row.get("metaData"):
            meta = dict(row["metaData"])
            meta["configuration"] = _demap(meta.get("configuration")) or {}
        elif row.get("protocol"):
            protocol = dict(row["protocol"])

    for path in _checkpoint_paths(log_dir, cp):
        for row in _rows(path):
            if row.get("checkpointMetadata"):
                cm = row["checkpointMetadata"]
                if cm.get("version") not in (None, cp["version"]):
                    raise ValueError(
                        f"v2 checkpoint manifest {os.path.basename(path)} "
                        f"declares version {cm.get('version')}, "
                        f"_last_checkpoint says {cp['version']}"
                    )
            elif row.get("sidecar"):
                sidecars.append(row["sidecar"]["path"])
            else:
                _apply(row)
    for sc in sidecars:
        scp = (
            sc
            if os.path.isabs(sc)
            else os.path.join(log_dir, "_sidecars", sc)
        )
        if not os.path.exists(scp):
            raise FileNotFoundError(
                f"v2 checkpoint sidecar missing: {scp}"
            )
        for row in pq.read_table(scp).to_pylist():
            _apply(row)
    return live, meta, protocol


def replay_delta_log(log_dir: str, version: int | None = None) -> dict:
    """Replay a `_delta_log/` per PROTOCOL.md action reconciliation up
    to `version` (0-based; None = latest): add wins by path, remove
    deletes by path. Returns {"version", "files": {path: add_action},
    "metaData", "protocol"}. Works on ANY spec-conforming log, not just
    ones this module exported.

    If a `_last_checkpoint` exists and the requested version is at or
    past it, replay starts FROM the checkpoint parquet and only the JSON
    commits after it are parsed — the spec's long-history fast path, and
    the only correct path once `clean_log_commits` has removed the early
    JSON files. Versions before the checkpoint remain readable only
    while their JSON commits survive."""
    commit_files = {
        int(f.split(".")[0]): f
        for f in os.listdir(log_dir)
        if _is_commit_file(f)
    }
    cp = _load_last_checkpoint(log_dir)
    live: dict[str, dict] = {}
    meta = protocol = None
    last = -1
    if cp is not None and (version is None or version >= cp["version"]):
        live, meta, protocol = _read_checkpoint(log_dir, cp)
        last = cp["version"]
    elif not commit_files:
        raise FileNotFoundError(f"no commit files in {log_dir}")
    elif min(commit_files) > 0:
        raise FileNotFoundError(
            f"version {version} predates the checkpoint and commits "
            f"0..{min(commit_files) - 1} have been cleaned from {log_dir}; "
            f"earliest replayable version is {min(commit_files)}"
        )
    for v in sorted(commit_files):
        if v <= last:
            continue
        if version is not None and v > version:
            break
        if v != last + 1:
            raise ValueError(
                f"non-contiguous log in {log_dir}: expected commit "
                f"{last + 1:020d}.json, found {v:020d}.json"
            )
        with open(os.path.join(log_dir, commit_files[v])) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    protocol = action["protocol"]
        last = v
    if last < 0:
        raise FileNotFoundError(f"no commit files in {log_dir}")
    if version is not None and last != version:
        raise ValueError(f"version {version} not found in {log_dir} (last={last})")
    return {"version": last, "files": live, "metaData": meta, "protocol": protocol}


def write_checkpoint(
    log_dir: str, version: int | None = None, parts: int | None = None
) -> list[str]:
    """Materialize the replayed state at `version` (None = latest) as a
    spec-shaped parquet checkpoint and point `_last_checkpoint` at it —
    the Delta answer to million-commit logs: a reader seeds from one
    columnar snapshot of the live add-set instead of parsing every JSON
    action since version 0.

    One row per action (protocol, metaData, then adds sorted by path;
    remove tombstones are omitted — this engine's readers never need
    them and the spec allows expired tombstones to be dropped). With
    `parts` = N the rows split across N files under the multi-part
    naming `{v}.checkpoint.{i}.{n}.parquet`, the spec's shape for
    tables whose live-file count outgrows one writer/reader — at 100 TB
    (~1M files) checkpoint size tracks file COUNT, not data size, so a
    driver-side columnar write remains the right tool (delta-rs does the
    same); parts bound the per-file row count for parallel consumers.

    `_last_checkpoint` is swapped in atomically (tmp + rename) so a
    concurrent reader sees either the old pointer or the new one, never
    a partial file. Returns the checkpoint parquet path(s)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = replay_delta_log(log_dir, version)
    v = state["version"]
    prior = _load_last_checkpoint(log_dir)
    if prior is not None and v < prior["version"]:
        # A backwards pointer move would force later reads to replay JSON
        # commits after v — which clean_log_commits may already have
        # deleted up to the PRIOR checkpoint. Never regress.
        raise ValueError(
            f"refusing to move _last_checkpoint backwards "
            f"(v{prior['version']} -> v{v})"
        )
    protocol = state["protocol"] or PROTOCOL
    meta = state["metaData"]
    if meta is None:
        raise ValueError(f"{log_dir}: cannot checkpoint a log with no metaData")

    kv = pa.map_(pa.string(), pa.string())
    schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", kv),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", kv),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # deletionVector rides the checkpoint too — a
                        # reader seeding from the checkpoint alone must
                        # still see (and mask) the DV'd files
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )
    rows: list[dict] = [
        {
            "protocol": {
                "minReaderVersion": protocol.get("minReaderVersion", 1),
                "minWriterVersion": protocol.get("minWriterVersion", 2),
                "readerFeatures": protocol.get("readerFeatures"),
                "writerFeatures": protocol.get("writerFeatures"),
            }
        },
        {
            "metaData": {
                "id": meta.get("id"),
                "format": {"provider": (meta.get("format") or {}).get("provider", "parquet")},
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns", []),
                "configuration": meta.get("configuration") or {},
                "createdTime": meta.get("createdTime"),
            }
        },
    ]
    for path in sorted(state["files"]):
        add = state["files"][path]
        rows.append(
            {
                "add": {
                    "path": add["path"],
                    "partitionValues": add.get("partitionValues") or {},
                    "size": add.get("size"),
                    "modificationTime": add.get("modificationTime"),
                    "dataChange": bool(add.get("dataChange", True)),
                    "stats": add.get("stats"),
                    "deletionVector": add.get("deletionVector"),
                }
            }
        )

    n = max(1, parts or 1)
    if parts:
        names = [
            f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet" for i in range(1, n + 1)
        ]
        chunks = [rows[i::n] for i in range(n)]
    else:
        names = [f"{v:020d}.checkpoint.parquet"]
        chunks = [rows]
    out = []
    for name, chunk in zip(names, chunks):
        tbl = pa.Table.from_pylist(chunk, schema=schema)
        target = os.path.join(log_dir, name)
        pq.write_table(tbl, target)
        out.append(target)
    pointer = {"version": v, "size": len(rows)}
    if parts:
        pointer["parts"] = n
    tmp = os.path.join(log_dir, "._last_checkpoint.tmp")
    with open(tmp, "w") as fh:
        json.dump(pointer, fh)
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return out


def restore_delta_table(
    log_dir: str, version: int | None = None, timestamp_ms: int | None = None
) -> dict:
    """RESTORE the table to an earlier `version` by APPENDING a commit
    (the Delta RESTORE command, PROTOCOL.md action reconciliation): the
    new head's live file set equals the target version's — history is
    never rewritten, so the pre-restore state stays time-travelable and
    CDF consumers see one ordinary commit whose add/remove actions
    express the rollback (the same derivation rule as any overwrite).

    Per-path reconciliation against the CURRENT head:
    - in target only            -> `add` (the file returns verbatim,
      stats/partitionValues/DV descriptor as the target recorded them)
    - in current only           -> `remove`
    - in both but DIFFERENT     -> `remove` + `add` of the target's
      action (this is how a deletion-vector descriptor added after the
      target version is shed: the file is re-added descriptor-free)
    If the target's metaData differs (schema was evolved after the
    target), the target's metaData action is re-emitted — RESTORE
    reverts schema as delta-spark does; the protocol action is NOT
    downgraded (readers already assume the current protocol).

    Refuses when any returning file is gone from disk (VACUUM'd):
    restore needs the data, not just the log. The commit timestamp is
    last-commit-ts + 1 so TIMESTAMP AS OF stays monotonic without a
    wall clock. Returns {"version": new head, "restored_to", "n_added",
    "n_removed"}.

    100 TB: driver cost is two log replays + O(changed files) JSON
    lines; no data is read, moved, or rewritten — the commit IS the
    operation, exactly why RESTORE is instant on real Delta tables.

    The exporter's SOLE-WRITER caveat applies as it does to vacuum: a
    later `export_delta_log` full regeneration rebuilds the log from
    SnapshotTable history and drops this appended commit — restore
    exported logs you then serve/read, or restore the parent store via
    its own rollback and re-export.

    Pass exactly one of `version` / `timestamp_ms` (the RESTORE
    command's two forms); a timestamp resolves through the same
    commitInfo rule as TIMESTAMP AS OF reads (version_at_timestamp)."""
    if (version is None) == (timestamp_ms is None):
        raise ValueError(
            "pass exactly one of version / timestamp_ms to restore"
        )
    if timestamp_ms is not None:
        version = version_at_timestamp(log_dir, timestamp_ms)
    cur = replay_delta_log(log_dir)
    if version == cur["version"]:
        raise ValueError(
            f"table is already at version {version}; nothing to restore"
        )
    tgt = replay_delta_log(log_dir, version=version)
    root = os.path.dirname(os.path.normpath(log_dir))
    returning = [
        a
        for p, a in sorted(tgt["files"].items())
        if cur["files"].get(p) != a
    ]
    missing = [
        a["path"]
        for a in returning
        if not os.path.exists(os.path.join(root, a["path"]))
    ]
    if missing:
        raise ValueError(
            f"cannot RESTORE to version {version}: {len(missing)} "
            f"file(s) it references no longer exist (vacuumed?), e.g. "
            f"{missing[0]}"
        )
    # monotonic commit timestamp without a wall clock
    last_ts = 0
    with open(
        os.path.join(log_dir, f"{cur['version']:020d}.json")
    ) as fh:
        for line in fh:
            a = json.loads(line)
            if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                last_ts = max(last_ts, a["commitInfo"]["timestamp"])
            elif "add" in a and a["add"].get("modificationTime"):
                last_ts = max(last_ts, a["add"]["modificationTime"])
    ts = last_ts + 1
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "RESTORE",
                "operationParameters": {
                    "version": str(version),
                    "timestamp": None,
                },
                "readVersion": cur["version"],
                "engineInfo": (
                    "hybrid_data_lakehouse_lab_spark delta restore"
                ),
            }
        }
    ]
    if tgt["metaData"] != cur["metaData"] and tgt["metaData"] is not None:
        actions.append({"metaData": tgt["metaData"]})
    n_removed = 0
    for p in sorted(cur["files"]):
        if tgt["files"].get(p) != cur["files"][p]:
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": ts,
                        "dataChange": True,
                    }
                }
            )
            n_removed += 1
    for a in returning:
        add = dict(a)
        add["dataChange"] = True
        actions.append({"add": add})
    new_v = cur["version"] + 1
    path = os.path.join(log_dir, f"{new_v:020d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    os.replace(tmp, path)
    return {
        "version": new_v,
        "restored_to": version,
        "n_added": len(returning),
        "n_removed": n_removed,
    }


def clean_log_commits(log_dir: str) -> list[int]:
    """Delete JSON commit files at or before the `_last_checkpoint`
    version — Delta's metadata retention step, safe because any version
    ≥ the checkpoint replays from the checkpoint alone. Versions BEFORE
    the checkpoint stop being replayable (time travel horizon moves up);
    callers wanting history keep a longer retention, same trade as
    `vacuum_snapshots` on the data side. Returns the removed versions;
    raises if no checkpoint exists (cleaning without one would orphan
    the table)."""
    cp = _load_last_checkpoint(log_dir)
    if cp is None:
        raise ValueError(f"{log_dir}: refusing to clean commits without a checkpoint")
    removed = []
    for f in sorted(os.listdir(log_dir)):
        if _is_commit_file(f):
            v = int(f.split(".")[0])
            if v <= cp["version"]:
                os.remove(os.path.join(log_dir, f))
                removed.append(v)
    return removed


def _check_reader_protocol(protocol: dict) -> None:
    """The shared read-side protocol gate: minReaderVersion 1; 2 (the
    legacy column-mapping version); or 3 with readerFeatures ⊆
    {deletionVectors, columnMapping, v2Checkpoint, timestampNtz,
    variantType}. Anything else
    refuses honestly — returning rows while ignoring an unknown reader
    feature is how a reader silently resurrects deleted data."""
    reader_v = protocol.get("minReaderVersion", 1)
    feats = set(protocol.get("readerFeatures") or [])
    if reader_v == 3:
        if protocol.get("readerFeatures") is None:
            raise NotImplementedError(
                f"minReaderVersion 3 without readerFeatures is malformed; "
                f"refusing to guess, got {protocol}"
            )
        unsupported = feats - {
        "deletionVectors",
        "columnMapping",
        "v2Checkpoint",
        "timestampNtz",  # TIMESTAMP_NTZ is native in Spark 4; just allow it
        "variantType",  # Spark 4 reads the Parquet VARIANT type natively
    }
        if unsupported:
            raise NotImplementedError(
                f"unsupported Delta reader features {sorted(unsupported)}"
            )
    elif reader_v == 2:
        pass  # the legacy (pre-table-features) column-mapping version
    elif reader_v > 1 or feats:
        raise NotImplementedError(
            f"only Delta minReaderVersion 1, 2 (columnMapping) or 3 "
            f"(deletionVectors/columnMapping/v2Checkpoint) is supported "
            f"here, got {protocol}"
        )


_CM_PHYS = "delta.columnMapping.physicalName"


def _physical_type(dt, where="table"):
    """The PHYSICAL shape of a column-mapping table's type: every
    struct field (top-level or nested inside struct/array/map) renamed
    to its `delta.columnMapping.physicalName` from the schemaString
    field metadata (PROTOCOL.md "Column Mapping": data files are
    written under the physical names, which stay static across logical
    renames). A mapped table whose field lacks a physical name is
    malformed — refuse rather than guess."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            phys = (f.metadata or {}).get(_CM_PHYS)
            if not phys:
                raise ValueError(
                    f"column-mapping table field {where}.{f.name} lacks "
                    f"{_CM_PHYS} in its schema metadata"
                )
            fields.append(
                T.StructField(
                    phys,
                    _physical_type(f.dataType, f"{where}.{f.name}"),
                    f.nullable,
                )
            )
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _physical_type(dt.elementType, where + "[]"), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType, where + "{k}"),
            _physical_type(dt.valueType, where + "{v}"),
            dt.valueContainsNull,
        )
    return dt


def _resolve_dv(root: str, dv: dict) -> list[int]:
    """Decode one `deletionVector` descriptor to its deleted row
    positions: storageType 'u' (uuid-derived file under the table
    root), 'p' (absolute path), or 'i' (inline Z85). Size, CRC and
    cardinality are all verified — a truncated or corrupt DV must fail
    loudly, never silently resurrect deleted rows."""
    from .roaring import (
        decode_dv_blob,
        dv_relative_path,
        read_dv_at,
        z85_decode,
    )

    st = dv["storageType"]
    if st == "u":
        prefix, fname = dv_relative_path(dv["pathOrInlineDv"])
        path = os.path.join(root, prefix, fname) if prefix else os.path.join(
            root, fname
        )
        positions = read_dv_at(path, dv["offset"], dv["sizeInBytes"])
    elif st == "p":
        positions = read_dv_at(
            dv["pathOrInlineDv"], dv["offset"], dv["sizeInBytes"]
        )
    elif st == "i":
        data = z85_decode(dv["pathOrInlineDv"], dv["sizeInBytes"])
        positions = decode_dv_blob(data)
    else:
        raise NotImplementedError(f"deletionVector storageType {st!r}")
    if len(positions) != dv["cardinality"]:
        raise ValueError(
            f"deletionVector cardinality mismatch: descriptor says "
            f"{dv['cardinality']}, bitmap holds {len(positions)}"
        )
    return positions


def _delta_prune_may_match(add: dict, pcols: list[str], prune) -> bool:
    """Can this add-action's file hold a row matching every (col, op,
    value) conjunct? Uses the stats JSON (minValues/maxValues) and the
    partition values; files lacking the needed stat are kept. ISO-8601
    date/timestamp strings compare lexicographically in chronological
    order, so date predicates work over the JSON string domain."""
    import datetime as _dt

    def domain(stored, v):
        # align user value with the stored JSON/partition domain;
        # None = incomparable (keep the file)
        if isinstance(v, _dt.datetime):
            # stats timestamps are UTC 'Z'-suffixed (delta-spark
            # format); compare in the datetime domain, not as strings
            if not isinstance(stored, str):
                return None
            try:
                s = _dt.datetime.fromisoformat(stored.replace("Z", "+00:00"))
            except ValueError:
                return None
            if s.tzinfo is not None:
                s = s.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return s, v
        if isinstance(v, _dt.date):
            v = v.isoformat()
        if isinstance(stored, bool) or isinstance(v, bool):
            return (stored, v) if isinstance(stored, bool) and isinstance(v, bool) else None
        if isinstance(stored, (int, float)) and isinstance(v, (int, float)):
            return stored, v
        if isinstance(stored, str):
            if isinstance(v, (int, float)):
                try:
                    return float(stored), float(v)
                except ValueError:
                    return None
            return stored, str(v)
        return None

    stats = None
    if add.get("stats"):
        try:
            stats = json.loads(add["stats"])
        except ValueError:
            stats = None
    for col, op, val in prune:
        if col in pcols:
            pv = (add.get("partitionValues") or {}).get(col)
            if pv is None:
                continue
            d = domain(pv, val)
            if d is None:
                continue
            lo = hi = d[0]
            v = d[1]
        else:
            if not stats:
                continue
            lo_raw = stats.get("minValues", {}).get(col)
            hi_raw = stats.get("maxValues", {}).get(col)
            if lo_raw is None or hi_raw is None:
                continue
            d1, d2 = domain(lo_raw, val), domain(hi_raw, val)
            if d1 is None or d2 is None:
                continue
            lo, v = d1
            hi, _ = d2
        if op == "=" and not (lo <= v <= hi):
            return False
        if op == "<" and not (lo < v):
            return False
        if op == "<=" and not (lo <= v):
            return False
        if op == ">" and not (hi > v):
            return False
        if op == ">=" and not (hi >= v):
            return False
        if op not in ("=", "<", "<=", ">", ">="):
            raise ValueError(f"unsupported prune op {op!r}")
    return True


def version_at_timestamp(log_dir: str, ts_ms: int) -> int:
    """Delta TIMESTAMP AS OF: the last commit whose commitInfo
    timestamp is <= ts_ms (this exporter stamps every commit; external
    logs without commitInfo fall back to file mtime, the same fallback
    delta-spark uses). Clock skew in an external log can record a later
    commit with an earlier raw timestamp; like delta-spark's
    monotonization, each commit's EFFECTIVE timestamp is bumped to
    (previous effective + 1 ms) when the raw value does not increase,
    so the scan never resolves to a too-early version. Raises if ts_ms
    predates the earliest REPLAYABLE commit (checkpoint cleaning moves
    the horizon up)."""
    best = None
    prev_eff = None
    for f in sorted(os.listdir(log_dir)):
        if not _is_commit_file(f):
            continue
        v = int(f.split(".")[0])
        ts = None
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    # inCommitTimestamp (the ICT writer feature) is the
                    # authoritative commit time when present — the spec
                    # requires time travel to prefer it over the file's
                    # timestamp, which clock skew can reorder
                    ci = a["commitInfo"]
                    ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
                    break
        if ts is None:
            ts = int(os.stat(os.path.join(log_dir, f)).st_mtime * 1000)
        if prev_eff is not None and ts <= prev_eff:
            ts = prev_eff + 1
        prev_eff = ts
        if ts <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no replayable commit at or before timestamp {ts_ms} in {log_dir}"
        )
    return best


def read_delta_table(
    spark,
    root: str,
    version: int | None = None,
    as_of_ms: int | None = None,
    prune=None,
):
    """Read a Delta table (ours or an external writer's) at `version`
    (0-based, None = latest) with plain Spark parquet reads — the
    consumer half of the interop story, no delta-spark jar needed.

    Protocol scope: minReaderVersion 1; minReaderVersion 2 (the legacy
    column-mapping protocol version); and minReaderVersion 3 when
    `readerFeatures` ⊆ {`deletionVectors`, `columnMapping`}. DV'd adds
    are masked by decoding each descriptor's roaring bitmap
    (operators/roaring.py; 'u'/'p'/'i' storage, CRC + cardinality
    verified) and anti-joining (file, `_metadata.row_index`) against
    the broadcast delete set, the same MoR shape as the Iceberg v2
    reader. COLUMN MAPPING (`delta.columnMapping.mode` = `name` or
    `id`) resolves data columns by each field's
    `delta.columnMapping.physicalName` — the name the spec requires
    writers to use INSIDE the data files in both modes (`id` mode
    additionally stamps parquet field_ids, but the physical name is
    always present and static, so name resolution is exact for
    spec-conformant files) — then renames back to the logical schema;
    nested struct fields rename via a positional struct cast.
    Partition values and file statistics are keyed by PHYSICAL name in
    mapped logs (the spec's writer rule), and `prune` conjuncts are
    translated accordingly; `metaData.partitionColumns` is accepted in
    either name space (delta-spark records logical names there).
    Any other reader feature still refuses honestly.
    Partition column VALUES come from
    the log's add actions (the Delta rule — paths are opaque), cast to
    the schemaString's declared types; data files are read with the
    non-partition schema so a file that physically contains the
    partition column still reads consistently.

    100 TB plan shape: the log replay is driver-side metadata work, and
    for long histories it seeds from the parquet checkpoint
    (`_last_checkpoint` + `write_checkpoint`) instead of replaying every
    JSON action since version 0 — only the commits after the checkpoint
    parse as JSON. The
    data read is ONE parquet scan over all live files; partition values
    attach via a BROADCAST file→values join on the normalized
    input_file_name — never a per-partition union, whose plan size would
    explode at thousands of partitions."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if version is not None and as_of_ms is not None:
        raise ValueError("pass version OR as_of_ms, not both")
    if as_of_ms is not None:
        version = version_at_timestamp(
            os.path.join(root, "_delta_log"), as_of_ms
        )
    state = replay_delta_log(os.path.join(root, "_delta_log"), version)
    _check_reader_protocol(state["protocol"] or {})
    meta = state["metaData"]
    if meta is None:
        raise ValueError(f"{root}: log has no metaData action")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    cm_mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if cm_mode not in ("none", "name", "id"):
        raise NotImplementedError(
            f"unknown delta.columnMapping.mode {cm_mode!r}"
        )
    if cm_mode != "none":
        phys_schema = _physical_type(schema)
        phys_of = {
            lf.name: pf.name
            for lf, pf in zip(schema.fields, phys_schema.fields)
        }
    else:
        phys_schema = schema
        phys_of = {}
    logical_of = {v: k for k, v in phys_of.items()}
    # partitionColumns may carry logical names (delta-spark) or physical
    # ones; normalize to logical for the output, physical for lookups
    pcols = [logical_of.get(c, c) for c in meta.get("partitionColumns", [])]
    data_schema = T.StructType(
        [
            pf
            for lf, pf in zip(schema.fields, phys_schema.fields)
            if lf.name not in pcols
        ]
    )
    files = {
        os.path.abspath(os.path.join(root, urllib.parse.unquote(p))): add
        for p, add in state["files"].items()
    }
    if prune:
        # advisory file skipping off add.stats + partitionValues — the
        # result is a SUPERSET of matching rows; the caller still
        # applies the real filter (which Catalyst pushes into the
        # surviving scans). In mapped logs stats and partitionValues
        # are keyed by PHYSICAL name, so translate the conjuncts.
        prune_phys = [(phys_of.get(c, c), op, v) for c, op, v in prune]
        pcols_phys = [phys_of.get(c, c) for c in pcols]
        files = {
            p: add
            for p, add in files.items()
            if _delta_prune_may_match(add, pcols_phys, prune_phys)
        }
    if not files:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(data_schema).parquet(*files)
    dv_pairs = [
        (path, pos)
        for path, add in files.items()
        if add.get("deletionVector")
        for pos in _resolve_dv(root, add["deletionVector"])
    ]
    if dv_pairs or pcols:
        from .mor_diff import guard_reserved_columns

        guard_reserved_columns(
            [f.name for f in schema.fields],
            ("_file", "_pos"),
            f"read_delta_table({root})",
        )
    if dv_pairs:
        mask = spark.createDataFrame(dv_pairs, "_file STRING, _pos BIGINT")
        df = (
            df.withColumn(
                "_file",
                F.regexp_replace(F.input_file_name(), _SCHEME_RE, "/"),
            )
            .withColumn("_pos", F.col("_metadata.row_index"))
            .join(F.broadcast(mask), ["_file", "_pos"], "left_anti")
            .drop("_file", "_pos")
        )
    if pcols:
        # input_file_name() is a URI (file:/..., hdfs://host/..., s3a://
        # bucket/...); normalize both sides to the bare path for the join
        def _pv(add, c):
            pv = add.get("partitionValues") or {}
            v = pv.get(phys_of.get(c, c))
            return pv.get(c) if v is None else v

        mapping = spark.createDataFrame(
            [
                (path, *[_pv(add, c) for c in pcols])
                for path, add in files.items()
            ],
            T.StructType(
                [T.StructField("_file", T.StringType())]
                + [T.StructField(c, T.StringType()) for c in pcols]
            ),
        )
        df = (
            df.withColumn(
                "_file",
                F.regexp_replace(F.input_file_name(), _SCHEME_RE, "/"),
            )
            .join(F.broadcast(mapping), "_file")
            .drop("_file")
        )
        for c in pcols:
            df = df.withColumn(c, F.col(c).cast(schema[c].dataType))
    out = []
    for lf in schema.fields:
        if lf.name in pcols or cm_mode == "none":
            out.append(F.col(lf.name))
        else:
            # physical → logical rename; the cast also renames NESTED
            # struct fields back to their logical names (struct casts
            # resolve positionally)
            out.append(
                F.col(phys_of[lf.name]).cast(lf.dataType).alias(lf.name)
            )
    return df.select(*out)


def read_delta_changes(
    spark,
    root: str,
    starting_version: int = 0,
    ending_version: int | None = None,
):
    """Read the CHANGE DATA FEED of a Delta table for the commit range
    [starting_version, ending_version] — the consumer of
    `delta.enableChangeDataFeed` tables (PROTOCOL.md "Change Data
    Files"), mirroring delta-spark's `readChangeFeed`: returns the table
    columns plus `_change_type` (insert / delete / update_preimage /
    update_postimage), `_commit_version`, `_commit_timestamp`.

    Per the spec's rule, a commit's `cdc` actions are AUTHORITATIVE when
    present (their parquet carries `_change_type` per row); commits
    without cdc actions derive changes from their add/remove actions —
    adds read as inserts, removed files re-read as deletes (their
    partition values from the remove action or the pre-commit state),
    and files carrying a deletion-vector descriptor contribute only
    their unmasked rows. A no-cdc commit that rewrites a file IN PLACE
    (remove + re-add of the same path — a DV update) cannot be derived
    and refuses honestly.

    100 TB plan shape: the log walk is driver-side metadata; the data
    read is at most THREE parquet scans (cdc / inserts / deletes),
    each joined to a broadcast file→(version, timestamp, partitions)
    map — a file changed in several commits fans out per commit through
    the join, never through repeated scans. CDF ranges are bounded by
    construction (a consumer reads since its last checkpoint); versions
    cleaned past the checkpoint horizon refuse with the earliest
    replayable version."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log_dir = os.path.join(root, "_delta_log")
    commit_files = {
        int(f.split(".")[0]): f
        for f in os.listdir(log_dir)
        if _is_commit_file(f)
    }
    if not commit_files:
        raise FileNotFoundError(f"no commit files in {log_dir}")
    last = max(commit_files)
    if ending_version is None:
        ending_version = last
    if not 0 <= starting_version <= ending_version <= last:
        raise ValueError(
            f"invalid CDF range [{starting_version}, {ending_version}] "
            f"(log ends at {last})"
        )
    if starting_version < min(commit_files):
        raise ValueError(
            f"CDF needs the JSON commits: versions before "
            f"{min(commit_files)} have been cleaned from {log_dir}"
        )
    end_state = replay_delta_log(log_dir, ending_version)
    _check_reader_protocol(end_state["protocol"] or {})
    meta = end_state["metaData"]
    if meta is None:
        raise ValueError(f"{root}: log has no metaData action")
    if (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) != "none":
        raise NotImplementedError(
            "change-data-feed read over a column-mapping table"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = meta.get("partitionColumns", [])
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in pcols]
    )
    cdc_schema = T.StructType(
        data_schema.fields + [T.StructField("_change_type", T.StringType())]
    )

    prior = (
        replay_delta_log(log_dir, starting_version - 1)["files"]
        if starting_version > 0
        else {}
    )
    # the whole range reads under the END version's schema; a rename /
    # drop / type change INSIDE the range would silently misread older
    # change files, so only additive evolution is allowed (the
    # delta-spark "incompatible data schema change" rule). The start
    # boundary's schema comes from the pre-range replay.
    end_fields = {f.name: f.dataType for f in schema.fields}
    # schema in force AT the start version — the range's base (a
    # schema-change commit's own CDF rows are written under its NEW
    # schema, so a range STARTING at that commit is fine)
    start_meta = replay_delta_log(log_dir, starting_version)["metaData"]

    def _compatible(meta_action):
        if meta_action is None:
            return True
        old = T.StructType.fromJson(
            json.loads(meta_action["schemaString"])
        )
        return all(
            f.name in end_fields and end_fields[f.name] == f.dataType
            for f in old.fields
        )

    if not _compatible(start_meta):
        raise ValueError(
            f"incompatible data schema change inside CDF range "
            f"[{starting_version}, {ending_version}]: the range must "
            "be split at the schema-change commit"
        )
    groups: dict[str, list] = {"cdc": [], "insert": [], "delete": []}
    for v in range(starting_version, ending_version + 1):
        adds, removes, cdcs, ts = [], [], [], None
        with open(os.path.join(log_dir, commit_files[v])) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "add" in a:
                    adds.append(a["add"])
                elif "remove" in a:
                    removes.append(a["remove"])
                elif "cdc" in a:
                    cdcs.append(a["cdc"])
                elif "metaData" in a:
                    if not _compatible(a["metaData"]):
                        raise ValueError(
                            f"incompatible data schema change at "
                            f"commit {v} inside CDF range "
                            f"[{starting_version}, {ending_version}]: "
                            "the range must be split at the "
                            "schema-change commit"
                        )
                elif "commitInfo" in a and ts is None:
                    ci = a["commitInfo"]
                    ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
        if ts is None:
            ts = int(
                os.stat(os.path.join(log_dir, commit_files[v])).st_mtime * 1000
            )

        def _abs(p):
            return os.path.abspath(
                os.path.join(root, urllib.parse.unquote(p))
            )

        if cdcs:
            for c in cdcs:
                groups["cdc"].append(
                    (_abs(c["path"]), v, ts, c.get("partitionValues") or {}, None)
                )
        else:
            data_adds = [a for a in adds if a.get("dataChange", True)]
            data_removes = [r for r in removes if r.get("dataChange", True)]
            readded = {a["path"] for a in data_adds} & {
                r["path"] for r in data_removes
            }
            if readded:
                # remove + re-add of the same path in one commit is an
                # in-place row change (a deletion-vector update); its
                # row-level effect cannot be derived from the actions
                raise NotImplementedError(
                    f"commit {v} rewrites files in place (deletion "
                    f"vectors) but wrote no cdc files; its CDF cannot "
                    f"be derived from add/remove actions"
                )
            # files carrying a DV contribute only their UNMASKED rows —
            # the descriptor's positions are excluded from the derived
            # insert/delete rows, matching what was logically live
            for a in data_adds:
                groups["insert"].append(
                    (
                        _abs(a["path"]),
                        v,
                        ts,
                        a.get("partitionValues") or {},
                        a.get("deletionVector"),
                    )
                )
            for r in data_removes:
                pa = prior.get(r["path"]) or {}
                pv = r.get("partitionValues") or pa.get("partitionValues") or {}
                groups["delete"].append(
                    (_abs(r["path"]), v, ts, pv, pa.get("deletionVector"))
                )
        for r in removes:
            prior.pop(r["path"], None)
        for a in adds:
            prior[a["path"]] = a

    from .mor_diff import guard_reserved_columns

    guard_reserved_columns(
        [f.name for f in schema.fields],
        ("_file", "_pos", "_commit_version", "_ts", "_change_type",
         "_commit_timestamp"),
        f"read_delta_changes({root})",
    )
    map_schema = T.StructType(
        [
            T.StructField("_file", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_ts", T.LongType()),
        ]
        + [T.StructField(c, T.StringType()) for c in pcols]
    )

    def attach(df, rows):
        mapping = spark.createDataFrame(
            [
                (p, v, ts, *[pv.get(c) for c in pcols])
                for p, v, ts, pv, _dv in rows
            ],
            map_schema,
        )
        dv_masks = [
            (p, v, pos)
            for p, v, _ts, _pv, dv in rows
            if dv
            for pos in _resolve_dv(root, dv)
        ]
        df = df.withColumn(
            "_file",
            F.regexp_replace(F.input_file_name(), _SCHEME_RE, "/"),
        )
        if dv_masks:
            # the metadata pseudo-column must be captured AT the scan
            df = df.withColumn("_pos", F.col("_metadata.row_index"))
        df = df.join(F.broadcast(mapping), "_file")
        if dv_masks:
            mdf = spark.createDataFrame(
                dv_masks, "_file STRING, _commit_version BIGINT, _pos BIGINT"
            )
            df = df.join(
                F.broadcast(mdf),
                ["_file", "_commit_version", "_pos"],
                "left_anti",
            ).drop("_pos")
        df = df.drop("_file")
        for c in pcols:
            df = df.withColumn(c, F.col(c).cast(schema[c].dataType))
        return df

    parts = []
    if groups["cdc"]:
        df = spark.read.schema(cdc_schema).parquet(
            *{p for p, *_ in groups["cdc"]}
        )
        parts.append(attach(df, groups["cdc"]))
    for kind in ("insert", "delete"):
        if groups[kind]:
            df = spark.read.schema(data_schema).parquet(
                *{p for p, *_ in groups[kind]}
            )
            parts.append(
                attach(df, groups[kind]).withColumn(
                    "_change_type", F.lit(kind)
                )
            )
    out_cols = [f.name for f in schema.fields] + [
        "_change_type",
        "_commit_version",
        "_commit_timestamp",
    ]
    if not parts:
        empty = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ]
        )
        return spark.createDataFrame([], empty)
    res = reduce(lambda a, b: a.unionByName(b), parts)
    res = res.withColumn(
        "_commit_timestamp", F.timestamp_millis(F.col("_ts"))
    ).drop("_ts")
    return res.select(*out_cols)
