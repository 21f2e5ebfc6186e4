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
  `commitInfo.userMetadata`, where a Delta writer records per-commit
  application metadata.

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

THE LOG WALK. Every reader of a log is a fold over one ordered walk of
its commits (`_DeltaLog`): it alone lists `_delta_log/` for commit
files, reads `_last_checkpoint` and parses commit lines. The walk
yields each surviving commit's version, its actions and its EFFECTIVE
timestamp: `commitInfo.inCommitTimestamp` (the spec's authoritative
commit time), else `commitInfo.timestamp`, else the commit file's
mtime, bumped to the previous effective timestamp + 1 ms where it does
not increase (delta-spark's monotonization, so clock skew never
resolves TIMESTAMP AS OF to a too-early version). The fold next to it
seeds from the checkpoint and yields the live state (add wins by path,
remove deletes by path) after each version. Replay, TIMESTAMP AS OF,
DESCRIBE HISTORY (`iceberg_inspect.delta_history_table`), the change
data feed, RESTORE, VACUUM and orphan reachability
(`maintenance.vacuum_delta_table` / `_delta_log_reachable`) all use
it, so they agree on versions, timestamps and live files. Replay walks
only the commits past its seed and reads no timestamps; the others
walk every surviving commit. `_dv_path` is the one rule from a
deletion-vector descriptor to its file. Every writer of a log
(`export_delta_log`, `restore_delta_table`, `write_checkpoint`,
`clean_log_commits`) holds `_delta_log/.commit.lock` (`util.locked`;
not re-entrant, so none calls another while holding it).

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
import shutil
import urllib.parse
import uuid
from dataclasses import dataclass, field

from .mor_diff import (
    MorBase,
    _parquet_row_count,
    _snapshot_files,
    _with_file_pos,
    gc_ledger,
    scan_files,
    write_spark_parts,
)
from .timetravel import SnapshotTable, live_history, snapshot_schema
from .util import atomic_open, local_frame, locked, read_parquet

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
    spark, root: str, version: int, deleted, touched: list, pv_of: dict, schema
) -> list[dict]:
    """Materialize THIS commit's newly-deleted rows as `_change_data/`
    cdc parquet (`_change_type='delete'`) and return the `cdc` actions.
    Distributed: one scan of the `touched` files semi-joined to the
    broadcast `deleted` (file_path, pos) DataFrame — the positions
    never visit the driver; partitioned tables attach their partition
    values (broadcast file→values map) and route through partitionBy so
    change files mirror the data layout. Files are renamed
    deterministically (`cdc-NNNNN.parquet`) so re-exports reference
    stable paths. The touched files are read with `schema`, the data
    schema of the snapshot they belong to (None infers)."""
    from pyspark.sql import functions as F

    pairs = deleted.select(
        F.col("file_path").alias("_f"), F.col("pos").alias("_p")
    )
    rows = _with_file_pos(read_parquet(spark, schema, *touched), "_f", "_p").join(
        F.broadcast(pairs), ["_f", "_p"], "left_semi"
    )
    pcols = next((list(pv) for pv in pv_of.values() if pv), [])
    if pcols:
        mapping = local_frame(
            spark,
            [(f, *[pv_of[f].get(c) for c in pcols]) for f in touched],
            ", ".join(["_f STRING"] + [f"`{c}` STRING" for c in pcols]),
        )
        rows = rows.join(F.broadcast(mapping), "_f")
    rows = rows.drop("_f", "_p").withColumn("_change_type", F.lit("delete"))
    out_dir = os.path.join(root, "_change_data", f"v{version:020d}")
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
        for p in write_spark_parts(rows, out_dir, "cdc", pcols)
    ]


@dataclass
class _DeltaExport:
    """The state `export_delta_log` carries across the pointer history:
    the merge-on-read base (`MorBase`), the files and schema of the last
    rewrite and commit, the table's protocol so far, and the DV files
    and change-data dirs this export wrote (for the stale-file GC)."""

    table: SnapshotTable
    mor_deletes: bool
    change_data: bool
    created_ms: int
    base: MorBase
    prev_files: list[dict] = field(default_factory=list)
    prev_schema: str | None = None
    protocol: dict | None = None
    dv_files: set[str] = field(default_factory=set)
    cdc_dirs: set[str] = field(default_factory=set)


def _commit_info(at_ms: int, props: dict, t, partition_cols: list) -> dict:
    """The commitInfo action of the commit of transition `t`, with the
    snapshot's `props` (the SCD2 checkpoint rides there) as
    userMetadata."""
    if t.kind == "delete":
        op, params = "DELETE", {"predicate": "[]"}
    elif t.maintenance:
        # delta-spark OPTIMIZE: a logical no-op rewrite. Delta has no
        # minor form (DV descriptors already replace per file), so a
        # minor compaction is one too. A z-ordered rewrite
        # (maintenance.rewrite_data_files_sorted strategy="zorder")
        # records its columns as delta-spark does: zOrderBy
        op, params = "OPTIMIZE", {"predicate": "[]", "auto": "false"}
        if props.get("zorder-by"):
            params["zOrderBy"] = props["zorder-by"]
    else:
        op, params = "WRITE", {
            "mode": "Overwrite",
            "partitionBy": json.dumps(partition_cols),
        }
    info = {
        "timestamp": at_ms,
        "operation": op,
        "operationParameters": params,
        "engineInfo": "hybrid_data_lakehouse_lab_spark SnapshotTable exporter",
    }
    if props:
        info["userMetadata"] = json.dumps(props)
    return {"commitInfo": info}


def _first_protocol(mor_deletes: bool, change_data: bool) -> dict:
    """The protocol of a table's first commit: the deletionVectors
    feature (plus changeDataFeed) with DVs, the legacy writer-4 CDF
    protocol (no reader requirement) with change data only, else
    reader 1 / writer 2."""
    if mor_deletes:
        features = ["deletionVectors"] + (["changeDataFeed"] if change_data else [])
        return dict(DV_PROTOCOL, writerFeatures=sorted(features))
    if change_data:
        return {"minReaderVersion": 1, "minWriterVersion": 4}
    return PROTOCOL


def _table_actions(x: _DeltaExport, read_schema, partition_cols: list) -> list[dict]:
    """The protocol and metaData actions of a commit whose snapshot
    reads as `read_schema`: the protocol on the first commit, and again
    on the commit where a variant column first appears (schema
    evolution upgrades it, like a real writer enabling a table
    feature); metaData whenever the schema changes."""
    out = []
    proto = x.protocol or _first_protocol(x.mor_deletes, x.change_data)
    if _contains_variant(read_schema) and "variantType" not in proto.get(
        "writerFeatures", ()
    ):
        proto = _variant_protocol(proto)
    if proto is not x.protocol:
        out.append({"protocol": proto})
        x.protocol = proto
    schema_str = read_schema.json()
    if schema_str != x.prev_schema:
        configuration = {"delta.enableDeletionVectors": "true"} if x.mor_deletes else {}
        if x.change_data:
            configuration["delta.enableChangeDataFeed"] = "true"
        out.append(
            {
                "metaData": {
                    "id": str(uuid.uuid5(uuid.NAMESPACE_URL, x.table.root)),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_str,
                    "partitionColumns": partition_cols,
                    "configuration": configuration,
                    "createdTime": x.created_ms,
                }
            }
        )
        x.prev_schema = schema_str
    return out


def _dv_commit(x: _DeltaExport, i: int, at_ms: int, t) -> list[dict]:
    """The file actions of deletion-vector commit `i` for the delete
    transition `t`: each touched file gets `remove` + re-`add` with its
    CUMULATIVE bitmap (a descriptor replaces any prior one for that
    file, per the spec). Unlike an Iceberg positional delete file, a DV
    is attached to ONE data file and carries no partition tuple, so a
    partitioned table takes this path too. The bitmaps arrive
    serialized from the executors; the driver only frames them into
    one `.bin` file and the actions. With change data, the deleted rows
    are also written as `_change_data/` cdc files."""
    from .roaring import encode_dv_uuid, write_dv_file

    base, root = x.base, x.table.root
    changed = base.fold_dvs(t.diff)
    base.record_delete(t.diff, t.rows)
    olds = [base.file(p) for p in changed]
    dv_uuid = uuid.uuid5(uuid.NAMESPACE_URL, f"{root}#dv{i}")
    dv_name = f"deletion_vector_{dv_uuid}.bin"
    descs = write_dv_file(
        os.path.join(root, dv_name), [base.dv[p][0] for p in changed]
    )
    x.dv_files.add(dv_name)
    actions = []
    for p, old, (off, sz) in zip(changed, olds, descs):
        dv = {
            "storageType": "u",
            "pathOrInlineDv": encode_dv_uuid(dv_uuid),
            "offset": off,
            "sizeInBytes": sz,
            "cardinality": base.dv[p][1],
        }
        actions.append(
            {
                "remove": {
                    "path": old["path"],
                    "deletionTimestamp": at_ms,
                    "dataChange": True,
                }
            }
        )
        actions.append({"add": dict(old, deletionVector=dv)})
    if x.change_data:
        pv_of = {p: old.get("partitionValues") or {} for p, old in zip(changed, olds)}
        actions += _write_change_data(
            x.table.spark, root, i, t.diff, changed, pv_of, base.schema
        )
        x.cdc_dirs.add(f"v{i:020d}")
    return actions


def _rewrite_commit(x: _DeltaExport, at_ms: int, t) -> list[dict]:
    """The file actions of a full-rewrite commit for transition `t`:
    `remove` for each file of the last rewrite that `t`'s snapshot does
    not keep, and `add` with footer statistics for each of its files. A
    compaction marks every action dataChange=false, so CDF and
    streaming readers skip it. The DV state restarts here."""
    data_change = not t.maintenance
    kept = {f["path"] for f in t.files}
    actions = [
        {
            "remove": {
                "path": f["path"],
                "deletionTimestamp": at_ms,
                "dataChange": data_change,
            }
        }
        for f in x.prev_files
        if f["path"] not in kept
    ]
    x.prev_files = []
    for f in t.files:
        add = dict(f, dataChange=data_change)
        st = _delta_stats(os.path.join(x.table.root, urllib.parse.unquote(f["path"])))
        if st:
            add["stats"] = st
        x.prev_files.append(add)
    actions += [{"add": f} for f in x.prev_files]
    if x.mor_deletes:
        x.base.reset(t, x.prev_files)
    return actions


def _remove_stale_files(x: _DeltaExport, log_dir: str, last: int) -> None:
    """A vacuum can SHRINK the pointer history (it rewrites the manifest
    without the vacuumed versions). Commit files past the new end
    `last` would still replay, referencing deleted data files, so they
    go, and so does a `_last_checkpoint` pointing past it. DV files and
    `_change_data` dirs this export did not write (a shrunk history, a
    transition that re-exported as a rewrite, change data turned off)
    would outlive the actions naming them and go by the same
    contract."""
    log = _DeltaLog(log_dir)
    for v, f in log.names.items():
        if v > last:
            os.remove(os.path.join(log_dir, f))
    for f in os.listdir(log_dir):
        if ".checkpoint" in f and f.endswith((".parquet", ".json")):
            # External readers (delta-spark, delta-rs) discover
            # checkpoints by LISTING _delta_log, not only via
            # _last_checkpoint — an orphaned {v}.checkpoint*.parquet
            # past the new log end would seed a reader with vacuumed
            # state referencing deleted data files (ADVICE r6).
            v = f.split(".")[0]
            if v.isdigit() and int(v) > last:
                os.remove(os.path.join(log_dir, f))
    if log.checkpoint is not None and log.checkpoint["version"] > last:
        os.remove(os.path.join(log_dir, "_last_checkpoint"))
    root = x.table.root
    for f in os.listdir(root):
        dv_file = f.startswith("deletion_vector_") and f.endswith(".bin")
        if dv_file and f not in x.dv_files:
            os.remove(os.path.join(root, f))
    cdc_root = os.path.join(root, "_change_data")
    if os.path.isdir(cdc_root):
        for d in os.listdir(cdc_root):
            if d not in x.cdc_dirs:
                shutil.rmtree(os.path.join(cdc_root, d), ignore_errors=True)
        if not os.listdir(cdc_root):
            os.rmdir(cdc_root)


def _write_commit(
    log_dir: str, version: int, actions: list[dict], exclusive: bool = False
) -> None:
    """Write commit `version` as one JSON action per line, all or
    nothing (`atomic_open`). `exclusive` refuses with FileExistsError
    when the version already exists, where a plain write replaces it:
    the staged file is hard-linked onto the name, which fails rather
    than overwrites."""
    path = os.path.join(log_dir, f"{version:020d}.json")
    staged = os.path.join(log_dir, f".{version:020d}.json.staged") if exclusive else path
    with atomic_open(staged, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    if exclusive:
        try:
            os.link(staged, path)
        finally:
            os.remove(staged)


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
    are merged with the positions deleted since the last rewrite and
    serialized by two JVM-only aggregations on the executors
    (operators/dv_kernel.py — no Python worker starts), and the driver
    receives only (file, blob bytes, cardinality) rows to frame into
    the .bin file — it never materializes positions, so a GDPR-scale
    purge of a 100 TB table costs the driver compressed-bitmap bytes,
    not billions of Row objects.

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

    CHANGE-SET LEDGER (`mor_diff.MorBase`): each delete diff and its
    folded DVs are persisted under `_mor_ledger/`, keyed by the base
    state — the base dirs' files as (absolute path, size), the keys of
    the deletes since the last rewrite and the child dir's files — so a
    re-export, or an Iceberg export of the same root, reads them back
    instead of diffing again. An entry is used only if its JSON agrees
    with that key and the current row counts and its positions' footer
    row total equals the recorded count; anything else is recomputed
    and overwritten. At the end of the export, entries whose child dir
    is no longer a live snapshot are removed (`mor_diff.gc_ledger`).

    SOLE-WRITER assumption: this exporter owns `_delta_log/` — the
    regeneration (and especially the stale-tail cleanup) would
    overwrite or delete commits appended by an EXTERNAL Delta writer.
    Within this engine the export holds `_delta_log/.commit.lock` from
    its first commit write to its cleanup, the lock
    `restore_delta_table`, `write_checkpoint` and `clean_log_commits`
    commit under, so none of them interleaves with it.
    Interop is one-directional by design: external engines READ the
    exported log, and `read_delta_table` conversely reads external
    logs; dual-writer coordination is what a real catalog/log store
    provides and is out of scope here.

    TRANSITIONS: `mor_diff.MorBase.transition` classifies each commit,
    with the rules both exporters share (maintenance flags, the
    row-count refusal, the base-schema gate). A delete commits as a DV
    DELETE, a compaction or minor compaction as an OPTIMIZE whose
    actions all carry dataChange=false, and anything else as an
    overwriting WRITE; the commit where a variant column first appears
    also upgrades the protocol, and a commit that changes the schema
    carries a new metaData action.

    Returns the `_delta_log` directory path. Raises if the branch has
    no history (a Delta log must have a version 0).
    """
    m = table._load_manifest()
    events = live_history(m, branch)
    if not events:
        raise ValueError(f"branch {branch!r} has no commits to export")
    log_dir = os.path.join(table.root, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    by_version = {s["version"]: s for s in m["snapshots"]}
    x = _DeltaExport(
        table, mor_deletes, change_data, events[0]["at_ms"], MorBase(table.root)
    )
    kinds = ("delete",) if mor_deletes else ()
    prev = None
    with locked(os.path.join(log_dir, ".commit.lock")):
        for i, ev in enumerate(events):
            snap = by_version[ev["version"]]
            files = _snapshot_files(table.root, snap["path"])
            schema = snapshot_schema(m, snap)
            read_schema = read_parquet(table.spark, schema, snap["path"]).schema
            t = x.base.transition(
                table.spark, snap, prev, files, schema, read_schema, kinds
            )
            # partition columns in path-segment order (every file of one
            # snapshot shares the same partitioning scheme)
            pcols = next(
                (list(f["partitionValues"]) for f in files if f["partitionValues"]), []
            )
            actions = [_commit_info(ev["at_ms"], snap.get("properties") or {}, t, pcols)]
            actions += _table_actions(x, read_schema, pcols)
            if t.kind == "delete":
                actions += _dv_commit(x, i, ev["at_ms"], t)
            else:
                actions += _rewrite_commit(x, ev["at_ms"], t)
            _write_commit(log_dir, i, actions)
            prev = snap
        _remove_stale_files(x, log_dir, len(events) - 1)
    gc_ledger(table.root, [s["path"] for s in m["snapshots"]])
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


@dataclass
class _Commit:
    """One surviving commit of the walk: its version, its actions in
    file order and its effective timestamp in ms (None on a walk that
    skips the commits before its seed)."""

    version: int
    actions: list[dict]
    timestamp: int | None = None

    @property
    def info(self) -> dict:
        """The commit's first commitInfo action ({} without one)."""
        return next((a["commitInfo"] for a in self.actions if "commitInfo" in a), {})


class _DeltaLog:
    """THE reader of a `_delta_log/` (module docstring, "THE LOG WALK"):
    one listing of its commit files (`names`, version -> file name) and
    its `_last_checkpoint` pointer (`checkpoint`), the commit walk and
    the state fold over it."""

    def __init__(self, log_dir: str):
        self.dir = log_dir
        self.names = {
            int(f.split(".")[0]): f for f in os.listdir(log_dir) if _is_commit_file(f)
        }
        self.checkpoint = _load_last_checkpoint(log_dir)

    def walk(self, last: int | None = None, after: int | None = None):
        """The surviving commits up to `last` (None = all), in version
        order, as `_Commit`s. With `after` None the walk covers every
        surviving commit and times each one by the module's rule; with
        `after` set it opens only the commits past it and times none
        (the replay fast path parses no more than it applies)."""
        prev = None
        for v in sorted(self.names):
            if last is not None and v > last:
                break
            if after is not None and v <= after:
                continue
            path = os.path.join(self.dir, self.names[v])
            with open(path) as fh:
                c = _Commit(v, [json.loads(ln) for ln in fh if ln.strip()])
            if after is None:
                ts = c.info.get("inCommitTimestamp", c.info.get("timestamp"))
                if ts is None:
                    ts = int(os.stat(path).st_mtime * 1000)
                if prev is not None and ts <= prev:
                    ts = prev + 1
                c.timestamp = prev = ts
            yield c

    def states(
        self, first: int | None = None, last: int | None = None, every: bool = False
    ):
        """THE fold: yields (commit, state, gone) for the seed and each
        walked commit up to `last`. `state` is the replay state
        {"version", "files": {path: add action}, "metaData", "protocol"}
        — one dict, updated in place — and `gone` maps each path the
        commit removed to its add action before the commit. The seed is
        the checkpoint, yielded first with commit None, when it is at
        or before `first` (the earliest version whose state the caller
        needs; None = the head), else the empty table before commit 0.
        With `every` the walk covers every surviving commit, timed, and
        the seed is the checkpoint only when commit 0 is gone; commits
        at or before the seed leave the state at the seed. Raises when
        the state at `first` cannot be rebuilt (its commits were
        cleaned) or the commits past the seed are not contiguous."""
        cp = self.checkpoint
        seeded = cp is not None and (
            0 not in self.names if every else first is None or cp["version"] <= first
        )
        state = {"version": -1, "files": {}, "metaData": None, "protocol": None}
        if not seeded and not self.names:
            raise FileNotFoundError(f"no commit files in {self.dir}")
        earliest = cp["version"] if seeded else min(self.names)
        if earliest > 0 and not (seeded and (first is None or first >= earliest)):
            raise FileNotFoundError(
                f"version {first} predates the checkpoint and commits before "
                f"{earliest} have been cleaned from {self.dir}; earliest "
                f"replayable version is {earliest}"
            )
        if seeded:
            state["files"], state["metaData"], state["protocol"] = _read_checkpoint(
                self.dir, cp
            )
            state["version"] = cp["version"]
            yield None, state, {}
        seed = state["version"]
        for c in self.walk(last, None if every else seed):
            gone: dict[str, dict | None] = {}
            if c.version > seed:
                if c.version != state["version"] + 1:
                    raise ValueError(
                        f"non-contiguous log in {self.dir}: expected commit "
                        f"{state['version'] + 1:020d}.json, found {c.version:020d}.json"
                    )
                files = state["files"]
                for a in c.actions:
                    if "add" in a:
                        files[a["add"]["path"]] = a["add"]
                    elif "remove" in a:
                        gone[a["remove"]["path"]] = files.pop(a["remove"]["path"], None)
                    elif "metaData" in a:
                        state["metaData"] = a["metaData"]
                    elif "protocol" in a:
                        state["protocol"] = a["protocol"]
                state["version"] = c.version
            yield c, state, gone


def _dv_path(root: str, dv: dict) -> str | None:
    """The file holding a `deletionVector` descriptor's bitmap, absolute:
    storageType 'u' is a uuid-derived name under the table `root`, 'p'
    an absolute path. None for an inline ('i') or unknown descriptor.
    The one rule from a descriptor to its file — the reader, VACUUM and
    orphan reachability all resolve through it."""
    from .roaring import dv_relative_path

    if dv["storageType"] == "u":
        prefix, fname = dv_relative_path(dv["pathOrInlineDv"])
        return os.path.abspath(os.path.join(root, prefix, fname))
    if dv["storageType"] == "p":
        return os.path.abspath(dv["pathOrInlineDv"])
    return None


def replay_delta_log(log_dir: str, version: int | None = None) -> dict:
    """Replay a `_delta_log/` per PROTOCOL.md action reconciliation up
    to `version` (0-based; None = latest): add wins by path, remove
    deletes by path. Returns {"version", "files": {path: add_action},
    "metaData", "protocol"}. Works on ANY spec-conforming log, not just
    ones this module exported.

    The last state of the log's fold (module docstring, "THE LOG
    WALK"): if a `_last_checkpoint` exists and the requested version is
    at or past it, replay starts FROM the checkpoint parquet and only
    the JSON commits after it are parsed — the spec's long-history fast
    path, and the only correct path once `clean_log_commits` has
    removed the early JSON files. Versions before the checkpoint remain
    readable only while their JSON commits survive."""
    for _c, state, _gone in _DeltaLog(log_dir).states(version, version):
        pass
    if version is not None and state["version"] != version:
        raise ValueError(
            f"version {version} not found in {log_dir} (last={state['version']})"
        )
    return state


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
    a partial file; the replay and the writes run under the log lock.
    Returns the checkpoint parquet path(s)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with locked(os.path.join(log_dir, ".commit.lock")):
        state = replay_delta_log(log_dir, version)
        v = state["version"]
        prior = _DeltaLog(log_dir).checkpoint
        if prior is not None and v < prior["version"]:
            # A backwards pointer move would force later reads to replay
            # JSON commits after v — which clean_log_commits may already
            # have deleted up to the PRIOR checkpoint. Never regress.
            raise ValueError(
                f"refusing to move _last_checkpoint backwards "
                f"(v{prior['version']} -> v{v})"
            )
        schema, rows = _checkpoint_rows(log_dir, state)
        n = max(1, parts or 1)
        if parts:
            names = [
                f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
                for i in range(1, n + 1)
            ]
            chunks = [rows[i::n] for i in range(n)]
        else:
            names = [f"{v:020d}.checkpoint.parquet"]
            chunks = [rows]
        out = []
        for name, chunk in zip(names, chunks):
            target = os.path.join(log_dir, name)
            pq.write_table(pa.Table.from_pylist(chunk, schema=schema), target)
            out.append(target)
        pointer = {"version": v, "size": len(rows)}
        if parts:
            pointer["parts"] = n
        with atomic_open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump(pointer, fh)
    return out


def _checkpoint_rows(log_dir: str, state: dict) -> tuple:
    """The pyarrow schema and the rows of a checkpoint of the replay
    `state`: protocol, metaData, then one add per live file by path."""
    import pyarrow as pa

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
    return schema, rows


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
    the head commit's effective timestamp + 1 (module docstring, "THE
    LOG WALK"), so TIMESTAMP AS OF stays monotonic without a wall
    clock. Returns {"version": new head, "restored_to", "n_added",
    "n_removed"}.

    The target and head states come from one fold over the log, taken
    under `_delta_log/.commit.lock` together with the write, and the
    new commit is created exclusively: a concurrent restore or export
    that read the same head commits after this one, never over it.

    100 TB: driver cost is one walk of the log + O(changed files) JSON
    lines; no data is read, moved, or rewritten — the commit IS the
    operation, exactly why RESTORE is instant on real Delta tables.

    The exporter's SOLE-WRITER caveat applies as it does to vacuum: a
    later `export_delta_log` full regeneration rebuilds the log from
    SnapshotTable history and drops this appended commit — restore
    exported logs you then serve/read, or restore the parent store via
    its own rollback and re-export.

    Pass exactly one of `version` / `timestamp_ms` (the RESTORE
    command's two forms); a timestamp resolves as TIMESTAMP AS OF reads
    do (version_at_timestamp)."""
    if (version is None) == (timestamp_ms is None):
        raise ValueError(
            "pass exactly one of version / timestamp_ms to restore"
        )
    with locked(os.path.join(log_dir, ".commit.lock")):
        if timestamp_ms is not None:
            version = version_at_timestamp(log_dir, timestamp_ms)
        tgt, head_ts = None, 0
        for c, cur, _gone in _DeltaLog(log_dir).states(version, every=True):
            if c is not None:
                head_ts = c.timestamp
            if cur["version"] == version and tgt is None:
                tgt = dict(cur, files=dict(cur["files"]))
        if version == cur["version"]:
            raise ValueError(
                f"table is already at version {version}; nothing to restore"
            )
        if tgt is None:
            raise ValueError(
                f"version {version} not found in {log_dir} (last={cur['version']})"
            )
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
        ts = head_ts + 1
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
        removed = [
            p for p in sorted(cur["files"]) if tgt["files"].get(p) != cur["files"][p]
        ]
        actions += [
            {"remove": {"path": p, "deletionTimestamp": ts, "dataChange": True}}
            for p in removed
        ]
        actions += [{"add": dict(a, dataChange=True)} for a in returning]
        new_v = cur["version"] + 1
        _write_commit(log_dir, new_v, actions, exclusive=True)
    return {
        "version": new_v,
        "restored_to": version,
        "n_added": len(returning),
        "n_removed": len(removed),
    }


def clean_log_commits(log_dir: str) -> list[int]:
    """Delete JSON commit files at or before the `_last_checkpoint`
    version — Delta's metadata retention step, safe because any version
    ≥ the checkpoint replays from the checkpoint alone. Versions BEFORE
    the checkpoint stop being replayable (time travel horizon moves up);
    callers wanting history keep a longer retention, same trade as
    `vacuum_snapshots` on the data side. Runs under the log lock.
    Returns the removed versions; raises if no checkpoint exists
    (cleaning without one would orphan the table)."""
    with locked(os.path.join(log_dir, ".commit.lock")):
        log = _DeltaLog(log_dir)
        if log.checkpoint is None:
            raise ValueError(
                f"{log_dir}: refusing to clean commits without a checkpoint"
            )
        removed = sorted(v for v in log.names if v <= log.checkpoint["version"])
        for v in removed:
            os.remove(os.path.join(log_dir, log.names[v]))
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
    positions: storageType 'u' / 'p' (the file `_dv_path` names) or 'i'
    (inline Z85). Size, CRC and cardinality are all verified — a
    truncated or corrupt DV must fail loudly, never silently resurrect
    deleted rows."""
    from .roaring import decode_dv_blob, read_dv_at, z85_decode

    st = dv["storageType"]
    if st in ("u", "p"):
        positions = read_dv_at(_dv_path(root, dv), dv["offset"], dv["sizeInBytes"])
    elif st == "i":
        positions = decode_dv_blob(z85_decode(dv["pathOrInlineDv"], dv["sizeInBytes"]))
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
        if not _range_may_match(lo, hi, op, v):
            return False
    return True


def _range_may_match(lo, hi, op: str, v) -> bool:
    """Can any value in [lo, hi] satisfy `value op v`?"""
    if op == "=":
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    raise ValueError(f"unsupported prune op {op!r}")


def version_at_timestamp(log_dir: str, ts_ms: int) -> int:
    """Delta TIMESTAMP AS OF: the last commit whose effective timestamp
    (module docstring, "THE LOG WALK": inCommitTimestamp, else
    commitInfo timestamp, else file mtime, made monotonic) is <= ts_ms.
    Raises if ts_ms predates the earliest REPLAYABLE commit (checkpoint
    cleaning moves the horizon up)."""
    best = None
    for c in _DeltaLog(log_dir).walk():
        if c.timestamp > ts_ms:
            break  # effective timestamps increase
        best = c.version
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
    attach via a BROADCAST file→values join on each row's file
    (`mor_diff.scan_files`) — never a per-partition union, whose plan
    size would explode at thousands of partitions."""
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
        return local_frame(spark, [], schema)
    dv_pairs = [
        (path, pos)
        for path, add in files.items()
        if add.get("deletionVector")
        for pos in _resolve_dv(root, add["deletionVector"])
    ]
    file_map = None
    if pcols:

        def _pv(add, c):
            pv = add.get("partitionValues") or {}
            v = pv.get(phys_of.get(c, c))
            return pv.get(c) if v is None else v

        file_map = (
            [T.StructField(c, T.StringType()) for c in pcols],
            [(path, *[_pv(add, c) for c in pcols]) for path, add in files.items()],
        )
    df = scan_files(spark, files, data_schema, pos=bool(dv_pairs), file_map=file_map)
    if dv_pairs:
        mask = local_frame(spark, dv_pairs, "_file STRING, _pos BIGINT")
        df = df.join(F.broadcast(mask), ["_file", "_pos"], "left_anti")
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

    `_commit_timestamp` is the commit's effective timestamp, the one
    DESCRIBE HISTORY and TIMESTAMP AS OF use, and the range's states
    come from one fold over the log (module docstring, "THE LOG WALK").

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
    log = _DeltaLog(log_dir)
    if not log.names:
        raise FileNotFoundError(f"no commit files in {log_dir}")
    last = max(log.names)
    if ending_version is None:
        ending_version = last
    if not 0 <= starting_version <= ending_version <= last:
        raise ValueError(
            f"invalid CDF range [{starting_version}, {ending_version}] "
            f"(log ends at {last})"
        )
    if starting_version < min(log.names):
        raise ValueError(
            f"CDF needs the JSON commits: versions before "
            f"{min(log.names)} have been cleaned from {log_dir}"
        )
    commits, start_meta = [], None
    for c, state, gone in log.states(starting_version - 1, ending_version, every=True):
        if c is not None and c.version >= starting_version:
            commits.append((c, gone))
            if c.version == starting_version:
                start_meta = state["metaData"]
    _check_reader_protocol(state["protocol"] or {})
    meta = state["metaData"]
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
    # the whole range reads under the END version's schema; the schema
    # in force AT the start version is the range's base (a
    # schema-change commit's own CDF rows are written under its NEW
    # schema, so a range STARTING at that commit is fine)
    end_fields = {f.name: f.dataType for f in schema.fields}
    if not _schema_compatible(start_meta, end_fields):
        raise ValueError(
            f"incompatible data schema change inside CDF range "
            f"[{starting_version}, {ending_version}]: the range must "
            "be split at the schema-change commit"
        )
    groups = _change_files(root, commits, end_fields)
    parts = []
    for kind, rows in groups.items():
        if not rows:
            continue
        # cdc files carry `_change_type` per row; derived rows take
        # their kind from the per-file map
        tag = [] if kind == "cdc" else [kind]
        fields = [
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.LongType()),
        ]
        if tag:
            fields.append(T.StructField("_change_type", T.StringType()))
        fields += [T.StructField(c, T.StringType()) for c in pcols]
        map_rows = [
            (p, v, ts, *tag, *[pv.get(c) for c in pcols])
            for p, v, ts, pv, _dv in rows
        ]
        dv_masks = [
            (p, v, pos)
            for p, v, _ts, _pv, dv in rows
            if dv
            for pos in _resolve_dv(root, dv)
        ]
        df = scan_files(
            spark,
            sorted({p for p, *_ in rows}),
            data_schema if tag else cdc_schema,
            pos=bool(dv_masks),
            file_map=(fields, map_rows),
        )
        if dv_masks:
            mdf = local_frame(
                spark, dv_masks, "_file STRING, _commit_version BIGINT, _pos BIGINT"
            )
            df = df.join(
                F.broadcast(mdf), ["_file", "_commit_version", "_pos"], "left_anti"
            )
        for c in pcols:
            df = df.withColumn(c, F.col(c).cast(schema[c].dataType))
        parts.append(df.drop("_file", "_pos"))
    out = T.StructType(
        schema.fields
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )
    if not parts:
        return local_frame(spark, [], out)
    res = reduce(lambda a, b: a.unionByName(b), parts)
    return res.withColumn(
        "_commit_timestamp", F.timestamp_millis(F.col("_commit_timestamp"))
    ).select(*out.names)


def _schema_compatible(meta_action, end_fields: dict) -> bool:
    """True when a change file written under `meta_action`'s schema
    reads correctly under the range's END schema (`end_fields`, name ->
    type): only additive evolution — a rename, drop or type change
    would silently misread older change files (the delta-spark
    "incompatible data schema change" rule). None (no metaData) is
    compatible."""
    from pyspark.sql import types as T

    if meta_action is None:
        return True
    old = T.StructType.fromJson(json.loads(meta_action["schemaString"]))
    return all(
        f.name in end_fields and end_fields[f.name] == f.dataType
        for f in old.fields
    )


def _change_files(root: str, commits: list, end_fields: dict) -> dict[str, list]:
    """The files a CDF read scans for `commits` ((commit, gone) pairs of
    the log's fold, in order), by kind: `cdc` when a commit wrote cdc
    actions (authoritative), else `insert` for its added files and
    `delete` for its removed ones. Each entry is (absolute path,
    version, effective commit timestamp ms, partition values, deletion
    vector or None); a DV'd file contributes only its unmasked rows. A
    removed file's partition values and DV come from its remove action
    or its add before the commit (`gone`). Refuses a commit that
    rewrites a file in place without cdc files, and a schema change
    `_schema_compatible` rejects."""
    groups: dict[str, list] = {"cdc": [], "insert": [], "delete": []}

    def _abs(p):
        return os.path.abspath(os.path.join(root, urllib.parse.unquote(p)))

    for c, gone in commits:
        v, ts = c.version, c.timestamp
        adds = [a["add"] for a in c.actions if "add" in a]
        removes = [a["remove"] for a in c.actions if "remove" in a]
        cdcs = [a["cdc"] for a in c.actions if "cdc" in a]
        for a in c.actions:
            if "metaData" in a and not _schema_compatible(a["metaData"], end_fields):
                raise ValueError(
                    f"incompatible data schema change at commit {v}"
                    f" inside CDF range [{commits[0][0].version},"
                    f" {commits[-1][0].version}]: the range must be split"
                    " at the schema-change commit"
                )
        if cdcs:
            for cdc in cdcs:
                groups["cdc"].append(
                    (_abs(cdc["path"]), v, ts, cdc.get("partitionValues") or {}, None)
                )
            continue
        data_adds = [a for a in adds if a.get("dataChange", True)]
        data_removes = [r for r in removes if r.get("dataChange", True)]
        if {a["path"] for a in data_adds} & {r["path"] for r in data_removes}:
            # remove + re-add of the same path in one commit is an
            # in-place row change (a deletion-vector update); its
            # row-level effect cannot be derived from the actions
            raise NotImplementedError(
                f"commit {v} rewrites files in place (deletion "
                f"vectors) but wrote no cdc files; its CDF cannot "
                f"be derived from add/remove actions"
            )
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
            pa = gone.get(r["path"]) or {}
            pv = r.get("partitionValues") or pa.get("partitionValues") or {}
            groups["delete"].append(
                (_abs(r["path"]), v, ts, pv, pa.get("deletionVector"))
            )
    return groups
