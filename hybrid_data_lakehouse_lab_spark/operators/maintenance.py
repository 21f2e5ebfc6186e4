"""Table-maintenance jobs: small-file compaction and snapshot vacuum.

A streaming bronze layer accretes one small parquet file per micro-batch
per partition — at 100 TB that is millions of files whose listing and
task-scheduling overhead dominates scans. `compact_partition_dir`
rewrites a dt-partitioned directory to bounded file counts. The
reference leans on Pinot segment auto-merge + Iceberg table maintenance
for the same job (SURVEY §4 flush/segment rows); plain-parquet mode
needs it spelled out.

`vacuum_snapshots` implements snapshot retention for SnapshotTable
(the VACUUM / `expire_snapshots` analog): drop-and-delete all versions
strictly older than the retention cutoff while always keeping the
current snapshot (plus any floor of recent versions).

`expire_iceberg_snapshots` is the same lifecycle step for an EXPORTED
or EXTERNAL Iceberg `metadata/` tree (Iceberg's `expire_snapshots`
action): drop expired snapshots from the metadata, then
reachability-GC every manifest list, manifest, data/delete file and
statistics Puffin referenced ONLY by them — never touching anything a
surviving snapshot still reaches (MoR trees share data manifests
across snapshots, so most of an expired snapshot's tree usually
survives).
"""

from __future__ import annotations

import math
import os
import shutil
import urllib.parse

from pyspark.sql import SparkSession

from .mor_diff import LEDGER_DIR
from .timetravel import SnapshotTable, load_manifest
from .util import footer_schema, read_parquet


def compact_partition_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str = "dt",
    retire_metadata: bool = True,
    skip_partitions: set[str] | None = None,
) -> dict[str, int]:
    """Rewrite each hive partition of `path` holding more parquet files
    than its target, ceil(size/target), into that many files. A
    partition already at or under its target is left as it is, so a
    closed partition is rewritten once, not on every call.

    Returns {partition_value: n_files_after} for the partitions it
    rewrote ({} when none needed it). A rewrite is one Spark job: the
    scan takes its schema from the files' footers and coalesces, with
    no shuffle. Uses a temp rewrite +
    directory swap per partition so a crash leaves either the old or the
    new complete fileset. At cluster scale run per-partition rewrites in
    parallel batches and prefer the table format's native compaction
    (Delta OPTIMIZE / Iceberg rewrite_data_files) when available.

    Two modes for a directory written by a Structured Streaming file sink:

    * ``retire_metadata=True`` (finalize): the `_spark_metadata` commit log
      — which pins the exact pre-compaction file list for root readers —
      is deleted, turning the directory into a plain parquet table. ONLY
      valid when the stream will never resume into this directory: a
      resumed sink would recreate the log with just the new batches and
      root reads would silently exclude every compacted file.
    * ``retire_metadata=False`` (live compaction): the sink log is left
      intact so the stream can resume, and every reader of this directory
      must bypass the log (read the `dt=` dirs with basePath, as
      LakehouseJob does — the sink itself never re-stats old entries).
      Pass ``skip_partitions`` with the still-open partition(s); compacting
      a partition mid-write would race the sink's in-flight files.
    """
    if retire_metadata:
        meta = os.path.join(path, "_spark_metadata")
        if os.path.isdir(meta):
            shutil.rmtree(meta)
    out: dict[str, int] = {}
    for entry in sorted(os.listdir(path)):
        pdir = os.path.join(path, entry)
        if not (os.path.isdir(pdir) and entry.startswith(f"{partition_col}=")):
            continue
        if skip_partitions and entry.split("=", 1)[1] in skip_partitions:
            continue
        sizes = [
            os.path.getsize(os.path.join(pdir, f))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        ]
        n_files = max(1, math.ceil(sum(sizes) / target_file_bytes))
        if len(sizes) <= n_files:
            continue  # already compact
        tmp = pdir + ".compact.tmp"
        (
            read_parquet(spark, footer_schema(pdir), pdir)
            .coalesce(n_files)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        old = pdir + ".compact.old"
        os.rename(pdir, old)
        os.rename(tmp, pdir)
        shutil.rmtree(old)
        out[entry.split("=", 1)[1]] = n_files
    return out


def vacuum_snapshots(
    table: SnapshotTable,
    older_than_ms: int,
    keep_last: int = 1,
) -> list[int]:
    """Expire snapshots committed before `older_than_ms`, always keeping
    the current snapshot and the most recent `keep_last` versions.

    Returns the expired version numbers. The protected and expired
    versions are decided inside one `SnapshotTable._update`, over the
    manifest on disk under its lock, so a commit or branch move that
    lands meanwhile is kept (and protected). The manifest is committed
    BEFORE data directories are deleted, so a reader holding the old
    manifest can at worst hit a missing-path error for an expired
    version — never silently wrong data (same contract as Delta VACUUM).
    Nothing is written when nothing expires.
    """
    expired: list[dict] = []

    def expire(m: dict) -> dict | None:
        snaps = sorted(m["snapshots"], key=lambda s: s["version"])
        # every branch head is protected — expiring a version a branch
        # still points at would break that branch's reads (same rule as
        # Nessie: unreferenced-only garbage collection)
        protected = (
            {m["current"]}
            | {s["version"] for s in snaps[-keep_last:]}
            | set(m["branches"].values())
        )
        expired.extend(
            s
            for s in snaps
            if s["version"] not in protected and s["committed_at_ms"] < older_than_ms
        )
        if not expired:
            return None
        # the rest of the manifest (branches, schemas, every branch's
        # pointer history) is carried as it is; an as-of read that
        # resolves to an expired version raises naming it
        m["snapshots"] = [s for s in snaps if s not in expired]
        return m

    table._update(expire)
    for s in expired:
        shutil.rmtree(s["path"], ignore_errors=True)
    return [s["version"] for s in expired]


def _snapshot_table_reachable(root: str) -> set[str]:
    """Every file under any SnapshotTable version dir at `root` (empty
    set when no SnapshotTable manifest exists). Absolute paths."""
    reachable: set[str] = set()
    for snap in load_manifest(root)["snapshots"]:
        d = snap["path"]
        if os.path.isdir(d):
            for dp, _dn, fns in os.walk(d):
                reachable.update(
                    os.path.abspath(os.path.join(dp, fn)) for fn in fns
                )
    return reachable


def _delta_refs(root: str, actions) -> set[str]:
    """The absolute paths the file `actions` (add / remove / cdc action
    dicts) name: each action's file and its deletion vector's file."""
    from .delta_log import _dv_path

    out = set()
    for act in actions:
        out.add(os.path.abspath(os.path.join(root, urllib.parse.unquote(act["path"]))))
        if act.get("deletionVector"):
            out.add(_dv_path(root, act["deletionVector"]))
    out.discard(None)  # an inline DV has no file
    return out


def _delta_log_reachable(root: str) -> set[str]:
    """Every data file, DV `.bin` and change-data file ANY version of a
    `_delta_log/` at `root` references — the checkpoint's live files
    plus every action of every surviving commit, one fold over the log
    (`delta_log`, "THE LOG WALK"); empty set when no Delta facade
    exists. Absolute paths."""
    from .delta_log import _DeltaLog

    log_dir = os.path.join(root, "_delta_log")
    if not os.path.isdir(log_dir):
        return set()
    log = _DeltaLog(log_dir)
    if not log.names and log.checkpoint is None:
        return set()
    reachable: set[str] = set()
    for c, state, _gone in log.states(every=True):
        acts = state["files"].values() if c is None else [
            a[k] for a in c.actions for k in ("add", "remove", "cdc") if k in a
        ]
        reachable |= _delta_refs(root, acts)
    return reachable


def _stats_entries(metadata: dict) -> list[dict]:
    """The table and partition statistics entries of Iceberg metadata."""
    return (metadata.get("statistics") or []) + (
        metadata.get("partition-statistics") or []
    )


def _iceberg_reach(snapshots: list[dict], stats: list[dict]) -> set[str]:
    """Every manifest list, manifest and data/delete file `snapshots`
    reference, and the files of the `stats` entries. Absolute paths."""
    from .avro_io import read_avro

    reachable = {os.path.abspath(st["statistics-path"]) for st in stats}
    for s in snapshots:
        reachable.add(os.path.abspath(s["manifest-list"]))
        for r in read_avro(s["manifest-list"])[1]:
            mp = os.path.abspath(r["manifest_path"])
            if mp in reachable:
                continue
            reachable.add(mp)
            for e in read_avro(mp)[1]:
                reachable.add(os.path.abspath(e["data_file"]["file_path"]))
    return reachable


def _iceberg_reachable(root: str) -> set[str]:
    """Everything the current metadata of an Iceberg `metadata/` tree at
    `root` references (`_iceberg_reach` over every snapshot and
    statistics entry; empty set when no Iceberg facade exists)."""
    from .iceberg_meta import load_table_metadata

    meta_dir = os.path.join(root, "metadata")
    if not os.path.exists(os.path.join(meta_dir, "version-hint.text")):
        return set()
    _, metadata = load_table_metadata(meta_dir)
    return _iceberg_reach(
        metadata.get("snapshots") or [], _stats_entries(metadata)
    )


def expire_iceberg_snapshots(
    root: str,
    older_than_ms: int | None = None,
    keep_last: int = 1,
    as_of_ms: int | None = None,
) -> list[int]:
    """Iceberg `expire_snapshots` for a `metadata/` tree on disk —
    works on exported AND hand-built/external trees (anything
    `read_iceberg_table` can read).

    Retention rule (the spec action's): the current snapshot, every
    snapshot a SURVIVING ref (branch/tag) points at, and the most
    recent `keep_last` snapshots are always protected; everything else
    expires when older than `older_than_ms` (or unconditionally when
    None).

    PER-REF RETENTION (the spec's snapshot-reference fields, settable
    through the REST commit's set-snapshot-ref update):
    `max-ref-age-ms` removes a non-main ref whose referenced snapshot
    is older than the limit at `as_of_ms` (wall clock when None) — the
    tag/branch itself is dropped from `refs`, and its snapshots become
    expirable like any other; a surviving BRANCH additionally protects
    its ancestor chain per its own `min-snapshots-to-keep` (first N
    ancestors from the head) and `max-snapshot-age-ms` (ancestors
    younger than the limit), walked over `parent-snapshot-id` links —
    branches without the fields protect only their head, the prior
    behavior.

    GC is REACHABILITY-BASED: manifest lists, manifests, data/delete
    files (parquet and Puffin DVs) and statistics Puffins referenced by
    any surviving snapshot are kept; paths referenced only by expired
    snapshots are deleted — but only under the table root (a tree
    referencing files elsewhere, e.g. an `add_files`-migrated table,
    never has those touched). Merge-on-read trees share data manifests
    across snapshots via manifest reuse, so expiring an old MoR
    snapshot typically deletes just its manifest list.

    The expiry commits as the tree's NEXT metadata version through
    `iceberg_commit.commit_table`, under the tree's commit lock: one
    `remove-snapshot-ref` per aged ref, then one `remove-snapshots`,
    whose rule also drops the expired snapshots' `snapshot-log`,
    `statistics` and `partition-statistics` entries. A commit that
    lands between this action's load and its commit (a catalog append,
    a property) is kept; one that pins an expiring snapshot to a ref
    makes the rule refuse (`_Rejected`, 400) with nothing written or
    deleted. GC runs after the commit, against the committed metadata.
    Time travel to an expired snapshot then fails loudly in the reader
    ("snapshot not found"). For a SnapshotTable-backed tree
    prefer `vacuum_snapshots` + re-export (the export regenerates the
    whole tree from pointer history and owns the version numbering);
    this action is for trees maintained in place.

    Returns the expired snapshot ids.
    """
    from .iceberg_commit import commit_table
    from .iceberg_meta import load_table_metadata

    meta_dir = os.path.join(root, "metadata")
    metadata = load_table_metadata(meta_dir)[1]
    snaps = sorted(
        metadata.get("snapshots") or [],
        key=lambda s: (s.get("timestamp-ms", 0), s["snapshot-id"]),
    )
    by_id = {s["snapshot-id"]: s for s in snaps}
    refs = dict(metadata.get("refs") or {})
    if as_of_ms is None and any(
        r.get("max-ref-age-ms") is not None
        or r.get("max-snapshot-age-ms") is not None
        for r in refs.values()
    ):
        import time as _time

        as_of_ms = int(_time.time() * 1000)
    # ref aging: a non-main ref past its max-ref-age-ms is REMOVED (its
    # snapshots then expire like any other's)
    refs_removed = []
    for name, r in list(refs.items()):
        age_limit = r.get("max-ref-age-ms")
        if name == "main" or age_limit is None:
            continue
        ref_ts = by_id.get(r["snapshot-id"], {}).get("timestamp-ms", 0)
        if as_of_ms - ref_ts > age_limit:
            del refs[name]
            refs_removed.append(name)

    def _ancestors(sid):
        while sid in by_id:
            yield sid
            sid = by_id[sid].get("parent-snapshot-id")
            if sid is None:
                return

    protected = {metadata.get("current-snapshot-id")}
    for r in refs.values():
        protected.add(r["snapshot-id"])
        if r.get("type", "branch") != "branch":
            continue
        keep_n = r.get("min-snapshots-to-keep")
        max_age = r.get("max-snapshot-age-ms")
        if keep_n is None and max_age is None:
            continue
        for idx, sid in enumerate(_ancestors(r["snapshot-id"])):
            ts = by_id[sid].get("timestamp-ms", 0)
            if (keep_n is not None and idx < keep_n) or (
                max_age is not None and as_of_ms - ts <= max_age
            ):
                protected.add(sid)
    protected.update(
        s["snapshot-id"] for s in snaps[max(0, len(snaps) - keep_last):]
    )
    expired = [
        s
        for s in snaps
        if s["snapshot-id"] not in protected
        and (older_than_ms is None or s.get("timestamp-ms", 0) < older_than_ms)
    ]
    if not expired and not refs_removed:
        return []
    expired_ids = {s["snapshot-id"] for s in expired}
    updates = [
        {"action": "remove-snapshot-ref", "ref-name": name}
        for name in refs_removed
    ]
    if expired:
        updates.append(
            {"action": "remove-snapshots", "snapshot-ids": sorted(expired_ids)}
        )
    # commit the new metadata version FIRST (readers holding the old
    # hint can at worst hit a missing-path error for an expired
    # snapshot — never silently wrong data), then GC against it
    commit_table(meta_dir, updates)
    # CROSS-FACADE SAFETY: on a dual-export (UniForm-style) root, data
    # files referenced only by expired Iceberg snapshots may still be
    # live in the sibling _delta_log — union its holdings into the
    # keep-set so this facade's GC never breaks the other. (The
    # SnapshotTable manifest is deliberately NOT protected: it is the
    # PARENT store the facades are exported from, expiring an exported
    # tree is the owner trimming history, and `vacuum_snapshots` is
    # the SnapshotTable-side retention action.)
    keep = _iceberg_reachable(root) | _delta_log_reachable(root)
    gone = [
        st for st in _stats_entries(metadata) if st["snapshot-id"] in expired_ids
    ]
    root_abs = os.path.abspath(root) + os.sep
    for p in sorted(_iceberg_reach(expired, gone) - keep):
        if p.startswith(root_abs) and os.path.isfile(p):
            os.remove(p)
    return sorted(expired_ids)


def vacuum_delta_table(root: str, keep_versions: int = 1) -> list[str]:
    """Delta VACUUM for an exported `_delta_log/` tree: physically
    delete data files, DV `.bin` files and change-data files that the
    log once referenced but that none of the RETAINED versions (the
    last `keep_versions`, always including the current one) still
    references. Time travel to vacuumed versions then fails on the
    missing files — the stock VACUUM contract; pair with
    `clean_log_commits` to also retire their JSON commits.

    DELIBERATE DIVERGENCE from stock VACUUM, which directory-walks and
    deletes any file it does not recognize: this implementation is
    LOG-SCOPED — it deletes only paths the log itself referenced —
    because an exported tree may share its data directory with an
    Iceberg facade (the UniForm dual-export shape), whose
    `metadata/` / `deletes/` files a directory walk would destroy.
    Files outside the table root (absolute-path DVs, add_files-style
    externals) are never touched.

    Driver-side: one fold over the log (`delta_log`, "THE LOG WALK")
    reads each surviving commit once; each version's live files and
    change-data files are unioned, O(versions × live files) set work.
    One unlink per dropped file. Returns the deleted paths.
    """
    from .delta_log import _DeltaLog

    log = _DeltaLog(os.path.join(root, "_delta_log"))
    cp = log.checkpoint
    current = max([*log.names, *([cp["version"]] if cp else [])], default=-1)
    keep: set[str] = set()
    ever: set[str] = set()

    def _seen(v: int, refs: set[str]) -> None:
        ever.update(refs)
        if v > current - keep_versions:
            keep.update(refs)

    for c, state, _gone in log.states(every=True):
        _seen(state["version"], _delta_refs(root, state["files"].values()))
        if c is not None:
            # change-data files ride their commit's version
            _seen(c.version, _delta_refs(root, [a["cdc"] for a in c.actions if "cdc" in a]))
    # CROSS-FACADE SAFETY: files this Delta log no longer retains may
    # still be referenced by a sibling Iceberg tree on the same root
    # (the UniForm dual-export shape). The SnapshotTable manifest is
    # deliberately NOT protected — it is the parent store (see
    # expire_iceberg_snapshots)
    keep |= _iceberg_reachable(root)
    root_abs = os.path.abspath(root) + os.sep
    dropped = []
    for p in sorted(ever - keep):
        if p.startswith(root_abs) and os.path.isfile(p):
            os.remove(p)
            dropped.append(p)
    return dropped


def rewrite_iceberg_manifests(root: str) -> dict:
    """Iceberg `rewrite_manifests` for a `metadata/` tree on disk — the
    METADATA-side compaction: after N incremental-append (or MoR
    delete) commits the head's manifest list holds N small manifests,
    and manifest-open cost starts to dominate planning. This action
    consolidates the head's live DATA entries into ONE manifest per
    partition spec (entries re-emitted status=EXISTING with their
    EXPLICIT data sequence numbers and original snapshot ids, so v2+
    inheritance and both delete-flavor masks resolve exactly as
    before); delete manifests ride along untouched. The result is a new
    `replace` snapshot — no data bytes move, older snapshots' manifest
    lists still reference the old manifests (time travel intact; a
    later `expire_iceberg_snapshots` GCs them).

    The snapshot commits through `iceberg_commit.commit_table`, under
    the tree's commit lock: `add-snapshot`, then `set-snapshot-ref` for
    every branch at the old head (and `main` when the tree has no main
    ref), each carrying an `assert-ref-snapshot-id` on the head it was
    staged against. A commit that moved one of those branches since
    the load makes the action refuse (`_Rejected`, 409) and leaves its
    staged manifests for orphan cleanup; any other commit that landed
    meanwhile (a property, a tag) is kept.

    Driver-side O(files) metadata work, zero data I/O — the same cost
    class as the planning walk it accelerates. Returns
    {manifests_before, manifests_after, files}.
    """
    from .avro_io import read_avro, write_avro
    from .iceberg_commit import commit_table
    from .iceberg_meta import (
        _entry_schema,
        _manifest_list_schema,
        load_table_metadata,
        next_row_id_of,
        plan_snapshot,
    )
    from .iceberg_transforms import result_type

    meta_dir = os.path.join(root, "metadata")
    metadata = load_table_metadata(meta_dir)[1]
    fv = metadata.get("format-version", 1)
    head = next(
        s
        for s in metadata["snapshots"]
        if s["snapshot-id"] == metadata["current-snapshot-id"]
    )
    rows = read_avro(head["manifest-list"])[1]
    delete_rows = [r for r in rows if (r.get("content") or 0) == 1]
    n_data = len(rows) - len(delete_rows)
    # v3 row lineage: files written under first_row_id inheritance carry
    # a null per-file first_row_id — materialize the planned value NOW,
    # because the rewritten entries become EXISTING and the spec
    # requires EXISTING entries to carry an explicit first_row_id
    # (readers only inherit for status==ADDED)
    live = [
        dict(d, record=dict(d["record"], first_row_id=d["first_row_id"]))
        if fv >= 3 and d["first_row_id"] is not None
        else d
        for d in plan_snapshot(metadata, head)[0]
    ]
    if n_data <= 1:
        return {
            "manifests_before": n_data,
            "manifests_after": n_data,
            "files": len(live),
        }
    # partition value types per spec, reconstructed from the transforms
    type_by_id: dict[int, str] = {}
    for s in metadata.get("schemas") or [metadata["schema"]]:
        for f in s["fields"]:
            type_by_id.setdefault(f["id"], f["type"])
    specs = {s["spec-id"]: s["fields"] for s in metadata["partition-specs"]}
    by_spec: dict[int, list[dict]] = {}
    for d in live:
        by_spec.setdefault(d["spec_id"], []).append(d)
    new_snapshot_id = (
        max(s["snapshot-id"] for s in metadata["snapshots"]) + 1
    )
    new_seq = (metadata.get("last-sequence-number") or 0) + 1
    new_rows: list[dict] = []
    for spec_id, infos in sorted(by_spec.items()):
        pf = [
            {
                "name": sf["name"],
                "type": result_type(
                    sf["transform"], type_by_id.get(sf["source-id"])
                ),
                "field-id": sf["field-id"],
            }
            for sf in specs[spec_id]
        ]
        entries = []
        for d in sorted(infos, key=lambda x: x["record"]["file_path"]):
            entry = {
                "status": 0,  # EXISTING (spec: carried forward)
                "snapshot_id": d["snapshot_id"],
                "data_file": d["record"],
            }
            if fv >= 2:
                entry["data_sequence_number"] = d["seq"]
                entry["file_sequence_number"] = d["file_seq"]
            entries.append(entry)
        mpath = os.path.join(
            meta_dir, f"m-rw-{new_snapshot_id:05d}-{spec_id}.avro"
        )
        write_avro(mpath, _entry_schema(pf, fv), entries)
        row = {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": spec_id,
            "added_snapshot_id": new_snapshot_id,
        }
        if fv >= 2:
            row.update(
                {
                    "content": 0,
                    "sequence_number": new_seq,
                    "min_sequence_number": min(
                        i["seq"] for i in infos
                    ),
                    "added_files_count": 0,
                    "existing_files_count": len(entries),
                    "deleted_files_count": 0,
                    "added_rows_count": 0,
                    "existing_rows_count": sum(
                        i["record"].get("record_count") or 0 for i in infos
                    ),
                    "deleted_rows_count": 0,
                }
            )
        if fv >= 3 and head.get("first-row-id") is not None:
            row["first_row_id"] = next_row_id_of(metadata)
        new_rows.append(row)
    new_rows += delete_rows
    list_path = os.path.join(
        meta_dir, f"snap-{new_snapshot_id}-1-manifest-list.avro"
    )
    write_avro(list_path, _manifest_list_schema(fv), new_rows)
    new_snap = {
        "snapshot-id": new_snapshot_id,
        "parent-snapshot-id": head["snapshot-id"],
        # deterministic: metadata rewrites carry the head's instant + 1
        "timestamp-ms": (head.get("timestamp-ms") or 0) + 1,
        "summary": {"operation": "replace"},
        "manifest-list": list_path,
    }
    if head.get("schema-id") is not None:
        new_snap["schema-id"] = head["schema-id"]
    if fv >= 2:
        new_snap["sequence-number"] = new_seq
    if fv >= 3:
        new_snap["first-row-id"] = next_row_id_of(metadata)
        new_snap["added-rows"] = 0
    # branches at the old head follow it (the action commits to the
    # branch, as the Spark procedure does on the current branch); a
    # tree without a main ref keeps its current snapshot as `main`
    refs = metadata.get("refs") or {}
    moved = [
        name
        for name, ref in refs.items()
        if ref.get("type", "branch") == "branch"
        and ref["snapshot-id"] == head["snapshot-id"]
    ] + ([] if "main" in refs else ["main"])
    updates = [{"action": "add-snapshot", "snapshot": new_snap}]
    requirements = []
    for name in moved:
        ref = refs.get(name, {})
        updates.append(
            {**ref, "action": "set-snapshot-ref", "ref-name": name,
             "snapshot-id": new_snapshot_id}
        )
        requirements.append(
            {"type": "assert-ref-snapshot-id", "ref": name,
             "snapshot-id": ref.get("snapshot-id")}
        )
    commit_table(meta_dir, updates, requirements)
    return {
        "manifests_before": n_data,
        "manifests_after": len(by_spec),
        "files": len(live),
    }


def _head_entry(
    table: SnapshotTable, branch: str, purpose: str = ""
) -> tuple[dict, dict]:
    """(manifest, head snapshot entry) of `branch`, from one manifest
    load; ValueError naming `purpose` when the branch has no head."""
    try:
        return table._resolve_entry(branch=branch)
    except FileNotFoundError:
        raise ValueError(f"branch {branch!r} has no snapshots{purpose}") from None


def compact_snapshot(
    table: SnapshotTable,
    branch: str = "main",
    target_file_bytes: int = 128 * 1024 * 1024,
    committed_at_ms: int | None = None,
):
    """MERGE-ON-READ COMPACTION: fold accumulated deletes back into
    rewritten data files (Iceberg `rewrite_data_files` +
    `rewrite_position_delete_files`; Delta `OPTIMIZE`, which purges
    deletion vectors).

    The reference's table is merge-on-read
    (reference libs/scd2_spark_processor.py:155); run its SCD2 batches
    for a year and every read re-applies an ever-growing stack of
    positional deletes / DVs. This job commits a new snapshot whose
    data equals the branch head, rewritten into ceil(size/target)
    right-sized files and flagged `operation=compaction` in the
    snapshot properties. The format exporters recognize the flag and
    emit it as a REWRITE commit that carries ZERO live delete entries
    (Iceberg: summary operation `replace`, fresh data manifest only;
    Delta: `OPTIMIZE` commitInfo with `dataChange: false` on every
    add/remove, so streaming/CDF consumers skip it — real OPTIMIZE
    semantics). Time travel to pre-compaction snapshots still resolves
    their masked reads; a later `vacuum_snapshots` + re-export garbage-
    collects the folded delete files.

    Partitioning is preserved: each hive partition of the head rewrites
    into its own right-sized files (the layout partition pruning
    depends on must survive compaction). Returns the new SnapshotInfo,
    or None when the head is already a compaction commit with no
    sibling writes after it (idempotence: re-running is a no-op, not an
    identical-content commit chain).

    100 TB shape: one distributed scan of the head + one shuffle-free
    coalesce-style write per partition; the decision metadata (file
    sizes) comes from the manifest, driver-side O(files)."""
    m, snap = _head_entry(table, branch, " to compact")
    if (snap.get("properties") or {}).get("operation") == "compaction":
        return None  # already compacted; nothing accreted since
    head_dir = snap["path"]
    # partition layout of the head (nested dirs like part=a/dt=.../...)
    pcols = _partition_layout(head_dir)
    df = table.read_snapshot(m, snap)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(head_dir)
        for f in fns
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    if pcols:
        # per-partition right-sizing: repartition by the partition
        # columns so each hive dir gets contiguous writers, bounded by
        # n_files total
        df = df.repartition(n_files, *pcols)
    else:
        df = df.repartition(n_files)
    return table.write(
        df,
        partition_by=pcols or None,
        committed_at_ms=committed_at_ms,
        branch=branch,
        properties={
            "operation": "compaction",
            "compacted-from": snap["version"],
        },
    )


def rewrite_data_files_sorted(
    table: SnapshotTable,
    by: list[tuple[str, str]] | list[str],
    strategy: str = "sort",
    branch: str = "main",
    target_file_bytes: int = 128 * 1024 * 1024,
    committed_at_ms: int | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
    bits: int = 16,
    target_files: int | None = None,
):
    """SORTED REWRITE: rewrite the branch head clustered on `by` —
    Iceberg's `rewrite_data_files(strategy => 'sort' | 'zorder')`,
    Delta's `OPTIMIZE ... ZORDER BY`. An unsorted table's every file
    spans the whole key domain, so min/max file skipping prunes
    nothing; after the rewrite each file covers a narrow slice of the
    sort key (or, for z-order, of EVERY participating column), and a
    predicate reads the few files that can match.

    strategy="sort": `by` is [(col, "asc"|"desc"), ...] (bare names
    mean asc). The plan is repartitionByRange on the leading columns
    (one shuffle that splits the key domain into contiguous chunks)
    + sortWithinPartitions honoring directions. The commit records the
    order in the `sort-by` property; `export_iceberg_metadata` turns
    it into a real spec `sort-orders` entry, stamps the rewritten
    files' `sort_order_id` (field 140), and makes it the table's
    default write order.

    strategy="zorder": `by` is column names; rows cluster along the
    Morton curve of `bounds` (col -> (lo, hi); computed with one tiny
    min/max aggregate when omitted — at 100 TB pass table-stat bounds
    instead). Z-order is summary-only in the export: the spec's
    sort-order transforms cannot express bit interleaving, so real
    engines record it the same way.

    Partitioned tables keep their hive layout: the range split leads
    with the partition columns, so each partition dir's files carry
    tight sort-key ranges. Idempotent like compact_snapshot: a head
    that is already a compaction commit returns None.

    100 TB shape: one distributed scan + ONE range shuffle (the
    sampling pass repartitionByRange runs is on the sort key only);
    the zorder key is pure JVM bit arithmetic (sources/zorder.py), no
    UDF anywhere."""
    import json as _json

    from pyspark.sql import functions as F

    from ..sources.zorder import zorder_key

    if strategy not in ("sort", "zorder"):
        raise ValueError(f"strategy {strategy!r} (sort|zorder)")
    norm: list[tuple[str, str]] = [
        (c, "asc") if isinstance(c, str) else (c[0], c[1]) for c in by
    ]
    if not norm:
        raise ValueError("rewrite_data_files_sorted needs sort columns")
    for _c, d in norm:
        if d not in ("asc", "desc"):
            raise ValueError(f"direction {d!r} (asc|desc)")
    m, snap = _head_entry(table, branch, " to rewrite")
    head_props = snap.get("properties") or {}
    if head_props.get("operation") == "compaction":
        # no-op ONLY when the head already has THIS clustering; a plain
        # compaction (or a rewrite on different keys/strategy) still
        # gets re-clustered — the caller asked for a specific layout
        want_key = _json.dumps(
            [c for c, _d in norm] if strategy == "zorder" else norm
        )
        have_key = head_props.get(
            "zorder-by" if strategy == "zorder" else "sort-by"
        )
        if head_props.get("strategy") == strategy and have_key == want_key:
            return None  # already clustered this way; nothing accreted
    head_dir = snap["path"]
    pcols = _partition_layout(head_dir)
    df = table.read_snapshot(m, snap)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(head_dir)
        for f in fns
        if f.endswith(".parquet")
    )
    n_files = target_files or max(1, math.ceil(size / target_file_bytes))
    if strategy == "sort":
        keys = [c for c, _d in norm]
        order = [
            F.col(c).asc() if d == "asc" else F.col(c).desc()
            for c, d in norm
        ]
        clustered = df.repartitionByRange(
            n_files, *pcols, *keys
        ).sortWithinPartitions(*[F.col(c) for c in pcols], *order)
        props = {
            "operation": "compaction",
            "strategy": "sort",
            "sort-by": _json.dumps(norm),
            "compacted-from": snap["version"],
        }
    else:
        cols = [c for c, _d in norm]
        if bounds is None:
            aggs = []
            for c in cols:
                aggs += [
                    F.min(c).cast("double").alias(f"{c}__lo"),
                    F.max(c).cast("double").alias(f"{c}__hi"),
                ]
            row = df.agg(*aggs).collect()[0]  # one row: 2x|cols| scalars
            bounds = {}
            for c in cols:
                lo, hi = row[f"{c}__lo"], row[f"{c}__hi"]
                if lo is None or hi is None:
                    raise ValueError(
                        f"zorder column {c!r} is entirely NULL — it has "
                        "no bounds and adds no clustering; drop it"
                    )
                if hi <= lo:
                    # constant column: quantizes to one cell either way;
                    # widen so the key math stays well-defined
                    hi = lo + 1
                bounds[c] = (lo, hi)
        key = zorder_key(
            [(F.col(c), *bounds[c]) for c in cols], bits=bits
        )
        clustered = (
            df.withColumn("_zkey", key)
            .repartitionByRange(n_files, *pcols, "_zkey")
            .sortWithinPartitions(*pcols, "_zkey")
            .drop("_zkey")
        )
        props = {
            "operation": "compaction",
            "strategy": "zorder",
            "zorder-by": _json.dumps(cols),
            "compacted-from": snap["version"],
        }
    return table.write(
        clustered,
        partition_by=pcols or None,
        committed_at_ms=committed_at_ms,
        branch=branch,
        properties=props,
    )


def _partition_layout(snapshot_dir: str) -> list[str]:
    """Hive partition columns of a snapshot dir, outermost first."""
    pcols: list[str] = []
    d = snapshot_dir
    while True:
        subs = sorted(
            e
            for e in os.listdir(d)
            if "=" in e and os.path.isdir(os.path.join(d, e))
        )
        if not subs:
            return pcols
        pcols.append(subs[0].split("=", 1)[0])
        d = os.path.join(d, subs[0])


def apply_retention(
    table: SnapshotTable,
    keep_predicate: str,
    branch: str = "main",
    committed_at_ms: int | None = None,
):
    """PHYSICAL retention enforcement (round-8 item 3): commit a new
    snapshot holding only the rows matching `keep_predicate` — the
    engine twin of Pinot's segment drops and Delta/Iceberg's
    delete-where job, vs `TableSpec.retention_predicate`'s serving VIEW
    (which filters at read time but deletes nothing).

    The transition is a PURE DELETE, so the format exporters re-express
    it merge-on-read automatically (Iceberg positional deletes / v3
    DVs, Delta deletion vectors); time travel to pre-retention
    snapshots still resolves the full history, and a later
    `compact_snapshot` + `vacuum_snapshots` folds and then physically
    frees the expired bytes. Returns the new SnapshotInfo, or None when
    nothing is expired — so the job is IDEMPOTENT: running it twice
    with the same predicate commits once.

    Use a DETERMINISTIC predicate (a literal cutoff, not
    current_timestamp()) — the snapshot must not depend on when the
    export replays it. `TableSpec.retention_predicate(now_expr=...)`
    with a pinned `now` produces exactly that.

    100 TB shape: one partition-prunable scan of the head (a predicate
    on the partition/time column prunes expired directories at the
    source) and one write of the surviving rows; the exporters' diff
    then runs distributed. Real engines drop whole expired partitions
    metadata-only — this job trades that for exact row-level semantics
    shared with every other lane; at petabyte scale, partition the
    history table by day so the scan prunes to the retention boundary
    day only."""
    m, snap = _head_entry(table, branch)
    df = table.read_snapshot(m, snap)
    expired = df.where(f"NOT ({keep_predicate})").limit(1).count()
    if not expired:
        return None
    pcols = _partition_layout(snap["path"])
    return table.write(
        df.where(keep_predicate),
        partition_by=pcols or None,
        committed_at_ms=committed_at_ms,
        branch=branch,
        properties={"operation": "retention", "predicate": keep_predicate},
    )


def rewrite_delete_files(
    table: SnapshotTable,
    branch: str = "main",
    committed_at_ms: int | None = None,
):
    """MINOR merge-on-read compaction: consolidate the accumulated
    delete files WITHOUT rewriting data — Iceberg's
    `rewrite_position_delete_files` (the cheap half of MoR maintenance;
    `compact_snapshot` is the `rewrite_data_files` half).

    Commits a data-identical snapshot flagged
    `operation=rewrite-deletes`. The Iceberg exporter emits it as a
    summary-operation `replace` snapshot whose manifest list reuses the
    base DATA manifests untouched and carries ONE consolidated delete
    manifest: under v2, the stacked positional-delete parquet of every
    prior delete commit rewritten into a single sorted file set; under
    v3, the per-file cumulative DVs re-emitted in a single fresh Puffin
    file. Read amplification drops from k delete files per scan to one,
    and no data bytes move. The Delta exporter has no stacked-delete
    concept (descriptors already replace per file), so it exports the
    flag with OPTIMIZE semantics — still a logical no-op.

    Idempotent: returns None when the head is already a maintenance
    commit (rewrite-deletes or compaction). At 100 TB: one scan of the
    (small) delete files + one metadata commit — this is the job you
    run NIGHTLY, with `compact_snapshot` weekly."""
    m, snap = _head_entry(table, branch)
    if (snap.get("properties") or {}).get("operation") in (
        "compaction",
        "rewrite-deletes",
    ):
        return None
    pcols = _partition_layout(snap["path"])
    return table.write(
        table.read_snapshot(m, snap),
        partition_by=pcols or None,
        committed_at_ms=committed_at_ms,
        branch=branch,
        properties={
            "operation": "rewrite-deletes",
            "rewritten-from": snap["version"],
        },
    )


def find_orphan_files(root: str) -> list[str]:
    """The detection half of Iceberg's `remove_orphan_files`: walk the
    table root and report every data-looking file (parquet / Puffin)
    that NO snapshot in the current metadata reaches through its
    manifest graph — failed-write leftovers and files stranded by
    external tools. Read-only by design: the report feeds a human or a
    scheduled deleter with its own age cutoff (stock Iceberg's
    3-day-old default exists precisely because a concurrent writer's
    not-yet-committed files look orphaned; a metadata-only detector
    cannot tell, so this one never unlinks).

    CROSS-FACADE AWARE: a root may carry several metadata systems at
    once (the UniForm shape — an Iceberg tree, a Delta log and the
    engine's own SnapshotTable store). A file any of them references —
    Iceberg manifests, every Delta version's adds / DV bins /
    change-data, every SnapshotTable version dir — counts as reachable;
    only files NO system knows are orphans.

    Driver-side O(manifests + files-on-disk); the `metadata/`,
    `_delta_log/` and change-set ledger (`mor_diff.LEDGER_DIR`) trees
    are out of scope: they are export metadata, not data files, and
    their owners collect their own garbage.
    """
    # primary facade must exist (same contract as before the round-10
    # refactor onto the shared reachability helpers)
    meta_dir = os.path.join(root, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        fh.read()
    reachable = (
        _iceberg_reachable(root)
        | _delta_log_reachable(root)
        | _snapshot_table_reachable(root)
    )
    root_abs = os.path.abspath(root)
    skip_dirs = {"metadata", "_delta_log", "_change_data", LEDGER_DIR}
    orphans = []
    for dirpath, dirnames, filenames in os.walk(root_abs):
        rel = os.path.relpath(dirpath, root_abs)
        top = rel.split(os.sep)[0]
        if top in skip_dirs:
            dirnames[:] = []
            continue
        for fn in filenames:
            if fn.startswith((".", "_")):
                continue
            if not fn.endswith((".parquet", ".puffin", ".bin")):
                continue
            p = os.path.abspath(os.path.join(dirpath, fn))
            if p not in reachable:
                orphans.append(p)
    return sorted(orphans)


def remove_orphan_files(
    root: str,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    now_ms: int | None = None,
) -> list[str]:
    """The execution half of Iceberg's `remove_orphan_files` on top of
    `find_orphan_files`: delete (or with `dry_run`, just list) every
    orphan whose mtime is older than the age cutoff.

    The cutoff defaults to NOW − 3 days — stock Iceberg's default, and
    for the same reason: a concurrent writer's not-yet-committed files
    look orphaned to a metadata-only detector, and the age gate is the
    only defense. Pass `older_than_ms` explicitly to override (tests
    and controlled single-writer maintenance windows may use
    `now_ms`-relative or absolute cutoffs safely).

    CROSS-FACADE SAFE by construction: `find_orphan_files` counts a
    file reachable if ANY co-resident metadata system references it
    (Iceberg manifests, every Delta log version, the SnapshotTable
    manifest), so nothing any facade can still read is ever deleted.

    Driver-side O(manifests + files-on-disk), one unlink per orphan.
    Returns the deleted (or with `dry_run`, the would-delete) paths.
    """
    import time

    if now_ms is None:
        now_ms = int(time.time() * 1000)
    if older_than_ms is None:
        older_than_ms = now_ms - 3 * 24 * 3600 * 1000
    out = []
    for p in find_orphan_files(root):
        try:
            mtime_ms = os.stat(p).st_mtime * 1000
        except FileNotFoundError:
            continue  # already gone (concurrent cleaner)
        if mtime_ms >= older_than_ms:
            continue
        out.append(p)
        if not dry_run:
            os.remove(p)
    return out
