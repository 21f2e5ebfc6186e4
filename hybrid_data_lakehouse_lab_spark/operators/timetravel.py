"""Snapshot-versioned parquet tables — time travel without Delta/Iceberg.

The reference gets time travel from Iceberg snapshots via Nessie
(`FOR TIMESTAMP AS OF`, reference README.MD:308-313). No lakehouse-format
jars ship in this environment, so the engine provides the same capability
over plain parquet: each commit writes a new version directory and
atomically swaps a manifest (os.replace is atomic on POSIX). Readers
resolve version → directory → ordinary parquet scan, so Catalyst pushdown
and partition pruning work unchanged on any snapshot.

This is the Delta/Iceberg *protocol* idea (manifest points at immutable
files) minus compaction/file-level deltas: each version is a full rewrite,
which is fine for dimension-scale SCD2 tables (the reference's use case —
its fact history is append-only parquet, not merged). Swap in Delta by
replacing this class; the engine call sites only use write/read/as_of.

Branches add the Nessie side of the reference's catalog (its Iceberg
commits go through a Nessie REST catalog, libs/scd2_spark_processor.py:
59-118 — the reference only ever uses `main`, but the branch model is
what Nessie exists for): a branch is a named pointer into the shared
snapshot list, so `create_branch` is zero-copy, and the
write-audit-publish flow is write-to-branch → validate → `fast_forward`
main — the publish is one atomic manifest swap, invisible to `main`
readers until it lands.

The manifest also carries each snapshot's schema, as Iceberg table
metadata does, so no reader opens a data file to learn it: a
table-level `schemas` list holds every distinct data schema once
(`{"schema_id": n, "schema": <Spark StructType JSON>}`) and each
snapshot entry names its own by `schema_id`. Only the data columns are
recorded; the partition columns come from the directory names, typed
by Spark's partition inference exactly as an inferring read types
them. Every read of a snapshot dir (`read`, the exporters, the
merge-on-read diffs, the maintenance rewrites) passes the recorded
schema to the scan, which saves the one-task footer job schema
inference costs. A snapshot entry without `schema_id` (written before
schemas were recorded) is read by inference.

Concurrency: every change to the manifest (a commit, a branch create,
publish, rollback or drop, a vacuum) is one read-modify-write through
`SnapshotTable._update`, under an exclusive flock on the table's
`.manifest.lock`: it re-reads the manifest on disk, edits that, and
swaps the result in atomically. A mutation never works from a copy it
read before the lock, so none can drop a commit that landed in
between, and no other module writes the manifest. `write` is the one
mutation that does work before the lock (its Spark write); its commit
is an optimistic compare-and-swap that aborts with
`ConcurrentWriteError` when any snapshot landed since it allocated its
version. Readers take no lock: they read whichever manifest the last
swap left.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .util import atomic_open, locked, read_parquet


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read and commit."""


@dataclass
class SnapshotInfo:
    version: int
    committed_at_ms: int
    path: str
    # Arbitrary commit metadata (the Iceberg snapshot-summary idea). The
    # SCD2 pipeline stores its incremental checkpoint here so data +
    # checkpoint commit in ONE manifest swap (no replay window on crash).
    properties: dict | None = None
    # id of the snapshot's data schema in the manifest's `schemas` list;
    # None for a snapshot written before schemas were recorded
    schema_id: int | None = None


def snapshot_schema(manifest: dict, snap: dict) -> T.StructType | None:
    """The data schema `manifest` records for its snapshot entry `snap`,
    or None when the entry has none (read it by inference)."""
    sid = snap.get("schema_id")
    if sid is None:
        return None
    doc = next(s["schema"] for s in manifest["schemas"] if s["schema_id"] == sid)
    return T.StructType.fromJson(doc)


def live_history(manifest: dict, branch: str) -> list[dict]:
    """`branch`'s pointer-history events whose version a vacuum has not
    expired, in order: the commits an exporter writes. The manifest
    keeps the expired versions' events, so an as-of read that resolves
    to one raises naming it instead of finding no snapshot."""
    live = {s["version"] for s in manifest["snapshots"]}
    return [e for e in manifest["history"].get(branch, []) if e["version"] in live]


def _schema_id(manifest: dict, schema: T.StructType) -> int:
    """The id of `schema` in `manifest["schemas"]`, appended under the
    next free id when no entry holds it: one entry per distinct
    schema, however many snapshots share it."""
    doc = schema.jsonValue()
    for s in manifest["schemas"]:
        if s["schema"] == doc:
            return s["schema_id"]
    sid = max((s["schema_id"] for s in manifest["schemas"]), default=-1) + 1
    manifest["schemas"].append({"schema_id": sid, "schema": doc})
    return sid


MANIFEST = "_manifest.json"


def load_manifest(root: str) -> dict:
    """The SnapshotTable manifest at `root` (an empty table's when there
    is none), with every field its readers use present. The one reader
    of the manifest file; `SnapshotTable._update` is its one writer."""
    try:
        with open(os.path.join(root, MANIFEST)) as f:
            m = json.load(f)
    except FileNotFoundError:
        m = {"current": None, "snapshots": []}
    m.setdefault("branches", {})  # non-main branch name → version
    m.setdefault("schemas", [])  # distinct data schemas (module doc)
    # Per-branch pointer history: branch → [{version, at_ms}, ...] appended
    # at every head change (write / fast_forward / create_branch). This is
    # what TIMESTAMP AS OF resolves against — an unpublished branch write
    # or a rolled-back version must not be reachable via a main read.
    # Legacy manifests (no history) were main-only: rebuild from snapshots.
    if "history" not in m:
        m["history"] = {
            "main": [
                {"version": s["version"], "at_ms": s["committed_at_ms"]}
                for s in m["snapshots"]
            ]
        }
    return m


def _now_ms() -> int:
    return int(time.time() * 1000)


def _head(manifest: dict, branch: str) -> int | None:
    if branch == "main":
        return manifest["current"]
    return manifest["branches"].get(branch)


def _check_branch(manifest: dict, branch: str) -> None:
    if branch != "main" and branch not in manifest["branches"]:
        raise ValueError(f"unknown branch {branch!r}; create_branch first")


def _from_head(manifest: dict, branch: str) -> int:
    head = _head(manifest, branch)
    if head is None:
        raise ValueError(f"branch {branch!r} has no snapshots")
    return head


def _move_head(manifest: dict, branch: str, version: int, at_ms: int | None) -> None:
    """Point `branch` at `version` and append the move to its pointer
    history at `at_ms` (wall clock when None)."""
    if branch == "main":
        manifest["current"] = version
    else:
        manifest["branches"][branch] = version
    manifest["history"].setdefault(branch, []).append(
        {"version": version, "at_ms": at_ms if at_ms is not None else _now_ms()}
    )


class SnapshotTable:
    """A parquet table with numbered, timestamped, immutable snapshots."""

    MANIFEST = MANIFEST

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _load_manifest(self) -> dict:
        return load_manifest(self.root)

    def _update(self, fn) -> dict | None:
        """The one way to change the manifest: under the table's lock,
        re-read the manifest on disk, apply `fn` to it, and swap in the
        manifest `fn` returns (`util.atomic_open`, so the swap is
        all-or-nothing). `fn` always edits the latest state, so no
        commit that lands meanwhile is lost. When `fn` raises, or
        returns None, nothing is written. Returns what `fn` returned.
        The flock serializes mutations on one node; on shared object
        storage this role belongs to the catalog service (Nessie, a
        DynamoDB lock, Hive metastore), which is exactly what the
        reference's Nessie REST catalog provides."""
        with locked(os.path.join(self.root, ".manifest.lock")):
            m = fn(self._load_manifest())
            if m is not None:
                with atomic_open(os.path.join(self.root, MANIFEST), "w") as f:
                    json.dump(m, f)
        return m

    # -- API ----------------------------------------------------------------
    def exists(self) -> bool:
        return self._load_manifest()["current"] is not None

    def snapshots(self) -> list[SnapshotInfo]:
        m = self._load_manifest()
        return [SnapshotInfo(**s) for s in m["snapshots"]]

    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        committed_at_ms: int | None = None,
        branch: str = "main",
        properties: dict | None = None,
    ) -> SnapshotInfo:
        """Write a new snapshot on `branch`; visible only after the
        manifest swap. Non-main branches must exist (create_branch) —
        implicit creation would hide typos as silent forks.

        committed_at_ms is injectable for deterministic tests; defaults to
        wall clock (ms) like an Iceberg commit timestamp.

        The snapshot's data schema, `df.schema` without the
        `partition_by` columns, is recorded in the same manifest swap:
        the entry's `schema_id` names it in the table's `schemas` list,
        which gains an entry only for a schema no earlier snapshot has.

        The data is written before the lock is taken, into a dir named
        by the version allocated from the manifest read first. The
        commit is an optimistic compare-and-swap: if any snapshot
        landed since that read, it aborts with ConcurrentWriteError
        instead of clobbering the other writer's snapshot (the
        Delta/Iceberg optimistic-concurrency contract). A commit that
        fails removes its dir.
        """
        m = self._load_manifest()
        _check_branch(m, branch)
        # versions are table-global (branches share the snapshot list)
        version = max((s["version"] for s in m["snapshots"]), default=0) + 1
        # uuid suffix: a crashed write never collides with a retry
        vdir = os.path.join(self.root, f"v{version:05d}-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(vdir)
        pcols = {c.lower() for c in partition_by or []}
        data = T.StructType([f for f in df.schema.fields if f.name.lower() not in pcols])
        at_ms = committed_at_ms if committed_at_ms is not None else _now_ms()

        def commit(m: dict) -> dict:
            latest = max((s["version"] for s in m["snapshots"]), default=0)
            if latest != version - 1:
                raise ConcurrentWriteError(
                    f"manifest advanced to v{latest} (expected v{version - 1}); "
                    "reload and retry the commit"
                )
            _check_branch(m, branch)
            info = SnapshotInfo(version, at_ms, vdir, properties, _schema_id(m, data))
            m["snapshots"].append(info.__dict__)
            _move_head(m, branch, version, at_ms)
            return m

        try:
            return SnapshotInfo(**self._update(commit)["snapshots"][-1])
        except BaseException:
            shutil.rmtree(vdir, ignore_errors=True)
            raise

    # -- branches (write-audit-publish) -------------------------------------
    def branch_head(self, branch: str = "main") -> int | None:
        return _head(self._load_manifest(), branch)

    def head_properties(self, branch: str = "main") -> dict | None:
        """Commit metadata of the branch head (None if no head / none set)."""
        m = self._load_manifest()
        head = _head(m, branch)
        return next(
            (s.get("properties") for s in m["snapshots"] if s["version"] == head),
            None,
        )

    def create_branch(
        self, name: str, from_branch: str = "main", at_ms: int | None = None
    ) -> int:
        """Zero-copy branch: a named pointer at from_branch's head."""

        def create(m: dict) -> dict:
            if name == "main" or name in m["branches"]:
                raise ValueError(f"branch {name!r} already exists")
            _move_head(m, name, _from_head(m, from_branch), at_ms)
            return m

        return self._update(create)["branches"][name]

    def fast_forward(
        self, to_branch: str, from_branch: str, at_ms: int | None = None
    ) -> int:
        """Publish: move to_branch's pointer to from_branch's head (one
        atomic manifest swap — the WAP publish step when to_branch is
        'main'). Recorded in to_branch's pointer history at `at_ms`
        (wall clock by default), so TIMESTAMP AS OF reads reflect when
        the publish (or rollback — a backward move) happened on that
        branch, never when the data was staged elsewhere."""

        def forward(m: dict) -> dict:
            head = _from_head(m, from_branch)
            _check_branch(m, to_branch)
            _move_head(m, to_branch, head, at_ms)
            return m

        return _head(self._update(forward), to_branch)

    def drop_branch(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")

        def drop(m: dict) -> dict:
            m["branches"].pop(name, None)
            return m

        self._update(drop)

    def _resolve(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        branch: str = "main",
    ) -> str:
        return self._resolve_entry(version, as_of_ms, branch)[1]["path"]

    def _resolve_entry(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        branch: str = "main",
    ) -> tuple[dict, dict]:
        """(manifest, snapshot entry) a `read` with these arguments
        resolves to."""
        m = self._load_manifest()
        snaps = m["snapshots"]

        def entry(v: int) -> dict:
            for s in snaps:
                if s["version"] == v:
                    return s
            # a pointer history may name a version a vacuum expired
            raise ValueError(f"version {v} not found in {self.root}")

        if version is not None:
            return m, entry(version)
        if as_of_ms is not None:
            # Resolve against the BRANCH's pointer history, not the global
            # snapshot list: an unpublished WAP branch write, or a version
            # abandoned by a rollback (backward fast_forward), must stay
            # invisible to this branch's timestamp-as-of readers.
            events = [
                e for e in m["history"].get(branch, []) if e["at_ms"] <= as_of_ms
            ]
            if not events:
                raise ValueError(
                    f"no snapshot on branch {branch!r} at or before {as_of_ms}"
                )
            # history is append-ordered under the manifest lock, so the last
            # eligible event IS the head at as_of_ms (max-by-at_ms would pick
            # the wrong side of a same-millisecond rollback)
            return m, entry(events[-1]["version"])
        head = _head(m, branch)
        if head is None:
            raise FileNotFoundError(f"no snapshots on {branch!r} in {self.root}")
        return m, entry(head)

    def read(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        branch: str = "main",
    ) -> DataFrame:
        """Branch head, `VERSION AS OF`, or `TIMESTAMP AS OF` read: a
        scan of the snapshot's dir with the schema the manifest records
        for it (`read_snapshot`), so resolving the read runs no Spark
        job."""
        return self.read_snapshot(*self._resolve_entry(version, as_of_ms, branch))

    def read_snapshot(self, manifest: dict, snap: dict) -> DataFrame:
        """A scan of snapshot entry `snap`'s dir with the data schema
        `manifest` records for it; inferred, at the cost of a Spark
        job, for an entry written before schemas were recorded."""
        return read_parquet(self.spark, snapshot_schema(manifest, snap), snap["path"])
