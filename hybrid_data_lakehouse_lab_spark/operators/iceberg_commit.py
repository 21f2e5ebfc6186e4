"""Iceberg table commits: the one way a metadata tree here gets a new
version, shared by the REST catalog and every local writer.

The commit RULES are the Iceberg REST spec's `CommitTableRequest`:
requirements (`_REQUIREMENTS`: assert-create, assert-table-uuid,
assert-ref-snapshot-id, assert-current-schema-id,
assert-default-spec-id) and update actions (`_UPDATES`: snapshots and
refs, schema / spec / sort-order evolution, statistics, properties),
one function per rule. A rule that refuses raises `_Rejected(status,
type, message)`; the catalog renders it as the spec's error envelope, a
local writer sees it raised.

`commit_trees` is the commit PRIMITIVE. Under an exclusive flock on
each tree's `metadata/.commit.lock` (`util.locked`, the helper
`SnapshotTable._update` takes its `.manifest.lock` with) it re-loads
the tree's current version, applies an edit to it, writes
`v{n+1}.metadata.json` and swaps `version-hint.text`. An edit never
works from a copy loaded before the lock, so no writer can drop a
version that landed in between. `table_edit` is the TABLE commit's
edit on top of it: the rules, then one finalize per written version
(`last-updated-ms` bumped, the previous file logged in `metadata-log`
with its own `last-updated-ms`, the exporter's rule). `commit_table`
commits one table with it; the catalog's multi-table transactions
hand one per tree to `commit_trees`.

`create_tree` commits v1 of a new table the same way: a fresh
document, the update actions that give it its spec, properties and
(on a migration) its first snapshot, refused with FileExistsError when
the tree already has a version.

Writers that commit here: the REST catalog (table create, table
commits, multi-table transactions, CTAS finalize, view create and
commit), `iceberg_meta.create_iceberg_table`,
`iceberg_meta.migrate_parquet_dir`,
`maintenance.expire_iceberg_snapshots`,
`maintenance.rewrite_iceberg_manifests`,
`iceberg_pstats.write_partition_stats` and
`iceberg_meta.export_iceberg_statistics`. Only the exporter's full
regeneration (`export_iceberg_metadata`) writes its own versions, under
the same lock.

The flock serializes writers on one node. On shared object storage
that role belongs to a catalog service, which is what the reference's
Nessie REST catalog provides.
"""

from __future__ import annotations

import contextlib
import json
import os
from functools import partial

from .iceberg_meta import (
    _promotion_ok,
    check_field_type,
    load_table_metadata,
    next_row_id_of,
    write_metadata_version,
)
from .iceberg_transforms import known_transform
from .util import locked


class _Rejected(Exception):
    """A refused request: the HTTP status, the spec exception type and
    the message. Raised by the rule that refuses. The REST catalog
    renders it once, in `IcebergRestCatalog._route` (and the HTTP
    handler's JSON-decode and 500 branches), into the
    IcebergErrorResponse envelope; a local writer sees it raised."""

    def __init__(self, code: int, typ: str, message: str):
        super().__init__(message)
        self.code, self.type = code, typ

    def response(self) -> tuple[int, bytes]:
        error = {"message": str(self), "type": self.type, "code": self.code}
        return self.code, json.dumps({"error": error}).encode()


def _bad(message: str) -> _Rejected:
    return _Rejected(400, "BadRequestException", message)


def _stale(message: str) -> _Rejected:
    """409: the client re-loads and retries (a lost optimistic race)."""
    return _Rejected(409, "CommitFailedException", message)


# -- commit rules: one function per requirement type / update action --


class _Commit:
    """One CommitTableRequest being applied to `md` in memory: the
    table's identifier, its refs and snapshot ids as the commit moves
    them, and the ids this commit's own add-schema / add-spec /
    add-sort-order produced (what the spec's `-1` names)."""

    def __init__(self, ident: tuple[str, ...], md: dict):
        self.ident, self.md = ident, md
        self.refs = md.setdefault("refs", {})
        self.snap_ids = {s["snapshot-id"] for s in md.get("snapshots") or []}
        self.added: dict[str, int] = {}


def _check_and_apply(ident: tuple[str, ...], md: dict, req: dict) -> None:
    """Validate `req`'s requirements against `md` and apply its updates
    in place, raising `_Rejected` at the first failure (the commit then
    writes nothing). Pure in-memory, so a multi-table transaction
    validates EVERY change before persisting any (the protocol's
    commitTransaction atomicity). A field type or transform the shared
    checks refuse (ValueError, NotImplementedError) is a 400."""
    try:
        _apply(_Commit(ident, md), req)
    except (ValueError, NotImplementedError) as e:
        raise _bad(str(e)) from None


def _apply(c: _Commit, req: dict) -> None:
    for r in req.get("requirements") or []:
        rule = _REQUIREMENTS.get(r.get("type"))
        if rule is None:
            raise _bad(f"unsupported requirement type {r.get('type')!r}")
        rule(c, r)
    for u in req.get("updates") or []:
        rule = _UPDATES.get(u.get("action"))
        if rule is None:
            raise _bad(f"unsupported update action {u.get('action')!r}")
        rule(c, u)


def _assert_create(c: _Commit, r: dict) -> None:
    # reaching a commit means the table exists (the staged-materialize
    # path strips assert-create)
    raise _stale(
        f"assert-create failed: table {'.'.join(c.ident)} already exists"
    )


def _assert_equal(
    c: _Commit, r: dict, md_key: str, req_key: str, label: str, default=None
) -> None:
    have = c.md.get(md_key, default)
    if have != r.get(req_key):
        raise _stale(
            f"{label} is {have}, requirement expected {r.get(req_key)}"
        )


def _assert_ref_snapshot_id(c: _Commit, r: dict) -> None:
    cur = c.refs.get(r.get("ref"))
    cur_id = cur["snapshot-id"] if cur else None
    if cur_id != r.get("snapshot-id"):
        raise _stale(
            f"ref {r.get('ref')!r} is at {cur_id}, "
            f"requirement expected {r.get('snapshot-id')}"
        )


_REQUIREMENTS = {
    "assert-create": _assert_create,
    "assert-table-uuid": partial(
        _assert_equal, md_key="table-uuid", req_key="uuid", label="table uuid"
    ),
    "assert-ref-snapshot-id": _assert_ref_snapshot_id,
    "assert-current-schema-id": partial(
        _assert_equal,
        md_key="current-schema-id",
        req_key="current-schema-id",
        label="current schema id",
    ),
    "assert-default-spec-id": partial(
        _assert_equal,
        md_key="default-spec-id",
        req_key="default-spec-id",
        label="default spec id",
        default=0,
    ),
}


def _add_snapshot(c: _Commit, u: dict) -> None:
    s, md = u["snapshot"], c.md
    ml = s.get("manifest-list")
    if not (ml and os.path.isfile(ml)):
        raise _bad(
            f"add-snapshot manifest-list not found: {ml}"
            " (stage files before the pointer commit)"
        )
    if s["snapshot-id"] in c.snap_ids:
        raise _bad(f"snapshot {s['snapshot-id']} already exists")
    version = md.get("format-version", 1)
    if version >= 3:
        # v3 row lineage. A snapshot without BOTH lineage fields is
        # malformed — accepting it would leave next-row-id unadvanced
        # and let the NEXT commit hand out the same _row_id range again.
        if s.get("first-row-id") is None or s.get("added-rows") is None:
            raise _bad(
                "v3 add-snapshot requires first-row-id and added-rows (row "
                "lineage is mandatory in format-version 3)"
            )
        # the writer staged explicit first_row_ids from the metadata it
        # loaded; a stale cursor means another commit advanced the
        # lineage since — the same re-stage retry as a lost ref race,
        # so the same 409. next_row_id_of is the SAME derivation the
        # stager uses (registered external trees may lack the explicit
        # next-row-id field).
        nri = next_row_id_of(md)
        if int(s["first-row-id"]) != nri:
            raise _stale(
                "add-snapshot staged row lineage at "
                f"first-row-id={s.get('first-row-id')} but the table's "
                f"next-row-id is {nri}; re-stage against fresh metadata"
            )
        md["next-row-id"] = nri + int(s["added-rows"])
    if version >= 2:
        # a data file inherits its snapshot's sequence number; a child
        # snapshot staged against older metadata would carry one that
        # deletes committed since already cover, masking its rows
        last = md.get("last-sequence-number") or 0
        seq = s.get("sequence-number")
        if (
            seq is not None
            and s.get("parent-snapshot-id") is not None
            and seq <= last
        ):
            raise _stale(
                f"add-snapshot sequence-number {seq} is not newer than the "
                f"table's last-sequence-number {last}; re-stage against "
                "fresh metadata"
            )
        md["last-sequence-number"] = max(last, seq or 0)
    md.setdefault("snapshots", []).append(s)
    c.snap_ids.add(s["snapshot-id"])


def _set_snapshot_ref(c: _Commit, u: dict) -> None:
    name, sid = u["ref-name"], u["snapshot-id"]
    if sid not in c.snap_ids:
        raise _bad(f"set-snapshot-ref to unknown snapshot {sid}")
    ref = c.refs[name] = {"snapshot-id": sid, "type": u.get("type", "branch")}
    # spec SetSnapshotRefUpdate retention fields — honored by
    # expire_iceberg_snapshots' per-ref retention
    for k in (
        "min-snapshots-to-keep",
        "max-snapshot-age-ms",
        "max-ref-age-ms",
    ):
        if u.get(k) is not None:
            ref[k] = int(u[k])
    if name == "main":
        # main moves = the table's current snapshot moves; the
        # snapshot-log records it (forward publish and backward
        # rollback both append — Iceberg RESTORE semantics, monotonic
        # log)
        c.md["current-snapshot-id"] = sid
        c.md.setdefault("snapshot-log", []).append(
            {
                "snapshot-id": sid,
                "timestamp-ms": (c.md.get("last-updated-ms") or 0) + 1,
            }
        )


def _remove_snapshot_ref(c: _Commit, u: dict) -> None:
    if u.get("ref-name") == "main":
        raise _bad("cannot remove the main branch ref")
    c.refs.pop(u.get("ref-name"), None)


def _remove_snapshots(c: _Commit, u: dict) -> None:
    ids = set(u.get("snapshot-ids") or [])
    if not ids:
        raise _bad("remove-snapshots needs snapshot-ids")
    missing = ids - c.snap_ids
    if missing:
        raise _bad(f"remove-snapshots: unknown {sorted(missing)}")
    pinned = {r["snapshot-id"] for r in c.refs.values()}
    held = ids & (pinned | {c.md.get("current-snapshot-id")})
    if held:
        raise _bad(
            f"remove-snapshots: {sorted(held)} still referenced by a ref "
            "or the current snapshot"
        )
    c.snap_ids -= ids
    c.md["snapshots"] = [
        s for s in c.md.get("snapshots") or [] if s["snapshot-id"] not in ids
    ]
    # their log and stats entries go with them
    for key in ("snapshot-log", "statistics", "partition-statistics"):
        if key == "snapshot-log" or c.md.get(key):
            c.md[key] = [
                e
                for e in c.md.get(key) or []
                if e.get("snapshot-id") not in ids
            ]


def _set_statistics(c: _Commit, u: dict, key: str, ordered: bool) -> None:
    """set-statistics / set-partition-statistics: register a statistics
    file for ONE snapshot (replaces that snapshot's prior entry)."""
    st = u.get(key) or {}
    sid = st.get("snapshot-id")
    if sid is None or not st.get("statistics-path"):
        raise _bad(
            f"{u['action']} needs {key} with snapshot-id + statistics-path"
        )
    if sid not in c.snap_ids:
        raise _bad(f"{u['action']} for unknown snapshot {sid}")
    entries = [e for e in c.md.get(key) or [] if e.get("snapshot-id") != sid]
    entries.append(st)
    if ordered:
        entries.sort(key=lambda e: e["snapshot-id"])
    c.md[key] = entries


def _remove_statistics(c: _Commit, u: dict, key: str) -> None:
    c.md[key] = [
        e
        for e in c.md.get(key) or []
        if e.get("snapshot-id") != u.get("snapshot-id")
    ]


def _set_properties(c: _Commit, u: dict) -> None:
    c.md.setdefault("properties", {}).update(u.get("updates") or {})


def _remove_properties(c: _Commit, u: dict) -> None:
    for k in u.get("removals") or []:
        (c.md.get("properties") or {}).pop(k, None)


# set-current-schema / set-default-spec / set-default-sort-order:
# (request key, metadata key, listing, listing id key, add action, noun)
_DEFAULTS = {
    "set-current-schema": (
        "schema-id", "current-schema-id", "schemas", "schema-id", "add-schema",
        "schema",
    ),
    "set-default-spec": (
        "spec-id", "default-spec-id", "partition-specs", "spec-id", "add-spec",
        "spec",
    ),
    "set-default-sort-order": (
        "sort-order-id", "default-sort-order-id", "sort-orders", "order-id",
        "add-sort-order", "order",
    ),
}


def _set_default(c: _Commit, u: dict) -> None:
    """Point the metadata's current schema / default spec / default
    sort order at a known entry; the spec's -1 means the entry this
    commit's own add-<x> produced."""
    req_key, md_key, listing, id_key, add, noun = _DEFAULTS[u["action"]]
    want = u.get(req_key)
    if want == -1:
        want = c.added.get(add)
        if want is None:
            raise _bad(
                f"{u['action']} -1 without a preceding {add} in this commit"
            )
    known = {e[id_key]: e for e in c.md.get(listing) or []}
    if want not in known:
        raise _bad(f"{u['action']} to unknown {noun} {want}")
    c.md[md_key] = want
    if noun == "schema":
        # keep the v1-compat top-level schema in lockstep: the
        # readers/writers here (and real v1 consumers) look at
        # metadata["schema"]
        c.md["schema"] = known[want]


# -- schema / spec / sort-order evolution validators (add-* actions) --


def _add_schema(c: _Commit, u: dict) -> None:
    """Validate + append an add-schema update. Evolution rules the
    Iceberg spec fixes: field ids are FOREVER (an id reused for a
    different column corrupts per-file resolution), renames keep the
    id, type changes must follow the promotion lattice (int->long,
    float->double, decimal widening), new fields take fresh ids past
    last-column-id and a type `iceberg_meta.check_field_type` accepts
    (one the reader reads; variant only on v3+). The name-mapping
    property gains renamed fields' aliases and new fields' entries so
    id-less files keep resolving."""
    md = c.md
    fields = (u.get("schema") or {}).get("fields")
    if not fields:
        raise _bad("add-schema needs fields")
    ids = [f.get("id") for f in fields]
    if not all(ids) or len(set(ids)) != len(ids):
        raise _bad(f"add-schema fields need unique ids: {ids}")
    names = [f.get("name") for f in fields]
    if not all(names) or len(set(names)) != len(names):
        raise _bad(f"add-schema fields need unique names: {names}")
    last_col = md.get("last-column-id") or 0
    cur_fields = {
        f["id"]: f for f in (md.get("schema") or {}).get("fields") or []
    }
    for f in fields:
        old = cur_fields.get(f["id"])
        if old is None:
            check_field_type(f.get("type"), md.get("format-version", 1))
            if f["id"] <= last_col:
                raise _bad(
                    f"field id {f['id']} ({f.get('name')!r}) reuses a "
                    f"retired id (last-column-id={last_col}); new columns "
                    "need fresh ids"
                )
            if f.get("required", False) and not (
                md.get("format-version", 1) >= 3
                and f.get("initial-default") is not None
            ):
                # spec: existing files have no value for a brand-new
                # column, so it cannot be required — unless v3 with an
                # initial-default to materialize for old rows
                raise _bad(
                    f"new field {f['id']} ({f.get('name')!r}) cannot be "
                    "required; existing files hold no value (v3 "
                    "initial-default would be needed)"
                )
        elif not _promotion_ok(old["type"], f["type"]):
            raise _bad(
                f"field {f['id']} type change {old['type']} -> {f['type']} "
                "is not a legal promotion"
            )
        elif not old.get("required", False) and f.get("required", False):
            # spec: an optional column can never become required —
            # existing files may hold nulls the new schema forbids
            raise _bad(
                f"field {f['id']} ({f.get('name')!r}) cannot go optional -> "
                "required; existing data may be null"
            )
    schemas = md.setdefault("schemas", [])
    new_id = max((s["schema-id"] for s in schemas), default=-1) + 1
    schemas.append({"type": "struct", "schema-id": new_id, "fields": fields})
    md["last-column-id"] = max(last_col, max(ids))
    # name-mapping upkeep (same dedupe rule as the exporter); the
    # CURRENT names go first (a pre-mapping table or a registered
    # external tree may lack entries), so a rename in this very commit
    # records old AND new aliases
    props = md.setdefault("properties", {})
    mapping = json.loads(props.get("schema.name-mapping.default") or "[]")
    by_id = {m["field-id"]: m for m in mapping}
    for f in [*cur_fields.values(), *fields]:
        m = by_id.get(f["id"])
        if m is None:
            m = by_id[f["id"]] = {"field-id": f["id"], "names": [f["name"]]}
            mapping.append(m)
        elif f["name"] not in m["names"]:
            m["names"].append(f["name"])
    props["schema.name-mapping.default"] = json.dumps(mapping)
    c.added["add-schema"] = new_id


def _add_sort_order(c: _Commit, u: dict) -> None:
    """Validate + append an add-sort-order update (ALTER TABLE ...
    WRITE ORDERED BY over the protocol). Fields must reference live
    schema field ids with identity transforms (the transforms this
    engine writes), direction asc|desc, null-order
    nulls-first|nulls-last. Identical field lists reuse the existing
    order id (the exporter's dedupe rule)."""
    fields = (u.get("sort-order") or {}).get("fields")
    if fields is None:
        raise _bad("add-sort-order needs fields")
    live_ids = {
        f["id"]
        for sch in c.md.get("schemas") or [c.md.get("schema")]
        for f in (sch or {}).get("fields") or []
    }
    for f in fields:
        if f.get("source-id") not in live_ids:
            raise _bad(
                "sort field references unknown source-id "
                f"{f.get('source-id')}"
            )
        if f.get("direction") not in ("asc", "desc"):
            raise _bad(f"sort direction {f.get('direction')!r} (asc|desc)")
        if f.get("null-order") not in ("nulls-first", "nulls-last"):
            raise _bad(
                f"null-order {f.get('null-order')!r} (nulls-first|nulls-last)"
            )
    orders = c.md.setdefault("sort-orders", [{"order-id": 0, "fields": []}])
    key = json.dumps(fields, sort_keys=True)
    same = [
        o["order-id"]
        for o in orders
        if json.dumps(o["fields"], sort_keys=True) == key
    ]
    if same:
        oid = same[0]
    else:
        oid = max(o["order-id"] for o in orders) + 1
        orders.append({"order-id": oid, "fields": list(fields)})
    c.added["add-sort-order"] = oid


def _add_spec(c: _Commit, u: dict) -> None:
    """Validate + append an add-spec update: source ids must be live
    columns of the current schema, transforms limited to what the
    reader resolves (`iceberg_transforms.known_transform`); partition
    field ids assigned past last-partition-id when absent."""
    md = c.md
    pfields = (u.get("spec") or {}).get("fields")
    if pfields is None:
        raise _bad("add-spec needs fields")
    cur_ids = {f["id"] for f in (md.get("schema") or {}).get("fields") or []}
    last_pid = md.get("last-partition-id") or 999
    out = []
    for pf in pfields:
        if not known_transform(pf.get("transform") or "identity"):
            raise NotImplementedError(
                f"unsupported partition transform {pf.get('transform')!r}"
            )
        if pf.get("source-id") not in cur_ids:
            raise _bad(
                f"add-spec source-id {pf.get('source-id')} is not a current "
                "schema column"
            )
        if not pf.get("name"):
            raise _bad(f"spec field needs name: {pf}")
        fid = pf.get("field-id")
        if fid is None:
            last_pid += 1
            fid = last_pid
        out.append(
            {
                "source-id": pf["source-id"],
                "field-id": fid,
                "name": pf["name"],
                "transform": pf.get("transform", "identity"),
            }
        )
    specs = md.setdefault("partition-specs", [])
    new_id = max((s["spec-id"] for s in specs), default=-1) + 1
    specs.append({"spec-id": new_id, "fields": out})
    md["last-partition-id"] = max(last_pid, *(f["field-id"] for f in out), 999)
    c.added["add-spec"] = new_id


_UPDATES = {
    "add-snapshot": _add_snapshot,
    "set-snapshot-ref": _set_snapshot_ref,
    "remove-snapshot-ref": _remove_snapshot_ref,
    "add-schema": _add_schema,
    "set-current-schema": _set_default,
    "add-spec": _add_spec,
    "set-default-spec": _set_default,
    "add-sort-order": _add_sort_order,
    "set-default-sort-order": _set_default,
    "remove-snapshots": _remove_snapshots,
    "set-statistics": partial(
        _set_statistics, key="statistics", ordered=False
    ),
    "remove-statistics": partial(_remove_statistics, key="statistics"),
    "set-partition-statistics": partial(
        _set_statistics, key="partition-statistics", ordered=True
    ),
    "remove-partition-statistics": partial(
        _remove_statistics, key="partition-statistics"
    ),
    "set-properties": _set_properties,
    "remove-properties": _remove_properties,
}


# -- the commit primitive and the table commit --


@contextlib.contextmanager
def commit_lock(meta_dir: str):
    """Hold the tree's commit lock for the block (the directory is
    created if missing). Never nest a commit under it: a second flock
    of the same file waits forever."""
    os.makedirs(meta_dir, exist_ok=True)
    with locked(os.path.join(meta_dir, ".commit.lock")):
        yield


def commit_trees(edits: dict) -> dict:
    """The commit primitive. `edits` maps a tree's metadata dir to
    `edit(md, loc)`, which gets the tree's current document and its
    location (None and None when the tree has no version yet) and
    returns the next version's document, or raises to refuse. Under
    every tree's commit lock, taken in sorted order, each tree is
    re-loaded and edited; only when every edit has returned is anything
    written: `v{n+1}.metadata.json`, then the hint swap
    (`iceberg_meta.write_metadata_version`). Returns {meta_dir:
    (new location, document)}.

    There is no rename-if-absent: a `v{n+1}` that a crash left before
    its hint swap is overwritten by the next commit, so a re-run
    converges; the lock is what keeps two writers off one n."""
    with contextlib.ExitStack() as stack:
        staged = {}
        for d in sorted(edits):
            stack.enter_context(commit_lock(d))
            n, md, loc = 0, None, None
            if os.path.exists(os.path.join(d, "version-hint.text")):
                n, md = load_table_metadata(d)
                loc = os.path.join(d, f"v{n}.metadata.json")
            staged[d] = n + 1, edits[d](md, loc)
        return {
            d: (write_metadata_version(d, md, n), md)
            for d, (n, md) in staged.items()
        }


def table_edit(ident: tuple[str, ...], requests: list[dict]):
    """The table commit's edit for `commit_trees`: each request's
    requirements and updates through the rules, in order (a transaction
    naming one table twice chains them), then ONE finalize for the
    version written: `last-updated-ms` bumped and the previous file
    logged in `metadata-log` with that file's own `last-updated-ms`."""

    def edit(md: dict | None, loc: str | None) -> dict:
        if md is None:
            raise FileNotFoundError("no table metadata version to commit on")
        for req in requests:
            _check_and_apply(ident, md, req)
        ts = md.get("last-updated-ms") or 0
        md.setdefault("metadata-log", []).append(
            {"timestamp-ms": ts, "metadata-file": loc}
        )
        md["last-updated-ms"] = ts + 1
        return md

    return edit


def create_tree(meta_dir: str, fresh: dict, updates) -> tuple[str, dict]:
    """Commit v1 of a new table: `fresh` (`iceberg_meta._new_table`'s
    document) with the update actions `updates()` returns applied
    through the rules, then the table commit's `last-updated-ms` bump
    (a new tree has no previous file to log). `updates` runs under the
    tree's commit lock once the tree is known to have no version, so it
    may stage the files its actions name. Refuses with FileExistsError
    when the tree has a version; a v1 that a crash left before its
    hint swap is not one, and is overwritten. A refused field type or
    transform raises as itself (ValueError, NotImplementedError)."""

    def edit(md: dict | None, loc: str | None) -> dict:
        if md is not None:
            raise FileExistsError(
                f"table already exists at {os.path.dirname(meta_dir)}"
            )
        _apply(_Commit((), fresh), {"updates": updates()})
        fresh["last-updated-ms"] += 1
        return fresh

    return commit_trees({meta_dir: edit})[meta_dir]


def commit_table(
    meta_dir: str, updates: list[dict], requirements: list[dict] = ()
) -> tuple[str, dict]:
    """Commit `updates` under `requirements` to the tree at `meta_dir`
    as its next version; returns (location, metadata). Raises
    `_Rejected` when a rule refuses, with nothing written."""
    req = {"requirements": list(requirements), "updates": updates}
    return commit_trees({meta_dir: table_edit((), [req])})[meta_dir]
