"""Iceberg VIEW metadata (public view spec, format-version 1) and the
engine-side read path.

A view is versioned SQL: the metadata document carries `versions`
(each with `representations` — dialect-tagged SQL — a `schema-id`, and
a `default-namespace` for identifier resolution), `schemas`, a
`current-version-id` pointer and a `version-log`, all under the same
metadata-file + catalog-pointer lifecycle as tables (the view spec
reuses the table spec's storage model). CREATE OR REPLACE VIEW is an
append: a new version + pointer move, so every historical definition
stays readable — the view analog of table time travel. The REST
catalog writes every view version through `iceberg_commit.commit_trees`,
under the tree's commit lock, as it writes table versions.

The reference exposes its lakehouse through engine views (Trino /
Spark `CREATE VIEW` over Iceberg tables); this module provides the
cross-engine metadata those views persist to when the catalog is
Iceberg-native, re-expressed from the public spec.

Scale note: view metadata is O(KB) JSON; `read_iceberg_view` resolves
the referenced tables through the catalog and hands the SQL to
Catalyst, so the heavy lifting (scan pruning, join planning) happens
in the engine exactly as for a hand-written query — a view adds zero
runtime cost beyond the metadata fetch.
"""

from __future__ import annotations

import os
import re
import uuid

from .iceberg_meta import load_table_metadata

__all__ = [
    "create_view_metadata",
    "apply_view_commit",
    "load_view_tree",
    "read_iceberg_view",
    "create_view_via_catalog",
    "replace_view_via_catalog",
]


def _schema_from_fields(fields: list[dict], schema_id: int = 0) -> dict:
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": [
            {
                "id": i + 1,
                "name": f["name"],
                "type": f["type"],
                "required": bool(f.get("required", False)),
            }
            for i, f in enumerate(fields)
        ],
    }


def create_view_metadata(
    sql: str,
    schema_fields: list[dict],
    default_namespace: list[str],
    location: str,
    dialect: str = "spark",
    properties: dict | None = None,
    timestamp_ms: int = 1,
) -> dict:
    """A fresh format-version-1 view metadata document with one
    version whose single representation is `sql` in `dialect`."""
    schema = _schema_from_fields(schema_fields, 0)
    version = {
        "version-id": 1,
        "timestamp-ms": timestamp_ms,
        "schema-id": 0,
        "summary": {"engine-name": "spark-graft"},
        "representations": [
            {"type": "sql", "sql": sql, "dialect": dialect}
        ],
        "default-namespace": list(default_namespace),
    }
    return {
        "view-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, location)),
        "format-version": 1,
        "location": location,
        "schemas": [schema],
        "current-version-id": 1,
        "versions": [version],
        "version-log": [
            {"timestamp-ms": timestamp_ms, "version-id": 1}
        ],
        "properties": dict(properties or {}),
    }


def apply_view_commit(md: dict, req: dict) -> tuple[int, str] | None:
    """Validate a view CommitViewRequest's requirements against `md`
    and apply its updates in place. Returns (http status, message) on
    failure — 409 for failed requirements, 400 for malformed updates —
    (md may be partially mutated; callers discard it), None on
    success. Mirrors the table commit's in-memory contract.

    Requirements: assert-view-uuid. Updates: add-schema,
    add-view-version (schema-id -1 = the schema added in THIS commit),
    set-current-view-version (-1 = the version added in THIS commit),
    set-properties, remove-properties."""
    for r in req.get("requirements") or []:
        t = r.get("type")
        if t == "assert-view-uuid":
            if r.get("uuid") != md.get("view-uuid"):
                return 409, (
                    f"view uuid is {md.get('view-uuid')}, requirement "
                    f"expected {r.get('uuid')}"
                )
        else:
            return 400, f"unsupported view requirement type {t!r}"
    last_added_schema: int | None = None
    last_added_version: int | None = None
    for u in req.get("updates") or []:
        a = u.get("action")
        if a == "add-schema":
            schema = u.get("schema")
            fields = (schema or {}).get("fields")
            if not fields:
                return 400, "add-schema needs fields"
            sid = max(
                (s["schema-id"] for s in md.get("schemas") or []),
                default=-1,
            ) + 1
            # the catalog assigns field ids unless the client's are a
            # complete unique assignment (same rule as table create)
            ids = [f.get("id") for f in fields]
            if not all(ids) or len(set(ids)) != len(ids):
                fields = [
                    {
                        "id": i + 1,
                        **{k: v for k, v in f.items() if k != "id"},
                    }
                    for i, f in enumerate(fields)
                ]
            schema = dict(schema)
            schema["fields"] = fields
            schema["schema-id"] = sid
            md.setdefault("schemas", []).append(schema)
            last_added_schema = sid
        elif a == "add-view-version":
            v = dict(u.get("view-version") or {})
            reps = v.get("representations") or []
            if not any(r.get("type") == "sql" for r in reps):
                return 400, "add-view-version needs a sql representation"
            sid = v.get("schema-id")
            if sid == -1:
                if last_added_schema is None:
                    return 400, (
                        "view-version schema-id -1 without a preceding "
                        "add-schema in this commit"
                    )
                sid = last_added_schema
            if sid not in {
                s["schema-id"] for s in md.get("schemas") or []
            }:
                return 400, f"view-version references unknown schema {sid}"
            v["schema-id"] = sid
            vid = max(
                (x["version-id"] for x in md.get("versions") or []),
                default=0,
            ) + 1
            v["version-id"] = vid
            v.setdefault(
                "timestamp-ms",
                (md["versions"][-1]["timestamp-ms"] + 1)
                if md.get("versions")
                else 1,
            )
            v.setdefault("summary", {"engine-name": "spark-graft"})
            v.setdefault("default-namespace", [])
            md.setdefault("versions", []).append(v)
            last_added_version = vid
        elif a == "set-current-view-version":
            vid = u.get("view-version-id")
            if vid == -1:
                if last_added_version is None:
                    return 400, (
                        "set-current-view-version -1 without a preceding "
                        "add-view-version in this commit"
                    )
                vid = last_added_version
            versions = {
                x["version-id"]: x for x in md.get("versions") or []
            }
            if vid not in versions:
                return 400, (
                    f"set-current-view-version to unknown version {vid}"
                )
            md["current-version-id"] = vid
            md.setdefault("version-log", []).append(
                {
                    "timestamp-ms": versions[vid]["timestamp-ms"],
                    "version-id": vid,
                }
            )
        elif a == "set-properties":
            md.setdefault("properties", {}).update(u.get("updates") or {})
        elif a == "remove-properties":
            for k in u.get("removals") or []:
                (md.get("properties") or {}).pop(k, None)
        else:
            return 400, f"unsupported view update action {a!r}"
    return None


def load_view_tree(root: str) -> tuple[str, dict]:
    """Current (metadata-location, metadata) of a view tree."""
    meta_dir = os.path.join(root, "metadata")
    n, md = load_table_metadata(meta_dir)
    return os.path.join(meta_dir, f"v{n}.metadata.json"), md


def _pick_version(md: dict, version: int | None) -> dict:
    vid = md["current-version-id"] if version is None else version
    for v in md.get("versions") or []:
        if v["version-id"] == vid:
            return v
    raise ValueError(
        f"view has no version {vid} "
        f"(have {[v['version-id'] for v in md.get('versions') or []]})"
    )


def _pick_sql(version: dict, dialect: str = "spark") -> str:
    reps = [
        r
        for r in version.get("representations") or []
        if r.get("type") == "sql"
    ]
    if not reps:
        raise ValueError("view version has no sql representation")
    for r in reps:
        if r.get("dialect") == dialect:
            return r["sql"]
    return reps[0]["sql"]


def read_iceberg_view(spark, url: str, version: int | None = None):
    """Execute an Iceberg view served by a REST catalog and return the
    DataFrame. `url` is the view's load endpoint
    (`{base}/v1/namespaces/{ns}/views/{name}`).

    Identifier resolution per the spec: the version's
    `default-namespace` scopes bare table names — the catalog's table
    listing for that namespace is fetched and every listed table whose
    name appears as a word in the SQL is loaded through the protocol
    (`read_iceberg_table` over its load-table URL) and registered as a
    temp view under its bare name before the SQL runs. Tables the SQL
    does not mention are never loaded. `version` reads a historical
    definition (view time travel)."""
    from .rest_catalog import rest_get

    m = re.match(r"^(.*)/v1/namespaces/([^/]+)/views/([^/?]+)", url)
    if not m:
        raise ValueError(f"not a view load URL: {url}")
    base_url = m.group(1)
    result = rest_get(url)
    md = result.get("metadata")
    if md is None:
        raise ValueError(
            f"{url} did not return a LoadViewResult (keys: {sorted(result)})"
        )
    v = _pick_version(md, version)
    sql = _pick_sql(v)
    ns = v.get("default-namespace") or []
    registered = (
        _register_referenced(spark, base_url, list(ns), sql) if ns else []
    )
    try:
        # spark.sql analyzes eagerly: the returned DataFrame's plan
        # holds the resolved relations, so the temp views can go away
        return spark.sql(sql)
    finally:
        # don't leave bare-named temp views behind in the session (a
        # same-named USER temp view is still clobbered — documented)
        for name in registered:
            spark.catalog.dropTempView(name)


def _spark_schema_fields(spark, sql: str, resolve) -> list[dict]:
    """Derive the view's Iceberg schema fields by ANALYZING the SQL
    (no execution): `resolve` registers the referenced temp views,
    which are dropped again once the schema is read."""
    from .rest_catalog import _iceberg_fields

    registered = resolve() or []
    try:
        schema = spark.sql(sql).schema
    finally:
        for name in registered:
            spark.catalog.dropTempView(name)
    return _iceberg_fields(schema)


def create_view_via_catalog(
    spark,
    base_url: str,
    ns,
    name: str,
    sql: str,
    default_namespace=None,
    dialect: str = "spark",
    properties: dict | None = None,
) -> dict:
    """CREATE VIEW through the catalog protocol: resolve the referenced
    tables (so the schema can be analyzed engine-side), then POST the
    CreateViewRequest. Returns the LoadViewResult."""
    from .rest_catalog import _ns_url, _rest_call

    dns = list(default_namespace if default_namespace is not None else ns)

    def resolve():
        return _register_referenced(spark, base_url, dns, sql)

    fields = _spark_schema_fields(spark, sql, resolve)
    body = {
        "name": name,
        "schema": {"type": "struct", "fields": fields},
        "view-version": {
            "representations": [
                {"type": "sql", "sql": sql, "dialect": dialect}
            ],
            "default-namespace": dns,
            "summary": {"engine-name": "spark-graft"},
        },
        "properties": properties or {},
    }
    return _rest_call(_ns_url(base_url, ns, "views"), "POST", body)


def replace_view_via_catalog(
    spark, base_url: str, ns, name: str, sql: str, dialect: str = "spark"
) -> dict:
    """CREATE OR REPLACE VIEW: one commit appending a new schema + view
    version and moving the current pointer, guarded by
    assert-view-uuid. Historical versions stay readable."""
    from .rest_catalog import _ns_url, _rest_call, rest_get

    url = _ns_url(base_url, ns, "views", name)
    md = rest_get(url)["metadata"]
    dns = _pick_version(md, None).get("default-namespace") or list(ns)

    def resolve():
        return _register_referenced(spark, base_url, dns, sql)

    fields = _spark_schema_fields(spark, sql, resolve)
    return _rest_call(
        url,
        "POST",
        {
            "requirements": [
                {"type": "assert-view-uuid", "uuid": md["view-uuid"]}
            ],
            "updates": [
                {
                    "action": "add-schema",
                    "schema": {"type": "struct", "fields": fields},
                },
                {
                    "action": "add-view-version",
                    "view-version": {
                        "schema-id": -1,
                        "representations": [
                            {"type": "sql", "sql": sql, "dialect": dialect}
                        ],
                        "default-namespace": dns,
                    },
                },
                {
                    "action": "set-current-view-version",
                    "view-version-id": -1,
                },
            ],
        },
    )


def _register_referenced(
    spark, base_url: str, ns: list, sql: str
) -> list[str]:
    """Register every namespace table the SQL mentions (word match) as
    a bare-named temp view; returns the names registered so callers
    can drop them after analysis."""
    from .iceberg_meta import read_iceberg_table
    from .rest_catalog import _ns_url, rest_get

    listing = rest_get(_ns_url(base_url, ns, "tables"))
    registered: list[str] = []
    for ident in listing.get("identifiers") or []:
        name = ident["name"]
        if re.search(rf"\b{re.escape(name)}\b", sql):
            turl = _ns_url(base_url, ns, "tables", name)
            read_iceberg_table(spark, turl).createOrReplaceTempView(name)
            registered.append(name)
    return registered
