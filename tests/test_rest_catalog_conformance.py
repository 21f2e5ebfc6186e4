"""REST-catalog protocol conformance (round 11, VERDICT r10 item 5):
the spec's OAuth2 token endpoint, an error-envelope conformance table
(HTTP status <-> exception type, one row per refusal the catalog
makes, driven by one parameterized test), the HEAD existence probes,
the stale add-snapshot sequence-number refusal, and the pagination
edges (empty namespace, pageSize=0, token past the end).

Reference parity: the reference wires Spark through a Nessie REST
endpoint (libs/scd2_spark_processor.py:101-103); the public equivalent
is the Iceberg REST catalog OpenAPI spec, whose error envelopes and
token flow this file pins.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.parse
import urllib.request

import pytest

from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
    IcebergRestCatalog,
    create_table_via_catalog,
    rest_commit_table,
    rest_create_namespace,
    rest_create_table,
    rest_get,
    rest_stage_create_table,
)


def _post_form(url: str, form: dict) -> tuple[int, dict]:
    data = urllib.parse.urlencode(form).encode()
    req = urllib.request.Request(
        url,
        data=data,
        method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode())


def _raw(url: str, method: str = "GET", body: dict | str | None = None):
    """(status, raw body); a str `body` is sent as-is."""
    if isinstance(body, dict):
        body = json.dumps(body)
    data = None if body is None else body.encode()
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.read()


# ---------------------------------------------------------------------------
# OAuth2 token endpoint
# ---------------------------------------------------------------------------


def test_oauth_client_credentials_flow(tmp_path):
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        code, tok = _post_form(
            f"{uri}/v1/oauth/tokens",
            {
                "grant_type": "client_credentials",
                "client_id": "spark",
                "client_secret": "s3cr3t",
                "scope": "catalog",
            },
        )
        assert code == 200
        assert tok["token_type"] == "bearer"
        assert tok["scope"] == "catalog"
        assert tok["expires_in"] == 3600
        assert tok["access_token"]
        # scope defaults to "catalog" when omitted (the spec default)
        code, tok2 = _post_form(
            f"{uri}/v1/oauth/tokens",
            {
                "grant_type": "client_credentials",
                "client_id": "spark",
                "client_secret": "s3cr3t",
            },
        )
        assert code == 200 and tok2["scope"] == "catalog"
        assert tok2["access_token"] != tok["access_token"]


def test_oauth_token_exchange_flow(tmp_path):
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        code, tok = _post_form(
            f"{uri}/v1/oauth/tokens",
            {
                "grant_type": "client_credentials",
                "client_id": "a",
                "client_secret": "b",
            },
        )
        assert code == 200
        code, swapped = _post_form(
            f"{uri}/v1/oauth/tokens",
            {
                "grant_type": (
                    "urn:ietf:params:oauth:grant-type:token-exchange"
                ),
                "subject_token": tok["access_token"],
                "subject_token_type": (
                    "urn:ietf:params:oauth:token-type:access_token"
                ),
            },
        )
        assert code == 200
        assert swapped["access_token"] != tok["access_token"]
        assert swapped["token_type"] == "bearer"


@pytest.mark.parametrize(
    "form, want_code, want_error",
    [
        # missing grant_type
        ({}, 400, "invalid_request"),
        # unknown grant
        ({"grant_type": "password"}, 400, "unsupported_grant_type"),
        # client_credentials without a secret
        (
            {"grant_type": "client_credentials", "client_id": "x"},
            401,
            "invalid_client",
        ),
        # token exchange without the subject token
        (
            {
                "grant_type": (
                    "urn:ietf:params:oauth:grant-type:token-exchange"
                )
            },
            400,
            "invalid_request",
        ),
    ],
)
def test_oauth_error_envelopes(tmp_path, form, want_code, want_error):
    """OAuth errors use the spec's OAuthErrorResponse — a FLAT
    {error, error_description} object with RFC 6749 codes, not the
    IcebergErrorResponse {"error": {...}} wrapper."""
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        code, body = _post_form(f"{uri}/v1/oauth/tokens", form)
        assert code == want_code
        assert body["error"] == want_error
        assert isinstance(body["error"], str)  # flat, not nested
        assert "error_description" in body


# ---------------------------------------------------------------------------
# Error-envelope conformance table (IcebergErrorResponse routes)
# ---------------------------------------------------------------------------


def _row(method, path, body, code, typ, why=None):
    """One table row: the request and the (status, exception type) the
    catalog must answer. `why` names the rule when the request alone
    does not (it also keeps the test ids unique)."""
    rid = f"{method} {path} -> {code} {typ}" + (f" ({why})" if why else "")
    return pytest.param(method, path, body, code, typ, id=rid)


def _commit(requirements=(), updates=()):
    return {"requirements": list(requirements), "updates": list(updates)}


def _snap(sid, **fields):
    """An add-snapshot whose manifest list is an existing file (the
    `<meta>` placeholder: the fixture table's metadata JSON)."""
    snapshot = {"snapshot-id": sid, "manifest-list": "<meta>", **fields}
    return {"action": "add-snapshot", "snapshot": snapshot}


def _field(fid, name, typ="long", required=False):
    return {"id": fid, "name": name, "type": typ, "required": required}


def _ident(ns, name):
    return {"namespace": ns, "name": name}


TABLE = "/v1/namespaces/ns/tables/t"  # v2, fields 1 id long, 2 name string
TABLE3 = "/v1/namespaces/ns/tables/t3"  # v3, same fields
VIEW = "/v1/namespaces/ns/views/v"
BAD, STALE = "BadRequestException", "CommitFailedException"
SORT = {"source-id": 1, "transform": "identity"}

# over a catalog seeded with namespace `ns`, empty tables `ns.t` (v2)
# and `ns.t3` (v3), view `ns.v` and two staged creates of `ns.staged`,
# and namespace `stg`, which holds only a staged create `stg.s`.
# Every row is refused, so none changes the shared fixture.
ENVELOPE_TABLE = [
    _row("GET", "/v1/nope", None, 404, "NoSuchEndpointException"),
    _row("GET", "/v1/namespaces/ghost", None, 404, "NoSuchNamespaceException"),
    _row(
        "GET",
        "/v1/namespaces/ghost/tables",
        None,
        404,
        "NoSuchNamespaceException",
    ),
    _row(
        "GET",
        "/v1/namespaces/ns/tables/ghost",
        None,
        404,
        "NoSuchTableException",
    ),
    _row(
        "GET",
        "/v1/namespaces/ns/views/ghost",
        None,
        404,
        "NoSuchViewException",
    ),
    _row(
        "POST",
        "/v1/namespaces",
        {"namespace": ["ns"]},
        409,
        "AlreadyExistsException",
    ),
    _row("DELETE", "/v1/namespaces/ns", None, 409, "NamespaceNotEmptyException"),
    _row("DELETE", "/v1/namespaces/stg", None, 409,
         "NamespaceNotEmptyException", "only a staged create"),
    _row(
        "POST",
        "/v1/namespaces/ns/tables",
        {},  # create-table without a name
        400,
        "BadRequestException",
    ),
    _row(
        "POST",
        "/v1/tables/rename",
        {"source": {}, "destination": {}},
        400,
        "BadRequestException",
    ),
    _row(
        "POST",
        "/v1/namespaces/ns/tables/t",
        {
            "requirements": [
                {"type": "assert-ref-snapshot-id", "ref": "main",
                 "snapshot-id": 12345}
            ],
            "updates": [],
        },
        409,
        "CommitFailedException",
    ),
    _row(
        "POST",
        "/v1/namespaces/ns/tables/t",
        {
            "requirements": [],
            "updates": [{"action": "set-default-sort-order",
                         "sort-order-id": -1}],
        },
        400,
        "BadRequestException",
    ),
    # wrong verb on a data route
    _row("DELETE", "/v1/namespaces", None, 405, "MethodNotAllowed"),
    # -- commit requirements --
    _row("POST", TABLE, _commit([{"type": "assert-create"}]), 409, STALE,
         "assert-create on a live table"),
    _row("POST", TABLE, _commit([{"type": "assert-table-uuid", "uuid": "no"}]),
         409, STALE, "assert-table-uuid"),
    _row("POST", TABLE, _commit([{"type": "assert-current-schema-id",
                              "current-schema-id": 9}]),
         409, STALE, "assert-current-schema-id"),
    _row("POST", TABLE, _commit([{"type": "assert-default-spec-id",
                              "default-spec-id": 9}]),
         409, STALE, "assert-default-spec-id"),
    _row("POST", TABLE, _commit([{"type": "assert-nothing"}]), 400, BAD,
         "unknown requirement type"),
    # -- update actions --
    _row("POST", TABLE, _commit(updates=[_snap(5, **{"manifest-list": "/no"})]),
         400, BAD, "add-snapshot without its manifest list"),
    _row("POST", TABLE, _commit(updates=[_snap(5), _snap(5)]), 400, BAD,
         "add-snapshot of an existing id"),
    _row("POST", TABLE, _commit(updates=[
        _snap(66, **{"parent-snapshot-id": 65, "sequence-number": 0})]),
        409, STALE, "add-snapshot with a stale sequence-number"),
    _row("POST", TABLE3, _commit(updates=[_snap(5)]), 400, BAD,
         "v3 add-snapshot without row lineage"),
    _row("POST", TABLE3, _commit(updates=[
        _snap(5, **{"first-row-id": 9, "added-rows": 1})]),
        409, STALE, "v3 add-snapshot with a stale first-row-id"),
    _row("POST", TABLE, _commit(updates=[{"action": "set-snapshot-ref",
                                      "ref-name": "b", "snapshot-id": 9}]),
         400, BAD, "set-snapshot-ref to an unknown snapshot"),
    _row("POST", TABLE, _commit(updates=[{"action": "remove-snapshot-ref",
                                      "ref-name": "main"}]),
         400, BAD, "remove-snapshot-ref main"),
    *(
        _row("POST", TABLE, _commit(updates=[{"action": "add-schema",
                                          "schema": {"fields": fields}}]),
             400, BAD, f"add-schema {why}")
        for why, fields in [
            ("without fields", []),
            ("with duplicate ids", [_field(1, "a"), _field(1, "b")]),
            ("with duplicate names", [_field(1, "a"), _field(2, "a")]),
            ("reusing a retired id", [_field(-1, "z")]),
            ("adding a required field", [_field(3, "z", required=True)]),
            ("narrowing long to int", [_field(1, "id", "int")]),
            ("making a field required",
             [_field(2, "name", "string", required=True)]),
            ("with a variant field on a v2 table", [_field(3, "z", "variant")]),
            ("with an unknown field type", [_field(4, "z", "blob")]),
        ]
    ),
    *(
        _row("POST", TABLE, _commit(updates=[{"action": "add-spec",
                                          "spec": spec}]),
             400, BAD, f"add-spec {why}")
        for why, spec in [
            ("without fields", {}),
            ("with an unknown transform",
             {"fields": [{"source-id": 1, "name": "p",
                          "transform": "zorder"}]}),
            ("over an unknown column",
             {"fields": [{"source-id": 9, "name": "p",
                          "transform": "identity"}]}),
            ("with an unnamed field",
             {"fields": [{"source-id": 1, "transform": "identity"}]}),
        ]
    ),
    *(
        _row("POST", TABLE, _commit(updates=[{"action": "add-sort-order",
                                          "sort-order": order}]),
             400, BAD, f"add-sort-order {why}")
        for why, order in [
            ("without fields", {}),
            ("over an unknown column",
             {"fields": [{**SORT, "source-id": 9, "direction": "asc",
                          "null-order": "nulls-first"}]}),
            ("with a bad direction",
             {"fields": [{**SORT, "direction": "up",
                          "null-order": "nulls-first"}]}),
            ("with a bad null-order",
             {"fields": [{**SORT, "direction": "asc",
                          "null-order": "nulls-middle"}]}),
        ]
    ),
    *(
        _row("POST", TABLE, _commit(updates=[{"action": action, key: want}]),
             400, BAD, f"{action} {want}")
        for action, key in [
            ("set-current-schema", "schema-id"),
            ("set-default-spec", "spec-id"),
            ("set-default-sort-order", "sort-order-id"),
        ]
        for want in (-1, 9)
        if (action, want) != ("set-default-sort-order", -1)  # row above
    ),
    _row("POST", TABLE, _commit(updates=[{"action": "remove-snapshots",
                                      "snapshot-ids": []}]),
         400, BAD, "remove-snapshots without ids"),
    _row("POST", TABLE, _commit(updates=[{"action": "remove-snapshots",
                                      "snapshot-ids": [9]}]),
         400, BAD, "remove-snapshots of an unknown id"),
    _row("POST", TABLE, _commit(updates=[
        _snap(7, **{"sequence-number": 1}),
        {"action": "set-snapshot-ref", "ref-name": "main", "snapshot-id": 7},
        {"action": "remove-snapshots", "snapshot-ids": [7]},
    ]), 400, BAD, "remove-snapshots of the current snapshot"),
    *(
        _row("POST", TABLE, _commit(updates=[{"action": action, key: stats}]),
             400, BAD, f"{action} {why}")
        for action, key in [
            ("set-statistics", "statistics"),
            ("set-partition-statistics", "partition-statistics"),
        ]
        for why, stats in [
            ("without a path", {"snapshot-id": 9}),
            ("for an unknown snapshot",
             {"snapshot-id": 9, "statistics-path": "/s.puffin"}),
        ]
    ),
    _row("POST", TABLE, _commit(updates=[{"action": "upgrade-everything"}]),
         400, BAD, "unknown update action"),
    # -- loads, listings and routes --
    _row("GET", TABLE + "?snapshots=some", None, 400, BAD, "snapshots mode"),
    _row("GET", "/v1/namespaces?pageSize=x", None, 400, BAD, "pageSize"),
    _row("GET", "/v1/namespaces/ns/tables?pageToken=-1", None, 400, BAD,
         "pageToken"),
    _row("GET", "/v1/namespaces/ns/views?pageSize=0", None, 400, BAD,
         "pageSize 0"),
    _row("GET", "/v1/namespaces?parent=ghost", None, 404,
         "NoSuchNamespaceException", "parent"),
    _row("GET", "/v1/namespaces/ghost/views", None, 404,
         "NoSuchNamespaceException"),
    _row("POST", "/v1/namespaces/ghost/register", {}, 404,
         "NoSuchNamespaceException"),
    _row("GET", "/v1/namespaces/ns/bogus", None, 404,
         "NoSuchEndpointException"),
    _row("GET", VIEW + "/extra", None, 404, "NoSuchEndpointException"),
    _row("GET", TABLE + "/extra", None, 404, "NoSuchEndpointException"),
    _row("POST", "/v1/namespaces/ns/tables/ghost/metrics", {}, 404,
         "NoSuchTableException", "metrics"),
    _row("POST", "/v1/namespaces/ns/tables/ghost", _commit(), 404,
         "NoSuchTableException", "commit"),
    _row("POST", "/v1/namespaces", "{not json", 400, BAD, "invalid JSON"),
    # -- namespaces, tables, register, rename --
    _row("POST", "/v1/namespaces", {"namespace": []}, 400, BAD,
         "empty namespace"),
    _row("POST", "/v1/namespaces/ns/tables", {"name": "u"}, 400, BAD,
         "create-table without fields"),
    _row("POST", "/v1/namespaces/ns/tables",
         {"name": "t", "schema": {"fields": [_field(1, "a")]}},
         409, "AlreadyExistsException", "create-table over a table"),
    _row("POST", "/v1/namespaces/ns/tables",
         {"name": "v", "schema": {"fields": [_field(1, "a")]}},
         409, "AlreadyExistsException", "create-table over a view"),
    _row("POST", "/v1/namespaces/ns/tables",
         {"name": "u", "schema": {"fields": [_field(1, "a")]},
          "properties": {"format-version": "x"}},
         400, BAD, "create-table with a bad format-version"),
    _row("POST", "/v1/namespaces/ns/register", {"name": "r"}, 400, BAD,
         "register without a metadata-location"),
    _row("POST", "/v1/namespaces/ns/register",
         {"name": "r", "metadata-location": "/no/v1.metadata.json"},
         400, BAD, "register of a missing file"),
    _row("POST", "/v1/namespaces/ns/register",
         {"name": "r", "metadata-location": "<hint>"},
         400, BAD, "register of a non-metadata file"),
    _row("POST", "/v1/namespaces/ns/register",
         {"name": "t", "metadata-location": "<meta>"},
         409, "AlreadyExistsException", "register over a table"),
    _row("POST", "/v1/namespaces/ns/tables/staged",
         _commit([{"type": "assert-create"}]), 400, BAD,
         "CTAS finalize naming no staged uuid"),
    _row("POST", "/v1/namespaces/ns/tables/staged",
         _commit([{"type": "assert-create"},
                  {"type": "assert-table-uuid", "uuid": "no"}]),
         409, STALE, "CTAS finalize of an unknown staged uuid"),
    *(
        _row("POST", f"/v1/{kind}/rename",
             {"source": _ident(*src), "destination": _ident(*dst)},
             code, typ, f"{why}")
        for kind, src, dst, code, typ, why in [
            ("tables", (["ns"], "ghost"), (["ns"], "u"), 404,
             "NoSuchTableException", "unknown source"),
            ("tables", (["ns"], "t"), (["ghost"], "u"), 404,
             "NoSuchNamespaceException", "unknown target namespace"),
            ("tables", (["ns"], "t"), (["ns"], "t3"), 409,
             "AlreadyExistsException", "onto a table"),
            ("tables", (["ns"], "t"), (["ns"], "v"), 409,
             "AlreadyExistsException", "onto a view"),
            ("views", (["ns"], "ghost"), (["ns"], "u"), 404,
             "NoSuchViewException", "unknown source"),
            ("views", (["ns"], "v"), (["ghost"], "u"), 404,
             "NoSuchNamespaceException", "unknown target namespace"),
            ("views", (["ns"], "v"), (["ns"], "t"), 409,
             "AlreadyExistsException", "onto a table"),
        ]
    ),
    _row("POST", "/v1/views/rename", {"source": {}}, 400, BAD,
         "rename without identifiers"),
    # -- views --
    _row("POST", "/v1/namespaces/ns/views", {}, 400, BAD,
         "create-view without a name"),
    _row("POST", "/v1/namespaces/ns/views", {"name": "w"}, 400, BAD,
         "create-view without sql"),
    _row("POST", "/v1/namespaces/ns/views",
         {"name": "t", "schema": {"fields": [_field(1, "x", "int")]},
          "view-version": {"representations": [
              {"type": "sql", "sql": "SELECT 1 AS x"}]}},
         409, "AlreadyExistsException", "create-view over a table"),
    _row("POST", VIEW, _commit([{"type": "assert-view-uuid", "uuid": "no"}]),
         409, STALE, "assert-view-uuid"),
    _row("POST", VIEW, _commit([{"type": "assert-table-uuid", "uuid": "no"}]),
         400, BAD, "unknown view requirement"),
    # -- multi-table transactions --
    _row("POST", "/v1/transactions/commit", {}, 400, BAD,
         "no table-changes"),
    _row("POST", "/v1/transactions/commit",
         {"table-changes": [{"identifier": {"name": "t"}}]}, 400, BAD,
         "identifier without namespace"),
    _row("POST", "/v1/transactions/commit",
         {"table-changes": [{"identifier": _ident(["ns"], "ghost")}]},
         404, "NoSuchTableException", "unknown table"),
    _row("POST", "/v1/transactions/commit",
         {"table-changes": [{"identifier": _ident(["ns"], "t"),
                             **_commit([{"type": "assert-table-uuid",
                                         "uuid": "no"}])}]},
         409, STALE, "stale requirement"),
]


@pytest.mark.parametrize(
    "method, path, body, want_code, want_type", ENVELOPE_TABLE
)
def test_error_envelope_table(
    conformance_catalog, method, path, body, want_code, want_type
):
    uri, files = conformance_catalog
    if body is not None and not isinstance(body, str):
        body = json.dumps(body)
        for name, path_ in files.items():
            body = body.replace(f'"<{name}>"', json.dumps(path_))
    code, raw = _raw(f"{uri}{path}", method, body)
    assert code == want_code, raw
    env = json.loads(raw)["error"]
    assert env["type"] == want_type
    assert env["code"] == want_code
    assert env["message"]


@pytest.mark.parametrize(
    "path, want_code",
    [
        ("/v1/namespaces/ns", 204),
        ("/v1/namespaces/ghost", 404),
        (TABLE, 204),
        ("/v1/namespaces/ns/tables/ghost", 404),
        (VIEW, 204),
        ("/v1/namespaces/ns/views/ghost", 404),
    ],
)
def test_head_answers_existence_without_body(
    conformance_catalog, path, want_code
):
    """HEAD is the spec's existence probe (namespaceExists, tableExists,
    viewExists): 204 with no body, or 404."""
    uri, _files = conformance_catalog
    req = urllib.request.Request(f"{uri}{path}", method="HEAD")
    try:
        with urllib.request.urlopen(req) as resp:
            code, length = resp.status, resp.headers["Content-Length"]
    except urllib.error.HTTPError as exc:
        code, length = exc.code, None
    assert code == want_code
    if code == 204:
        assert length == "0"


@pytest.fixture(scope="module")
def conformance_catalog(tmp_path_factory, request):
    """(uri, {placeholder: path}) of the catalog ENVELOPE_TABLE runs
    against. `<meta>` is an existing file (ns.t's metadata JSON),
    `<hint>` an existing file that is not a metadata JSON."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    cat = IcebergRestCatalog(
        {}, warehouse_dir=str(tmp_path_factory.mktemp("wh"))
    )
    uri = cat.__enter__()
    request.addfinalizer(lambda: cat.__exit__(None, None, None))
    rest_create_namespace(uri, ["ns"])
    meta = create_table_via_catalog(uri, ["ns"], "t", schema)[
        "metadata-location"
    ]
    fields = [_field(1, "id"), _field(2, "name", "string")]
    rest_create_table(
        uri, ["ns"], "t3", fields, properties={"format-version": "3"}
    )
    for _ in range(2):
        rest_stage_create_table(uri, ["ns"], "staged", fields)
    rest_create_namespace(uri, ["stg"])
    rest_stage_create_table(uri, ["stg"], "s", fields)
    code, _ = _raw(
        f"{uri}/v1/namespaces/ns/views",
        "POST",
        {
            "name": "v",
            "schema": {"fields": [_field(1, "x", "int")]},
            "view-version": {
                "representations": [{"type": "sql", "sql": "SELECT 1 AS x"}]
            },
        },
    )
    assert code == 200
    hint = os.path.join(os.path.dirname(meta), "version-hint.text")
    return uri, {"meta": meta, "hint": hint}


def test_add_snapshot_refuses_stale_sequence_number(tmp_path):
    """Format v2+: a child snapshot must carry a sequence number newer
    than the table's last one — a data file inheriting a stale number
    would be masked by deletes it predates. The refusal is the 409
    re-stage signal. A parentless snapshot, and any snapshot on v1,
    are still accepted."""
    ml = tmp_path / "staged-manifest-list.avro"
    ml.write_bytes(b"")
    fields = [_field(1, "id")]

    def add(url, sid, seq, parent=None, ref="main"):
        snap = {"snapshot-id": sid, "manifest-list": str(ml),
                "sequence-number": seq}
        if parent is not None:
            snap["parent-snapshot-id"] = parent
        return rest_commit_table(url, updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": ref,
             "snapshot-id": sid},
        ])

    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        rest_create_table(uri, ["ns"], "t", fields)
        url = f"{uri}/v1/namespaces/ns/tables/t"
        add(url, 1, 1)
        add(url, 2, 2, parent=1)
        with pytest.raises(ValueError) as refused:
            add(url, 3, 1, parent=2, ref="b")
        msg = str(refused.value)
        assert "CommitFailedException" in msg and "HTTP 409" in msg
        assert "sequence-number 1" in msg
        assert "last-sequence-number 2" in msg
        md = rest_get(url)["metadata"]
        assert [s["snapshot-id"] for s in md["snapshots"]] == [1, 2]
        assert md["last-sequence-number"] == 2 and "b" not in md["refs"]
        # parentless: accepted, last-sequence-number unchanged
        add(url, 4, 1, ref="b")
        assert rest_get(url)["metadata"]["last-sequence-number"] == 2
        # v1 tracks no sequence numbers: accepted
        rest_create_table(
            uri, ["ns"], "v1", fields, properties={"format-version": "1"}
        )
        url1 = f"{uri}/v1/namespaces/ns/tables/v1"
        add(url1, 1, 5)
        add(url1, 2, 1, parent=1)


# ---------------------------------------------------------------------------
# Pagination edges
# ---------------------------------------------------------------------------


def test_pagination_edges(tmp_path):
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["empty"])
        # empty namespace: 200 with an empty identifiers list, not 404
        got = rest_get(f"{uri}/v1/namespaces/empty/tables")
        assert got == {"identifiers": []}
        # pageSize=0 violates the OpenAPI minimum(1): 400
        code, raw = _raw(f"{uri}/v1/namespaces/empty/tables?pageSize=0")
        assert code == 400
        assert json.loads(raw)["error"]["type"] == "BadRequestException"
        # pageSize=1 over the namespace listing pages deterministically
        rest_create_namespace(uri, ["zz"])
        page1 = rest_get(f"{uri}/v1/namespaces?pageSize=1")
        assert page1["namespaces"] == [["empty"]]
        tok = page1["next-page-token"]
        page2 = rest_get(f"{uri}/v1/namespaces?pageSize=1&pageToken={tok}")
        assert page2["namespaces"] == [["zz"]]
        assert "next-page-token" not in page2
        # a token past the end: empty page, no next token (stale-token
        # tolerance — listings shrink between pages)
        page3 = rest_get(f"{uri}/v1/namespaces?pageSize=1&pageToken=99")
        assert page3["namespaces"] == [] and "next-page-token" not in page3
        # corrupt token: 400
        code, raw = _raw(f"{uri}/v1/namespaces?pageToken=-3")
        assert code == 400


def test_namespace_parent_listing(tmp_path):
    """GET /v1/namespaces?parent=a lists the namespaces DIRECTLY under
    `a` (unit-separator-joined multi-part parents); unknown parent is
    404; the flat full listing stays the no-parent default."""
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        for ns in (["a"], ["a", "b"], ["a", "b", "c"], ["a", "d"], ["z"]):
            rest_create_namespace(uri, ns)
        got = rest_get(f"{uri}/v1/namespaces?parent=a")
        assert got["namespaces"] == [["a", "b"], ["a", "d"]]
        # grandchildren are not direct children
        deep = rest_get(f"{uri}/v1/namespaces?parent=a%1Fb")
        assert deep["namespaces"] == [["a", "b", "c"]]
        # leaf parent: empty listing, not an error
        leaf = rest_get(f"{uri}/v1/namespaces?parent=z")
        assert leaf["namespaces"] == []
        # unknown parent: 404 NoSuchNamespaceException
        code, raw = _raw(f"{uri}/v1/namespaces?parent=ghost")
        assert code == 404
        assert json.loads(raw)["error"]["type"] == "NoSuchNamespaceException"
        # no parent: the flat full listing (pre-existing contract)
        flat = rest_get(f"{uri}/v1/namespaces")
        assert [tuple(n) for n in flat["namespaces"]] == [
            ("a",), ("a", "b"), ("a", "b", "c"), ("a", "d"), ("z",),
        ]
        # parent composes with pagination
        page = rest_get(f"{uri}/v1/namespaces?parent=a&pageSize=1")
        assert page["namespaces"] == [["a", "b"]]
        assert page["next-page-token"]
