"""Regression tests for the round-10 ADVICE findings (fixed round 11):

1. rest_catalog._check_and_apply: `set-default-sort-order -1` with no
   preceding `add-sort-order` must be a 400 BadRequestException, not an
   UnboundLocalError surfacing as HTTP 500.
2. rest_catalog._add_schema: a BRAND-NEW field with required=true must
   be rejected (existing files hold no value for it); on v3 an
   initial-default makes it legal per the spec.
3. rest_catalog._commit_view: the view-existence probe in _route runs
   outside the commit lock, so _commit_view must re-check under the
   lock and refuse with 404 NoSuchViewException — not KeyError/500 —
   when a concurrent DELETE won the race.
"""

from __future__ import annotations

import json

import pytest

from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
    IcebergRestCatalog,
    _Rejected,
    create_table_via_catalog,
    rest_commit_table,
    rest_create_namespace,
)


def _evolve_updates(fields):
    return [
        {
            "action": "add-schema",
            "schema": {"type": "struct", "fields": fields},
        },
        {"action": "set-current-schema", "schema-id": -1},
    ]


def test_set_default_sort_order_minus_one_without_add_is_400(
    spark, tmp_path
):
    src = spark.createDataFrame([(1, "a")], "id LONG, name STRING")
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        create_table_via_catalog(uri, ["ns"], "t", src.schema)
        url = f"{uri}/v1/namespaces/ns/tables/t"
        with pytest.raises(ValueError) as ei:
            rest_commit_table(
                url,
                updates=[
                    {
                        "action": "set-default-sort-order",
                        "sort-order-id": -1,
                    }
                ],
            )
        msg = str(ei.value)
        # 400 envelope with the intended message — NOT a 500
        assert "BadRequestException" in msg
        assert "without a" in msg and "add-sort-order" in msg
        assert "500" not in msg and "UnboundLocal" not in msg


def test_add_schema_rejects_new_required_field_v2(spark, tmp_path):
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        rest_load_table,
    )

    src = spark.createDataFrame([(1, "a")], "id LONG, name STRING")
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        create_table_via_catalog(uri, ["ns"], "t", src.schema)
        url = f"{uri}/v1/namespaces/ns/tables/t"
        base = rest_load_table(url)["metadata"]["schema"]["fields"]
        # brand-new required column: illegal (old files have no value)
        with pytest.raises(ValueError, match="cannot be required"):
            rest_commit_table(
                url,
                updates=_evolve_updates(
                    list(base)
                    + [
                        {
                            "id": 3,
                            "name": "score",
                            "type": "double",
                            "required": True,
                        }
                    ]
                ),
            )
        # the same column added optional stays legal
        rest_commit_table(
            url,
            updates=_evolve_updates(
                list(base)
                + [
                    {
                        "id": 3,
                        "name": "score",
                        "type": "double",
                        "required": False,
                    }
                ]
            ),
        )


def test_add_schema_new_required_field_v3_needs_initial_default(
    spark, tmp_path
):
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_metadata,
    )
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        rest_load_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.range(5).selectExpr("id"), committed_at_ms=1)
    export_iceberg_metadata(t, format_version=3)
    with IcebergRestCatalog({("lake", "t"): t.root}) as uri:
        url = f"{uri}/v1/namespaces/lake/tables/t"
        cur = rest_load_table(url)["metadata"]["schema"]["fields"]
        new_req = {
            "id": max(f["id"] for f in cur) + 1,
            "name": "flag",
            "type": "int",
            "required": True,
        }
        # v3 but NO initial-default: still illegal
        with pytest.raises(ValueError, match="cannot be required"):
            rest_commit_table(
                url, updates=_evolve_updates(list(cur) + [new_req])
            )
        # v3 WITH initial-default: legal per the spec
        rest_commit_table(
            url,
            updates=_evolve_updates(
                list(cur) + [dict(new_req, **{"initial-default": 7})]
            ),
        )
        got = rest_load_table(url)["metadata"]["schema"]["fields"]
        added = [f for f in got if f["name"] == "flag"]
        assert added and added[0].get("initial-default") == 7


def test_commit_view_rechecks_existence_under_lock(tmp_path):
    # no server needed: call the handler directly. An unregistered view
    # simulates DELETE winning the race between _route's outside-lock
    # existence check and _commit_view taking the commit lock.
    # The refusal is raised, and rendered by the catalog's one renderer.
    cat = IcebergRestCatalog({}, warehouse_dir=str(tmp_path))
    with pytest.raises(_Rejected) as refused:
        cat._commit_view(("ns", "gone"), {"updates": []})
    code, body = refused.value.response()
    assert code == 404
    env = json.loads(body)["error"]
    assert env["type"] == "NoSuchViewException"
