"""The pure phases of `read_iceberg_table`, without Spark: `_read_schema`
(which schema a snapshot reads under, and whether its files can be
scanned by name) and `_live_specs` + `_may_match` (file pruning)."""

from __future__ import annotations

import json

import pytest

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    _live_specs,
    _may_match,
    _read_schema,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_transforms import (
    bucket_value,
)


def _metadata(*schemas, name_mapping=None, specs=()):
    md = {
        "schema": schemas[-1],
        "schemas": list(schemas),
        "partition-specs": [{"spec-id": 0, "fields": list(specs)}],
    }
    if name_mapping is not None:
        md["properties"] = {"schema.name-mapping.default": json.dumps(name_mapping)}
    return md


def _schema(sid, *fields):
    return {
        "schema-id": sid,
        "fields": [{"id": i, "name": n, "type": t} for i, n, t in fields],
    }


def test_unevolved_schema_reads_by_name():
    rs = _read_schema(_metadata(_schema(0, (1, "a", "int"))), {"schema-id": 0})
    assert rs.by_name
    assert [f["name"] for f in rs.fields] == ["a"]


def test_rename_turns_off_the_by_name_path():
    md = _metadata(
        _schema(0, (1, "a", "int"), (2, "b", "string")),
        _schema(1, (1, "amount", "int"), (2, "b", "string")),
        name_mapping=[{"field-id": 1, "names": ["a", "amount"]}],
    )
    rs = _read_schema(md, {"schema-id": 0})
    assert not rs.by_name
    # the snapshot reads under its own schema, not the current one
    assert [f["name"] for f in rs.fields] == ["a", "b"]
    assert rs.alias_of == {1: ["a", "amount"]}


def test_initial_default_forces_per_file_resolution():
    schema = _schema(0, (1, "a", "int"))
    schema["fields"].append({"id": 2, "name": "x", "type": "int", "initial-default": 7})
    rs = _read_schema(_metadata(schema), {"schema-id": 0})
    assert not rs.by_name
    assert rs.defaults == {"x": ("int", 7)}


def test_nested_name_mapping_is_refused():
    md = _metadata(
        _schema(0, (1, "s", "string")),
        name_mapping=[
            {"field-id": 1, "names": ["s"], "fields": [{"field-id": 2, "names": ["t"]}]}
        ],
    )
    with pytest.raises(NotImplementedError, match="nested name-mapping"):
        _read_schema(md, {"schema-id": 0})


def _pruner(fields, *spec_fields):
    """may_match(rec, prune) for one spec over `fields` (id, name, type)."""
    schema = _schema(0, *fields)
    md = _metadata(schema, specs=spec_fields)
    specs, idents = _live_specs(md, schema["fields"], {0})
    by_name = {f["name"]: f for f in schema["fields"]}
    return lambda rec, prune: _may_match(rec, specs[0], idents[0], by_name, prune)


def _spec_field(name, transform, source_id):
    return {
        "name": name,
        "transform": transform,
        "source-id": source_id,
        "field-id": 1000,
    }


def test_identity_value_under_the_specs_historical_name():
    # the column was renamed region -> area after the spec named it
    may = _pruner([(1, "area", "string")], _spec_field("region", "identity", 1))
    rec = {"partition": {"region": "EU"}}
    assert may(rec, [("area", "=", "EU")])
    assert not may(rec, [("area", "=", "US")])


def test_bucket_prunes_equality_only():
    may = _pruner([(1, "k", "long")], _spec_field("k_bucket", "bucket[8]", 1))
    rec = {"partition": {"k_bucket": bucket_value(42, 8, "long")}}
    other = next(
        v
        for v in range(100)
        if bucket_value(v, 8, "long") != rec["partition"]["k_bucket"]
    )
    assert may(rec, [("k", "=", 42)])
    assert not may(rec, [("k", "=", other)])
    assert may(rec, [("k", "<", other)])


def test_truncate_on_ints_prunes_ranges():
    may = _pruner([(1, "n", "int")], _spec_field("n_trunc", "truncate[10]", 1))
    rec = {"partition": {"n_trunc": 20}}  # covers 20..29
    assert not may(rec, [("n", "<", 20)])
    assert may(rec, [("n", "<=", 20)])
    assert may(rec, [("n", "=", 25)])
    assert may(rec, [("n", ">=", 29)])
    assert not may(rec, [("n", ">", 29)])


def test_day_prunes_ranges_over_the_source():
    may = _pruner([(1, "ts", "timestamp")], _spec_field("ts_day", "day", 1))
    rec = {"partition": {"ts_day": 19000}}  # 2022-01-08
    assert may(rec, [("ts", "<", "2022-01-08T12:00:00")])
    assert not may(rec, [("ts", "<", "2022-01-08T00:00:00")])
    assert may(rec, [("ts", ">=", "2022-01-08T23:59:59")])
    assert not may(rec, [("ts", ">=", "2022-01-09T00:00:00")])


def test_missing_stats_keep_the_file():
    may = _pruner([(1, "a", "int")])
    assert may({}, [("a", "=", 5)])
    assert may({"lower_bounds": [], "upper_bounds": []}, [("a", ">", 5)])


def test_unknown_prune_column_raises():
    may = _pruner([(1, "a", "int")])
    with pytest.raises(ValueError, match="prune column 'zz' not in schema"):
        may({}, [("zz", "=", 1)])
