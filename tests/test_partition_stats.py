"""Iceberg partition-statistics files (operators/iceberg_pstats.py):
spec column/field ids, unified partition type across spec evolution,
delete-flavor counters, idempotent registration.
"""

from __future__ import annotations

import json
import os

import pytest

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_pstats import (
    partition_stats_table,
    write_partition_stats,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def _hint(root):
    with open(f"{root}/metadata/version-hint.text") as fh:
        return int(fh.read().strip())


def test_stats_file_carries_spec_field_ids(spark, tmp_path):
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(300).selectExpr(
        "id", "CAST(pmod(id, 3) AS STRING) AS g"
    )
    t.write(df, partition_by=["g"], committed_at_ms=1)
    export_iceberg_metadata(t, format_version=2)
    entry = write_partition_stats(spark, t.root)
    sch = pq.read_schema(entry["statistics-path"])
    by_name = {f.name: f for f in sch}
    # spec column ids
    assert by_name["partition"].metadata[b"PARQUET:field_id"] == b"1"
    assert by_name["spec_id"].metadata[b"PARQUET:field_id"] == b"2"
    assert (
        by_name["data_record_count"].metadata[b"PARQUET:field_id"] == b"3"
    )
    # partition struct fields carry their PARTITION-SPEC field ids
    ptype = by_name["partition"].type
    assert ptype.num_fields == 1
    gf = ptype.field(0)
    assert gf.name == "g"
    assert int(gf.metadata[b"PARQUET:field_id"]) >= 1000


def test_day_partition_value_is_typed_date(spark, tmp_path):
    """A `day` partition field's stats value has the transform's result
    type, date, the type the manifests give it."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(6).selectExpr(
        "id", "timestamp'2024-01-01 06:00:00' + make_interval(0, 0, 0, "
        "CAST(id % 2 AS INT), 0, 0, 0) AS ts"
    ).withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    t.write(df, partition_by=["dt"], committed_at_ms=1)
    export_iceberg_metadata(t, hidden_partitions={"dt": ("ts", "day")})
    entry = write_partition_stats(spark, t.root)
    stats = pq.read_table(entry["statistics-path"])
    assert stats.schema.field("partition").type.field("dt").type == pa.date32()
    assert sorted(r["partition"]["dt"] for r in stats.to_pylist()) == [
        datetime.date(2024, 1, 1),
        datetime.date(2024, 1, 2),
    ]


def test_unified_partition_type_across_spec_evolution(spark, tmp_path):
    """A table that went unpartitioned -> identity-partitioned: spec-0
    rows carry a NULL partition field, spec-1 rows a typed value, in
    ONE unified struct."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # non-numeric partition values: hive dirs type-infer numerics back
    # as ints, which the exporter would (correctly) refuse as a type
    # change
    df = spark.range(400).selectExpr(
        "id", "concat('k', pmod(id, 2)) AS g"
    )
    t.write(df, committed_at_ms=1)  # unpartitioned era
    # v2 is neither a superset nor a subset of v1, so the exporter
    # takes the full-rewrite branch and mints the identity spec (a
    # pure append would ride the base spec by design)
    t.write(
        spark.range(100, 500).selectExpr(
            "id", "concat('k', pmod(id, 2)) AS g"
        ),
        partition_by=["g"],
        committed_at_ms=2,
    )
    export_iceberg_metadata(t, format_version=2)
    write_partition_stats(spark, t.root)
    rows = partition_stats_table(spark, t.root).collect()
    # head is a full rewrite under the identity spec: typed values
    assert {r["partition"]["g"] for r in rows} == {"k0", "k1"}
    (head_spec,) = {r["spec_id"] for r in rows}
    # now stats for the UNPARTITIONED snapshot 1: same unified struct,
    # null partition field, a different spec id
    write_partition_stats(spark, t.root, snapshot_id=1)
    rows1 = partition_stats_table(spark, t.root, snapshot_id=1).collect()
    assert len(rows1) == 1
    assert rows1[0]["partition"]["g"] is None
    assert rows1[0]["spec_id"] != head_spec
    assert rows1[0]["data_record_count"] == 400
    assert sum(r["data_record_count"] for r in rows) == 400


def test_equality_delete_counters(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(200).selectExpr("id AS pk", "id * 2 AS v")
    t.write(df, committed_at_ms=1)
    t.write(
        df.withColumn("v", df.v + 1).filter("pk < 150"),
        committed_at_ms=2,
    )
    export_iceberg_metadata(t, format_version=2, upsert_key=["pk"])
    write_partition_stats(spark, t.root)
    rows = partition_stats_table(spark, t.root).collect()
    assert sum(r["equality_delete_file_count"] for r in rows) >= 1
    assert sum(r["equality_delete_record_count"] for r in rows) > 0
    assert sum(r["position_delete_file_count"] for r in rows) == 0


def test_idempotent_registration_and_missing_error(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.range(50).selectExpr("id"), committed_at_ms=1)
    export_iceberg_metadata(t, format_version=2)
    with pytest.raises(ValueError, match="no partition-statistics"):
        partition_stats_table(spark, t.root)
    write_partition_stats(spark, t.root)
    h = _hint(t.root)
    write_partition_stats(spark, t.root)  # replace, not duplicate
    assert _hint(t.root) == h + 1  # new metadata version per run
    with open(
        f"{t.root}/metadata/v{_hint(t.root)}.metadata.json"
    ) as fh:
        md = json.load(fh)
    assert len(md["partition-statistics"]) == 1
    assert partition_stats_table(spark, t.root).count() == 1


def test_stats_registration_through_catalog_commit(spark, tmp_path):
    """set-partition-statistics / remove-partition-statistics through
    the protocol: stage the stats file, pointer-commit the entry."""
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
        rest_commit_table,
        rest_load_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(300).selectExpr(
        "id", "CAST(pmod(id, 3) AS STRING) AS g"
    )
    t.write(df, partition_by=["g"], committed_at_ms=1)
    export_iceberg_metadata(t, format_version=2)
    with IcebergRestCatalog({("lake", "t"): t.root}) as uri:
        url = f"{uri}/v1/namespaces/lake/tables/t"
        entry = write_partition_stats(spark, t.root, catalog_url=url)
        md = rest_load_table(url)["metadata"]
        assert md["partition-statistics"] == [entry]
        # re-run replaces, not duplicates
        write_partition_stats(spark, t.root, catalog_url=url)
        md = rest_load_table(url)["metadata"]
        assert len(md["partition-statistics"]) == 1
        # the registered artifact reads back
        assert partition_stats_table(spark, t.root).count() == 3
        # unknown snapshot refused
        with pytest.raises(ValueError, match="unknown snapshot"):
            rest_commit_table(
                url,
                updates=[
                    {
                        "action": "set-partition-statistics",
                        "partition-statistics": {
                            "snapshot-id": 99,
                            "statistics-path": entry["statistics-path"],
                            "file-size-in-bytes": 1,
                        },
                    }
                ],
            )
        # remove drops the entry
        rest_commit_table(
            url,
            updates=[
                {
                    "action": "remove-partition-statistics",
                    "snapshot-id": entry["snapshot-id"],
                }
            ],
        )
        assert (
            rest_load_table(url)["metadata"].get("partition-statistics")
            == []
        )


def test_theta_stats_registration_through_catalog_commit(spark, tmp_path):
    """set-statistics (Puffin table stats) through the protocol."""
    from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
        IcebergRestCatalog,
        rest_commit_table,
        rest_load_table,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(spark.range(100).selectExpr("id"), committed_at_ms=1)
    export_iceberg_metadata(t, format_version=2)
    with IcebergRestCatalog({("lake", "t"): t.root}) as uri:
        url = f"{uri}/v1/namespaces/lake/tables/t"
        st = {
            "snapshot-id": 1,
            "statistics-path": f"{t.root}/metadata/fake-stats.puffin",
            "file-size-in-bytes": 10,
            "blob-metadata": [],
        }
        rest_commit_table(
            url, updates=[{"action": "set-statistics", "statistics": st}]
        )
        assert rest_load_table(url)["metadata"]["statistics"] == [st]
        rest_commit_table(
            url,
            updates=[{"action": "remove-statistics", "snapshot-id": 1}],
        )
        assert rest_load_table(url)["metadata"]["statistics"] == []


def test_expire_drops_expired_partition_stats_keeps_survivors(
    spark, tmp_path
):
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        expire_iceberg_snapshots,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(200).selectExpr(
        "id", "CAST(pmod(id, 2) AS STRING) AS g"
    )
    t.write(df, partition_by=["g"], committed_at_ms=1)
    t.write(
        spark.range(50, 300).selectExpr(
            "id", "CAST(pmod(id, 2) AS STRING) AS g"
        ),
        partition_by=["g"],
        committed_at_ms=2,
    )
    export_iceberg_metadata(t, format_version=2)
    e1 = write_partition_stats(spark, t.root, snapshot_id=1)
    e2 = write_partition_stats(spark, t.root, snapshot_id=2)
    assert os.path.exists(e1["statistics-path"])
    expired = expire_iceberg_snapshots(t.root, keep_last=1)
    assert expired == [1]
    # expired snapshot's stats file GC'd, entry gone; survivor intact
    assert not os.path.exists(e1["statistics-path"])
    assert os.path.exists(e2["statistics-path"])
    rows = partition_stats_table(spark, t.root).collect()
    assert sum(r["data_record_count"] for r in rows) == 250
    with open(f"{t.root}/metadata/v{_hint(t.root)}.metadata.json") as fh:
        md = json.load(fh)
    assert [e["snapshot-id"] for e in md["partition-statistics"]] == [2]
