"""Spark jobs that only infer a schema are gone from the serve, commit
and export paths.

`SnapshotTable.write` records each snapshot's data schema in the
manifest (`schemas` + the entry's `schema_id`), and every read of a
snapshot dir passes it to the scan, so resolving a read runs no Spark
job. A manifest written before schemas were recorded still reads,
exports and diffs by inference, with identical results. `load_table`
infers a source file's schema once per file version, and
`compact_partition_dir` leaves an already-compact partition alone.

Job counts come from the `job_census` fixture (tests/conftest.py)."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    export_delta_log,
    read_delta_table,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import vacuum_snapshots
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable
from hybrid_data_lakehouse_lab_spark.operators.util import footer_schema, read_parquet
from hybrid_data_lakehouse_lab_spark.sources.tables import load_table


def _fingerprint(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("partition_by", [None, ["dt"]])
def test_snapshot_reads_run_no_job(spark, tmp_path, job_census, partition_by):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(40).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS g", "CAST(id % 2 AS STRING) AS dt"
    )
    t.write(df, partition_by=partition_by, committed_at_ms=1000)
    t.write(df.where("id < 30"), partition_by=partition_by, committed_at_ms=2000)
    for kw in ({}, {"version": 1}, {"as_of_ms": 1500}):
        with job_census() as c:
            schema = t.read(**kw).schema
        assert c.jobs == 0, kw
        assert schema == spark.read.parquet(t._resolve(**kw)).schema
    assert len(t.read(version=1).collect()) == 40
    assert len(t.read().collect()) == 30
    # one schema entry serves both snapshots
    m = t._load_manifest()
    assert [s["schema_id"] for s in m["snapshots"]] == [0, 0]
    assert len(m["schemas"]) == 1
    # a vacuum keeps the schemas its survivors name
    vacuum_snapshots(t, older_than_ms=10_000, keep_last=1)
    with job_census() as c:
        t.read().schema
    assert c.jobs == 0


def _type_battery(spark):
    return spark.range(6).selectExpr(
        "id",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
        "array(id, id + 1) AS arr",
        "map('k', id) AS mp",
        "CAST(id / 4 AS DECIMAL(12, 3)) AS dec",
        "date_add(DATE'2026-01-01', CAST(id AS INT)) AS d",
        "TIMESTAMP_NTZ'2026-01-01 10:00:00' AS ntz",
        "CAST(CAST(id AS STRING) AS BINARY) AS bin",
        "parse_json(concat('{\"a\":', id, '}')) AS var",
        "CAST(CAST(id AS STRING) AS VARCHAR(5)) AS vc",
        "concat('2026-01-0', CAST(id % 2 + 1 AS STRING)) AS dt",
        "lpad(CAST(id % 3 AS STRING), 3, '0') AS p",
    )


def test_recorded_schema_equals_inferred_schema(spark, tmp_path):
    """The data columns alone are recorded; Spark types the partition
    columns from the directory names as inference does (a string
    `dt=2026-01-01` reads as date, `p=007` as int)."""
    df = _type_battery(spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for partition_by in (None, ["dt"], ["p"], ["dt", "p"]):
        info = t.write(df, partition_by=partition_by)
        got = t.read(version=info.version)
        want = spark.read.parquet(info.path)
        assert got.schema == want.schema, partition_by
        assert sorted(got.toJSON().collect()) == sorted(want.toJSON().collect())
    types = dict(t.read(version=2).dtypes)
    assert types["dt"] == "date"
    assert dict(t.read(version=3).dtypes)["p"] == "int"


def test_footer_schema_equals_inferred_schema(spark, tmp_path, job_census):
    """`footer_schema` reads the schema Spark recorded in a file's
    footer, which is what inference reads: a scan given it has the
    inferring scan's schema and rows and runs no job, over a file, a
    flat dir and partitioned dirs. A file no Spark writer made has no
    such footer field and takes the inference fallback."""
    df = _type_battery(spark)
    for partition_by in (None, ["dt"], ["p"], ["dt", "p"]):
        d = str(tmp_path / "_".join(partition_by or ["flat"]))
        writer = df.write.mode("overwrite")
        (writer.partitionBy(*partition_by) if partition_by else writer).parquet(d)
        f = sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))[0]
        for path in (d, f):
            with job_census() as c:
                got = read_parquet(spark, footer_schema(path), path)
            assert c.jobs == 0, (partition_by, path)
            want = spark.read.parquet(path)
            assert got.schema == want.schema, (partition_by, path)
            assert sorted(got.toJSON().collect()) == sorted(want.toJSON().collect())
        assert footer_schema(f) == footer_schema(d)
        assert footer_schema(f).fieldNames() == [
            c for c in df.columns if c not in (partition_by or [])
        ]

    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"id": [1, 2], "s": ["a", "b"]}), plain)
    assert footer_schema(plain) is None
    assert footer_schema(str(tmp_path / "missing")) is None
    with job_census() as c:
        got = read_parquet(spark, footer_schema(plain), plain)
    assert c.jobs == 1  # inferred
    assert got.schema == spark.read.parquet(plain).schema
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (2, "b")]


def _mor_interop_history(spark, root, src):
    """The benchmark's `mor_interop` round at 2,000 rows: load, ~10%
    delete, ~5% append, committed from a one-file source."""
    from pyspark.sql import functions as F

    spark.range(2000).selectExpr(
        "id DIV 4 AS l_orderkey",
        "CAST(id % 4 + 1 AS INT) AS l_linenumber",
        "CAST(id % 50 AS DOUBLE) AS l_quantity",
        "CAST(id % 7 AS STRING) AS l_shipmode",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    li = spark.read.parquet(src)
    v2 = li.filter("pmod(l_orderkey * 7 + l_linenumber, 10) != 3")
    appended = li.filter("pmod(l_orderkey, 20) = 1").withColumn(
        "l_orderkey", F.col("l_orderkey") + 10_000_000
    )
    t = SnapshotTable(spark, root)
    for i, df in enumerate([li, v2, v2.unionByName(appended)]):
        t.write(df, committed_at_ms=1000 * (i + 1))
    return t


_EXPORTS = [
    ("delta", lambda t: export_delta_log(t, mor_deletes=True, change_data=True)),
    ("v2", lambda t: export_iceberg_metadata(t, format_version=2)),
    ("v3", lambda t: export_iceberg_metadata(t, format_version=3)),
]


def _export_tree(root: str) -> dict:
    """Every file the exports wrote under `root`: sha256 of the
    metadata, sorted rows of each parquet file."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        if rel_dir.split(os.sep)[0].startswith("v0000"):
            continue  # the snapshot dirs themselves
        dirnames.sort()
        for fn in sorted(filenames):
            rel = os.path.normpath(os.path.join(rel_dir, fn))
            if rel in (SnapshotTable.MANIFEST, ".manifest.lock"):
                continue
            p = os.path.join(dirpath, fn)
            if fn.endswith(".parquet"):
                rows = pq.read_table(p).to_pylist()
                out[rel] = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
            else:
                with open(p, "rb") as fh:
                    out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _reads(spark, t) -> list:
    return [
        (
            _fingerprint(t.read(version=v + 1)),
            _fingerprint(read_delta_table(spark, t.root, version=v)),
            _fingerprint(read_iceberg_table(spark, t.root, snapshot_id=v + 1)),
        )
        for v in range(3)
    ]


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory, job_census):
    """A `mor_interop`-shaped root exported in the benchmark's order
    with recorded schemas: (table, jobs per export, tree, reads)."""
    d = tmp_path_factory.mktemp("mor")
    t = _mor_interop_history(spark, str(d / "root"), str(d / "src"))
    jobs = {}
    for name, export in _EXPORTS:
        with job_census() as c:
            export(t)
        jobs[name] = c.jobs
    return t, jobs, _export_tree(t.root), _reads(spark, t)


def test_export_job_census(exported):
    """The traced `mor_interop` export counts: no export starts a job
    to infer a snapshot's schema."""
    _t, jobs, _tree, _reads_ = exported
    assert jobs["delta"] <= 9, jobs
    assert jobs["v2"] <= 9, jobs
    assert jobs["v3"] <= 2, jobs


def test_manifest_without_schemas_reads_exports_and_diffs_alike(
    spark, exported, job_census
):
    """Strip the schemas (a table written before they were recorded),
    drop every export and the ledger, and export again: inference reads,
    exports and diffs to the same tree and the same reads. A commit on
    top records its own schema only."""
    t, _jobs, tree, reads = exported
    m = t._load_manifest()
    legacy = dict(m, snapshots=[dict(s) for s in m["snapshots"]])
    del legacy["schemas"]
    for s in legacy["snapshots"]:
        del s["schema_id"]
    t._update(lambda _m: legacy)
    for n in os.listdir(t.root):
        p = os.path.join(t.root, n)
        if n.startswith("v0000") or n in (SnapshotTable.MANIFEST, ".manifest.lock"):
            continue
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    assert all(s.schema_id is None for s in t.snapshots())
    with job_census() as c:
        t.read().schema
    assert c.jobs == 1  # the inference fallback
    for _name, export in _EXPORTS:
        export(t)
    assert _export_tree(t.root) == tree
    assert _reads(spark, t) == reads

    info = t.write(t.read(version=1), committed_at_ms=4000)
    assert [s.schema_id for s in t.snapshots()] == [None, None, None, 0]
    with job_census() as c:
        t.read(version=info.version).schema
    assert c.jobs == 0
    assert _fingerprint(t.read(version=info.version)) == reads[0][0]


def test_load_table_infers_each_file_version_once(spark, tmp_path, job_census):
    path = tmp_path / "orders.parquet"
    spark.range(5).selectExpr("id AS o_orderkey").coalesce(1).write.parquet(
        str(tmp_path / "w1")
    )
    (part,) = [p for p in os.listdir(tmp_path / "w1") if p.endswith(".parquet")]
    shutil.copy(tmp_path / "w1" / part, path)
    load_table(spark, str(tmp_path), "orders")
    with job_census() as c:
        df = load_table(spark, str(tmp_path), "orders")
    assert c.jobs == 0
    assert df.columns == ["o_orderkey"] and df.count() == 5
    # a rewritten file (new size, mtime, inode) is inferred again
    spark.range(3).selectExpr("id AS o_orderkey", "id * 2 AS o_total").coalesce(
        1
    ).write.parquet(str(tmp_path / "w2"))
    (part,) = [p for p in os.listdir(tmp_path / "w2") if p.endswith(".parquet")]
    os.remove(path)
    shutil.copy(tmp_path / "w2" / part, path)
    with job_census() as c:
        df = load_table(spark, str(tmp_path), "orders")
    assert c.jobs == 1
    assert df.columns == ["o_orderkey", "o_total"] and df.count() == 3
