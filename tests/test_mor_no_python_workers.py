"""The merge-on-read export and read path starts no Python worker.

PySpark launches Python workers for pandas kernels (`mapInPandas`,
`applyInPandas`, cogrouped `applyInPandas`) and for every
`spark.createDataFrame(<python list>)`, which goes through
`SparkContext.parallelize`. A fresh process pays seconds for that
first launch. The exporters (`export_delta_log`,
`export_iceberg_metadata`) and readers (`read_delta_table`,
`read_delta_changes`, `read_iceberg_table`) build every driver-side
frame through `util.local_frame` (Arrow) and every deletion vector
through the JVM-only encoder in `operators/dv_kernel.py`. These tests
make the four entry points raise, run chained-delete histories through
every exporter and reader, and check the rows against
`SnapshotTable.read` at every version, also under a root and partition
values that a file URI percent-encodes. The same holds for
`migrate_parquet_dir`, the evolved-table (renamed-column) read and the
`iceberg_inspect` metadata tables, the NDV statistics export and
read (`export_iceberg_statistics`, `read_iceberg_statistics`) and two
`Scd2Pipeline` batches (the checkpoint audit frame included): each
must equal its unpatched result. On a root whose change-set ledger an
earlier export filled, the exports that read it back start no Python
worker either. Every `udf` / `pandas_udf` column is
refused too, at `UserDefinedFunction.__call__`.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pytest
from pyspark import SparkContext
from pyspark.sql.group import GroupedData
from pyspark.sql.pandas.group_ops import PandasCogroupedOps
from pyspark.sql.udf import UserDefinedFunction

from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    export_delta_log,
    read_delta_changes,
    read_delta_table,
)
from hybrid_data_lakehouse_lab_spark.operators import iceberg_inspect
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    export_iceberg_statistics,
    migrate_parquet_dir,
    read_iceberg_statistics,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
    rewrite_delete_files,
)
from hybrid_data_lakehouse_lab_spark.operators.mor_diff import LEDGER_DIR
from hybrid_data_lakehouse_lab_spark.operators.pipeline import Scd2Pipeline
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


_G = "CAST(id % 3 AS STRING)"
# partition values a path must escape: Spark writes `g=REG AIR` and
# `g=z%25w`, and reports both percent-encoded in a file's URI
_ESCAPED_G = "element_at(array('REG AIR', 'z%w', 'x'), CAST(id % 3 + 1 AS INT))"


def _forbid_python_workers(spark, monkeypatch):
    def refuse(name):
        def _raise(*_a, **_k):
            raise AssertionError(f"{name} starts Python workers")

        return _raise

    frame_cls = type(spark.range(1))  # the concrete classic DataFrame
    for owner, attr in (
        (SparkContext, "parallelize"),
        (frame_cls, "mapInPandas"),
        (GroupedData, "applyInPandas"),
        (PandasCogroupedOps, "applyInPandas"),
        # every `udf` / `pandas_udf` column, scalar ones included
        (UserDefinedFunction, "__call__"),
    ):
        monkeypatch.setattr(owner, attr, refuse(f"{owner.__name__}.{attr}"))


def _history(spark, root, partitioned=False, minor=False, g=_G):
    """load(300) -> delete -> delete -> append, or with `minor` the
    append replaced by a minor compaction (rewrite_delete_files). `g` is
    the SQL of the (partition) column `g`."""
    t = SnapshotTable(spark, root)
    kw = {"partition_by": ["g"]} if partitioned else {}
    df = spark.range(300).selectExpr("id", f"{g} AS g")
    live = df
    t.write(live.repartition(3), committed_at_ms=1000, **kw)
    live = live.filter("id % 5 != 0")
    t.write(live.repartition(3), committed_at_ms=2000, **kw)
    live = live.filter("id % 7 != 0")
    t.write(live.repartition(3), committed_at_ms=3000, **kw)
    if minor:
        rewrite_delete_files(t, committed_at_ms=4000)
    else:
        more = spark.range(300, 330).selectExpr("id", f"{g} AS g")
        t.write(live.unionByName(more).repartition(3), committed_at_ms=4000, **kw)
    return t


def _rows(df):
    return sorted((r["id"], r["g"]) for r in df.select("id", "g").collect())


def _check_reads(spark, t, versions, iceberg_only=False):
    want = {v: _rows(t.read(version=v)) for v in versions}
    for i, v in enumerate(versions):
        got = _rows(read_iceberg_table(spark, t.root, snapshot_id=i + 1))
        assert got == want[v], ("iceberg", v)
    if iceberg_only:
        return
    for i, v in enumerate(versions):
        got = _rows(read_delta_table(spark, t.root, version=i))
        assert got == want[v], ("delta", v)
    # the change feed nets out to each commit's row-multiset change
    changes = read_delta_changes(spark, t.root, starting_version=1).collect()
    for i, v in enumerate(versions[1:], start=1):
        ins, dels = Counter(), Counter()
        for r in changes:
            if r["_commit_version"] == i:
                side = ins if r["_change_type"] == "insert" else dels
                side[(r["id"], r["g"])] += 1
        before, after = Counter(want[versions[i - 1]]), Counter(want[v])
        assert ins - dels == after - before, ("cdf", v)
        assert dels - ins == before - after, ("cdf", v)


@pytest.mark.parametrize(
    "root,partitioned,minor,g",
    [
        ("t", False, False, _G),
        ("t", True, False, _G),
        ("t", False, True, _G),
        ("r oo%t+x", True, False, _ESCAPED_G),
    ],
    ids=["unpartitioned", "partitioned", "fv3-minor-compaction", "escaped-paths"],
)
def test_export_and_read_start_no_python_worker(
    spark, tmp_path, monkeypatch, root, partitioned, minor, g
):
    t = _history(spark, str(tmp_path / root), partitioned, minor, g)
    versions = [e["version"] for e in t._load_manifest()["history"]["main"]]
    _forbid_python_workers(spark, monkeypatch)
    export_iceberg_metadata(t, format_version=1)
    _check_reads(spark, t, versions, iceberg_only=True)
    export_iceberg_metadata(t, format_version=2)
    _check_reads(spark, t, versions, iceberg_only=True)
    assert glob.glob(
        os.path.join(glob.escape(t.root), "deletes", "**", "*.parquet"),
        recursive=True,
    )
    export_iceberg_metadata(t, format_version=3)
    _check_reads(spark, t, versions, iceberg_only=True)
    assert glob.glob(os.path.join(glob.escape(t.root), "deletes", "*", "*.puffin"))
    export_delta_log(t)
    _check_reads(spark, t, versions)
    export_delta_log(t, mor_deletes=True, change_data=True)
    _check_reads(spark, t, versions)
    # both deletes exported as deletion-vector commits
    dvs = glob.glob(os.path.join(glob.escape(t.root), "deletion_vector_*.bin"))
    assert len(dvs) == 2


def test_ledger_reads_start_no_python_worker(spark, tmp_path, monkeypatch):
    """The Delta export diffs both deletes and folds their deletion
    vectors into the root's ledger; the Iceberg v2 and v3 exports then
    read those entries back (v2 also diffs the append, v3 reads it)."""
    t = _history(spark, str(tmp_path / "t"))
    versions = [e["version"] for e in t._load_manifest()["history"]["main"]]
    export_delta_log(t, mor_deletes=True, change_data=True)
    assert os.listdir(os.path.join(t.root, LEDGER_DIR))
    _forbid_python_workers(spark, monkeypatch)
    export_iceberg_metadata(t, format_version=2)
    _check_reads(spark, t, versions, iceberg_only=True)
    export_iceberg_metadata(t, format_version=3)
    _check_reads(spark, t, versions)


def _sorted_rows(df):
    return sorted(df.collect(), key=repr)


def test_migrate_then_read_starts_no_python_worker(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "lake")
    spark.range(90).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS g", "id * 2 AS v"
    ).repartition(2).write.partitionBy("g").parquet(src)
    migrate_parquet_dir(spark, str(tmp_path / "want"), src)
    want = _sorted_rows(read_iceberg_table(spark, str(tmp_path / "want")))
    _forbid_python_workers(spark, monkeypatch)
    migrate_parquet_dir(spark, str(tmp_path / "got"), src)
    assert _sorted_rows(read_iceberg_table(spark, str(tmp_path / "got"))) == want


@pytest.mark.parametrize("upsert", [False, True], ids=["deletes", "upsert"])
def test_renamed_column_reads_start_no_python_worker(
    spark, tmp_path, monkeypatch, upsert
):
    """A rename makes the reader resolve every file's columns from its
    footer (data files and, under upsert, equality-delete files)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(
        spark.createDataFrame([(i, i * 10) for i in range(20)], "k INT, val INT"),
        committed_at_ms=1,
    )
    rows = [(i, i * 10 + (i % 4 == 0), f"n{i}") for i in range(25)]
    t.write(
        spark.createDataFrame(rows, "k INT, amount INT, note STRING"),
        committed_at_ms=2,
    )
    t.write(
        spark.createDataFrame(
            [(k, a + (k % 5 == 0), n) for k, a, n in rows if k % 3],
            "k INT, amount INT, note STRING",
        ),
        committed_at_ms=3,
    )
    kw = {"upsert_key": ["k"]} if upsert else {}
    export_iceberg_metadata(
        t, format_version=2, renamed_columns={"amount": "val"}, **kw
    )
    want = [
        _sorted_rows(read_iceberg_table(spark, t.root, snapshot_id=sid))
        for sid in (1, 2, 3)
    ]
    _forbid_python_workers(spark, monkeypatch)
    export_iceberg_metadata(
        t, format_version=2, renamed_columns={"amount": "val"}, **kw
    )
    got = [
        _sorted_rows(read_iceberg_table(spark, t.root, snapshot_id=sid))
        for sid in (1, 2, 3)
    ]
    assert got == want


def test_statistics_export_and_read_start_no_python_worker(
    spark, tmp_path, monkeypatch
):
    t = _history(spark, str(tmp_path / "t"))
    export_iceberg_metadata(t, format_version=3)

    def stats():
        return export_iceberg_statistics(t), read_iceberg_statistics(spark, t.root)

    want = stats()
    _forbid_python_workers(spark, monkeypatch)
    assert stats() == want


def test_inspect_tables_start_no_python_worker(spark, tmp_path, monkeypatch):
    t = _history(spark, str(tmp_path / "t"), partitioned=True)
    export_iceberg_metadata(t, format_version=2)
    export_delta_log(t)
    ii = iceberg_inspect

    def tables():
        out = [
            ii.snapshots_table(spark, t.root),
            ii.history_table(spark, t.root),
            ii.refs_table(spark, t.root),
            ii.delta_history_table(spark, t.root),
        ]
        for sid in (1, 2, 3, 4):
            out += [
                ii.manifests_table(spark, t.root, sid),
                ii.files_table(spark, t.root, sid),
                ii.partitions_table(spark, t.root, sid),
            ]
        return [df.collect() for df in out]

    want = tables()
    _forbid_python_workers(spark, monkeypatch)
    assert tables() == want


def _pipeline_state(spark, root):
    """Two CDC batches through a fresh pipeline at `root`: the SCD2
    rows, the checkpoint and the audit rows (minus their wall-clock
    `processed_at`)."""
    pipe = Scd2Pipeline(spark, root, ["pk"], ["val"])

    def batch(lo, hi, lsn0):
        return spark.range(lo, hi).selectExpr(
            "CAST(id % 7 AS INT) AS pk",
            "concat('v', id) AS val",
            "timestamp_micros(1700000000000000 + id * 1000) AS event_timestamp",
            f"id + {lsn0} AS lsn",
            "IF(id < 7, 'c', 'u') AS op",
        )

    counts = [
        pipe.process_batch(batch(0, 12, 0), committed_at_ms=1000),
        pipe.process_batch(batch(12, 20, 100), committed_at_ms=2000),
    ]
    audit = spark.read.parquet(pipe._ckpt_dir).drop("processed_at")
    return (
        counts,
        _sorted_rows(pipe.scd2()),
        pipe.last_checkpoint(),
        _sorted_rows(audit),
    )


def test_pipeline_batches_start_no_python_worker(spark, tmp_path, monkeypatch):
    want = _pipeline_state(spark, str(tmp_path / "want"))
    _forbid_python_workers(spark, monkeypatch)
    assert _pipeline_state(spark, str(tmp_path / "got")) == want
