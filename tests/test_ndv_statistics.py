"""Iceberg NDV table statistics in the fast tier: one small round trip
against datasketches-java, and a crash at the metadata swap of the
statistics export. The full battery is tests/test_theta.py (slow tier).
"""

from __future__ import annotations

import glob
import os

import pytest

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    export_iceberg_statistics,
    load_table_metadata,
    read_iceberg_statistics,
)
from hybrid_data_lakehouse_lab_spark.operators.puffin import read_blob
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def _table(spark, root):
    """load(120) -> delete: long, int and string columns with nulls and
    empty strings, exported as Iceberg v2 (merge-on-read)."""
    t = SnapshotTable(spark, root)
    df = spark.range(120).selectExpr(
        "IF(id % 9 = 0, NULL, id) AS k",
        "CAST(id % 13 AS INT) AS i",
        "CASE WHEN id % 4 = 0 THEN '' WHEN id % 4 = 1 THEN NULL "
        "ELSE concat('s', id % 23) END AS s",
    )
    t.write(df, committed_at_ms=1000)
    t.write(df.where("i != 5"), committed_at_ms=2000)
    export_iceberg_metadata(t, format_version=2)
    return t


def test_ndv_roundtrip_matches_library(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    est = export_iceberg_statistics(t)
    live = t.read()
    want = live.selectExpr(
        "count(DISTINCT k) AS k", "count(DISTINCT i) AS i",
        "count(DISTINCT nullif(s, '')) AS s",
    ).first().asDict()
    got = read_iceberg_statistics(spark, t.root)
    assert {c: g["ndv"] for c, g in got.items()} == want
    assert est == {c: float(n) for c, n in want.items()}
    md = load_table_metadata(os.path.join(t.root, "metadata"))[1]
    (st,) = md["statistics"]
    US = spark._jvm.org.apache.datasketches.theta.UpdateSketch
    for bm in st["blob-metadata"]:
        (fid,) = bm["fields"]
        c = {1: "k", 2: "i", 3: "s"}[fid]
        sk = US.builder().build()
        for r in live.select(c).collect():
            if r[0] is not None:
                sk.update(r[0])
        blob = read_blob(st["statistics-path"], bm["offset"], bm["length"])
        assert blob == bytes(sk.compact(True, None).toByteArray()), c


def test_crash_at_metadata_swap_keeps_previous_statistics(spark, tmp_path, monkeypatch):
    """A crash at the metadata swap leaves readers on the previous
    statistics, their Puffin untouched; a re-run converges to one stats
    file."""
    t = _table(spark, str(tmp_path / "t"))
    meta_dir = os.path.join(t.root, "metadata")
    assert set(export_iceberg_statistics(t, columns=["s"])) == {"s"}
    want = read_iceberg_statistics(spark, t.root)
    (old,) = load_table_metadata(meta_dir)[1]["statistics"]
    with open(old["statistics-path"], "rb") as fh:
        old_bytes = fh.read()
    replace = os.replace

    def crash(src, dst):
        if dst.endswith(".metadata.json"):
            raise OSError("injected crash at the metadata swap")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="injected"):
        export_iceberg_statistics(t)
    monkeypatch.setattr(os, "replace", replace)
    assert read_iceberg_statistics(spark, t.root) == want
    with open(old["statistics-path"], "rb") as fh:
        assert fh.read() == old_bytes
    assert set(export_iceberg_statistics(t)) == {"k", "i", "s"}
    (stats_file,) = glob.glob(os.path.join(glob.escape(meta_dir), "stats-*.puffin"))
    md = load_table_metadata(meta_dir)[1]
    assert [st["statistics-path"] for st in md["statistics"]] == [stats_file]
    assert read_iceberg_statistics(spark, t.root)["s"] == want["s"]
