"""Theta NDV sketches + Iceberg table statistics (round 8).

The oracle is the real Apache DataSketches library: datasketches-java
6.2.0 sits on Spark's classpath. Every exported blob must equal, byte
for byte, the sketch the library's own `UpdateSketch` builds from the
same values (ordered compact, SerVer 3), in exact and in estimation
mode; the reader must refuse a blob the library refuses and read what
the library writes.
"""

from __future__ import annotations

import json
import os

import pytest

from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    export_iceberg_statistics,
    load_table_metadata,
    read_iceberg_statistics,
)
from hybrid_data_lakehouse_lab_spark.operators.puffin import read_blob, write_puffin
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

# Round 12 (VERDICT r11 item 1): slow tier — see pytest.ini; run
# the full suite with -m "".
pytestmark = pytest.mark.slow


def _lib_bytes(spark, values):
    """The library's ordered compact sketch of `values` (k = 4096).
    `rebuild()` trims an estimation-mode sketch to the k smallest
    hashes, as the merge of Spark's partial aggregates does."""
    US = spark._jvm.org.apache.datasketches.theta.UpdateSketch
    sk = US.builder().setNominalEntries(4096).build()
    for v in values:
        sk.update(v)
    sk.rebuild()
    return bytes(sk.compact(True, None).toByteArray())


def _blobs(root):
    """{field id: blob bytes} of the current statistics file."""
    md = load_table_metadata(os.path.join(root, "metadata"))[1]
    (st,) = md["statistics"]
    return {
        bm["fields"][0]: read_blob(st["statistics-path"], bm["offset"], bm["length"])
        for bm in st["blob-metadata"]
    }


def _export(spark, root, df):
    t = SnapshotTable(spark, root)
    t.write(df, committed_at_ms=1000)
    export_iceberg_metadata(t, format_version=2)
    return t, export_iceberg_statistics(t)


def test_compact_sketch_byte_identical_exact_mode(spark, tmp_path):
    """Empty, single-item, small, int and string sketches: each blob is
    the EXACT bytes datasketches-java produces."""
    df = spark.range(300).selectExpr(
        "CAST(NULL AS BIGINT) AS e",
        "IF(id = 0, 42L, NULL) AS one",
        "IF(id < 2, id + 1, NULL) AS two",
        "IF(id < 100, id, NULL) AS h",
        "CAST(id * 3 AS INT) AS i",
        "concat('d', id) AS s",
    )
    t, est = _export(spark, str(tmp_path / "x"), df)
    want = {
        1: [],
        2: [42],
        3: [1, 2],
        4: list(range(100)),
        5: [i * 3 for i in range(300)],
        6: [f"d{i}" for i in range(300)],
    }
    got = _blobs(t.root)
    for fid, values in want.items():
        assert got[fid] == _lib_bytes(spark, values), fid
    assert est == {"e": 0.0, "one": 1.0, "two": 2.0, "h": 100.0, "i": 300.0, "s": 300.0}


def test_estimation_mode_byte_identical(spark, tmp_path):
    """Estimation mode: the blob equals the library's sketch of the same
    strings, the reader reports the library's estimate, and it lands
    within 5 RSE of the truth."""
    jvm = spark._jvm
    Mem = jvm.org.apache.datasketches.memory.Memory
    CS = jvm.org.apache.datasketches.theta.CompactSketch
    n, k = 50_000, 4096
    t, est = _export(
        spark, str(tmp_path / "x"), spark.range(n).selectExpr("concat('v', id) AS s")
    )
    theirs = _lib_bytes(spark, [f"v{i}" for i in range(n)])
    (blob,) = _blobs(t.root).values()
    assert blob == theirs
    cs = CS.heapify(Mem.wrap(theirs))
    got = read_iceberg_statistics(spark, t.root)["s"]
    assert got["estimate"] == cs.getEstimate() == est["s"]
    assert got["retained"] == k
    assert abs(got["estimate"] - n) / n < 5.0 / (k**0.5)


def test_empty_string_is_not_a_value(spark, tmp_path):
    """Like datasketches-java (and so Iceberg-java and Trino), the sketch
    ignores the empty string: NDV = count(DISTINCT nullif(s, ''))."""
    df = spark.range(200).selectExpr(
        "CASE WHEN id % 3 = 0 THEN '' WHEN id % 3 = 1 THEN NULL "
        "ELSE concat('x', id % 17) END AS s"
    )
    t, est = _export(spark, str(tmp_path / "x"), df)
    (want,) = df.selectExpr("count(DISTINCT nullif(s, ''))").first()
    assert want == 17
    assert est["s"] == float(want)
    assert read_iceberg_statistics(spark, t.root)["s"]["ndv"] == want


def test_reader_accepts_serial_version_4(spark, tmp_path):
    """A compressed SerVer 4 blob (what `theta_sketch_agg` returns, and
    what other writers may store) reads back with the library's
    estimate."""
    from pyspark.sql import functions as F

    jvm = spark._jvm
    Mem = jvm.org.apache.datasketches.memory.Memory
    CS = jvm.org.apache.datasketches.theta.CompactSketch
    t, _ = _export(spark, str(tmp_path / "x"), spark.range(20_000))
    raw = spark.range(20_000).agg(F.theta_sketch_agg("id", 12)).first()[0]
    assert raw[1] == 4  # serial version
    meta_dir = os.path.join(t.root, "metadata")
    n, md = load_table_metadata(meta_dir)
    path = os.path.join(meta_dir, "stats-ext.puffin")
    blob = {
        "type": "apache-datasketches-theta-v1",
        "data": raw,
        "fields": [1],
        "snapshot-id": 1,
        "sequence-number": 1,
    }
    metas = write_puffin(path, [blob])
    md["statistics"][0].update({"statistics-path": path, "blob-metadata": metas})
    with open(os.path.join(meta_dir, f"v{n}.metadata.json"), "w") as fh:
        json.dump(md, fh)
    got = read_iceberg_statistics(spark, t.root)["id"]
    assert got["estimate"] == CS.heapify(Mem.wrap(raw)).getEstimate()
    assert got["retained"] == 4096


@pytest.mark.parametrize(
    "byte,value,match",
    [(2, 2, "not Compact"), (6, None, "Seed")],
    ids=["family", "seed-hash"],
)
def test_reader_refuses_corrupt_blob(spark, tmp_path, byte, value, match):
    """A blob of another sketch family, or one hashed under another
    seed, raises instead of returning an estimate."""
    t, _ = _export(spark, str(tmp_path / "x"), spark.range(10))
    md = load_table_metadata(os.path.join(t.root, "metadata"))[1]
    st = md["statistics"][0]
    (bm,) = st["blob-metadata"]
    with open(st["statistics-path"], "r+b") as fh:
        fh.seek(bm["offset"] + byte)
        old = fh.read(1)[0]
        fh.seek(bm["offset"] + byte)
        fh.write(bytes([old ^ 0xFF if value is None else value]))
    with pytest.raises(Exception, match=match):
        read_iceberg_statistics(spark, t.root)


def test_iceberg_statistics_roundtrip(spark, tmp_path):
    """Statistics Puffin + metadata `statistics` field over a
    MERGE-ON-READ table: NDVs reflect the masked live rows; the real
    library heapifies every exported blob; exact-mode columns are
    exact and the estimation column lands within 5 RSE."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(20_000).selectExpr(
        "id", "CAST(id % 37 AS STRING) AS cat", "id % 5 AS g"
    )
    t.write(df, committed_at_ms=1000)
    t.write(df.filter("id % 4 != 0"), committed_at_ms=2000)
    export_iceberg_metadata(t, format_version=2)
    est = export_iceberg_statistics(t)
    got = read_iceberg_statistics(spark, t.root)
    assert got["cat"]["estimate"] == 37.0  # exact mode == exact
    assert got["g"]["estimate"] == 5.0
    assert abs(got["id"]["estimate"] - 15_000) / 15_000 < 5.0 / (4096**0.5)
    assert set(est) == {"id", "cat", "g"}
    md = load_table_metadata(os.path.join(t.root, "metadata"))[1]
    (st,) = md["statistics"]
    assert st["snapshot-id"] == md["current-snapshot-id"]
    assert os.path.getsize(st["statistics-path"]) == st["file-size-in-bytes"]
    jvm = spark._jvm
    Mem = jvm.org.apache.datasketches.memory.Memory
    CS = jvm.org.apache.datasketches.theta.CompactSketch

    for bm in st["blob-metadata"]:
        assert bm["type"] == "apache-datasketches-theta-v1"
        blob = read_blob(st["statistics-path"], bm["offset"], bm["length"])
        cs = CS.heapify(Mem.wrap(bytearray(blob)))
        (fid,) = bm["fields"]
        name = {1: "id", 2: "cat", 3: "g"}[fid]
        assert abs(cs.getEstimate() - got[name]["estimate"]) < 1e-6
        assert int(bm["properties"]["ndv"]) == got[name]["ndv"]


def test_statistics_unsupported_column_type(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "u"))
    t.write(
        spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        committed_at_ms=1000,
    )
    export_iceberg_metadata(t, format_version=2)
    with pytest.raises(NotImplementedError, match="long/int/string"):
        export_iceberg_statistics(t, columns=["v"])
    # default column selection simply skips the double column
    assert set(export_iceberg_statistics(t)) == {"id"}


def test_statistics_gc_on_reexport(spark, tmp_path):
    """Metadata regeneration drops the `statistics` field, so the stats
    Puffin must be GC'd (not orphaned); re-running the statistics
    export restores it and replaces any prior stats file."""
    import glob

    t = SnapshotTable(spark, str(tmp_path / "g"))
    t.write(spark.range(100).selectExpr("id"), committed_at_ms=1000)
    export_iceberg_metadata(t, format_version=2)
    export_iceberg_statistics(t)
    meta_dir = os.path.join(t.root, "metadata")
    assert glob.glob(os.path.join(meta_dir, "stats-*.puffin"))
    t.write(spark.range(150).selectExpr("id"), committed_at_ms=2000)
    export_iceberg_metadata(t, format_version=2)
    assert not glob.glob(os.path.join(meta_dir, "stats-*.puffin"))
    md = json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
    assert "statistics" not in md
    est = export_iceberg_statistics(t)
    assert est["id"] == 150.0
    assert len(glob.glob(os.path.join(meta_dir, "stats-*.puffin"))) == 1
    assert read_iceberg_statistics(spark, t.root)["id"]["ndv"] == 150
