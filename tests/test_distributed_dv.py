"""Distributed deletion-vector construction in export_delta_log
(round-9 item 3): the driver must NEVER materialize row positions —
the position diff stays a Spark plan, per-file bitmaps are merged and
serialized on the executors by the JVM-only encoder
(operators/dv_kernel.py: two Spark aggregations, no Python worker),
and the driver receives only (file_path, blob, cardinality) rows. A
GDPR-scale purge of a 100 TB table then costs the driver
compressed-bitmap bytes instead of billions of Row objects.
"""

from __future__ import annotations

import glob
import os

from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    export_delta_log,
    read_delta_table,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable


def _mk_chain(spark, tmp_path, partitioned=False):
    """base(40) -> delete 8 -> delete 7 more (chained cumulative DVs)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(40).selectExpr(
        "id", "id * 3 AS v", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g"
    )
    kw = {"partition_by": ["g"]} if partitioned else {}
    t.write(df.repartition(4), committed_at_ms=1000, **kw)
    t.write(df.filter("id % 5 != 0").repartition(4), committed_at_ms=2000, **kw)
    t.write(
        df.filter("id % 5 != 0 AND id NOT IN (1, 2, 3, 4, 6, 7, 8)")
        .repartition(4),
        committed_at_ms=3000,
        **kw,
    )
    return t


def test_driver_never_collects_positions(spark, tmp_path, monkeypatch):
    """Guard: during a chained-DV export (with CDC enabled — the other
    consumer of the diff), every DataFrame.collect() the driver issues
    must be free of row positions; only the per-file blob aggregate
    (file_path, blob, cardinality) may come back."""
    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # collect; patching the abstract base intercepts nothing)
    cls = type(spark.range(1))
    collected: list[list[str]] = []
    orig = cls.collect

    def spy(self):
        collected.append(list(self.columns))
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    t = _mk_chain(spark, tmp_path)
    export_delta_log(t, mor_deletes=True, change_data=True)
    assert collected, "expected the blob aggregate to be collected"
    for cols in collected:
        assert "pos" not in cols and "_p" not in cols, cols
        assert set(cols) <= {"file_path", "blob", "cardinality"}, cols
    # and the export is still correct
    monkeypatch.setattr(cls, "collect", orig)
    got = sorted(r["id"] for r in read_delta_table(spark, t.root).collect())
    want = sorted(r["id"] for r in t.read().collect())
    assert got == want


def test_dv_bin_bytes_match_independent_construction(spark, tmp_path):
    """Byte-identical regression: the executor-built .bin files equal a
    from-scratch driver-side reconstruction (ground-truth positions
    from _metadata, blobs framed by the same public-format writer) —
    cumulative across chained deletes. A commit's .bin holds blobs only
    for the files that commit touches, so the expectation does not
    depend on how the rows spread over files."""
    from pyspark.sql import functions as F

    from hybrid_data_lakehouse_lab_spark.operators.roaring import (
        dv_blob,
        write_dv_file,
    )

    t = _mk_chain(spark, tmp_path)
    export_delta_log(t, mor_deletes=True)
    bins = sorted(glob.glob(os.path.join(t.root, "deletion_vector_*.bin")))
    assert len(bins) == 2  # one per delete commit

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

    def expected_bin(new_ids, gone_ids, path):
        """One blob per file the commit's `new_ids` touch, each holding
        that file's CUMULATIVE positions (`gone_ids`)."""
        touched = {pos_of[i][0] for i in new_ids}
        by_file: dict[str, list[int]] = {}
        for i in gone_ids:
            f, p = pos_of[i]
            if f in touched:
                by_file.setdefault(f, []).append(p)
        blobs = [dv_blob(sorted(by_file[f])) for f in sorted(by_file)]
        write_dv_file(path, blobs)
        return open(path, "rb").read()

    gone_v1 = {i for i in range(40) if i % 5 == 0}
    new_v2 = {1, 2, 3, 4, 6, 7, 8}
    gone_v2 = gone_v1 | new_v2  # cumulative
    exp1 = expected_bin(gone_v1, gone_v1, str(tmp_path / "exp1.bin"))
    exp2 = expected_bin(new_v2, gone_v2, str(tmp_path / "exp2.bin"))
    got = {open(b, "rb").read() for b in bins}
    assert got == {exp1, exp2}


def test_partitioned_chain_roundtrip_and_cdc(spark, tmp_path):
    """The distributed path composes with partitioned tables + CDC:
    reads match at every version and the delete CDC rows are exactly
    the per-commit deltas."""
    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        read_delta_changes,
    )

    t = _mk_chain(spark, tmp_path, partitioned=True)
    export_delta_log(t, mor_deletes=True, change_data=True)
    for v in (1, 2, 3):
        got = sorted(
            (r["id"], r["g"])
            for r in read_delta_table(spark, t.root, version=v - 1).collect()
        )
        want = sorted(
            (r["id"], r["g"]) for r in t.read(version=v).collect()
        )
        assert got == want, v
    ch = read_delta_changes(spark, t.root, starting_version=1)
    dels = {
        (r["id"], r["_commit_version"])
        for r in ch.where("_change_type = 'delete'").collect()
    }
    assert dels == {(i, 1) for i in range(40) if i % 5 == 0} | {
        (i, 2) for i in (1, 2, 3, 4, 6, 7, 8)
    }
