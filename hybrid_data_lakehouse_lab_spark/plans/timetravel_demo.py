"""Driver-visible time-travel round-trip: the SnapshotTable machinery
(the repo's Iceberg/Nessie analog — versioned snapshots, manifest swap
commits) exercised inside a registered query so the external correctness
gate checks WHAT a versioned read returns, not just that pytest says so.

The lane writes two snapshot versions of the events table to a scratch
dir (v1 = rows before a fixed cut, v2 = all rows), reads each version
back through the snapshot manifest, and returns per-version type counts.
The oracle states the same split declaratively — so a hash match proves
version-1 reads resolve to exactly the pre-cut rows even after version 2
was committed (reference behavior: Iceberg `VERSION AS OF`).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timetravel import SnapshotTable
from ..sources import load_table
from .registry import register

_CUT = "2024-01-15 00:00:00"


@register(
    "timetravel_versions_demo",
    oracle=f"""
    SELECT 1 AS version, event_type, count(*) AS n
    FROM events WHERE ts < TIMESTAMP '{_CUT}' GROUP BY 2
    UNION ALL
    SELECT 2 AS version, event_type, count(*) AS n
    FROM events GROUP BY 2
    """,
)
def timetravel_versions_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two snapshot commits, then a versioned read of each.

    The tiny final collect exists only so the scratch dir can be removed
    before returning (a lazy plan over deleted files would fail); the
    operators under test — snapshot write, manifest swap, version
    resolution, parquet read-back — all run distributed. Output is
    |event types| × 2 rows regardless of scale.
    """
    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="tt_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("ts") < F.lit(_CUT).cast("timestamp")),
                committed_at_ms=1)
        t.write(ev, committed_at_ms=2)
        rows = []
        for v in (1, 2):
            got = (
                t.read(version=v)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((v, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "version INT, event_type STRING, n BIGINT"
    )


@register(
    "delta_log_export_demo",
    oracle=f"""
    SELECT 0 AS delta_version, event_type, count(*) AS n
    FROM events WHERE ts < TIMESTAMP '{_CUT}' GROUP BY 2
    UNION ALL
    SELECT 1 AS delta_version, event_type, count(*) AS n
    FROM events GROUP BY 2
    """,
)
def delta_log_export_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta transaction-log interop round-trip, driver-visible: two
    snapshot commits, `export_delta_log` emits the open-spec
    `_delta_log/` (protocol/metaData/add/remove/commitInfo ndjson), and
    `read_delta_table` — the consumer half, which resolves versions by
    PROTOCOL.md action replay and never consults the SnapshotTable
    manifest — reads each Delta version back. A hash match therefore
    proves a Delta reader applying spec reconciliation to the exported
    log sees exactly the committed data at every version (the
    reference's lakehouse-format interop, README.MD:308-313, without
    format jars). An additional from-scratch replay implementation lives
    in tests/test_delta_log.py so exporter and reader cannot co-drift.

    Output is |event types| × 2 rows regardless of scale; the heavy ops
    (snapshot writes, parquet reads of the resolved file sets) run
    distributed."""
    from ..operators.delta_log import export_delta_log, read_delta_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="delta_log_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("ts") < F.lit(_CUT).cast("timestamp")),
                committed_at_ms=1)
        t.write(ev, committed_at_ms=2)
        export_delta_log(t)
        rows = []
        for v in (0, 1):
            got = (
                read_delta_table(spark, t.root, version=v)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((v, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "delta_version INT, event_type STRING, n BIGINT"
    )


_CUT2 = "2024-02-01 00:00:00"


@register(
    "delta_checkpoint_roundtrip",
    oracle=f"""
    SELECT 1 AS delta_version, event_type, count(*) AS n
    FROM events WHERE ts < TIMESTAMP '{_CUT2}' GROUP BY 2
    UNION ALL
    SELECT 2 AS delta_version, event_type, count(*) AS n
    FROM events GROUP BY 2
    """,
)
def delta_checkpoint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta parquet-checkpoint round-trip, driver-visible: three
    snapshot commits, export the log, `write_checkpoint` at version 1,
    then `clean_log_commits` DELETES the JSON commits 0–1 — so the
    subsequent reads can only succeed by seeding from the checkpoint
    parquet (version 1 from the checkpoint alone; version 2 = checkpoint
    + the JSON tail). A hash match therefore proves the long-history
    fast path (`_last_checkpoint`, the spec's answer to million-commit
    logs) reconstructs exactly the committed data, not just that replay
    still works when every JSON action survives.

    Output is |event types| × 2 rows regardless of scale; checkpoint
    size tracks live-FILE count, not data size."""
    from ..operators.delta_log import (
        clean_log_commits,
        export_delta_log,
        read_delta_table,
        write_checkpoint,
    )

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="delta_cp_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("ts") < F.lit(_CUT).cast("timestamp")),
                committed_at_ms=1)
        t.write(ev.filter(F.col("ts") < F.lit(_CUT2).cast("timestamp")),
                committed_at_ms=2)
        t.write(ev, committed_at_ms=3)
        log_dir = export_delta_log(t)
        write_checkpoint(log_dir, version=1)
        removed = clean_log_commits(log_dir)
        assert removed == [0, 1], removed
        rows = []
        for v in (1, 2):
            got = (
                read_delta_table(spark, t.root, version=v)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((v, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "delta_version INT, event_type STRING, n BIGINT"
    )


@register(
    "privacy_forget_demo",
    oracle="""
    SELECT 'before_forget' AS stage,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (user_id % 97 = 0) AS BIGINT) AS forgotten_present,
           2 AS readable_versions
    FROM events
    UNION ALL
    SELECT 'after_forget',
           CAST(count(*) FILTER (user_id % 97 <> 0) AS BIGINT),
           CAST(0 AS BIGINT), 2
    FROM events
    UNION ALL
    SELECT 'after_vacuum',
           CAST(count(*) FILTER (user_id % 97 <> 0) AS BIGINT),
           CAST(0 AS BIGINT), 1
    FROM events
    ORDER BY stage
    """,
)
def privacy_forget_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten round-trip on the versioned table: commit
    the fact (v1), commit the erasure (v2 = anti-join of the forget
    set), then VACUUM v1 so the forgotten rows are physically deleted —
    the three-step GDPR erasure contract (logical delete is not enough;
    time travel must stop resurrecting the data once retention allows).

    Checked per stage: total rows, forgotten rows still readable, and
    how many versions remain readable. Before vacuum, v1 deliberately
    still serves the forgotten rows (audit retention); after
    vacuum_snapshots the manifest drops v1 FIRST, then deletes its data
    dir — a stale reader can hit missing files, never wrong rows.

    100 TB: the erasure commit is one anti-join against the (broadcast)
    forget set rewriting only live data; vacuum is manifest surgery plus
    directory deletes — no scan of surviving data.
    """
    from ..operators.maintenance import vacuum_snapshots

    ev = load_table(spark, sf_dir, "events")
    forgotten = F.col("user_id") % 97 == 0
    tmp = tempfile.mkdtemp(prefix="forget_demo_")
    rows = []

    def audit(stage: str, df: DataFrame, n_versions: int) -> None:
        got = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(forgotten, 1).otherwise(0)).cast("bigint").alias("fp"),
        ).collect()[0]
        rows.append((stage, got["n"], got["fp"], n_versions))

    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(~forgotten), committed_at_ms=2)
        audit("before_forget", t.read(version=1), len(t.snapshots()))
        audit("after_forget", t.read(version=2), len(t.snapshots()))
        expired = vacuum_snapshots(t, older_than_ms=2, keep_last=1)
        assert expired == [1], expired
        audit("after_vacuum", t.read(), len(t.snapshots()))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows),
        "stage STRING, n_rows BIGINT, forgotten_present BIGINT, readable_versions INT",
    )


@register(
    "iceberg_metadata_roundtrip",
    oracle=f"""
    SELECT 1 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE ts < TIMESTAMP '{_CUT}' GROUP BY 2
    UNION ALL
    SELECT 2 AS snapshot_id, event_type, count(*) AS n
    FROM events GROUP BY 2
    """,
)
def iceberg_metadata_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg metadata interop round-trip, driver-visible — the sibling
    of delta_log_export_demo for the table format the REFERENCE actually
    uses (Iceberg snapshots via Nessie, README.MD:308-313): two snapshot
    commits, `export_iceberg_metadata` emits the spec-v1 `metadata/`
    tree (metadata.json with field-id schema + identity partition spec,
    per-snapshot Avro manifest lists and manifests written by the
    stdlib Avro writer in operators/avro_io.py, version-hint.text
    discovery), and `read_iceberg_table` — which resolves snapshots by
    version-hint → metadata.json → manifest-list → manifests and never
    consults the SnapshotTable manifest — reads each snapshot back. A
    hash match proves an Iceberg reader applying spec resolution to the
    exported tree sees exactly the committed data at every snapshot. An
    additional from-scratch Avro + metadata parse lives in
    tests/test_iceberg_meta.py so exporter and reader cannot co-drift.

    Output is |event types| × 2 rows regardless of scale; the heavy ops
    (snapshot writes, parquet scans of the resolved file sets) run
    distributed."""
    from ..operators.iceberg_meta import export_iceberg_metadata, read_iceberg_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="iceberg_meta_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("ts") < F.lit(_CUT).cast("timestamp")),
                committed_at_ms=1)
        t.write(ev, committed_at_ms=2)
        export_iceberg_metadata(t)
        rows = []
        for sid in (1, 2):
            got = (
                read_iceberg_table(spark, t.root, snapshot_id=sid)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((sid, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "snapshot_id INT, event_type STRING, n BIGINT"
    )


@register(
    "iceberg_v2_metadata_roundtrip",
    oracle="""
    SELECT 1 AS snapshot_id, event_type, count(*) AS n
    FROM events GROUP BY 2
    UNION ALL
    SELECT 2 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 7 <> 0 GROUP BY 2
    UNION ALL
    SELECT 3 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 7 <> 0 AND user_id % 11 <> 0 GROUP BY 2
    """,
)
def iceberg_v2_metadata_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FORMAT-VERSION 2 interop round-trip, driver-visible —
    the reference's own table mode is merge-on-read Iceberg
    (`write.delete.mode=merge-on-read`, reference
    libs/scd2_spark_processor.py:155), which v1 metadata cannot
    express. Three commits (full table, then two successive pure
    deletes); `export_iceberg_metadata(format_version=2)` detects the
    delete transitions with a DISTRIBUTED sub-multiset diff and exports
    them merge-on-read: the first snapshot's data manifest is REUSED
    (sequence-number inheritance) and each delete commit adds a
    content=1 manifest of spec-shaped positional delete parquet
    (field-ids 2147483546/2147483545, sorted). `read_iceberg_table`
    resolves sequence numbers per the spec's inheritance rule and masks
    deletes with one broadcast anti-join on (file, row position).
    A hash match therefore proves the MoR read path — delete-file
    discovery, the applies-to rule (delete.seq >= data.seq), position
    masking — reconstructs exactly the committed data at every
    snapshot. In-lane asserts pin that snapshots 2 and 3 really took
    the delete path (otherwise this would silently degrade to the v1
    rewrite test). An independent from-scratch Avro + pyarrow + DuckDB
    mask implementation lives in tests/test_iceberg_meta.py.

    Output is |event types| × 3 rows regardless of scale; the heavy ops
    (snapshot writes, the export-time diff, masked parquet scans) run
    distributed."""
    from ..operators.iceberg_meta import export_iceberg_metadata, read_iceberg_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="iceberg_v2_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 7 != 0), committed_at_ms=2)
        t.write(
            ev.filter((F.col("user_id") % 7 != 0) & (F.col("user_id") % 11 != 0)),
            committed_at_ms=3,
        )
        meta_dir = export_iceberg_metadata(t, format_version=2)
        import json as _json

        md = _json.load(open(os.path.join(meta_dir, "v3.metadata.json")))
        ops = [s["summary"]["operation"] for s in md["snapshots"]]
        assert ops == ["overwrite", "delete", "delete"], ops
        rows = []
        for sid in (1, 2, 3):
            got = (
                read_iceberg_table(spark, t.root, snapshot_id=sid)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((sid, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "snapshot_id INT, event_type STRING, n BIGINT"
    )


@register(
    "delta_dv_roundtrip",
    oracle="""
    SELECT 0 AS delta_version, event_type, count(*) AS n
    FROM events GROUP BY 2
    UNION ALL
    SELECT 1 AS delta_version, event_type, count(*) AS n
    FROM events WHERE user_id % 5 <> 0 GROUP BY 2
    UNION ALL
    SELECT 2 AS delta_version, event_type, count(*) AS n
    FROM events WHERE user_id % 5 <> 0 AND user_id % 9 <> 0 GROUP BY 2
    """,
)
def delta_dv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DELETION-VECTOR round-trip, driver-visible — the most
    common advanced feature in real `_delta_log`s (delta-spark writes
    DVs by default on DELETE/UPDATE/MERGE since 3.x), and the Delta
    sibling of `iceberg_v2_metadata_roundtrip`. Three commits (full
    events table, then two successive pure deletes);
    `export_delta_log(mor_deletes=True)` re-expresses the deletes as
    DV commits — remove + re-add of each touched file with a
    `deletionVector` descriptor (storageType "u"), positions serialized
    as 64-bit roaring bitmaps per the public PROTOCOL.md (version-byte
    file, size-framed CRC-checked blobs, base85 uuid path derivation),
    protocol reader v3 / writer v7 + deletionVectors feature — and
    `read_delta_table` masks them via one broadcast anti-join on
    (file, `_metadata.row_index`). A hash match proves the DV read
    path (descriptor resolution, bitmap decode, cumulative-descriptor
    replacement on the chained delete) reconstructs exactly the
    committed data at every version. In-lane asserts pin that commits
    1 and 2 really exported as DELETE (not rewrites). An independent
    from-scratch DV decoder lives in tests/test_delta_log.py.

    Output is |event types| × 3 rows regardless of scale; the export
    diff and the masked reads run distributed."""
    import json as _json

    from ..operators.delta_log import export_delta_log, read_delta_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="delta_dv_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 5 != 0), committed_at_ms=2)
        t.write(
            ev.filter((F.col("user_id") % 5 != 0) & (F.col("user_id") % 9 != 0)),
            committed_at_ms=3,
        )
        log_dir = export_delta_log(t, mor_deletes=True)
        for v in (1, 2):
            with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
                first = _json.loads(fh.readline())
            op = first["commitInfo"]["operation"]
            assert op == "DELETE", (v, op)
        rows = []
        for v in (0, 1, 2):
            got = (
                read_delta_table(spark, t.root, version=v)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((v, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "delta_version INT, event_type STRING, n BIGINT"
    )


@register(
    "iceberg_stats_prune_scan",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderkey >=
      (SELECT CAST(floor(max(o_orderkey) * 0.6) AS BIGINT) FROM orders)
    """,
)
def iceberg_stats_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping round-trip, driver-visible: commit the orders
    table range-partitioned on o_orderkey (files get disjoint key
    ranges), export Iceberg v2 — whose manifests now carry per-file
    lower/upper bounds — and read back with
    `prune=[("o_orderkey", ">=", 3000)]`: the reader drops every file
    whose bounds preclude a match BEFORE the scan (the in-lane assert
    pins that files were really skipped, not just filtered), then the
    residual filter + aggregate run on the survivors. A hash match
    proves the pruned read is a correct superset — the 100 TB
    behavior: answer the predicate from the files that can match, not
    the table.

    Output is 1 row regardless of scale; the writes, the footer-stats
    export, and the pruned scan run distributed."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="iceberg_prune_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(orders.repartitionByRange(8, "o_orderkey"), committed_at_ms=1)
        export_iceberg_metadata(t, format_version=2)
        total = orders.count()
        # scale-relative cut (60% of the key domain) so the skip assert
        # holds at every SF; the oracle computes the same floor(max*0.6)
        cut = orders.agg(
            F.floor(F.max("o_orderkey") * 0.6).cast("bigint").alias("c")
        ).collect()[0]["c"]
        pruned = read_iceberg_table(
            spark, t.root, prune=[("o_orderkey", ">=", cut)]
        )
        kept = pruned.count()
        assert 0 < kept < total, (kept, total, cut)  # files REALLY skipped
        row = (
            pruned.filter(F.col("o_orderkey") >= cut)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("bigint").alias("total_cents"),
            )
            .collect()[0]
        )
        rows = [(row["n"], row["total_cents"])]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "n BIGINT, total_cents BIGINT")


@register(
    "delta_column_mapping_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY 1
    """,
)
def delta_column_mapping_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING read, driver-visible: the lane hand-builds
    an external-writer-shaped `_delta_log` (nothing from the exporter)
    whose data files carry static PHYSICAL column names — the layout
    every delta-spark table with `delta.columnMapping.mode=name|id`
    uses (PROTOCOL.md "Column Mapping"; enabled by default on newer
    Databricks runtimes, so this is the second-most-common advanced
    feature in real logs after deletion vectors). Events are written
    partitioned by the PHYSICAL partition name, add-actions carry
    physically-keyed partitionValues (the spec's writer rule), and the
    logical schema rides only in schemaString field metadata.
    `read_delta_table` resolves the scan by physical name, attaches
    partition values, and renames back to the logical schema; the hash
    match proves the logical rows are exactly the events table.

    Output is |event types| rows regardless of scale; the partitioned
    write and the mapped read run distributed."""
    import json as _json
    import urllib.parse as _up

    from ..operators.delta_log import read_delta_table

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="delta_cm_demo_")
    try:
        root = os.path.join(tmp, "t")
        data_dir = os.path.join(root, "data")
        (
            ev.selectExpr(
                "event_id AS `col-eid`",
                "value AS `col-val`",
                "event_type AS `col-et`",
            )
            .repartition("col-et")
            .write.partitionBy("col-et")
            .parquet(data_dir)
        )
        adds = []
        for dirpath, _dn, fns in os.walk(data_dir):
            for fn in sorted(fns):
                if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                    continue
                rel = os.path.relpath(
                    os.path.join(dirpath, fn), root
                ).replace(os.sep, "/")
                seg = next(s for s in rel.split("/") if s.startswith("col-et="))
                adds.append(
                    {
                        "add": {
                            "path": _up.quote(rel, safe="/=-._"),
                            "partitionValues": {
                                "col-et": _up.unquote(seg.split("=", 1)[1])
                            },
                            "size": 1,
                            "modificationTime": 0,
                            "dataChange": True,
                        }
                    }
                )
        def _f(name, typ, fid, phys):
            return {
                "name": name,
                "type": typ,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": fid,
                    "delta.columnMapping.physicalName": phys,
                },
            }

        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "cm-demo",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {
                            "type": "struct",
                            "fields": [
                                _f("event_id", "long", 1, "col-eid"),
                                _f("value", "double", 2, "col-val"),
                                _f("event_type", "string", 3, "col-et"),
                            ],
                        }
                    ),
                    "partitionColumns": ["event_type"],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                    "createdTime": 0,
                }
            },
            *adds,
        ]
        log_dir = os.path.join(root, "_delta_log")
        os.makedirs(log_dir)
        with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")
        df = read_delta_table(spark, root)
        assert df.columns == ["event_id", "value", "event_type"], df.columns
        rows = (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("value_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted((r["event_type"], r["n"], r["value_cents"]) for r in rows),
        "event_type STRING, n BIGINT, value_cents BIGINT",
    )


@register(
    "iceberg_bucket_prune_scan",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_custkey = 1
    """,
)
def iceberg_bucket_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg bucket[16] HIDDEN partitioning end-to-end, driver-visible
    — the canonical 100 TB layout for a high-cardinality key: orders are
    written bucket-partitioned on o_custkey using the spec-exact
    murmur3_x86_32 JVM expression kernel
    (operators/iceberg_transforms.py — Appendix-B seed-0 hashing built
    from masked-bigint arithmetic, NOT Spark's seed-42 F.hash; no UDF,
    stays in whole-stage codegen), exported as format-version-2 metadata
    declaring `bucket[16]`, and read back with
    `prune=[("o_custkey", "=", 1)]`: the reader hashes the predicate
    value with the same function and drops every other bucket's files
    BEFORE the scan (in-lane assert pins that files were really
    skipped). A hash match proves the pruned read is a correct superset
    of the matching rows — point lookups on a bucketed key read 1/N of
    the table, the behavior that matters at 1000 executors.

    Output is 1 row regardless of scale; the bucketed write and the
    pruned scan run distributed."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.iceberg_transforms import with_bucket_column

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="iceberg_bucket_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        # staged-column murmur3: the single-Column form exploded the
        # partitioned write's sort codegen past janino's limits
        # (interpreted fallback); see with_bucket_column
        t.write(
            with_bucket_column(
                orders.repartition(4), "b", F.col("o_custkey"), 16, "long"
            ),
            partition_by=["b"],
            committed_at_ms=1,
        )
        export_iceberg_metadata(
            t, format_version=2, hidden_partitions={"b": ("o_custkey", "bucket", 16)}
        )
        total = orders.count()
        pruned = read_iceberg_table(
            spark, t.root, prune=[("o_custkey", "=", 1)]
        )
        kept = pruned.count()
        assert kept < total, (kept, total)  # files skipped, not filtered
        row = (
            pruned.filter(F.col("o_custkey") == 1)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                )
                .cast("bigint")
                .alias("total_cents"),
            )
            .collect()[0]
        )
        out = [(row["n"], row["total_cents"])]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "n BIGINT, total_cents BIGINT")


@register(
    "iceberg_equality_delete_roundtrip",
    oracle="""
    SELECT 1 AS snap, event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY 2
    UNION ALL
    SELECT 2 AS snap, event_type, count(*) AS n,
           CAST(sum(CAST(round(
             (CASE WHEN event_id % 5 = 0 THEN value + 1 ELSE value END) * 100
           ) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 7 <> 0 GROUP BY 2
    UNION ALL
    SELECT 3 AS snap, event_type, count(*) AS n,
           CAST(sum(CAST(round(
             (CASE WHEN event_id % 5 = 0 THEN value + 1 ELSE value END) * 100
           ) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 7 <> 0 AND event_id % 11 <> 0 GROUP BY 2
    """,
)
def iceberg_equality_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg EQUALITY-DELETE write+read round-trip, driver-visible —
    the commit dialect streaming upsert writers (Flink on merge-on-read
    Iceberg, the reference's own configuration at
    libs/scd2_spark_processor.py:155) produce. Three snapshots of the
    events table under PK event_id (full load; an update+delete mix; a
    further delete); `export_iceberg_metadata(upsert_key=["event_id"])`
    re-expresses each transition as a content=0 appended data manifest
    plus a content=2 equality-delete manifest (`equality_ids` = the PK
    field id, key-tuple parquet written by Spark), with the parent
    manifests REUSED at their original sequence numbers. The reader
    masks via the spec's strictly-older rule (delete.seq > data.seq),
    so same-commit appends survive their own delete file. The hash
    match proves every snapshot reconstructs exactly; the in-lane
    assert pins that commits 2 and 3 really carry delete manifests
    (MoR dialect exercised, not rewrites). An independent DuckDB
    replay of the same manifests lives in tests/test_iceberg_meta.py.

    Output is |event types| × 3 rows regardless of scale; the PK diff
    and the masked reads run distributed."""
    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        load_table_metadata,
        read_iceberg_table,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    v2 = ev.filter(F.col("event_id") % 7 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") + 1).otherwise(
            F.col("value")
        ),
    )
    v3 = v2.filter(F.col("event_id") % 11 != 0)
    tmp = tempfile.mkdtemp(prefix="iceberg_eqdel_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(v2, committed_at_ms=2)
        t.write(v3, committed_at_ms=3)
        meta_dir = export_iceberg_metadata(
            t, format_version=2, upsert_key=["event_id"]
        )
        _, md = load_table_metadata(meta_dir)
        for s in md["snapshots"][1:]:
            _, rows = read_avro(s["manifest-list"])
            assert any(r["content"] == 1 for r in rows), s["snapshot-id"]
        out = []
        for sid in (1, 2, 3):
            got = (
                read_iceberg_table(spark, t.root, snapshot_id=sid)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    .cast("bigint")
                    .alias("value_cents"),
                )
                .collect()
            )
            out.extend(
                (sid, r["event_type"], r["n"], r["value_cents"]) for r in got
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(out), "snap INT, event_type STRING, n BIGINT, value_cents BIGINT"
    )


@register(
    "delta_cdf_roundtrip",
    oracle="""
    SELECT 0 AS v, 'insert' AS change_type, event_type, count(*) AS n
    FROM events GROUP BY 3
    UNION ALL
    SELECT 1 AS v, 'delete' AS change_type, event_type, count(*) AS n
    FROM events WHERE user_id % 5 = 0 GROUP BY 3
    UNION ALL
    SELECT 2 AS v, 'delete' AS change_type, event_type, count(*) AS n
    FROM events WHERE user_id % 5 <> 0 AND user_id % 9 = 0 GROUP BY 3
    """,
)
def delta_cdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED round-trip, driver-visible: three commits
    (full events; two successive pure deletes) exported with
    `export_delta_log(mor_deletes=True, change_data=True)` — each DV
    delete commit also materializes its deleted rows as `_change_data/`
    cdc parquet (`_change_type='delete'`, PROTOCOL.md "Change Data
    Files", delta.enableChangeDataFeed + the changeDataFeed writer
    feature) — and read back with `read_delta_changes`, the
    `readChangeFeed` consumer: commit 0 derives inserts from its add
    actions, commits 1-2 read their authoritative cdc files. The hash
    match proves the row-level change history reconstructs exactly:
    per-commit change counts by event type equal the declarative
    restatement of the same deletes.

    Output is |event types| × 3 rows regardless of scale; the cdc
    materialization (scan + broadcast semi-join) and the three-scan
    CDF read run distributed."""
    from ..operators.delta_log import export_delta_log, read_delta_changes

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="delta_cdf_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 5 != 0), committed_at_ms=2)
        t.write(
            ev.filter((F.col("user_id") % 5 != 0) & (F.col("user_id") % 9 != 0)),
            committed_at_ms=3,
        )
        export_delta_log(t, mor_deletes=True, change_data=True)
        rows = (
            read_delta_changes(spark, t.root)
            .groupBy("_commit_version", "_change_type", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        out = sorted(
            (r["_commit_version"], r["_change_type"], r["event_type"], r["n"])
            for r in rows
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out, "v INT, change_type STRING, event_type STRING, n BIGINT"
    )


@register(
    "uniform_dual_export_roundtrip",
    oracle="""
    SELECT 'delta' AS fmt, event_type, count(*) AS n
    FROM events WHERE user_id % 4 <> 0 GROUP BY 2
    UNION ALL
    SELECT 'iceberg' AS fmt, event_type, count(*) AS n
    FROM events WHERE user_id % 4 <> 0 GROUP BY 2
    """,
)
def uniform_dual_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm-style DUAL metadata export, driver-visible: ONE copy of
    the data files (two SnapshotTable commits: full events, then a
    delete) gets BOTH table-format facades — `export_delta_log` (with
    deletion vectors) and `export_iceberg_metadata` (format-version 2,
    positional delete files) — and both independent readers
    (`read_delta_table`, `read_iceberg_table`) must reconstruct the
    same committed state from their own metadata alone. This is the
    same one-copy/two-catalogs design Databricks UniForm ships: the
    parquet is written once, each format's metadata tree points at it,
    and MoR deletes are re-expressed per dialect (roaring-bitmap DV
    blobs for Delta, spec-shaped positional delete parquet for
    Iceberg). A hash match on both facades proves the two metadata
    stacks agree with each other and with the declarative oracle.

    Output is |event types| × 2 rows regardless of scale; the exports'
    distributed diffs and both masked reads run distributed."""
    from ..operators.delta_log import export_delta_log, read_delta_table
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="uniform_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 4 != 0), committed_at_ms=2)
        export_delta_log(t, mor_deletes=True)
        export_iceberg_metadata(t, format_version=2)
        assert os.path.isdir(os.path.join(t.root, "_delta_log"))
        assert os.path.isdir(os.path.join(t.root, "metadata"))
        rows = []
        for fmt, df in (
            ("delta", read_delta_table(spark, t.root)),
            ("iceberg", read_iceberg_table(spark, t.root)),
        ):
            got = (
                df.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((fmt, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "fmt STRING, event_type STRING, n BIGINT"
    )


@register(
    "mor_compaction_roundtrip",
    oracle="""
    SELECT fmt, snapshot_id, event_type, n FROM (
      SELECT f.fmt, s.snapshot_id, e.event_type, count(*) AS n
      FROM events e
      CROSS JOIN (SELECT 'delta' AS fmt UNION ALL SELECT 'iceberg') f
      CROSS JOIN (SELECT 1 AS snapshot_id UNION ALL SELECT 4) s
      WHERE e.user_id % 6 <> 0 AND e.user_id % 10 <> 0
      GROUP BY 1, 2, 3
    ) q
    """,
)
def mor_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ COMPACTION round-trip, driver-visible — the
    maintenance job every long-lived MoR table needs (Iceberg
    `rewrite_data_files` + `rewrite_position_delete_files`; Delta
    OPTIMIZE purging deletion vectors). The reference's table mode is
    merge-on-read (reference libs/scd2_spark_processor.py:155); run its
    SCD2 batches for a year and read amplification grows unboundedly
    without this fold.

    Chain: full events table, two successive pure deletes (exported as
    positional-delete / DV commits), then `compact_snapshot`
    (operators/maintenance.py) — a flagged rewrite of the masked head
    into right-sized files. In-lane asserts pin the contract: the
    Iceberg export ends with a summary-operation `replace` snapshot
    whose manifest list carries ZERO delete manifests (the
    pre-compaction head still carries them); the Delta export ends with
    an OPTIMIZE commit, dataChange=false on every action and no
    deletionVector on any live add. The output compares the
    POST-compaction head read against the PRE-compaction masked head
    read in BOTH formats — a hash match proves folding the deletes
    into data files changed nothing (and both reads equal the oracle's
    doubly-filtered events).

    Output is |event types| × 2 snapshots × 2 formats regardless of
    scale; the export diffs, the compaction rewrite and the masked /
    folded reads all run distributed."""
    import json as _json

    from ..operators.delta_log import export_delta_log, read_delta_table
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import compact_snapshot

    ev = load_table(spark, sf_dir, "events")
    masked = ev.filter(
        (F.col("user_id") % 6 != 0) & (F.col("user_id") % 10 != 0)
    )
    tmp = tempfile.mkdtemp(prefix="mor_compaction_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 6 != 0), committed_at_ms=2)
        t.write(masked, committed_at_ms=3)
        info = compact_snapshot(t, committed_at_ms=4)
        assert info is not None and info.version == 4

        meta_dir = export_iceberg_metadata(t, format_version=2)
        md = _json.load(open(os.path.join(meta_dir, "v4.metadata.json")))
        ops = [s["summary"]["operation"] for s in md["snapshots"]]
        assert ops == ["overwrite", "delete", "delete", "replace"], ops
        from ..operators.avro_io import read_avro

        heads = {s["snapshot-id"]: s["manifest-list"] for s in md["snapshots"]}
        _, head_rows = read_avro(heads[4])
        assert all(r.get("content", 0) == 0 for r in head_rows), "live deletes"
        _, pre_rows = read_avro(heads[3])
        assert any(r.get("content") == 1 for r in pre_rows)

        log_dir = export_delta_log(t, mor_deletes=True)
        v3 = [
            _json.loads(x)
            for x in open(os.path.join(log_dir, f"{3:020d}.json"))
        ]
        ci = next(a["commitInfo"] for a in v3 if "commitInfo" in a)
        assert ci["operation"] == "OPTIMIZE", ci
        assert all(
            not a["add"]["dataChange"] and not a["add"].get("deletionVector")
            for a in v3
            if "add" in a
        )

        rows = []
        # snapshot 1 = masked pre-compaction head (deletes applied at
        # read), snapshot 4 = folded post-compaction head; both must
        # equal the doubly-filtered events in both formats
        for fmt, reader in (
            ("iceberg", lambda s: read_iceberg_table(spark, t.root, snapshot_id=s)),
            ("delta", lambda s: read_delta_table(spark, t.root, version=s - 1)),
        ):
            for sid in (3, 4):
                got = (
                    reader(sid)
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                out_sid = 1 if sid == 3 else 4
                rows.extend(
                    (fmt, out_sid, r["event_type"], r["n"]) for r in got
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows),
        "fmt STRING, snapshot_id INT, event_type STRING, n BIGINT",
    )


@register(
    "iceberg_v3_dv_roundtrip",
    oracle="""
    SELECT 1 AS snapshot_id, event_type, count(*) AS n
    FROM events GROUP BY 2
    UNION ALL
    SELECT 2 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 8 <> 0 GROUP BY 2
    UNION ALL
    SELECT 3 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 8 <> 0 AND user_id % 13 <> 0 GROUP BY 2
    """,
)
def iceberg_v3_dv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FORMAT-VERSION 3 round-trip, driver-visible — the
    ecosystem's current spec replaces positional-delete parquet with
    DELETION VECTORS in Puffin containers. Three commits (full events,
    two successive pure deletes); `export_iceberg_metadata(
    format_version=3)` writes one cumulative deletion-vector-v1 blob
    per touched data file (operators/puffin.py: PFA1 container, framed
    D1D33964-magic CRC-checked roaring bitmap — the same byte layout
    Delta DVs use, the cross-format design goal) referenced via the
    spec's referenced_data_file/content_offset/content_size_in_bytes
    manifest triple, REPLACING prior delete manifests (at most one DV
    per data file), plus v3 row lineage (next-row-id / first-row-id /
    first_row_id 520/142). `read_iceberg_table` decodes the DVs and
    masks with the same broadcast anti-join as v2. A hash match proves
    the whole v3 write+read path; in-lane asserts pin that both delete
    snapshots really exported as single-delete-manifest DV commits.
    Independent from-scratch Puffin/DV parsers live in
    tests/test_puffin_fv3.py.

    Output is |event types| × 3 rows regardless of scale; snapshot
    writes, export diffs and masked reads run distributed."""
    import json as _json

    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="iceberg_v3_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 8 != 0), committed_at_ms=2)
        t.write(
            ev.filter(
                (F.col("user_id") % 8 != 0) & (F.col("user_id") % 13 != 0)
            ),
            committed_at_ms=3,
        )
        meta_dir = export_iceberg_metadata(t, format_version=3)
        md = _json.load(open(os.path.join(meta_dir, "v3.metadata.json")))
        assert md["format-version"] == 3
        ops = [s["summary"]["operation"] for s in md["snapshots"]]
        assert ops == ["overwrite", "delete", "delete"], ops
        for s in md["snapshots"][1:]:
            _, rows = read_avro(s["manifest-list"])
            dels = [r for r in rows if r.get("content") == 1]
            assert len(dels) == 1, "DV manifest must REPLACE, not stack"
            _, entries = read_avro(dels[0]["manifest_path"])
            assert all(
                e["data_file"]["file_format"] == "PUFFIN" for e in entries
            )
        rows = []
        for sid in (1, 2, 3):
            got = (
                read_iceberg_table(spark, t.root, snapshot_id=sid)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((sid, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "snapshot_id INT, event_type STRING, n BIGINT"
    )


@register(
    "retention_enforced_roundtrip",
    oracle="""
    SELECT f.fmt, s.snapshot_id, q.event_type, q.n FROM (
      SELECT 1 AS snapshot_id UNION ALL SELECT 2
    ) s
    CROSS JOIN (SELECT 'delta' AS fmt UNION ALL SELECT 'iceberg') f
    JOIN (
      SELECT 1 AS snapshot_id, event_type, count(*) AS n
      FROM events GROUP BY 2
      UNION ALL
      SELECT 2 AS snapshot_id, event_type, count(*) AS n
      FROM events
      WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
      GROUP BY 2
    ) q ON q.snapshot_id = s.snapshot_id
    """,
)
def retention_enforced_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHYSICAL retention round-trip, driver-visible — the enforcement
    twin of `retention_window` (which only FILTERS at read time, the
    reference's Pinot serving-retention view). `apply_retention`
    (operators/maintenance.py) commits the expired rows as a PURE
    DELETE with a deterministic cutoff (max(ts) - 7 days, pinned as a
    literal so export replays are stable); both format exporters
    re-express it merge-on-read (Delta deletion vectors; Iceberg v3
    Puffin DVs here), pre-retention time travel still serves the full
    history, and re-running the job is a no-op (in-lane assert). The
    head reads from BOTH formats must hash-match the view-lane
    semantics (the oracle's interval filter) — proving the physical
    job and the serving view agree row-for-row.

    Output is |event types| × 2 snapshots × 2 formats regardless of
    scale; the retention scan, export diff and masked reads run
    distributed (at scale the cutoff predicate prunes expired
    partitions at the source)."""
    import json as _json

    from ..operators.delta_log import export_delta_log, read_delta_table
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import apply_retention

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(F.max("ts")).collect()[0][0] - __import__(
        "datetime"
    ).timedelta(days=7)
    keep = f"ts >= timestamp'{cut}'"
    tmp = tempfile.mkdtemp(prefix="retention_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        info = apply_retention(t, keep, committed_at_ms=2)
        assert info is not None and info.version == 2
        assert apply_retention(t, keep, committed_at_ms=3) is None  # no-op

        meta_dir = export_iceberg_metadata(t, format_version=3)
        md = _json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
        assert [s["summary"]["operation"] for s in md["snapshots"]] == [
            "overwrite",
            "delete",
        ], "retention must export as a MoR delete"
        log_dir = export_delta_log(t, mor_deletes=True)
        v1 = [
            _json.loads(x)
            for x in open(os.path.join(log_dir, f"{1:020d}.json"))
        ]
        assert any(a.get("add", {}).get("deletionVector") for a in v1)

        rows = []
        for fmt, reader in (
            ("iceberg", lambda s: read_iceberg_table(spark, t.root, snapshot_id=s)),
            ("delta", lambda s: read_delta_table(spark, t.root, version=s - 1)),
        ):
            for sid in (1, 2):
                got = (
                    reader(sid)
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                rows.extend((fmt, sid, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows),
        "fmt STRING, snapshot_id INT, event_type STRING, n BIGINT",
    )


@register(
    "iceberg_rewrite_deletes_roundtrip",
    oracle="""
    SELECT 2 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 4 <> 0 GROUP BY 2
    UNION ALL
    SELECT 3 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 4 <> 0 AND user_id % 9 <> 0 GROUP BY 2
    UNION ALL
    SELECT 4 AS snapshot_id, event_type, count(*) AS n
    FROM events WHERE user_id % 4 <> 0 AND user_id % 9 <> 0 GROUP BY 2
    """,
)
def iceberg_rewrite_deletes_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MINOR MoR compaction round-trip — Iceberg's
    `rewrite_position_delete_files`, the cheap nightly half of
    maintenance (`mor_compaction_roundtrip` is the `rewrite_data_files`
    half). Two stacked pure deletes, then `rewrite_delete_files`
    (operators/maintenance.py): the head exports as a summary-operation
    `replace` snapshot whose manifest list REUSES the base data
    manifests untouched (in-lane assert: identical manifest paths — no
    data bytes moved) and carries ONE consolidated delete manifest
    instead of the stack (in-lane assert: 2 → 1). Reads at the stacked
    head and the consolidated head must both hash-match the oracle's
    doubly-filtered events — folding k delete files into one changed
    nothing.

    Output is |event types| × 3 snapshots regardless of scale; the
    consolidation is one distributed scan of the (small) delete files
    plus a metadata commit."""
    import json as _json

    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import rewrite_delete_files

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="minor_compact_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 4 != 0), committed_at_ms=2)
        t.write(
            ev.filter(
                (F.col("user_id") % 4 != 0) & (F.col("user_id") % 9 != 0)
            ),
            committed_at_ms=3,
        )
        info = rewrite_delete_files(t, committed_at_ms=4)
        assert info is not None and info.version == 4

        meta_dir = export_iceberg_metadata(t, format_version=2)
        md = _json.load(open(os.path.join(meta_dir, "v4.metadata.json")))
        ops = [s["summary"]["operation"] for s in md["snapshots"]]
        assert ops == ["overwrite", "delete", "delete", "replace"], ops
        lists = {s["snapshot-id"]: s["manifest-list"] for s in md["snapshots"]}
        _, pre = read_avro(lists[3])
        assert sum(1 for r in pre if r.get("content") == 1) == 2
        _, post = read_avro(lists[4])
        assert sum(1 for r in post if r.get("content") == 1) == 1
        data_of = lambda rows: {  # noqa: E731
            r["manifest_path"]
            for r in rows
            if (r.get("content") or 0) == 0
        }
        assert data_of(post) == data_of(read_avro(lists[1])[1])

        rows = []
        for sid in (2, 3, 4):
            got = (
                read_iceberg_table(spark, t.root, snapshot_id=sid)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((sid, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "snapshot_id INT, event_type STRING, n BIGINT"
    )


@register(
    "iceberg_ndv_stats_roundtrip",
    oracle="""
    SELECT 'doc_id' AS col, count(DISTINCT doc_id) AS exact_ndv,
           TRUE AS within_bound FROM documents
    UNION ALL
    SELECT 'lang', count(DISTINCT lang), TRUE FROM documents
    UNION ALL
    SELECT 'source', count(DISTINCT source), TRUE FROM documents
    """,
)
def iceberg_ndv_stats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg TABLE STATISTICS round-trip, driver-visible — per-column
    NDV as `apache-datasketches-theta-v1` sketches in a Puffin
    statistics file referenced from the metadata `statistics` field:
    what Trino (the reference's serving engine) feeds into NDV-driven
    join planning at 100 TB. The sketches are Spark's native
    `theta_sketch_agg` (datasketches-java 6.2.0, lg k = 12), stored as
    the library's ordered compact SerVer-3 sketch; tests/test_theta.py
    checks every blob byte for byte against the library's own
    `UpdateSketch`.

    The lane commits the documents table, exports v2 metadata + the
    statistics file, reads the sketches back, and emits per column the
    EXACT NDV alongside a within-bound verdict (estimation-mode
    estimate within 5 RSE = 5/sqrt(4096) ≈ 7.8% of exact; exact-mode
    sketches must match exactly). Low-cardinality columns (lang,
    source) exercise exact mode, doc_id exercises estimation at
    sf >= 0.1 (5,000 ids > k). A wrong sketch flips the verdict and
    fails the hash.

    100 TB shape: ONE aggregate sketches all three columns, each
    partition merging into a sketch of at most k entries, so the driver
    sees one sketch per column regardless of table size."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        export_iceberg_statistics,
        read_iceberg_statistics,
    )

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="ndv_stats_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(docs.select("doc_id", "lang", "source"), committed_at_ms=1)
        export_iceberg_metadata(t, format_version=2)
        export_iceberg_statistics(t, columns=["doc_id", "lang", "source"])
        stats = read_iceberg_statistics(spark, t.root)
        exact = {
            r["col"]: r["n"]
            for r in docs.selectExpr(
                "stack(3, 'doc_id', CAST(doc_id AS STRING), 'lang', lang, "
                "'source', source) AS (col, v)"
            )
            .groupBy("col")
            .agg(F.countDistinct("v").alias("n"))
            .collect()
        }
        k = 4096
        rows = []
        for col in ("doc_id", "lang", "source"):
            est = stats[col]["estimate"]
            ex = exact[col]
            if stats[col]["retained"] < k:  # exact mode: must be exact
                ok = est == float(ex)
            else:
                ok = abs(est - ex) / ex < 5.0 / (k**0.5)
            rows.append((col, ex, bool(ok)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "col STRING, exact_ndv BIGINT, within_bound BOOLEAN"
    )


@register(
    "iceberg_schema_evolution_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    UNION ALL
    SELECT '__v1__' AS priority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    """,
)
def iceberg_schema_evolution_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION round-trip, driver-visible — the canonical
    year-2 lifecycle event on a long-lived table (reference anchor: the
    day-partitioned Iceberg SCD2 store, libs/scd2_spark_processor.py:151
    — renaming or adding a tracked attribute).

    Chain: snapshot 1 of orders under (o_orderkey, o_orderpriority,
    o_totalprice); snapshot 2 RENAMES o_totalprice -> total_price and
    ADDS o_custkey; export v2 with the rename recorded. In-lane asserts
    pin the spec surface: two schemas with per-snapshot schema-ids, a
    stable field id across the rename, a `schema.name-mapping.default`
    carrying both names (how id-less files stay resolvable), and time
    travel to snapshot 1 surfacing the OLD column name. The output
    reads the head under the NEW name (the old snapshot's values must
    arrive through field-id/name-mapping resolution, not by column
    name) plus a `__v1__` row aggregated from the time-traveled
    snapshot — both must equal the oracle's plain-orders arithmetic.

    Output is |priorities| + 1 rows regardless of scale; the evolved
    read costs one footer probe per live file (executor-parallel) and
    one scan per column-name era."""
    import json as _json

    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="schema_evo_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(
            orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
            committed_at_ms=1,
        )
        t.write(
            orders.select(
                "o_orderkey",
                "o_orderpriority",
                F.col("o_totalprice").alias("total_price"),
                "o_custkey",
            ),
            committed_at_ms=2,
        )
        meta_dir = export_iceberg_metadata(
            t,
            format_version=2,
            renamed_columns={"total_price": "o_totalprice"},
        )
        md = _json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
        assert len(md["schemas"]) == 2
        assert [s["schema-id"] for s in md["snapshots"]] == [0, 1]
        by_id = {
            s["schema-id"]: {f["name"]: f["id"] for f in s["fields"]}
            for s in md["schemas"]
        }
        assert by_id[0]["o_totalprice"] == by_id[1]["total_price"]
        nm = _json.loads(md["properties"]["schema.name-mapping.default"])
        assert {
            "field-id": by_id[1]["total_price"],
            "names": ["o_totalprice", "total_price"],
        } in nm

        head = read_iceberg_table(spark, t.root)
        out = head.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("total_price"), 2).alias("total"),
        )
        v1 = read_iceberg_table(spark, t.root, snapshot_id=1)
        assert v1.columns == ["o_orderkey", "o_orderpriority", "o_totalprice"]
        v1_row = v1.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).select(F.lit("__v1__").alias("priority"), "n", "total")
        rows = [tuple(r) for r in out.unionByName(v1_row).collect()]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "priority STRING, n BIGINT, total DOUBLE"
    )


@register(
    "iceberg_expire_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events WHERE user_id % 4 <> 0 GROUP BY 1
    """,
)
def iceberg_expire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT EXPIRATION round-trip — Iceberg's `expire_snapshots`
    over an exported tree: two full-rewrite commits, expire everything
    but the head, then prove (a) the expired snapshot's manifest list
    AND data files are physically gone, (b) time travel to it fails
    loudly, (c) the head read is value-identical to the oracle. Runs
    the v1 dialect (full-rewrite model) so the expired snapshot
    actually owns unreachable files to GC — under MoR manifest reuse
    an expire is mostly a metadata no-op (covered in pytest).

    GC is reachability-based and driver-side over O(manifests);
    deletion is one unlink per unreachable file."""
    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import expire_iceberg_snapshots

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="expire_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 4 != 0), committed_at_ms=2)
        meta_dir = export_iceberg_metadata(t, format_version=1)
        import json as _json

        md = _json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
        snap1 = next(s for s in md["snapshots"] if s["snapshot-id"] == 1)
        old_files = [
            e["data_file"]["file_path"]
            for r in read_avro(snap1["manifest-list"])[1]
            for e in read_avro(r["manifest_path"])[1]
        ]
        assert old_files and all(os.path.isfile(p) for p in old_files)

        assert expire_iceberg_snapshots(t.root) == [1]
        assert not os.path.exists(snap1["manifest-list"])
        assert all(not os.path.exists(p) for p in old_files)
        try:
            read_iceberg_table(spark, t.root, snapshot_id=1)
            raise AssertionError("expired snapshot still readable")
        except ValueError:
            pass
        got = (
            read_iceberg_table(spark, t.root)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        rows = [(r["event_type"], r["n"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "event_type STRING, n BIGINT")


@register(
    "iceberg_files_inspection",
    oracle="""
    SELECT 'ancestors' AS metric, CAST(2 AS BIGINT) AS v
    UNION ALL
    SELECT 'data_rows', count(*) FROM events
    UNION ALL
    SELECT 'delete_rows', count(*) FROM events WHERE user_id % 6 = 0
    UNION ALL
    SELECT 'snapshots', CAST(2 AS BIGINT)
    """,
)
def iceberg_files_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA TABLES round-trip — the `$snapshots`/`$files`/
    `$manifests`/`$history` inspection surface engines expose over
    Iceberg tables, driver-verified: a MoR head's files table must
    account for every base data row (manifest reuse means the data
    manifests are snapshot 1's verbatim — asserted) plus the delete
    rows the second commit masked, and the history table's ancestry
    walk must cover both snapshots. Metadata-table rows are O(files);
    the aggregation over them is a DataFrame like any other."""
    from ..operators.iceberg_inspect import (
        files_table,
        history_table,
        manifests_table,
        snapshots_table,
    )
    from ..operators.iceberg_meta import export_iceberg_metadata

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="inspect_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(ev.filter(F.col("user_id") % 6 != 0), committed_at_ms=2)
        export_iceberg_metadata(t, format_version=2)

        m1 = {r["path"] for r in manifests_table(spark, t.root, 1).collect()}
        m2 = manifests_table(spark, t.root, 2).collect()
        assert {r["path"] for r in m2 if r["content"] == 0} == m1

        f = files_table(spark, t.root)
        sums = {
            r["content"]: r["rows"]
            for r in f.groupBy("content")
            .agg(F.sum("record_count").alias("rows"))
            .collect()
        }
        hist = history_table(spark, t.root)
        snaps = snapshots_table(spark, t.root)
        rows = [
            ("ancestors", hist.filter("is_current_ancestor").count()),
            ("data_rows", int(sums.get(0, 0))),
            ("delete_rows", int(sums.get(1, 0))),
            ("snapshots", snaps.count()),
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "metric STRING, v BIGINT")


@register(
    "lakehouse_maintenance_roundtrip",
    oracle="""
    SELECT fmt, event_type, count(*) AS n
    FROM events
    CROSS JOIN (SELECT 'delta' AS fmt UNION ALL SELECT 'iceberg') f
    WHERE user_id % 5 <> 0
    GROUP BY 1, 2
    """,
)
def lakehouse_maintenance_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The round-9 MAINTENANCE pair, driver-visible.

    Iceberg `rewrite_manifests`: an incremental-append chain leaves the
    head's manifest list with one small manifest per commit (the
    planning-cost accumulation); the action consolidates the live data
    entries into ONE status=EXISTING manifest with explicit sequence
    numbers — asserted in-lane — and the consolidated head must still
    read value-identical.

    Delta VACUUM: a DV delete + OPTIMIZE chain leaves the
    pre-compaction parquet and DV .bin files unreferenced by the head;
    `vacuum_delta_table` (log-scoped, so an Iceberg facade sharing the
    directory is never touched) must physically drop both — asserted —
    while the head read stays value-identical.

    Both sides must equal the oracle's masked-events counts. Metadata
    work is driver-side O(files); the reads and the compaction rewrite
    run distributed."""
    from ..operators.avro_io import read_avro
    from ..operators.delta_log import export_delta_log, read_delta_table
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        load_table_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import (
        compact_snapshot,
        rewrite_iceberg_manifests,
        vacuum_delta_table,
    )

    ev = load_table(spark, sf_dir, "events")
    masked = ev.filter(F.col("user_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="lakehouse_maint_demo_")
    rows = []
    try:
        # --- Iceberg: append chain -> rewrite_manifests ---
        ti = SnapshotTable(spark, os.path.join(tmp, "ice"))
        ti.write(masked.filter(F.col("user_id") % 2 == 1), committed_at_ms=1)
        ti.write(masked, committed_at_ms=2)  # pure append: delta manifest
        meta_dir = export_iceberg_metadata(ti, format_version=2)
        info = rewrite_iceberg_manifests(ti.root)
        assert info["manifests_before"] == 2, info
        assert info["manifests_after"] == 1, info
        _, md = load_table_metadata(meta_dir)
        head = next(
            s
            for s in md["snapshots"]
            if s["snapshot-id"] == md["current-snapshot-id"]
        )
        assert head["summary"]["operation"] == "replace"
        (mrow,) = read_avro(head["manifest-list"])[1]
        entries = read_avro(mrow["manifest_path"])[1]
        assert all(
            e["status"] == 0 and e["data_sequence_number"] is not None
            for e in entries
        )
        # --- orphan-file lifecycle (round 10): plant a failed-write
        # leftover -> dry-run lists exactly it -> execute frees it
        # (explicit cutoff: the stock 3-day age gate is for concurrent
        # writers; this lane is single-writer) -> the read below
        # proves the facade is untouched ---
        from ..operators.maintenance import remove_orphan_files

        stray = os.path.join(ti.root, "snapshots", "stray-leftover.parquet")
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        os.makedirs(os.path.dirname(stray), exist_ok=True)
        _pq.write_table(_pa.table({"x": [1, 2, 3]}), stray)
        listed = remove_orphan_files(ti.root, dry_run=True, older_than_ms=2**62)
        assert listed == [os.path.abspath(stray)], listed
        assert os.path.isfile(stray)  # dry run never unlinks
        deleted = remove_orphan_files(ti.root, older_than_ms=2**62)
        assert deleted == [os.path.abspath(stray)] and not os.path.exists(stray)

        got = (
            read_iceberg_table(spark, ti.root)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        rows.extend(("iceberg", r["event_type"], r["n"]) for r in got)

        # --- Delta: DV delete + OPTIMIZE -> vacuum ---
        td = SnapshotTable(spark, os.path.join(tmp, "delta"))
        td.write(ev, committed_at_ms=1)
        td.write(masked, committed_at_ms=2)  # MoR delete -> DV commit
        compact_snapshot(td, committed_at_ms=3)  # OPTIMIZE
        export_delta_log(td, mor_deletes=True)
        dropped = vacuum_delta_table(td.root, keep_versions=1)
        assert any(p.endswith(".bin") for p in dropped), "DV not vacuumed"
        assert any(p.endswith(".parquet") for p in dropped)
        got = (
            read_delta_table(spark, td.root)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        rows.extend(("delta", r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "fmt STRING, event_type STRING, n BIGINT"
    )


@register(
    "iceberg_migrate_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events WHERE user_id % 3 <> 0 GROUP BY 1
    """,
)
def iceberg_migrate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIGRATION round-trip — Iceberg `add_files` / snapshot-table
    adoption: a plain Hive-partitioned parquet estate (what the
    reference's bronze layer is before table formats) becomes an
    Iceberg table IN PLACE — zero data rewritten, manifests pointing at
    the original files, Hive dirs becoming an identity partition spec,
    and a `schema.name-mapping.default` binding the id-less originals
    to their assigned field ids (what keeps them readable through later
    renames — the round's schema-evolution reader applies it).

    In-lane asserts: every referenced file lives under the source dir
    (nothing copied), the name-mapping property is present, and a
    partition prune feeds fewer files than the full read. The migrated
    read's counts must equal the oracle's. Migration cost is one
    executor-parallel footer pass (stats + row counts) — no data
    bytes."""
    import json as _json

    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        migrate_parquet_dir,
        read_iceberg_table,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 3 != 0
    )
    tmp = tempfile.mkdtemp(prefix="migrate_demo_")
    try:
        lake = os.path.join(tmp, "lake")
        ev.write.partitionBy("event_type").parquet(lake)
        root = os.path.join(tmp, "iceberg")
        meta_dir = migrate_parquet_dir(spark, root, lake, timestamp_ms=1)
        md = _json.load(
            open(os.path.join(meta_dir, "v1.metadata.json"))
        )
        assert "schema.name-mapping.default" in md["properties"]
        (mrow,) = read_avro(md["snapshots"][0]["manifest-list"])[1]
        entries = read_avro(mrow["manifest_path"])[1]
        lake_abs = os.path.abspath(lake) + os.sep
        assert entries and all(
            e["data_file"]["file_path"].startswith(lake_abs)
            for e in entries
        ), "migration must reference files in place"
        n_files = len(entries)
        one_type = entries[0]["data_file"]["partition"]["event_type"]
        pruned = read_iceberg_table(
            spark, root, prune=[("event_type", "=", one_type)]
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert plan.count(".parquet") < n_files, "prune did not skip files"
        got = (
            read_iceberg_table(spark, root)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        rows = [(r["event_type"], r["n"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "event_type STRING, n BIGINT")


@register(
    "iceberg_rest_catalog_roundtrip",
    oracle="""
    SELECT 'main' AS ref, event_type, count(*) AS n
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'audit' AS ref, event_type, count(*) AS n
    FROM events WHERE user_id % 7 <> 0 GROUP BY 2
    """,
)
def iceberg_rest_catalog_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg REST-catalog discovery round-trip, driver-visible
    (VERDICT r9 item 3): the reference publishes its Iceberg tables
    through a Nessie REST catalog (`libs/scd2_spark_processor.py:
    101-103`); the public equivalent is the Iceberg REST catalog
    protocol, implemented (reads, creates, commits, transactions and
    views) in operators/rest_catalog.py. This lane drives its read side.

    The lane commits two snapshots (audit branch pinned at v1 — the
    Nessie-style zero-copy branch), exports the metadata tree, serves
    it over HTTP on an ephemeral loopback port, and reads BOTH refs
    back through `read_iceberg_table(spark, <load-table URL>)` — no
    version-hint.text involved on the read side. In-lane asserts pin
    the protocol surface: /v1/config, namespace + table listings, HEAD
    existence, the 404 error envelope for a missing table, and the
    refs map (main + audit) arriving through the LoadTableResult.

    Scale: the catalog serves O(KB) pointer JSON; all data I/O goes
    straight to the paths the metadata references (one distributed
    parquet scan per read, same plan as the file-based path)."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.rest_catalog import IcebergRestCatalog, rest_get

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="rest_catalog_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("user_id") % 7 != 0), committed_at_ms=1)
        t.create_branch("audit", at_ms=1)
        t.write(ev, committed_at_ms=2)
        export_iceberg_metadata(t, format_version=2)
        rows = []
        with IcebergRestCatalog({("lake", "sales"): t.root}) as uri:
            assert rest_get(f"{uri}/v1/config") == {
                "defaults": {},
                "overrides": {},
            }
            assert rest_get(f"{uri}/v1/namespaces") == {
                "namespaces": [["lake"]]
            }
            assert rest_get(f"{uri}/v1/namespaces/lake/tables") == {
                "identifiers": [{"namespace": ["lake"], "name": "sales"}]
            }
            table_url = f"{uri}/v1/namespaces/lake/tables/sales"
            import urllib.request as _rq

            head = _rq.Request(table_url, method="HEAD")
            assert _rq.urlopen(head).status == 204
            try:
                rest_get(f"{uri}/v1/namespaces/lake/tables/nope")
                raise AssertionError("missing table must 404")
            except ValueError as e:
                assert "NoSuchTableException" in str(e)
            md = rest_get(table_url)["metadata"]
            assert set(md["refs"]) == {"main", "audit"}
            # both refs read through the PROTOCOL URL, not the tree
            for ref in ("main", "audit"):
                got = (
                    read_iceberg_table(spark, table_url, ref=ref)
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                rows.extend((ref, r["event_type"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "ref STRING, event_type STRING, n BIGINT"
    )


@register(
    "iceberg_partitioned_upsert_roundtrip",
    oracle="""
    SELECT 1 AS snap, event_type,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, count(*) AS n
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 2 AS snap, event_type, dt, count(*) AS n
    FROM (
      SELECT CASE WHEN event_id % 9 = 0 THEN 'purchase' ELSE event_type END
               AS event_type,
             CAST(CAST(ts + CASE WHEN event_id % 5 = 0
                                 THEN INTERVAL 10 DAY
                                 ELSE INTERVAL 0 DAY END AS DATE)
                  AS VARCHAR) AS dt
      FROM events WHERE event_id % 7 <> 0
    ) GROUP BY 2, 3
    """,
)
def iceberg_partitioned_upsert_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 10 (identity), extended round 11 to the reference's OWN
    layout: the equality-delete upsert dialect over a table partitioned
    by identity(event_type) PLUS HIDDEN days(ts) — the reference's SCD2
    table is `PARTITIONED BY (days(effective_start_ts))` merge-on-read
    (libs/scd2_spark_processor.py:151,155). The update rewrites some
    keys' event_type AND shifts some keys' ts by +10 days, MOVING rows
    across both partition dimensions: the appended data files land
    under the mixed spec with typed partition structs (the day value
    re-derived spec-exactly from ts — epoch-day ints in the manifests),
    while the key-tuple delete files ride an UNPARTITIONED spec (the
    Iceberg spec's GLOBAL equality-delete scoping), so moved keys are
    masked in their old partitions. In-lane asserts pin both spec
    assignments and the epoch-day typing; the hash match proves every
    (type, day) cell reconstructs exactly at both snapshots.

    Scale: one PK diff + one partitionBy write per commit, masked
    reads distributed; the delete-file application is a broadcast
    anti-join on the PK (the MoR design point)."""
    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        load_table_metadata,
        read_iceberg_table,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value", "ts")
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    )
    v2 = (
        ev.drop("dt")
        .filter(F.col("event_id") % 7 != 0)
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 9 == 0, F.lit("purchase")).otherwise(
                F.col("event_type")
            ),
        )
        .withColumn(
            "ts",
            F.when(
                F.col("event_id") % 5 == 0,
                F.col("ts") + F.expr("INTERVAL 10 DAYS"),
            ).otherwise(F.col("ts")),
        )
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_pups_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        # one file per (type, day) cell — the writer-side small-file
        # discipline a 100 TB table needs, and it keeps the per-file
        # footer/stats work linear in cells, not cells x tasks
        t.write(
            ev.repartition("event_type", "dt"),
            partition_by=["event_type", "dt"],
            committed_at_ms=1,
        )
        t.write(
            v2.repartition("event_type", "dt"),
            partition_by=["event_type", "dt"],
            committed_at_ms=2,
        )
        meta_dir = export_iceberg_metadata(
            t,
            format_version=2,
            upsert_key=["event_id"],
            hidden_partitions={"dt": ("ts", "day")},
        )
        _, md = load_table_metadata(meta_dir)
        assert "dt" not in [
            f["name"] for f in md["schemas"][-1]["fields"]
        ], "days() partition column must be HIDDEN (not a table column)"
        specs = {s["spec-id"]: s["fields"] for s in md["partition-specs"]}
        _, rows2 = read_avro(md["snapshots"][1]["manifest-list"])
        del_rows = [r for r in rows2 if r.get("content") == 1]
        assert del_rows, "upsert commit must carry a delete manifest"
        assert all(
            specs[r["partition_spec_id"]] == [] for r in del_rows
        ), "equality deletes must ride an unpartitioned spec (global)"
        for r in rows2:
            if (r.get("content") or 0) != 0:
                continue
            sfs = specs[r["partition_spec_id"]]
            assert [f["name"] for f in sfs] == ["event_type", "dt"] and [
                f["transform"] for f in sfs
            ] == ["identity", "day"], "data manifests must ride the mixed spec"
        # the upsert commit's entries carry typed EPOCH-DAY values
        ups_row = next(
            r
            for r in rows2
            if (r.get("content") or 0) == 0 and r["sequence_number"] == 2
        )
        _, ups_entries = read_avro(ups_row["manifest_path"])
        assert all(
            isinstance(e["data_file"]["partition"]["dt"], int)
            for e in ups_entries
        ), "day partition values must export as epoch-day ints"
        rows = []
        for sid in (1, 2):
            got = (
                read_iceberg_table(spark, t.root, snapshot_id=sid)
                .groupBy(
                    "event_type",
                    F.date_format("ts", "yyyy-MM-dd").alias("dt"),
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            rows.extend((sid, r["event_type"], r["dt"], r["n"]) for r in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "snap INT, event_type STRING, dt STRING, n BIGINT"
    )


@register(
    "iceberg_catalog_append_roundtrip",
    oracle="""
    SELECT 1 AS snap, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE user_id % 2 = 0
    UNION ALL
    SELECT 2 AS snap, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    """,
)
def iceberg_catalog_append_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 10: the EXTERNAL-WRITER append flow through the catalog
    protocol, driver-visible. A base table (even-user events) is
    exported and served; the odd-user half is then appended by
    `append_table_via_catalog` — files + manifests staged first
    (UUID-unique paths), then ONE pointer commit (add-snapshot +
    set-snapshot-ref main guarded by assert-ref-snapshot-id). Both
    snapshots are read back through the load-table URL; snapshot 2
    must equal the full events table — proving the staged manifest's
    stats/entries and the carried-forward parent manifests compose
    into a correct live file set. In-lane asserts pin the snapshot
    chain (parent id) and that the commit bumped the metadata version
    through the protocol, not the file tree.

    Scale: the staged write and both reads run distributed; the
    catalog moves O(KB) pointer JSON."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.rest_catalog import (
        IcebergRestCatalog,
        append_table_via_catalog,
        rest_load_table,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="catalog_append_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("user_id") % 2 == 0), committed_at_ms=1)
        export_iceberg_metadata(t, format_version=2)
        rows = []
        with IcebergRestCatalog({("lake", "events"): t.root}) as uri:
            url = f"{uri}/v1/namespaces/lake/tables/events"
            before = rest_load_table(url)["metadata-location"]
            snap = append_table_via_catalog(
                spark, ev.filter(F.col("user_id") % 2 != 0), url
            )
            assert snap["snapshot-id"] == 2
            assert snap["parent-snapshot-id"] == 1
            after = rest_load_table(url)["metadata-location"]
            assert after != before, "commit must mint a metadata version"
            for sid in (1, 2):
                got = (
                    read_iceberg_table(spark, url, snapshot_id=sid)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("event_id").cast("long").alias("id_sum"),
                    )
                    .collect()[0]
                )
                rows.append((sid, got["n"], got["id_sum"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "snap INT, n BIGINT, id_sum BIGINT"
    )


@register(
    "iceberg_catalog_create_table_roundtrip",
    oracle="""
    SELECT 0 AS snap, 0 AS n, CAST(NULL AS BIGINT) AS id_sum
    UNION ALL
    SELECT 1 AS snap, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE user_id % 2 = 0
    UNION ALL
    SELECT 2 AS snap, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    """,
)
def iceberg_catalog_create_table_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 10: the catalog's full table LIFECYCLE through the
    protocol — no pre-exported tree anywhere. A namespace and an empty
    table are created via POST (the server mints the metadata tree and
    assigns field ids; current-snapshot-id = -1 per the spec), the
    empty table reads as zero rows under the declared schema, then two
    external-writer appends (stage + pointer commit) land snapshots 1
    and 2, each read back through the load-table URL. This is the
    create -> stage -> commit -> read loop a real engine runs against a
    REST catalog, with every step over HTTP.

    In-lane asserts pin the CRUD surface: the created LoadTableResult,
    409 on double-create, the new table visible in the namespace
    listing, and the metadata version advancing per commit.

    Scale: staged writes + reads distributed; catalog traffic is O(KB)
    pointer JSON per request."""
    from ..operators.iceberg_meta import read_iceberg_table
    from ..operators.rest_catalog import (
        IcebergRestCatalog,
        append_table_via_catalog,
        create_table_via_catalog,
        rest_create_namespace,
        rest_get,
        rest_load_table,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="catalog_create_demo_")
    rows = []
    try:
        with IcebergRestCatalog({}, warehouse_dir=tmp) as uri:
            rest_create_namespace(uri, ["lake"])
            created = create_table_via_catalog(
                uri, ["lake"], "events", ev.schema
            )
            assert created["metadata"]["current-snapshot-id"] == -1
            assert created["metadata"]["snapshots"] == []
            try:
                create_table_via_catalog(uri, ["lake"], "events", ev.schema)
                raise AssertionError("double create must 409")
            except ValueError as e:
                assert "AlreadyExistsException" in str(e)
            listing = rest_get(f"{uri}/v1/namespaces/lake/tables")
            assert {"namespace": ["lake"], "name": "events"} in listing[
                "identifiers"
            ]
            url = f"{uri}/v1/namespaces/lake/tables/events"
            empty = read_iceberg_table(spark, url)
            assert empty.columns == ev.columns
            rows.append((0, empty.count(), None))
            v1 = rest_load_table(url)["metadata-location"]
            append_table_via_catalog(
                spark, ev.filter(F.col("user_id") % 2 == 0), url
            )
            append_table_via_catalog(
                spark, ev.filter(F.col("user_id") % 2 != 0), url
            )
            v3 = rest_load_table(url)["metadata-location"]
            assert v1 != v3, "commits must advance the metadata version"
            for sid in (1, 2):
                got = (
                    read_iceberg_table(spark, url, snapshot_id=sid)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("event_id").cast("long").alias("id_sum"),
                    )
                    .collect()[0]
                )
                rows.append((sid, got["n"], got["id_sum"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: r[0]), "snap INT, n BIGINT, id_sum BIGINT"
    )


@register(
    "delta_restore_roundtrip",
    oracle="""
    SELECT 'pre_restore_head' AS stage, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    UNION ALL
    SELECT 'post_restore_head' AS stage, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE user_id % 2 = 0
    UNION ALL
    SELECT 'old_head_time_travel' AS stage, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    """,
)
def delta_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 10: the Delta RESTORE command — roll the exported log back
    to version 0 (even-user events) by APPENDING one reconciliation
    commit (`restore_delta_table`): the new head reads as the old
    content, while the pre-restore head stays time-travelable because
    history is never rewritten. In-lane asserts pin the commitInfo
    operation=RESTORE, the returned add/remove counters matching the
    replayed file sets, and that no data file was copied or rewritten
    (the commit IS the operation — instant at any table size).

    Scale: two driver-side log replays + O(changed files) JSON lines;
    zero data I/O."""
    import json as _json
    import os as _os

    from ..operators.delta_log import (
        export_delta_log,
        read_delta_table,
        restore_delta_table,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="delta_restore_demo_")
    rows = []
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.filter(F.col("user_id") % 2 == 0), committed_at_ms=1)
        t.write(ev, committed_at_ms=2)
        log = export_delta_log(t)
        data_files_before = {
            f
            for base, _, fs in _os.walk(t.root)
            for f in fs
            if f.endswith(".parquet") and "_delta_log" not in base
        }

        def stage(name, df):
            got = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").cast("long").alias("id_sum"),
            ).collect()[0]
            rows.append((name, got["n"], got["id_sum"]))

        stage("pre_restore_head", read_delta_table(spark, t.root))
        res = restore_delta_table(log, 0)
        assert res["restored_to"] == 0 and res["version"] == 2
        with open(_os.path.join(log, f"{2:020d}.json")) as fh:
            ci = _json.loads(fh.readline())["commitInfo"]
        assert ci["operation"] == "RESTORE"
        stage("post_restore_head", read_delta_table(spark, t.root))
        stage(
            "old_head_time_travel", read_delta_table(spark, t.root, version=1)
        )
        data_files_after = {
            f
            for base, _, fs in _os.walk(t.root)
            for f in fs
            if f.endswith(".parquet") and "_delta_log" not in base
        }
        assert data_files_after == data_files_before, (
            "RESTORE must not copy or rewrite data files"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "stage STRING, n BIGINT, id_sum BIGINT"
    )


@register(
    "iceberg_catalog_txn_roundtrip",
    oracle="""
    SELECT 'events' AS tbl, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS key_sum
    FROM events
    UNION ALL
    SELECT 'orders' AS tbl, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    """,
)
def iceberg_catalog_txn_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 10: MULTI-TABLE atomic commit through the catalog's
    `/v1/transactions/commit` endpoint (CommitTransactionRequest) — the
    consistency unit a real pipeline needs when a fact table and its
    sibling must move together (here: events + orders, each seeded with
    its even-key half, completed by ONE transaction appending both odd
    halves). In-lane asserts pin the protocol semantics:

    - both tables' staged snapshots land under one POST (both heads at
      snapshot 2, both metadata versions bumped);
    - ATOMICITY on reject: a second transaction carrying a VALID change
      for events and a STALE assert-ref-snapshot-id for orders is
      refused whole (409) — events' metadata-location must not move
      even though its own requirements passed;
    - empty table-changes is a 400 per the spec.

    Both tables then read back through their load-table URLs and must
    equal the full base tables — the oracle states that declaratively.

    Scale: staged writes and reads run distributed; the transaction
    endpoint moves O(KB) pointer JSON per table, and validation is
    all-in-memory before any metadata file persists (no partial-commit
    window beyond process death, same boundary as any filesystem
    catalog)."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.rest_catalog import (
        IcebergRestCatalog,
        append_tables_via_catalog_txn,
        rest_commit_transaction,
        rest_load_table,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="catalog_txn_demo_")
    rows = []
    try:
        te = SnapshotTable(spark, os.path.join(tmp, "events"))
        te.write(ev.filter(F.col("event_id") % 2 == 0), committed_at_ms=1)
        export_iceberg_metadata(te, format_version=2)
        to = SnapshotTable(spark, os.path.join(tmp, "orders"))
        to.write(od.filter(F.col("o_orderkey") % 2 == 0), committed_at_ms=1)
        export_iceberg_metadata(to, format_version=2)
        warehouse = {
            ("lake", "events"): te.root,
            ("lake", "orders"): to.root,
        }
        with IcebergRestCatalog(warehouse) as uri:
            ev_url = f"{uri}/v1/namespaces/lake/tables/events"
            od_url = f"{uri}/v1/namespaces/lake/tables/orders"
            snaps = append_tables_via_catalog_txn(
                spark,
                uri,
                [
                    (("lake",), "events", ev.filter(F.col("event_id") % 2 != 0)),
                    (("lake",), "orders", od.filter(F.col("o_orderkey") % 2 != 0)),
                ],
            )
            assert snaps["lake.events"]["snapshot-id"] == 2
            assert snaps["lake.orders"]["snapshot-id"] == 2

            # atomicity: valid events change + stale orders requirement
            # must reject the WHOLE transaction — events does not move
            ev_loc = rest_load_table(ev_url)["metadata-location"]
            od_loc = rest_load_table(od_url)["metadata-location"]
            try:
                rest_commit_transaction(
                    uri,
                    [
                        {
                            "identifier": {
                                "namespace": ["lake"],
                                "name": "events",
                            },
                            "requirements": [
                                {
                                    "type": "assert-ref-snapshot-id",
                                    "ref": "main",
                                    "snapshot-id": 2,
                                }
                            ],
                            "updates": [
                                {
                                    "action": "set-properties",
                                    "updates": {"poison": "true"},
                                }
                            ],
                        },
                        {
                            "identifier": {
                                "namespace": ["lake"],
                                "name": "orders",
                            },
                            "requirements": [
                                {
                                    "type": "assert-ref-snapshot-id",
                                    "ref": "main",
                                    "snapshot-id": 1,  # stale: head is 2
                                }
                            ],
                            "updates": [],
                        },
                    ],
                )
                raise AssertionError("stale transaction must 409")
            except ValueError as e:
                assert "CommitFailedException" in str(e)
            assert rest_load_table(ev_url)["metadata-location"] == ev_loc
            assert rest_load_table(od_url)["metadata-location"] == od_loc
            assert "poison" not in (
                rest_load_table(ev_url)["metadata"].get("properties") or {}
            )
            try:
                rest_commit_transaction(uri, [])
                raise AssertionError("empty transaction must 400")
            except ValueError as e:
                assert "BadRequestException" in str(e)

            for name, url, key in (
                ("events", ev_url, "event_id"),
                ("orders", od_url, "o_orderkey"),
            ):
                got = (
                    read_iceberg_table(spark, url)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(key).cast("long").alias("key_sum"),
                    )
                    .collect()[0]
                )
                rows.append((name, got["n"], got["key_sum"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "tbl STRING, n BIGINT, key_sum BIGINT"
    )


@register(
    "iceberg_sort_rewrite_prune_roundtrip",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderkey >=
      (SELECT CAST(floor(max(o_orderkey) * 0.7) AS BIGINT) FROM orders)
    """,
)
def iceberg_sort_rewrite_prune_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SORTED REWRITE round-trip (Iceberg `rewrite_data_files
    (strategy => 'sort')`, Delta `OPTIMIZE ... ZORDER`'s 1-D cousin):
    orders lands UNSORTED (round-robin repartition, every file spans
    the whole o_orderkey domain — the in-lane assert pins that a
    stats-pruned read skips NOTHING), then
    `rewrite_data_files_sorted` commits the head range-clustered on
    o_orderkey and the re-export registers a real spec `sort-orders`
    entry, stamps the rewritten files' sort_order_id, and the same
    pruned read now SKIPS most files. The hash match proves the
    rewrite changed layout only — content identical to the base
    table.

    Scale: this is THE maintenance action that turns an append-order
    100 TB table into one whose per-file min/max actually prune;
    one distributed range shuffle, no driver data motion."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        load_table_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import rewrite_data_files_sorted

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="iceberg_sortrw_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(orders.repartition(8), committed_at_ms=1)
        export_iceberg_metadata(t, format_version=2)
        total = orders.count()
        cut = orders.agg(
            F.floor(F.max("o_orderkey") * 0.7).cast("bigint").alias("c")
        ).collect()[0]["c"]
        kept_before = read_iceberg_table(
            spark, t.root, prune=[("o_orderkey", ">=", cut)]
        ).count()
        assert kept_before == total, (kept_before, total)  # no skip yet

        info = rewrite_data_files_sorted(
            t,
            [("o_orderkey", "asc")],
            target_files=32,  # fixed fan-out: the skip assert is
            # about layout, not file size, and must hold at every SF
            committed_at_ms=2,
        )
        assert info is not None
        meta_dir = export_iceberg_metadata(t, format_version=2)
        _, md = load_table_metadata(meta_dir)
        assert md["default-sort-order-id"] == 1
        flds = md["sort-orders"][1]["fields"]
        assert [f["direction"] for f in flds] == ["asc"]
        assert [f["transform"] for f in flds] == ["identity"]

        pruned = read_iceberg_table(
            spark, t.root, prune=[("o_orderkey", ">=", cut)]
        )
        kept = pruned.count()
        assert 0 < kept < total, (kept, total, cut)  # files REALLY skipped
        row = (
            pruned.filter(F.col("o_orderkey") >= cut)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("bigint").alias("total_cents"),
            )
            .collect()[0]
        )
        rows = [(row["n"], row["total_cents"])]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "n BIGINT, total_cents BIGINT")


@register(
    "iceberg_zorder_rewrite_roundtrip",
    oracle="""
    WITH cuts AS (
      SELECT CAST(floor(max(event_id) * 0.8) AS BIGINT) AS ec,
             CAST(floor(max(user_id) * 0.8) AS BIGINT) AS uc
      FROM events)
    SELECT
      (SELECT count(*) FROM events, cuts WHERE event_id >= ec) AS n_by_event,
      (SELECT count(*) FROM events, cuts WHERE user_id >= uc) AS n_by_user,
      (SELECT CAST(sum(event_id + user_id) AS BIGINT)
       FROM events, cuts WHERE event_id >= ec AND user_id >= uc) AS both_sum
    """,
)
def iceberg_zorder_rewrite_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-ORDER rewrite round-trip (Delta `OPTIMIZE ZORDER BY`,
    Iceberg `rewrite_data_files(strategy => 'zorder')`): events lands
    unsorted, then rewrites along the Morton curve of (event_id,
    user_id) — after which a stats-pruned read on EITHER column skips
    files (the in-lane asserts pin both, against a base where neither
    prunes). A 1-D sort gives locality on one column only; the
    interleaved key is what makes multi-predicate dashboards cheap at
    100 TB. The export records the strategy in the snapshot summary
    (the spec's sort-orders cannot express bit interleaving — real
    engines record z-order the same way), and content equality rides
    the oracle hash.

    Scale: one distributed range shuffle on the Morton key (pure JVM
    bit arithmetic, sources/zorder.py), bounds from one min/max
    aggregate — at 100 TB pass table-stat bounds instead."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.maintenance import rewrite_data_files_sorted

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_zorder_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev.repartition(8), committed_at_ms=1)
        export_iceberg_metadata(t, format_version=2)
        total = ev.count()
        cuts = ev.agg(
            F.floor(F.max("event_id") * 0.8).cast("bigint").alias("ec"),
            F.floor(F.max("user_id") * 0.8).cast("bigint").alias("uc"),
        ).collect()[0]
        ec, uc = cuts["ec"], cuts["uc"]
        for col, cut in (("event_id", ec), ("user_id", uc)):
            kept = read_iceberg_table(
                spark, t.root, prune=[(col, ">=", cut)]
            ).count()
            assert kept == total, (col, kept, total)  # base: no skip

        info = rewrite_data_files_sorted(
            t,
            ["event_id", "user_id"],
            strategy="zorder",
            target_files=64,  # fixed fan-out: 6 z-bits = 3-bit blocks
            # per dimension, so either column prunes at every SF
            committed_at_ms=2,
        )
        assert info is not None
        export_iceberg_metadata(t, format_version=2)
        for col, cut in (("event_id", ec), ("user_id", uc)):
            kept = read_iceberg_table(
                spark, t.root, prune=[(col, ">=", cut)]
            ).count()
            assert 0 < kept < total, (col, kept, total)  # both prune

        n_e = (
            read_iceberg_table(spark, t.root, prune=[("event_id", ">=", ec)])
            .filter(F.col("event_id") >= ec)
            .count()
        )
        n_u = (
            read_iceberg_table(spark, t.root, prune=[("user_id", ">=", uc)])
            .filter(F.col("user_id") >= uc)
            .count()
        )
        both = (
            read_iceberg_table(
                spark,
                t.root,
                prune=[("event_id", ">=", ec), ("user_id", ">=", uc)],
            )
            .filter((F.col("event_id") >= ec) & (F.col("user_id") >= uc))
            .agg(
                F.sum(F.col("event_id") + F.col("user_id"))
                .cast("long")
                .alias("s")
            )
            .collect()[0]["s"]
        )
        rows = [(n_e, n_u, both)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "n_by_event BIGINT, n_by_user BIGINT, both_sum BIGINT"
    )


@register(
    "iceberg_view_roundtrip",
    oracle="""
    SELECT 1 AS version, event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY 2
    UNION ALL
    SELECT 2 AS version, event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events WHERE user_id % 2 = 0 GROUP BY 2
    """,
)
def iceberg_view_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg VIEWS through the catalog protocol (public view spec,
    format-version 1): CREATE VIEW persists a versioned SQL definition
    (representations + schema + default-namespace) as a metadata tree
    the catalog serves over `/v1/namespaces/{ns}/views/{name}`;
    CREATE OR REPLACE appends a new schema + view version and moves
    the current pointer in ONE assert-view-uuid commit — so the OLD
    definition stays readable (view time travel, the version-log the
    spec mandates). `read_iceberg_view` resolves the referenced
    tables through the SAME catalog (default-namespace scoping) and
    hands the SQL to Catalyst.

    The lane creates an aggregate view over the exported events table,
    REPLACES it with a filtered definition, reads the CURRENT view and
    the historical version 1 through the protocol, and the oracle
    restates both declaratively — a hash match proves the catalog
    serves exactly the definitions committed, new and old. In-lane
    asserts pin the spec surface: version-log growth, listing
    visibility, 409 on double-create.

    Scale: a view adds one O(KB) metadata fetch; the query itself
    plans and prunes exactly as the hand-written SQL would."""
    from ..operators.iceberg_meta import export_iceberg_metadata
    from ..operators.iceberg_view import (
        create_view_via_catalog,
        read_iceberg_view,
        replace_view_via_catalog,
    )
    from ..operators.rest_catalog import IcebergRestCatalog, rest_get

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_view_demo_")
    rows = []
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "events"))
        t.write(ev, committed_at_ms=1)
        export_iceberg_metadata(t, format_version=2)
        with IcebergRestCatalog(
            {("lake", "events"): t.root}, warehouse_dir=tmp
        ) as uri:
            created = create_view_via_catalog(
                spark,
                uri,
                ["lake"],
                "type_stats",
                "SELECT event_type, count(*) AS n, "
                "sum(event_id) AS id_sum FROM events GROUP BY event_type",
            )
            assert created["metadata"]["current-version-id"] == 1
            try:
                create_view_via_catalog(
                    spark, uri, ["lake"], "type_stats", "SELECT 1 AS x"
                )
                raise AssertionError("double create must 409")
            except ValueError as e:
                assert "AlreadyExistsException" in str(e)
            listing = rest_get(f"{uri}/v1/namespaces/lake/views")
            assert {"namespace": ["lake"], "name": "type_stats"} in (
                listing["identifiers"]
            )
            replaced = replace_view_via_catalog(
                spark,
                uri,
                ["lake"],
                "type_stats",
                "SELECT event_type, count(*) AS n, "
                "sum(event_id) AS id_sum FROM events "
                "WHERE user_id % 2 = 0 GROUP BY event_type",
            )
            md = replaced["metadata"]
            assert md["current-version-id"] == 2
            assert [e["version-id"] for e in md["version-log"]] == [1, 2]
            vurl = f"{uri}/v1/namespaces/lake/views/type_stats"
            for version, want_version in ((1, 1), (None, 2)):
                got = read_iceberg_view(
                    spark, vurl, version=version
                ).collect()
                rows.extend(
                    (want_version, r["event_type"], r["n"], r["id_sum"])
                    for r in got
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows),
        "version INT, event_type STRING, n BIGINT, id_sum BIGINT",
    )


@register(
    "iceberg_partition_stats_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS data_records,
           CAST(count(*) FILTER (WHERE user_id % 5 = 0) AS BIGINT)
             AS pos_deletes
    FROM events GROUP BY 1
    """,
)
def iceberg_partition_stats_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION STATISTICS files (Iceberg spec "Partition
    Statistics"): after a partitioned MoR commit (snapshot 2 deletes
    every user_id%5==0 row via positional deletes),
    `write_partition_stats` rolls the live manifest entries up into
    one O(|partitions|) parquet artifact — unified partition struct
    with spec field ids, data/delete record+file counts — and
    registers it in a NEW metadata version under
    `partition-statistics`. The lane reads the REGISTERED file back
    (what an external planner consumes) and returns per-partition
    data-record and position-delete-record counts; the oracle states
    both declaratively, so a hash match proves the stats file
    summarizes exactly the table's live state. In-lane asserts pin
    file counts against the actual manifest walk and the masked
    read's row count against (data - deletes).

    Scale: planners read KBs of per-partition stats instead of GBs of
    per-file manifest entries; the rollup is the same O(entries)
    metadata walk the inspection tables run, data files untouched."""
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from ..operators.iceberg_inspect import files_table
    from ..operators.iceberg_pstats import (
        partition_stats_table,
        write_partition_stats,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="iceberg_pstats_demo_")
    try:
        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, partition_by=["event_type"], committed_at_ms=1)
        t.write(
            ev.filter(F.col("user_id") % 5 != 0),
            partition_by=["event_type"],
            committed_at_ms=2,
        )
        export_iceberg_metadata(t, format_version=2)
        entry = write_partition_stats(spark, t.root)
        assert entry["snapshot-id"] == 2
        stats = partition_stats_table(spark, t.root).collect()
        # file counts in the stats equal the manifest walk's
        ft = files_table(spark, t.root).collect()
        data_files = {}
        del_files = {}
        for r in ft:
            key = (r["partition"] or {}).get("event_type")
            if r["content"] == 0:
                data_files[key] = data_files.get(key, 0) + 1
            else:
                del_files[key] = del_files.get(key, 0) + 1
        rows = []
        live_total = 0
        for r in stats:
            et = r["partition"]["event_type"]
            assert r["data_file_count"] == data_files[et], et
            assert r["position_delete_file_count"] == del_files.get(
                et, 0
            ), et
            assert r["equality_delete_record_count"] == 0
            rows.append(
                (
                    et,
                    r["data_record_count"],
                    r["position_delete_record_count"],
                )
            )
            live_total += (
                r["data_record_count"] - r["position_delete_record_count"]
            )
        # the masked read agrees with (data - deletes)
        assert read_iceberg_table(spark, t.root).count() == live_total
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "event_type STRING, data_records BIGINT, pos_deletes BIGINT"
    )


@register(
    "iceberg_variant_roundtrip",
    oracle="""
    SELECT 1 AS snap,
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT)
             AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 2
    UNION ALL
    SELECT 2 AS snap,
           CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT)
             AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events WHERE event_id % 7 <> 0 GROUP BY 2
    """,
)
def iceberg_variant_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 11 (VERDICT r10 item 6): Iceberg v3 VARIANT columns
    end-to-end. `parse_json(props)` makes a Spark VariantType column;
    the exporter records schema type `variant` (spec v3 type system)
    while Spark's data files carry the Parquet VARIANT logical type in
    its SHREDDED form (typed_value subtree per the Parquet Variant
    Shredding spec); a pure-delete second snapshot exports as v3
    deletion vectors over the variant rows (the full-row compare key
    casts variant to canonical JSON text — variant itself is not
    comparable); the reader scans both snapshots back natively and
    typed path access (`try_variant_get`) aggregates without
    re-parsing. In-lane asserts pin the schema type and the read-back
    dtype; the value hash proves every k-bucket reconstructs at both
    snapshots against DuckDB's independent JSON extraction.

    Scale: variant decode is JVM-columnar (no Python), the DV build is
    the shared executor-side JVM encoder, and the masked read is one
    scan + a broadcast anti-join — the same 100 TB envelope as the
    non-variant v3 lanes. pyarrow in this container cannot open VARIANT
    footers, so footer row counts fall back to DuckDB's reader
    (operators/mor_diff.py:_parquet_row_count)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.parse_json("props").alias("v"), "value"
    )
    v2 = ev.filter(F.col("event_id") % 7 != 0)
    tmp = tempfile.mkdtemp(prefix="iceberg_variant_demo_")
    try:
        from ..operators.iceberg_meta import (
            export_iceberg_metadata,
            load_table_metadata,
            read_iceberg_table,
        )

        t = SnapshotTable(spark, os.path.join(tmp, "t"))
        t.write(ev, committed_at_ms=1)
        t.write(v2, committed_at_ms=2)
        meta_dir = export_iceberg_metadata(t, format_version=3)
        _, md = load_table_metadata(meta_dir)
        assert {
            f["name"]: f["type"] for f in md["schema"]["fields"]
        } == {"event_id": "long", "v": "variant", "value": "double"}
        assert [s["summary"]["operation"] for s in md["snapshots"]] == [
            "overwrite",
            "delete",
        ], "second snapshot must export as a v3 DV delete, not a rewrite"
        rows = []
        for sid in (1, 2):
            back = read_iceberg_table(spark, t.root, snapshot_id=sid)
            assert (
                back.schema["v"].dataType.simpleString() == "variant"
            ), "variant column must read back as VariantType"
            got = (
                back.select(
                    (F.try_variant_get("v", "$.k", "int") % 10)
                    .cast("int")
                    .alias("k_bucket"),
                    "value",
                )
                .groupBy("k_bucket")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("value"), 2).alias("total_value"),
                )
                .collect()
            )
            rows.extend(
                (sid, r["k_bucket"], r["n"], r["total_value"]) for r in got
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows),
        "snap INT, k_bucket INT, n BIGINT, total_value DOUBLE",
    )
