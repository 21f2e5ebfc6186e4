"""Driver-visible streaming round-trip: the bronze ingest lane (file-drop
envelope stream → PERMISSIVE JSON parse → 22-col flatten → op whitelist →
dt-partitioned parquet sink with checkpoint) executed to completion inside
a registered query, so the external gate value-checks what the STREAM
writes, not just what batch plans compute.

Envelopes are derived deterministically from the events table (same
construction as ``envelope_flatten_roundtrip``), so the oracle can state
the expected sink content declaratively over the same table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..streaming.lanes import bronze_stream, read_envelope_stream
from .data_selection import _SELECTION_SQL
from .registry import register


def _envelopes(ev: DataFrame) -> DataFrame:
    """events rows → one-line Debezium-style JSON envelopes (op=u)."""
    return ev.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.struct(
                        F.col("user_id").cast("int").alias("id"),
                        F.col("event_type").alias("product_name"),
                    ).alias("after"),
                    F.lit("u").alias("op"),
                    F.unix_millis("ts").alias("ts_ms"),
                ).alias("payload")
            )
        ).alias("value")
    )


@register(
    "streaming_bronze_roundtrip",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           count(*) AS n,
           count(DISTINCT user_id) AS n_ids
    FROM events GROUP BY 1
    """,
)
def streaming_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-dir → bronze stream (Trigger.AvailableNow) → read the sink.

    A hash match proves the streaming path end-to-end: envelope parse,
    flatten, whitelist, event-time dt partitioning, and the file-sink
    commit log all preserved every row exactly once. The tiny final
    collect (|days| rows) exists so the scratch dir can be removed before
    returning; the stream itself runs distributed with its checkpoint.
    """
    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="bronze_rt_")
    try:
        drop = os.path.join(tmp, "drop")
        _envelopes(ev).coalesce(8).write.mode("overwrite").text(drop)
        q = bronze_stream(
            read_envelope_stream(spark, drop),
            os.path.join(tmp, "bronze"),
            os.path.join(tmp, "ckpt"),
        )
        q.awaitTermination(600)
        got = (
            spark.read.parquet(os.path.join(tmp, "bronze"))
            .groupBy("dt")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("after_id").alias("n_ids"),
            )
            .collect()
        )
        rows = [(r["dt"], r["n"], r["n_ids"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "dt STRING, n BIGINT, n_ids BIGINT")


def _mixed_op_envelopes(ev: DataFrame) -> DataFrame:
    """events rows → envelopes with the _CHANGES op mapping (signup→c,
    error→d, else u); deletes carry only the before image (Debezium
    semantics) and event_id rides in source.lsn for a stable tiebreak."""
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "signup", "c")
        .otherwise("u")
    )
    image = F.struct(
        F.col("user_id").cast("int").alias("id"),
        F.col("event_type").alias("product_name"),
    )
    return ev.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.when(op != "d", image).alias("after"),
                    F.when(op == "d", image).alias("before"),
                    op.alias("op"),
                    F.unix_millis("ts").alias("ts_ms"),
                    F.struct(F.col("event_id").alias("lsn")).alias("source"),
                ).alias("payload")
            )
        ).alias("value")
    )


@register(
    "streaming_upsert_roundtrip",
    oracle="""
    WITH changes AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'error' THEN 'd'
                    WHEN event_type = 'signup' THEN 'c'
                    ELSE 'u' END AS op
        FROM events),
    latest AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
            FROM changes)
        WHERE rn = 1)
    SELECT (op = 'd') AS is_deleted,
           count(*) AS n_keys
    FROM latest GROUP BY 1
    """,
)
def streaming_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-dir → foreachBatch latest-wins MERGE into a SnapshotTable →
    read the table: the S4 changelog-upsert sink driven end-to-end.

    A hash match proves per-key latest-wins resolution (ms event time,
    LSN tiebreak), soft-delete flagging, and the snapshot commit all
    agree with the declarative upsert the oracle states. The ordering
    deliberately uses the envelope's ms-truncated ts_ms (what a real CDC
    stream carries) — the oracle orders by epoch_ms(ts) to match.
    """
    from ..operators.timetravel import SnapshotTable
    from ..streaming.lanes import upsert_stream

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="upsert_rt_")
    try:
        drop = os.path.join(tmp, "drop")
        _mixed_op_envelopes(ev).coalesce(8).write.mode("overwrite").text(drop)
        table = SnapshotTable(spark, os.path.join(tmp, "t"))
        q = upsert_stream(
            read_envelope_stream(spark, drop),
            table,
            os.path.join(tmp, "ckpt"),
            key_cols=["key_id"],
            ts_col="event_timestamp",
            order_cols=["event_timestamp", "lsn"],
        )
        q.awaitTermination(600)
        got = (
            table.read()
            .groupBy("is_deleted")
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .collect()
        )
        rows = [(bool(r["is_deleted"]), r["n_keys"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "is_deleted BOOLEAN, n_keys BIGINT")


@register(
    "streaming_history_roundtrip",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'DELETE'
                WHEN event_type = 'signup' THEN 'CREATE'
                ELSE 'UPDATE' END AS operation,
           count(*) AS n,
           count(DISTINCT user_id) AS n_ids
    FROM events GROUP BY 1
    """,
)
def streaming_history_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-dir → append-only audit history stream (op decode, both
    images) → read the sink: the S5 lane driven end-to-end. Deletes carry
    only the before image, so the id the audit row groups on is the F3
    coalesce(after_id, before_id) — a hash match proves the lenient
    parse, 5-arm op decode, and append sink lost no rows and decoded
    every op.
    """
    from ..streaming.lanes import history_stream

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="history_rt_")
    try:
        drop = os.path.join(tmp, "drop")
        _mixed_op_envelopes(ev).coalesce(8).write.mode("overwrite").text(drop)
        q = history_stream(
            read_envelope_stream(spark, drop),
            os.path.join(tmp, "hist"),
            os.path.join(tmp, "ckpt"),
        )
        q.awaitTermination(600)
        got = (
            spark.read.parquet(os.path.join(tmp, "hist"))
            .groupBy("operation")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(
                    F.coalesce("after_id", "before_id")
                ).alias("n_ids"),
            )
            .collect()
        )
        rows = [(r["operation"], r["n"], r["n_ids"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "operation STRING, n BIGINT, n_ids BIGINT"
    )


@register(
    "streaming_scd2_roundtrip",
    oracle="""
    WITH changes AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
               CASE WHEN event_type = 'error' THEN 'd'
                    WHEN event_type = 'signup' THEN 'c'
                    ELSE 'u' END AS op
        FROM events),
    hashed AS (
        SELECT *, CASE WHEN op = 'd' THEN 'DELETED'
                       ELSE md5(coalesce(event_type, '')) END AS record_hash
        FROM changes),
    deduped AS (
        SELECT * FROM (
            SELECT *, lag(record_hash) OVER (
                PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_hash
            FROM hashed)
        WHERE record_hash IS DISTINCT FROM prev_hash),
    chained AS (
        SELECT *,
               lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS next_ts,
               lead(op) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS next_op
        FROM deduped),
    scd2 AS (
        SELECT user_id,
               (next_ts IS NULL) AS is_current,
               coalesce(next_op = 'd', false) AS is_deleted
        FROM chained WHERE op <> 'd')
    SELECT is_current, is_deleted,
           count(*) AS n_versions,
           count(DISTINCT user_id) AS n_keys
    FROM scd2 GROUP BY 1, 2
    """,
)
def streaming_scd2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-dir → foreachBatch SCD2 MERGE into a SnapshotTable
    (scd2_stream) → read the versioned table: the reference's
    Airflow-batch MERGE cycle (libs/scd2_spark_processor.py:438-483,
    dags/cdc_scd2_dag.py:61-83) driven CONTINUOUSLY, end-to-end.

    A hash match proves the streamed history equals the declarative
    SCD2 chain the oracle states over the same changelog: per-key
    (ms event time, LSN) ordering, no-op change suppression via the
    record hash, delete close-out flags, and version interval
    construction — all through envelope parse, micro-batch merge, and
    atomic snapshot commits. The envelope carries ms-truncated ts_ms
    (what a real CDC stream has), so the oracle orders by epoch_ms(ts).
    """
    from ..operators.timetravel import SnapshotTable
    from ..streaming.lanes import scd2_stream

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="scd2_rt_")
    try:
        drop = os.path.join(tmp, "drop")
        _mixed_op_envelopes(ev).coalesce(8).write.mode("overwrite").text(drop)
        table = SnapshotTable(spark, os.path.join(tmp, "t"))
        q = scd2_stream(
            read_envelope_stream(spark, drop),
            table,
            os.path.join(tmp, "ckpt"),
            key_col="id",
            attr_cols=["product_name"],
            order_cols=["event_timestamp", "lsn"],
        )
        q.awaitTermination(600)
        got = (
            table.read()
            .groupBy("is_current", "is_deleted")
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.countDistinct("id").alias("n_keys"),
            )
            .collect()
        )
        rows = [
            (bool(r["is_current"]), bool(r["is_deleted"]), r["n_versions"], r["n_keys"])
            for r in got
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows),
        "is_current BOOLEAN, is_deleted BOOLEAN, n_versions BIGINT, n_keys BIGINT",
    )


@register(
    "streaming_selection_roundtrip",
    oracle=f"""
    WITH {_SELECTION_SQL}
    SELECT verdict,
           count(*) AS n_docs,
           sum(CASE WHEN selected THEN 1 ELSE 0 END) AS n_selected
    FROM selection GROUP BY verdict
    """,
)
def streaming_selection_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-dir documents → selection_stream applying BATCH-TRAINED DSIR
    weights + the map gates per micro-batch → read the verdict sink: the
    train-offline / filter-online deployment of the selection pipeline,
    end-to-end inside a registered query.

    A hash match against the declarative `_SELECTION_SQL` chain proves
    the streamed verdicts equal the batch pipeline exactly (weights are
    trained once on the full corpus — correctness never depends on what
    a micro-batch happens to contain).
    """
    from ..plans.data_selection import dsir_weight_table
    from ..streaming.lanes import read_selection, selection_stream

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="sel_rt_")
    try:
        drop = os.path.join(tmp, "drop")
        docs.select(
            F.to_json(F.struct("doc_id", "text", "lang")).alias("value")
        ).coalesce(8).write.mode("overwrite").text(drop)
        weights = os.path.join(tmp, "weights")
        dsir_weight_table(spark, sf_dir).write.parquet(weights)
        stream = spark.readStream.schema("doc_id BIGINT, text STRING, lang STRING").json(
            drop
        )
        q = selection_stream(
            stream, weights, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
        )
        q.awaitTermination(600)
        got = (
            read_selection(spark, os.path.join(tmp, "out"))
            .groupBy("verdict")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("selected"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_selected"),
            )
            .collect()
        )
        rows = [(r["verdict"], r["n_docs"], r["n_selected"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "verdict STRING, n_docs BIGINT, n_selected BIGINT"
    )


@register(
    "streaming_iceberg_sink_roundtrip",
    oracle="""
    WITH changes AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'error' THEN 'd'
                    WHEN event_type = 'signup' THEN 'c'
                    ELSE 'u' END AS op
        FROM events),
    latest AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
            FROM changes)
        WHERE rn = 1)
    SELECT (op = 'd') AS is_deleted,
           count(*) AS n_keys
    FROM latest GROUP BY 1
    """,
)
def streaming_iceberg_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's FULL pipeline shape in one lane: CDC envelope
    stream → per-micro-batch latest-wins MERGE commits → Iceberg
    merge-on-read export in the streaming-upsert (Flink equality-
    delete) dialect → the exported table read back through its own
    metadata. This is what `Kafka → Flink upsert → Iceberg MoR →
    Trino` computes end to end (reference scripts/cdc_to_parquet.py +
    libs/scd2_spark_processor.py:155); here the exported tree is the
    contract an external Trino would read.

    The drop feed is split so the stream takes MULTIPLE micro-batches
    (asserted: ≥2 snapshots in the exported chain, with at least one
    equality-delete manifest — keys updated across batches must be
    masked by the delete.seq > data.seq rule, not by rewrite). The
    Iceberg head read must match BOTH the table's own read (asserted)
    and the declarative upsert oracle."""
    from ..operators.avro_io import read_avro
    from ..operators.iceberg_meta import (
        export_iceberg_metadata,
        load_table_metadata,
        read_iceberg_table,
    )
    from ..operators.timetravel import SnapshotTable
    from ..streaming.lanes import upsert_stream

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="stream_ice_")
    try:
        drop = os.path.join(tmp, "drop")
        # 40 files at maxFilesPerTrigger=16 -> 3 micro-batches
        _mixed_op_envelopes(ev).repartition(40).write.mode(
            "overwrite"
        ).text(drop)
        table = SnapshotTable(spark, os.path.join(tmp, "t"))
        q = upsert_stream(
            read_envelope_stream(spark, drop),
            table,
            os.path.join(tmp, "ckpt"),
            key_cols=["key_id"],
            ts_col="event_timestamp",
            order_cols=["event_timestamp", "lsn"],
        )
        q.awaitTermination(600)
        meta_dir = export_iceberg_metadata(
            table, format_version=2, upsert_key=["key_id"]
        )
        _, md = load_table_metadata(meta_dir)
        assert len(md["snapshots"]) >= 2, "expected multi-batch commits"
        head = next(
            s
            for s in md["snapshots"]
            if s["snapshot-id"] == md["current-snapshot-id"]
        )
        rows_ml = read_avro(head["manifest-list"])[1]
        has_eq = False
        for r in rows_ml:
            if (r.get("content") or 0) != 1:
                continue
            for e in read_avro(r["manifest_path"])[1]:
                if e["data_file"].get("content") == 2:
                    has_eq = True
        assert has_eq, "expected equality-delete manifests in the chain"
        ice = read_iceberg_table(spark, table.root)
        got = (
            ice.groupBy("is_deleted")
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .collect()
        )
        want = {
            bool(r["is_deleted"]): r["n_keys"]
            for r in table.read()
            .groupBy("is_deleted")
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .collect()
        }
        rows = [(bool(r["is_deleted"]), r["n_keys"]) for r in got]
        assert {k: v for k, v in rows} == want, (rows, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(sorted(rows), "is_deleted BOOLEAN, n_keys BIGINT")


@register(
    "streaming_catalog_sink_roundtrip",
    oracle="""
    SELECT event_type AS product_name,
           count(*) AS n,
           count(DISTINCT user_id) AS n_ids
    FROM events GROUP BY 1
    """,
)
def streaming_catalog_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 10: the streaming writer THROUGH the catalog protocol —
    every micro-batch staged + pointer-committed over HTTP
    (streaming/lanes.py:catalog_append_stream), against a table that
    was itself CREATED through the protocol. Exactly-once is asserted
    in-lane: each snapshot's summary carries its `streaming.batch-id`,
    and replaying the last batch id (checkpoint-recovery shape) returns
    None and leaves the snapshot chain unchanged — the idempotence
    device real streaming Iceberg sinks use (Flink checkpoint id /
    Delta txn action).

    Scale: per-batch data writes and reads run distributed; the
    catalog serializes O(KB) pointer commits, never data."""
    from ..operators.iceberg_meta import read_iceberg_table
    from ..operators.rest_catalog import (
        IcebergRestCatalog,
        append_table_via_catalog,
        committed_batch_id,
        create_table_via_catalog,
        rest_create_namespace,
        rest_load_table,
    )
    from ..operators.cdc import flatten_envelope
    from ..streaming.lanes import catalog_append_stream

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="stream_catalog_")
    try:
        drop = os.path.join(tmp, "drop")
        # 40 files at maxFilesPerTrigger=16 -> >= 3 micro-batches
        _envelopes(ev).repartition(40).write.mode("overwrite").text(drop)
        proj = lambda d: d.select(  # noqa: E731
            "after_id", "after_product_name", "op", "ts_ms"
        )
        with IcebergRestCatalog({}, warehouse_dir=tmp) as uri:
            rest_create_namespace(uri, ["lake"])
            sample = proj(
                flatten_envelope(
                    spark.read.text(drop).limit(1), value_col="value"
                )
            )
            create_table_via_catalog(uri, ["lake"], "bronze", sample.schema)
            url = f"{uri}/v1/namespaces/lake/tables/bronze"
            q = catalog_append_stream(
                proj(flatten_envelope(read_envelope_stream(spark, drop))),
                url,
                os.path.join(tmp, "ckpt"),
            )
            q.awaitTermination(600)
            md = rest_load_table(url)["metadata"]
            snaps = md["snapshots"]
            assert len(snaps) >= 2, "expected multi-batch commits"
            batch_ids = [
                s["summary"].get("streaming.batch-id") for s in snaps
            ]
            assert all(b is not None for b in batch_ids), batch_ids
            wm = committed_batch_id(md)
            assert wm == max(int(b) for b in batch_ids)
            # checkpoint-recovery replay: the last batch id is a no-op
            replay = proj(
                flatten_envelope(
                    spark.read.text(drop), value_col="value"
                )
            ).limit(5)
            assert (
                append_table_via_catalog(spark, replay, url, batch_id=wm)
                is None
            ), "replayed batch id must be skipped"
            md2 = rest_load_table(url)["metadata"]
            assert len(md2["snapshots"]) == len(snaps), (
                "replay must not add a snapshot"
            )
            got = (
                read_iceberg_table(spark, url)
                .groupBy(
                    F.col("after_product_name").alias("product_name")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct("after_id").alias("n_ids"),
                )
                .collect()
            )
            rows = [(r["product_name"], r["n"], r["n_ids"]) for r in got]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows), "product_name STRING, n BIGINT, n_ids BIGINT"
    )
