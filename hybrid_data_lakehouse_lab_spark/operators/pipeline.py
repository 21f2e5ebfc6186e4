"""Scd2Pipeline — the reference's batch job end-to-end (libs/
scd2_spark_processor.py run(), :518-567): checkpoint read → incremental
filter → op routing → SCD2 merge → single-commit write → checkpoint update.

Differences from the reference, by design:
* ONE atomic commit per batch (snapshot manifest swap) instead of three
  Iceberg commits — no closed-but-unreplaced window on crash (§3.2 note).
* Replay safety: a re-run of an already-processed batch is a no-op because
  the checkpoint filter drops every event. The checkpoint itself rides in
  the snapshot commit's properties, so data+checkpoint are one atomic swap
  — there is no crash window between them (the reference re-appends dupes
  if it crashes after MERGE but before its checkpoint write; round-1 of
  this engine had the same two-commit window via a separate parquet dir).
* Same-timestamp safety: the incremental predicate is lexicographic on
  (event_timestamp, lsn) when an lsn column is configured, so a CDC burst
  sharing the checkpointed max timestamp but split across batches is not
  silently dropped (the reference filters on timestamp alone).
* Partition pruning happens at the source, not here: LakehouseJob hands
  `process_batch` a bronze read already limited to the `dt` partitions at
  or after the checkpoint's date (`LakehouseJob._bronze_as_changes`),
  because a filter applied here sits above that read's lsn dedup, which
  Spark cannot push it through. The incremental predicate still applies
  to a `dt` column when present (the reference filters only the
  non-partition event_timestamp; README.MD:256's pruning claim is
  aspirational there).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import merge_scd2_batch
from .timetravel import SnapshotTable
from .util import atomic_open

# Safe widening chains per the Delta type-widening feature / Iceberg
# primitive-promotion rules (both public specs). Keys/values are Spark
# simpleString names; decimals are handled structurally.
_WIDENING_CHAIN = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def _is_safe_widening(src, dst) -> bool:
    """True when every `src` value is exactly representable as `dst`."""
    from pyspark.sql import types as T

    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return dst.scale == src.scale and dst.precision >= src.precision
    return dst.simpleString() in _WIDENING_CHAIN.get(src.simpleString(), ())


@dataclass
class Scd2Pipeline:
    spark: SparkSession
    root: str
    key_cols: list[str]
    attr_cols: list[str]
    ts_col: str = "event_timestamp"
    op_col: str = "op"
    order_cols: list[str] | None = None
    lsn_col: str | None = "lsn"
    #: Route SCD2 builds through the two-level (key, chunk) chain — the
    #: hot-key skew mitigation (operators/scd2.py:scd2_from_changes_chunked).
    #: Identical output; enable for corpora with heartbeat-heavy
    #: entities, or pass "auto" to probe each batch's max per-key
    #: multiplicity and pick the path at the measured crossover
    #: (scd2_from_changes_auto, SCD2_CHUNK_THRESHOLD).
    chunked: bool | str = False
    #: Partition the SCD2 snapshots by effective-start DAY — the
    #: reference's own table layout (`PARTITIONED BY
    #: (days(effective_start_ts))`, libs/scd2_spark_processor.py:151).
    #: Adds a derived `dt` directory column (date_format of
    #: effective_start_ts) to every commit; pair with
    #: `export_iceberg_metadata(..., hidden_partitions={"dt":
    #: ("effective_start_ts", "day")})` for spec-exact Iceberg interop.
    partition_by_start_day: bool = False
    table: SnapshotTable = field(init=False)

    def __post_init__(self) -> None:
        self.table = SnapshotTable(self.spark, os.path.join(self.root, "scd2"))
        self._ckpt_dir = os.path.join(self.root, "checkpoint")

    # -- checkpoint (reference: libs/scd2_spark_processor.py:180-201,491-516)
    # The authoritative checkpoint lives in the snapshot manifest (commit
    # properties), written in the SAME atomic manifest swap as the merged
    # data — a crash can never leave data committed but checkpoint missing
    # (the replay window the reference has between its MERGE and its
    # checkpoint-table write). The parquet checkpoint dir remains as a
    # best-effort audit trail and as the legacy fallback for tables written
    # before properties existed.
    def last_checkpoint(self) -> tuple | None:
        """(last_processed epoch-µs, last lsn or None), or None if fresh."""
        props = self.table.head_properties()
        if props and "last_processed_us" in props:
            return (props["last_processed_us"], props.get("last_processed_lsn"))
        if not os.path.isdir(self._ckpt_dir):  # first run: no checkpoint yet
            return None
        row = (
            self.spark.read.parquet(self._ckpt_dir)
            .agg(
                F.unix_micros(F.max("last_processed_timestamp")).alias("ts_us"),
                F.max("last_processed_lsn").alias("lsn"),
            )
            .collect()[0]
        )
        return None if row["ts_us"] is None else (row["ts_us"], row["lsn"])

    def _batch_watermark(self, batch: DataFrame) -> tuple[int | None, int | None, int]:
        """(max ts epoch-µs, max lsn, row count) of the batch — one small
        aggregate over the already-cached batch (driver-side scalar read,
        the reference's own checkpoint pattern)."""
        row = batch.agg(
            F.unix_micros(F.max(self.ts_col)).alias("ts_us"),
            (F.max(self.lsn_col) if self.lsn_col else F.lit(None).cast("long")).alias(
                "lsn"
            ),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return row["ts_us"], row["lsn"], row["n"]

    def _write_checkpoint_audit(self, ts_us: int, lsn, n: int) -> None:
        """Append the batch's audit row as one parquet file, written with
        pyarrow on the driver: a one-row Spark write would cost a job.
        Timestamps are UTC micros, which Spark reads as `timestamp`."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        utc_us = pa.timestamp("us", tz="UTC")
        row = pa.table(
            {
                "last_processed_us": pa.array([ts_us], pa.int64()),
                "last_processed_lsn": pa.array([lsn], pa.int64()),
                "records_processed": pa.array([n], pa.int64()),
                "last_processed_timestamp": pa.array([ts_us], utc_us),
                "processed_at": pa.array([int(time.time() * 1_000_000)], utc_us),
            }
        )
        os.makedirs(self._ckpt_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        with atomic_open(os.path.join(self._ckpt_dir, name)) as fh:
            pq.write_table(row, fh)

    # -- one batch ----------------------------------------------------------
    def process_batch(self, cdc: DataFrame, committed_at_ms: int | None = None) -> int:
        """Apply new CDC events; returns number of events processed."""
        ckpt = self.last_checkpoint()
        if ckpt is not None:
            last_ts_us, last_lsn = ckpt
            last_ts = F.timestamp_micros(F.lit(last_ts_us))
            ts = F.col(self.ts_col)
            if self.lsn_col and last_lsn is not None:
                # Lexicographic (ts, lsn) watermark: events sharing the
                # checkpointed max timestamp but arriving in a later batch
                # (same-millisecond CDC bursts split across batches) are
                # kept, not silently skipped.
                new = (ts > last_ts) | (
                    (ts == last_ts) & (F.col(self.lsn_col) > F.lit(last_lsn))
                )
            else:
                new = ts > last_ts
            cdc = cdc.filter(new)
            if "dt" in cdc.columns:
                cdc = cdc.filter(
                    F.col("dt") >= F.date_format(last_ts, "yyyy-MM-dd")
                )
        cdc = cdc.cache()  # consumed by merge + checkpoint aggregate
        try:
            ts_us, lsn, n = self._batch_watermark(cdc)
            if n == 0:
                return 0
            existing = self.table.read() if self.table.exists() else None
            if existing is not None and self.partition_by_start_day:
                # dt is a derived DIRECTORY column, not SCD2 state —
                # recomputed fresh on every write
                existing = existing.drop("dt")
            existing, cdc = self._evolve_schema(existing, cdc)
            merged = merge_scd2_batch(
                existing,
                cdc,
                self.key_cols,
                self.attr_cols,
                self.ts_col,
                self.op_col,
                self.order_cols,
                chunked=self.chunked,
            )
            partition_by = None
            if self.partition_by_start_day:
                merged = merged.withColumn(
                    "dt", F.date_format("effective_start_ts", "yyyy-MM-dd")
                )
                partition_by = ["dt"]
            # data + checkpoint in ONE atomic manifest swap
            self.table.write(
                merged,
                partition_by=partition_by,
                committed_at_ms=committed_at_ms,
                properties={
                    "last_processed_us": ts_us,
                    "last_processed_lsn": lsn,
                    "records_processed": n,
                },
            )
            self._write_checkpoint_audit(ts_us, lsn, n)
            return n
        finally:
            cdc.unpersist()

    # -- schema evolution (add-only + safe widening) -------------------------
    def _evolve_schema(
        self, existing: DataFrame | None, cdc: DataFrame
    ) -> tuple[DataFrame | None, DataFrame]:
        """Evolve an existing SCD2 table to this pipeline's attr_cols;
        returns (evolved existing, possibly-upcast cdc batch).

        ADD-ONLY evolution (the Delta/Iceberg mergeSchema contract): an
        attr column new to the table is backfilled as typed NULL on all
        historical versions; the next merge then hashes it everywhere,
        so a key whose new column arrives non-null gets a genuine new
        version, while a key whose values (including the still-null new
        column) are unchanged is hash-suppressed — no spurious
        version storm.

        TYPE WIDENING (the Delta type-widening / Iceberg promotion
        rules: tinyint→smallint→int→bigint, float→double, decimal
        precision growth at fixed scale): a batch arriving with a WIDER
        type than the table — the reference's own sale_date INT-vs-
        BIGINT schizophrenia (SURVEY §1.2) — widens the table with a
        typed backfill cast, so the next snapshot carries the wide type
        everywhere; a batch arriving NARROWER is simply upcast to the
        table's type (input coercion, not evolution). Change
        suppression is unaffected either way because `record_hash`
        stringifies values before hashing (5 renders "5" as int or
        bigint). Any other retype — and dropping a column — is refused:
        silent drops corrupt the hash chain (every key would
        version-bump)."""
        if existing is None:
            return None, cdc
        for c in self.attr_cols:
            if c not in cdc.columns:
                raise ValueError(f"attr column {c!r} missing from the batch")
            if c not in existing.columns:
                existing = existing.withColumn(
                    c, F.lit(None).cast(cdc.schema[c].dataType)
                )
                continue
            et, bt = existing.schema[c].dataType, cdc.schema[c].dataType
            if et == bt:
                continue
            if _is_safe_widening(et, bt):
                existing = existing.withColumn(c, F.col(c).cast(bt))
            elif _is_safe_widening(bt, et):
                cdc = cdc.withColumn(c, F.col(c).cast(et))
            else:
                raise ValueError(
                    f"attr column {c!r} retyped: table has "
                    f"{et.simpleString()}, batch has {bt.simpleString()}; "
                    "only safe widenings (tinyint→smallint→int→bigint, "
                    "float→double, decimal precision growth) evolve"
                )
        return existing, cdc

    # -- reads ---------------------------------------------------------------
    def scd2(self, version: int | None = None, as_of_ms: int | None = None) -> DataFrame:
        return self.table.read(version, as_of_ms)

    def current(self) -> DataFrame:
        """Current non-deleted rows (the README acceptance filter,
        reference README.MD:300-302,324-325)."""
        return self.scd2().filter(F.col("is_current") & ~F.col("is_deleted"))

    def as_of_business_time(self, ts) -> DataFrame:
        """Rows effective at business time ts (interval predicate)."""
        t = F.lit(ts).cast("timestamp")
        return self.scd2().filter(
            (F.col("effective_start_ts") <= t)
            & (F.col("effective_end_ts").isNull() | (F.col("effective_end_ts") > t))
            & ~(F.col("is_deleted") & F.col("effective_end_ts").isNull())
        )
