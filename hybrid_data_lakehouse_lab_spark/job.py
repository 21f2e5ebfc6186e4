"""LakehouseJob — the reference's whole architecture as one callable:
CDC drop dir → bronze stream → compaction → checkpointed SCD2 → serving
views. The Airflow DAG's role (dags/cdc_scd2_dag.py:61-83: staging
check → spark-submit) collapses to `run()`; the staging gate is the
empty-input check inside Scd2Pipeline.process_batch (SURVEY S8).

Each `run()` is incremental and idempotent: the bronze stream drains
only new drop files (its checkpoint), the SCD2 batch only events newer
than ITS checkpoint, and a rerun with nothing new is a no-op — so a
scheduler can invoke it on any cadence, exactly like triggering the
reference's DAG.

Scale: every stage is the already-scale-annotated operator (SCALE.md);
this wrapper adds no driver-side loops — its only actions are the
stream drain and one process_batch. The batch reads only the bronze
`dt` partitions at or after the SCD2 checkpoint's date, so a cycle
costs O(new bronze partitions + SCD2 table), not O(bronze history).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.maintenance import compact_partition_dir
from .operators.pipeline import Scd2Pipeline
from .operators.util import footer_schema
from .streaming import bronze_stream
from .streaming.lanes import read_envelope_stream


@dataclass
class LakehouseJob:
    spark: SparkSession
    root: str
    attr_cols: list[str]
    key_col: str = "id"
    compact: bool = False  # only compact dt partitions the stream is done with
    pipe: Scd2Pipeline = field(init=False)

    def __post_init__(self) -> None:
        self.drop_dir = os.path.join(self.root, "drop")
        self.bronze_dir = os.path.join(self.root, "bronze")
        self.pipe = Scd2Pipeline(
            self.spark,
            os.path.join(self.root, "silver"),
            key_cols=[self.key_col],
            attr_cols=self.attr_cols,
            ts_col="event_timestamp",
            order_cols=["event_timestamp", "lsn"],
        )

    def run(self) -> int:
        """One incremental cycle; returns SCD2 events processed."""
        q = bronze_stream(
            read_envelope_stream(self.spark, self.drop_dir),
            self.bronze_dir,
            os.path.join(self.root, "bronze_ckpt"),
        )
        q.awaitTermination(300)
        parts = self._bronze_partitions()
        if not parts:
            return 0  # nothing ever landed; nothing to process
        if self.compact:
            # Live compaction: the sink log stays intact (the stream resumes
            # into this dir next cycle) and the newest dt partition — still
            # receiving writes — is skipped. Root readers would consult the
            # now-stale log, so every batch read here goes through
            # _read_bronze's partition listing instead.
            compact_partition_dir(
                self.spark,
                self.bronze_dir,
                retire_metadata=False,
                skip_partitions={max(parts)},
            )
        return self.pipe.process_batch(
            self._bronze_as_changes(self.pipe.last_checkpoint())
        )

    def _bronze_partitions(self) -> list[str]:
        return [
            p.rsplit("=", 1)[1]
            for p in glob.glob(os.path.join(self.bronze_dir, "dt=*"))
        ]

    def _read_bronze(self, since_dt: str | None = None) -> DataFrame:
        """Batch-read bronze BYPASSING the file-sink `_spark_metadata` log,
        limited to the `dt` partitions at or after `since_dt` (all of
        them when None).

        Reading the sink root trusts the log, which live compaction makes
        stale (rewritten files are absent from it) — a root read would
        silently drop history. Listing the partition dirs reads real
        files instead; the trade is at-least-once visibility of a crashed
        micro-batch's orphan files, which the lsn dedup in
        _bronze_as_changes cancels. The dirs are passed explicitly (with
        basePath, so `dt` stays a column), so older partitions are
        neither listed nor scanned, and the scan uses the schema Spark
        recorded in the first file's footer: no schema-inference job.
        """
        dirs = [
            os.path.join(self.bronze_dir, f"dt={d}")
            for d in sorted(self._bronze_partitions())
            if since_dt is None or d >= since_dt
        ]
        schema = footer_schema(*dirs)
        reader = self.spark.read.option("basePath", self.bronze_dir)
        return (reader if schema is None else reader.schema(schema)).parquet(*dirs)

    def _bronze_as_changes(self, since: tuple | None = None) -> DataFrame:
        """Bronze rows (before/after images) → keyed change records:
        after image for upserts, before image for deletes — the
        coalesce idiom of the reference's MERGE source (SURVEY F3).

        `since` is the SCD2 checkpoint (epoch-µs, lsn) or None. Given
        one, only the `dt` partitions at or after the checkpoint's date
        are read: an event the (ts, lsn) watermark keeps has
        ts >= checkpoint ts, so its `dt` (the event date, written in the
        session time zone) is at or after the checkpoint's date in that
        zone, and the pruning is exact as long as bronze and the job
        share one session time zone. The checkpoint's own event sits in
        the partition of the checkpoint's date, so at least that one is
        read. Without `since`, all of bronze is read.

        Exactly-once is restored from the listing read's at-least-once
        by deduplicating on lsn (unique per CDC change record). Each
        image column is chosen in one projection and the dedup runs
        once over it: one scan and one shuffle per cycle."""
        since_dt = None if since is None else self._session_date(since[0])

        def image(c: str):
            return (
                F.when(F.col("op") == "d", F.col(f"before_{c}"))
                .otherwise(F.col(f"after_{c}"))
                .alias(c)
            )

        return (
            self._read_bronze(since_dt)
            .select(
                image(self.key_col), *[image(c) for c in self.attr_cols],
                "event_timestamp", "lsn", "op", "dt",
            )
            .dropDuplicates(["lsn"])
        )

    def _session_date(self, ts_us: int) -> str:
        """`yyyy-MM-dd` of epoch-µs `ts_us` in the session time zone,
        the zone bronze's `dt` was formatted in."""
        jvm = self.spark.sparkContext._jvm
        zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            self.spark.conf.get("spark.sql.session.timeZone")
        )
        return (
            jvm.java.time.Instant.ofEpochSecond(ts_us // 1_000_000)
            .atZone(zone)
            .toLocalDate()
            .toString()
        )

    # -- serving views (README acceptance queries) --------------------------
    def current(self) -> DataFrame:
        return self.pipe.current()

    def history(self) -> DataFrame:
        return self.pipe.scd2()

    def revenue_by_category(self) -> DataFrame:
        return (
            self.current()
            .groupBy("category")
            .agg(
                F.sum(
                    F.col("price").cast("double") * F.col("quantity")
                ).alias("revenue")
            )
        )
