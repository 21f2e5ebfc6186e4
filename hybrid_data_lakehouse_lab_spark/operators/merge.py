"""MERGE emulation + incremental SCD2 apply — the reference's batch engine
(libs/scd2_spark_processor.py) re-expressed for plain-parquet tables.

The reference issues three separate Iceberg commits per batch (MERGE
deletes → MERGE close-old → append; libs/scd2_spark_processor.py:438-483),
which SURVEY.md §3.2 flags as non-atomic. Here the whole batch resolves to
ONE DataFrame (merge_scd2_batch) that the caller writes in ONE commit
(SnapshotTable.write → atomic manifest swap in timetravel.py), closing the
crash-between-commits dupe window.

Merge strategy: seed-and-rebuild. For each key touched by the batch, the
table's OPEN row (is_current) is turned back into a synthetic change event
and re-chained together with the batch through the same one-pass window
builder used for initial loads (operators/scd2.py). One code path defines
the semantics; cross-batch no-op suppression (a batch row identical to the
open version) falls out of the chain dedupe for free — a case the
reference misses entirely (its md5 filter only compares within a batch,
libs/scd2_spark_processor.py:306-344).

Scale: closed history NEVER joins anything — it passes through untouched
(partition-pruned scan at rest). Only |current ∩ batch-keys| rows re-chain,
and the batch-key semi-join is broadcastable for typical CDC batch sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scd2 import (
    current_state,
    scd2_from_changes,
    scd2_from_changes_auto,
    scd2_from_changes_chunked,
)


def merge_scd2_batch(
    existing: DataFrame | None,
    changes: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    op_col: str = "op",
    order_cols: list[str] | None = None,
    chunked: bool | str = False,
) -> DataFrame:
    """Apply one CDC batch to an existing SCD2 table; returns the new table.

    Equivalent of the reference's MERGE #1 (delete close-out,
    libs/scd2_spark_processor.py:438-450) + MERGE #2 (version close-out,
    :459-475) + append (:483) in one logical plan. Feed batches in event
    order (enforce with Scd2Pipeline's checkpoint filter); late events
    older than a key's open version are woven deterministically into the
    open segment, but events older than CLOSED history are the caller's
    checkpoint responsibility — same contract as the reference (T5/T6).

    ``chunked=True`` routes both the initial load and the per-batch
    rebuild through ``scd2_from_changes_chunked`` (event-date chunks) —
    the hot-key mitigation for corpora where one entity carries a large
    share of a batch (see tests/test_skew_validation.py).
    ``chunked="auto"`` probes the batch's max per-key multiplicity and
    picks the path at the measured SCD2_CHUNK_THRESHOLD crossover
    (operators/scd2.py:scd2_from_changes_auto) — one partial-agg scan
    per build, worth it when batch skew varies. Output is identical on
    every path; all internal orderings lead with ts_col, so the chunked
    builder's monotonicity precondition holds.
    """
    order_cols = order_cols or [ts_col]
    if chunked == "auto":
        build = scd2_from_changes_auto
    elif chunked:
        build = scd2_from_changes_chunked
    else:
        build = scd2_from_changes

    if existing is None or not existing.columns:
        return build(changes, key_cols, attr_cols, ts_col, op_col, order_cols)

    # no distinct(): a semi/anti join keeps each left row at most once
    # whatever its build side's key multiplicity, and deduplicating the
    # keys costs a shuffle
    batch_keys = changes.select(*key_cols)
    current = existing.filter(F.col("is_current"))
    untouched_current = current.join(batch_keys, key_cols, "left_anti")
    affected_current = current.join(batch_keys, key_cols, "left_semi")

    # Open rows → synthetic seed events at their original start; re-chain
    # seeds + batch through the standard builder. A unique order tiebreak
    # puts seeds FIRST among same-ts events so a replayed first event
    # dedupes against its seed instead of preceding it.
    extra_order = [c for c in order_cols if c != ts_col]
    seed = affected_current.select(
        *key_cols,
        *attr_cols,
        F.col("effective_start_ts").alias(ts_col),
        F.lit("u").alias(op_col),
        *[F.lit(None).cast(changes.schema[c].dataType).alias(c) for c in extra_order],
        F.lit(0).alias("_seq"),
    )
    batch = changes.select(
        *key_cols, *attr_cols, ts_col, op_col, *extra_order, F.lit(1).alias("_seq")
    )
    rebuilt = build(
        seed.unionByName(batch),
        key_cols,
        attr_cols,
        ts_col,
        op_col,
        [ts_col, "_seq", *extra_order],
    )

    cols = [*key_cols, *attr_cols, "record_hash", "effective_start_ts",
            "effective_end_ts", "is_current", "is_deleted"]
    history = existing.filter(~F.col("is_current"))
    return (
        history.select(*cols)
        .unionByName(untouched_current.select(*cols))
        .unionByName(rebuilt.select(*cols))
    )


def latest_wins_upsert(
    existing: DataFrame | None,
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    op_col: str = "op",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed upsert table maintenance (the upsert-kafka / Pinot current-state
    sink, reference scripts/cdc_to_pinot_current.py:125-144): latest event
    per key wins, deletes become soft flags (scripts/cdc_to_pinot_current.py:
    216). Out-of-order batches are safe: an older event never overwrites a
    newer row — the Pinot comparisonColumn policy (T5,
    scripts/pinot_auto/pinot_tables.yaml:32-36).
    """
    batch_latest = current_state(changes, key_cols, ts_col, op_col, order_cols)
    if existing is None or not existing.columns:
        return batch_latest
    combined = existing.unionByName(batch_latest, allowMissingColumns=True)
    w_order = order_cols or [ts_col]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in w_order])
    return (
        combined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
