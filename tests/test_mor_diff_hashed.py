"""Focused tests for the narrow-shuffle transition diffs
(operators/mor_diff.py): rows group by a 128-bit row-value hash instead
of the full-row struct, and each diff validates itself by the count
identity against the footer totals it is given. These pin (a) hashed
output == the full-row-struct reference diff below on duplicate-heavy
and null-heavy data, (b) the null-skip hazard of xxhash64 (null
positions must be part of the hash stream), (c) the pure-delete and
pure-append decisions, and (d) both branches of the byte-sized
broadcast gates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hybrid_data_lakehouse_lab_spark.operators.mor_diff import (
    _append_diff,
    _broadcast_if_small,
    _diff_inputs,
    _fresh_names,
    _position_delete_diff,
    _rank_minus_counts,
    _row_key_cols,
    _upsert_diff,
)


def _rows(spark, d):
    return spark.read.parquet(d).count()


def struct_position_delete_diff(spark, base_dirs, deleted_so_far, child_dir):
    """Reference oracle: the exact full-row-struct position diff. Rows
    group by the struct of every column (null-safe); an excess probe
    returns None when any child value outnumbers the masked base's
    occurrences, else the Σ_k max(0, base_k − child_k) positions."""
    inputs = _diff_inputs(spark, base_dirs, deleted_so_far, child_dir)
    if inputs is None:
        return None
    base, child, (_f, _p, _k, _r, _nc, _h1, _h2) = inputs
    (_nb,) = _fresh_names([*child.columns, _f, _p, _k, _r, _nc], "_nb")
    key = F.struct(*_row_key_cols(child, sorted(child.columns)))
    b = base.withColumn(_k, key).select(_k, _f, _p)
    child_counts = (
        child.withColumn(_k, key).groupBy(_k).agg(F.count(F.lit(1)).alias(_nc))
    )
    base_counts = b.groupBy(_k).agg(F.count(F.lit(1)).alias(_nb))
    cc, bc = child_counts.alias("cc"), base_counts.alias("bc")
    excess = (
        cc.join(bc, F.col(f"cc.{_k}").eqNullSafe(F.col(f"bc.{_k}")), "left")
        .where(F.col(_nb).isNull() | (F.col(_nc) > F.col(_nb)))
        .limit(1)
        .count()
    )
    if excess:
        return None
    return _rank_minus_counts(b, child_counts, [_k], _f, _p, _nc, _r).select(
        F.col(_f).alias("file_path"), F.col(_p).alias("pos")
    )


@pytest.fixture()
def diff_dirs(spark, tmp_path):
    base_d = str(tmp_path / "base")
    child_d = str(tmp_path / "child")
    rows = [
        (i % 7, None if i % 5 == 0 else f"v{i % 3}", float(i % 4))
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "k INT, s STRING, x DOUBLE")
    df.repartition(3).write.parquet(base_d)
    base_back = spark.read.parquet(base_d)
    base_back.where("NOT (k = 3 AND x = 1.0)").repartition(2).write.parquet(
        child_d
    )
    return base_d, child_d


def test_hashed_matches_struct_path(spark, diff_dirs):
    base_d, child_d = diff_dirs
    n_base, n_child = _rows(spark, base_d), _rows(spark, child_d)
    hashed = _position_delete_diff(
        spark, [base_d], None, child_d, n_base, n_child
    )
    struct = struct_position_delete_diff(spark, [base_d], None, child_d)
    h = {(r.file_path, r.pos) for r in hashed.collect()}
    s = {(r.file_path, r.pos) for r in struct.collect()}
    assert h == s and len(h) > 0
    # the count identity the diff validates: |base| - |positions| == |child|
    assert n_base - len(h) == n_child


def test_shrinking_non_submultiset_child_is_not_a_delete(spark, tmp_path):
    """A child with fewer rows that is NOT a sub-multiset of the base
    ((9,'z') is new) must be refused by the diff itself, not left to a
    caller-side check."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "k INT, s STRING"
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema).write.parquet(b)
    spark.createDataFrame([(1, "a"), (9, "z")], schema).write.parquet(c)
    assert _position_delete_diff(spark, [b], None, c, 3, 2) is None
    assert struct_position_delete_diff(spark, [b], None, c) is None


def test_null_positions_enter_the_hash_stream(spark, tmp_path):
    """xxhash64 SKIPS null children, so (null,'a') and ('a',null) hash
    equal without the isnull interleave — this data would then delete
    the wrong row. The hashed diff must delete a (null,'a') occurrence,
    never the ('a',null) row."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "s1 STRING, s2 STRING, x DOUBLE"
    spark.createDataFrame(
        [(None, "a", 1.0), ("a", None, 1.0), (None, "a", 1.0)], schema
    ).write.parquet(b)
    spark.createDataFrame(
        [(None, "a", 1.0), ("a", None, 1.0)], schema
    ).write.parquet(c)
    d = _position_delete_diff(spark, [b], None, c, 3, 2)
    positions = d.collect()
    assert len(positions) == 1
    full = (
        spark.read.parquet(b)
        .withColumn(
            "_ff",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^[a-zA-Z0-9+.-]+:/+", "/"
            ),
        )
        .withColumn("_pp", F.col("_metadata.row_index"))
    )
    deleted = (
        full.join(
            d,
            (full["_ff"] == d["file_path"]) & (full["_pp"] == d["pos"]),
        )
        .select("s1", "s2")
        .collect()
    )
    assert deleted[0].s1 is None and deleted[0].s2 == "a"


def test_append_diff_matches_exceptall(spark, tmp_path):
    """The narrow append diff must return exactly child − base as a
    multiset (the former exceptAll semantics), including duplicate and
    null rows, and must return None when base ⊄ child."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "k INT, s STRING"
    base_rows = [(1, "a"), (1, "a"), (2, None), (3, "c")]
    appended_rows = [(1, "a"), (2, None), (9, "z")]
    spark.createDataFrame(base_rows, schema).repartition(2).write.parquet(b)
    spark.createDataFrame(base_rows + appended_rows, schema).repartition(
        2
    ).write.parquet(c)
    n_base = len(base_rows)
    out = _append_diff(
        spark, [b], None, c, n_base, n_base + len(appended_rows)
    )
    got = sorted([tuple(r) for r in out.collect()])
    ref = sorted(
        [
            tuple(r)
            for r in spark.read.parquet(c)
            .exceptAll(spark.read.parquet(b))
            .collect()
        ]
    )
    assert got == ref == sorted(appended_rows)
    # not-an-append: child missing a base row ((3,'c') is dropped and
    # never re-appended)
    c2 = str(tmp_path / "c2")
    spark.createDataFrame(
        base_rows[:3] + appended_rows, schema
    ).write.parquet(c2)
    assert (
        _append_diff(spark, [b], None, c2, n_base, _rows(spark, c2)) is None
    )


def test_upsert_diff_single_join_semantics(spark, tmp_path):
    """The round-12 single-key-join upsert diff must classify exactly
    like the former double anti-join: changed = new + updated child
    rows, del_keys = deleted + replaced parent keys, null keys matched
    null-safely."""
    b, c = str(tmp_path / "p"), str(tmp_path / "c")
    schema = "id INT, v STRING, x DOUBLE"
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (None, "n", 0.0)],
        schema,
    ).write.parquet(b)
    spark.createDataFrame(
        [
            (1, "a", 1.0),  # unchanged
            (2, "B", 2.0),  # updated
            (6, "f", 6.0),  # new
            (None, "n2", 0.0),  # null key, updated
        ],
        schema,
    ).write.parquet(c)
    changed, del_keys = _upsert_diff(spark, b, c, ["id"])
    got_changed = sorted(
        [tuple(r) for r in changed.collect()], key=lambda t: (t[0] is None, t)
    )
    assert got_changed == [(2, "B", 2.0), (6, "f", 6.0), (None, "n2", 0.0)]
    got_del = sorted([r.id for r in del_keys.collect()], key=lambda v: (v is None, v))
    assert got_del == [2, 3, None]
    assert [f.name for f in del_keys.schema.fields] == ["id"]
    # non-unique key still refuses loudly
    c2 = str(tmp_path / "c2")
    spark.createDataFrame([(1, "a", 1.0), (1, "z", 9.0)], schema).write.parquet(c2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not unique"):
        _upsert_diff(spark, b, c2, ["id"])


def test_prior_deletes_masked_before_hashing(spark, tmp_path):
    """Already-deleted positions must be excluded from the base before
    the hash diff (same contract as the struct path)."""
    b, c = str(tmp_path / "b"), str(tmp_path / "c")
    schema = "k INT, s STRING"
    spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "c")], schema
    ).coalesce(1).write.parquet(b)
    # prior delete: one (1, 'a') occurrence (pos 0 of the single file)
    f = [
        x
        for x in os.listdir(b)
        if x.endswith(".parquet") and not x.startswith((".", "_"))
    ][0]
    prior = spark.createDataFrame(
        [(os.path.join(b, f), 0)], "file_path STRING, pos BIGINT"
    )
    # child drops the remaining (1,'a') and keeps (2,'b'), (3,'c')
    spark.createDataFrame([(2, "b"), (3, "c")], schema).write.parquet(c)
    d = _position_delete_diff(spark, [b], prior, c, 3, 2)
    positions = {(r.file_path, r.pos) for r in d.collect()}
    assert positions == {(os.path.join(b, f), 1)}


def _broadcasts(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_broadcast_gates_follow_the_byte_threshold(spark, tmp_path):
    """The diffs' broadcast hints are sized in bytes against Spark's own
    autoBroadcastJoinThreshold: within it the small side is hinted,
    above it the hint is dropped and Spark plans a shuffle join. Both
    branches must give the same (exact) answer, on the partial-group
    verification and the append semi-join alike."""
    b, c, c2 = (str(tmp_path / x) for x in ("b", "c", "c2"))
    schema = "k INT, s STRING"
    base_rows = [(1, "a"), (1, "a"), (2, "b"), (3, "c")] * 3
    spark.createDataFrame(base_rows, schema).repartition(2).write.parquet(b)
    # child drops duplicate occurrences (partial groups) ...
    spark.createDataFrame(base_rows[:-4], schema).write.parquet(c)
    # ... or appends duplicates of existing values (partial groups)
    spark.createDataFrame(
        base_rows + [(1, "a"), (9, "z")], schema
    ).write.parquet(c2)
    left = spark.range(1000).withColumnRenamed("id", "k")
    small = spark.range(10).withColumnRenamed("id", "k")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    results = []
    try:
        for threshold in (str(64 << 20), "1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            hinted = _broadcast_if_small(spark, small, 160)
            assert _broadcasts(left.join(hinted, "k", "left_semi")) == (
                threshold != "1"
            )
            d = _position_delete_diff(spark, [b], None, c, 12, 8)
            a = _append_diff(spark, [b], None, c2, 12, 14)
            results.append(
                (
                    sorted((r.file_path, r.pos) for r in d.collect()),
                    sorted(tuple(r) for r in a.collect()),
                )
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    ref = struct_position_delete_diff(spark, [b], None, c)
    assert results[0] == results[1]
    assert results[0][0] == sorted((r.file_path, r.pos) for r in ref.collect())
    assert results[0][1] == [(1, "a"), (9, "z")]
