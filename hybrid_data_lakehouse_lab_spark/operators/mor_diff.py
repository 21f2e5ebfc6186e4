"""Shared merge-on-read transition diffs for the table-format exporters.

The Iceberg exporter (operators/iceberg_meta.py: v2 positional delete
files, v3 deletion vectors, incremental appends) and the Delta exporter
(operators/delta_log.py, deletion vectors) re-express a snapshot
transition as "parent's files + deleted (file, row-position) pairs" or
"parent's files + appended rows". This module is the one place that
decides whether a transition is a pure delete or a pure append: each
diff validates its own result against the caller's parquet-footer row
totals and returns pinned positions (or the appended rows), or None —
the caller then exports the always-correct rewrite model.
"""

from __future__ import annotations

_SCHEME_RE = "^[a-zA-Z0-9+.-]+:/+"


def _fresh_names(taken, *bases) -> list[str]:
    """Working-column names guaranteed absent from `taken` (a table with
    a real `_f`/`_rk`/... column must not have it silently replaced by
    `withColumn` and then excluded from the identity key — that would
    corrupt the exported diff). Prepends underscores until unique."""
    taken = set(taken)
    out = []
    for b in bases:
        n = b
        while n in taken:
            n = "_" + n
        taken.add(n)
        out.append(n)
    return out


def guard_reserved_columns(columns, reserved, context: str) -> None:
    """Refuse loudly when a snapshot schema collides with a reader's
    internal working columns (`withColumn` would silently replace the
    data column). Readers that join against literal-schema mapping
    frames can't rename on the fly, so an explicit error beats silent
    column loss."""
    clash = sorted(set(columns) & set(reserved))
    if clash:
        raise ValueError(
            f"{context}: table schema contains reserved working column"
            f" name(s) {clash}; rename the column(s) to read this table"
        )


def _row_key_cols(df, cols):
    """Columns for a full-row struct compare key, with VariantType
    columns replaced by their JSON string cast — variant is not
    comparable/groupable in Spark, and for diff purposes two rows are
    equal iff their variants' canonical JSON forms are equal (the same
    binary always prints the same JSON)."""
    from pyspark.sql import functions as F

    vt = {
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() == "variant"
    }
    return [
        F.col(c).cast("string").alias(c) if c in vt else F.col(c)
        for c in cols
    ]


#: Salt for the second 64-bit hash lane of the 128-bit row-value hash.
#: Any fixed non-zero literal works; prepending it to the column list
#: shifts the whole xxhash64 running-hash chain, making the two lanes
#: behave as independent hash functions.
_H2_SALT = -6148914691236517206  # 0xAAAA...AAAA as signed int64


def _row_hash_cols(df, cols):
    """Two xxhash64 columns forming a 128-bit hash of the row VALUE
    (the same value semantics as the full-row struct key in
    `_row_key_cols`: variant columns compare by canonical JSON).

    Null handling: Spark's xxhash64 SKIPS null inputs (the running
    hash is unchanged for a null child), so (null, 'a') and ('a', null)
    would collide deterministically. Interleaving an `isnull` flag per
    column re-injects the null positions into the hash stream, so only
    genuine 128-bit collisions remain (~N²/2¹²⁹ for N rows).

    Float nuance: struct grouping normalizes -0.0/0.0 and NaN
    (`normalizenanandzero`); xxhash64 hashes raw bits, so a base -0.0
    row and a child 0.0 row land in DIFFERENT hash groups. That can
    only make the diff more conservative — the child-side group shows
    excess, the count identity fails, the diff returns None, and the
    exporter falls back to the (always correct) rewrite model. It can
    never select a wrong position."""
    from pyspark.sql import functions as F

    kcols = _row_key_cols(df, cols)
    hcols = []
    for c in kcols:
        hcols.append(c)
        hcols.append(F.isnull(c))
    return F.xxhash64(*hcols), F.xxhash64(F.lit(_H2_SALT), *hcols)


def _rank_minus_counts(
    base_kfp, child_counts, k_cols, _f, _p, _nc, _r, keep_nc: bool = False
):
    """Shared core of the position diff: rank base occurrences per key
    group by (file, pos) and keep the occurrences ranked past the
    child's multiplicity for that key — Σ_k max(0, base_k − child_k)
    positions. `k_cols` is the grouping key column name list (full-row
    struct or 128-bit hash pair); join is null-safe only for the struct
    form (hashes are never null, and plain equi-keys keep the join a
    hash join with small codegen). With `keep_nc` the joined child
    multiplicity rides along (null = the key vanished from the child
    entirely) — the hash paths use it to split fully-deleted groups,
    which are exact by construction, from partially-deleted ones, which
    need the collision verification."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(*k_cols).orderBy(_f, _p)
    ranked = base_kfp.withColumn(_r, F.row_number().over(w)).alias("rk")
    cc = child_counts.alias("cc")
    if len(k_cols) == 1:
        cond = F.col(f"rk.{k_cols[0]}").eqNullSafe(F.col(f"cc.{k_cols[0]}"))
    else:
        cond = None
        for k in k_cols:
            e = F.col(f"rk.{k}") == F.col(f"cc.{k}")
            cond = e if cond is None else (cond & e)
    keep = [F.col(f"rk.{c}").alias(c) for c in base_kfp.columns]
    if keep_nc:
        keep.append(F.col(_nc))
    return (
        ranked.join(cc, cond, "left")
        .where(F.col(_nc).isNull() | (F.col(_r) > F.col(_nc)))
        # re-qualify: both sides carry the key columns after the join
        .select(*keep)
    )


def _with_file_pos(df, _f, _p):
    """`df` plus the (scheme-less file path, row index) of each row."""
    from pyspark.sql import functions as F

    return df.withColumn(
        _f, F.regexp_replace(F.col("_metadata.file_path"), _SCHEME_RE, "/")
    ).withColumn(_p, F.col("_metadata.row_index"))


def _diff_inputs(spark, base_dirs: list[str], deleted_so_far, child_dir: str):
    """The two sides of a transition diff: `(base, child, names)` where
    `base` is the MASKED base — the union of `base_dirs`' files (the
    base snapshot plus any append-delta dirs) minus the already-deleted
    positions in `deleted_so_far`, a DataFrame(file_path, pos) or None —
    carrying its (file, pos) columns, `child` is the child scan, and
    `names` are the working-column names (_f, _p, _k, _r, _nc, _h1, _h2)
    made fresh against the table's columns. None when the child's
    schema differs from a base dir's: a schema change is never a pure
    delete or append."""
    from pyspark.sql import functions as F

    scans = [spark.read.parquet(d) for d in base_dirs]
    child = spark.read.parquet(child_dir)
    if any(sorted(s.dtypes) != sorted(child.dtypes) for s in scans):
        return None
    names = _fresh_names(
        child.columns, "_f", "_p", "_k", "_r", "_nc", "_h1", "_h2"
    )
    _f, _p = names[:2]
    base = None
    for s in scans:
        part = _with_file_pos(s, _f, _p)
        base = part if base is None else base.unionByName(part)
    if deleted_so_far is not None:
        dels = deleted_so_far.select(
            F.col("file_path").alias(_f), F.col("pos").alias(_p)
        )
        base = base.join(F.broadcast(dels), [_f, _p], "left_anti")
    return base, child, names


def _broadcast_if_small(spark, df, est_bytes: int):
    """`df` hinted for broadcast when `est_bytes` fits Spark's own
    `spark.sql.autoBroadcastJoinThreshold`; unhinted above it (or when
    the threshold disables broadcasts), so Spark plans a shuffle join
    instead of collecting an oversized table and shipping it to every
    executor."""
    from pyspark.sql import functions as F

    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return F.broadcast(df) if est_bytes <= limit else df


def _hashed_excess(spark, left, right, left_rows: int, right_rows: int, names):
    """Positions (_f, _p) of the `left` rows in excess of `right`'s
    multiplicity for the same row value — Σ_k max(0, left_k − right_k)
    per value k — localCheckpoint-pinned. Returns (positions, count,
    longest path in bytes), or None unless `right` is a sub-multiset of
    `left`: the count identity |positions| == left_rows − right_rows
    (both from parquet footers) holds exactly then, and the partial
    groups' collision verification must reproduce the positions.

    NARROW SHUFFLE: rows group by a 128-bit row-value hash (two xxhash64
    lanes) instead of the full-row struct, so the one shuffle carries
    (hash, file, pos) — ~32 B + path per row — rather than every data
    column. The count, the partial-group count and the longest path are
    one aggregation, observed on the job that pins the candidates — no
    job of its own, and only three numbers leave the executors.

    Collision verification — PARTIAL groups only. A candidate group
    whose joined `right` multiplicity is NULL is absent from `right`
    entirely; taking ALL its occurrences is exact even under a hash
    collision, because any colliding value's `right` rows would hash
    into the same group. Only groups `right` partially covers depend on
    the ranking choosing value-correct occurrences, so only they are
    re-diffed on the full-value struct key, restricted to the affected
    hash groups, and must reproduce the candidate positions exactly.
    On unique-row tables that set is empty and verification is free —
    measured: a blanket affected-group verification re-scanned both
    sides per commit and cost more than the narrow shuffle saved."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    _f, _p, _k, _r, _nc, _h1, _h2 = names
    cols = sorted(c for c in right.columns if c not in (_f, _p))
    h1, h2 = _row_hash_cols(right, cols)

    def hashed(df):
        return df.withColumn(_h1, h1).withColumn(_h2, h2)

    right_counts = (
        hashed(right).groupBy(_h1, _h2).agg(F.count(F.lit(1)).alias(_nc))
    )
    stats = Observation()
    cand = (
        _rank_minus_counts(
            hashed(left).select(_h1, _h2, _f, _p),
            right_counts,
            [_h1, _h2],
            _f,
            _p,
            _nc,
            _r,
            keep_nc=True,
        )
        .observe(
            stats,
            F.count(F.lit(1)).alias("n"),
            F.count(_nc).alias("n_partial"),
            F.max(F.octet_length(_f)).alias("width"),
        )
        .localCheckpoint()
    )
    got = stats.get
    n, n_partial, width = got["n"], got["n_partial"], got["width"]
    if n != left_rows - right_rows:
        return None  # `right` holds a value beyond `left`'s multiplicity
    if n_partial:
        partial = cand.where(F.col(_nc).isNotNull())
        aff = _broadcast_if_small(
            spark, partial.select(_h1, _h2).distinct(), n_partial * 16
        )
        key = F.struct(*_row_key_cols(right, cols))

        def affected(df):
            return (
                hashed(df)
                .join(aff, [_h1, _h2], "left_semi")
                .withColumn(_k, key)
            )

        exact = (
            _rank_minus_counts(
                affected(left).select(_k, _f, _p),
                affected(right).groupBy(_k).agg(F.count(F.lit(1)).alias(_nc)),
                [_k],
                _f,
                _p,
                _nc,
                _r,
            )
            .select(_f, _p)
            .localCheckpoint()
        )
        if (
            exact.count() != n_partial
            or exact.join(partial, [_f, _p], "inner").count() != n_partial
        ):
            return None  # 128-bit collision in a partial group: rewrite
    return cand.select(_f, _p), n, width or 0


def _position_delete_diff(
    spark,
    base_dirs: list[str],
    deleted_so_far,
    child_dir: str,
    base_rows: int,
    child_rows: int,
):
    """If `child_dir`'s rows are a sub-multiset of the MASKED base (see
    `_diff_inputs`), return a pinned DataFrame(file_path STRING, pos
    BIGINT) of the NEW positions to delete; else None (the transition
    needs a rewrite, not a delete). `base_rows` (masked live rows) and
    `child_rows` are the callers' parquet-footer totals.

    Distributed by construction — no driver-side row materialization:
    one shuffle groups base rows by row value, `row_number()` over
    (file, pos) ranks duplicate occurrences deterministically, and
    occurrences ranked past the child's multiplicity for that value are
    the deleted positions. The sub-multiset check is the count identity
    base_rows − |positions| == child_rows on those same positions
    (`_hashed_excess`), so no separate probe job runs."""
    from pyspark.sql import functions as F

    inputs = _diff_inputs(spark, base_dirs, deleted_so_far, child_dir)
    if inputs is None:
        return None
    base, child, names = inputs
    out = _hashed_excess(spark, base, child, base_rows, child_rows, names)
    if out is None:
        return None
    _f, _p = names[:2]
    return out[0].select(F.col(_f).alias("file_path"), F.col(_p).alias("pos"))


def _append_diff(
    spark,
    base_dirs: list[str],
    deleted_so_far,
    child_dir: str,
    base_rows: int,
    child_rows: int,
):
    """If `child_dir`'s rows are a super-multiset of the MASKED base (see
    `_diff_inputs`), return a DataFrame of the APPENDED rows (child
    minus base — exact multiset difference); else None (the transition
    needs a rewrite, not an append). `base_rows` (masked live rows) and
    `child_rows` are the callers' parquet-footer totals.

    Mirror image of `_position_delete_diff`: the child occurrences
    ranked past the base's multiplicity per row value are the appended
    positions, validated by |positions| == child_rows − base_rows. The
    appended FULL rows move exactly once: a (file, pos) semi-join
    against the child scan (they would move into the append files
    regardless)."""
    inputs = _diff_inputs(spark, base_dirs, deleted_so_far, child_dir)
    if inputs is None:
        return None
    base, child, names = inputs
    if any(t == "variant" for _, t in child.dtypes):
        # the appended rows must keep their original binary form, and
        # the exact verification pass compares full values — fall back
        # to the (always correct) rewrite model for variant tables
        return None
    _f, _p = names[:2]
    child_fp = _with_file_pos(child, _f, _p)
    out = _hashed_excess(spark, child_fp, base, child_rows, base_rows, names)
    if out is None:
        return None
    pos, n, width = out
    return child_fp.join(
        _broadcast_if_small(spark, pos, n * (width + 8)), [_f, _p], "left_semi"
    ).select(*child.columns)


def _parquet_row_count(path: str) -> int:
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_rows
    except OSError:
        # files holding a Parquet VARIANT logical type are rejected by
        # this container's pyarrow ("Thrift LogicalType that is not
        # recognized"); DuckDB's reader handles them — footer-only
        # count, no data scan
        import duckdb

        # parameterized read_parquet: a quote or glob metachar in the
        # path must not break the query or trigger DuckDB globbing
        return duckdb.execute(
            "SELECT count(*) FROM read_parquet(?)", [path]
        ).fetchone()[0]


def finalize_spark_parts(
    out_dir: str, prefix: str, drop_empty: bool = True
) -> list[dict]:
    """Post-process a Spark parquet output directory into deterministic
    spec-file references: remove _SUCCESS and friends, drop zero-row
    part files (optional), rename parts to `{prefix}-NNNNN.parquet` in
    sorted walk order (stable names across re-exports), and decode hive
    partition dirs into raw-string partition values. One implementation
    shared by the position-delete, equality-delete/upsert and
    change-data writers — the rename/cleanup contract must not drift
    between them. Returns [{path, record_count, size, partition}];
    removes `out_dir` entirely when nothing survives."""
    import os
    import urllib.parse

    part_files = []
    for dirpath, dirnames, filenames in os.walk(out_dir):
        dirnames.sort()
        for fn in sorted(filenames):
            full = os.path.join(dirpath, fn)
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                part_files.append((dirpath, fn))
            elif os.path.isfile(full) and not fn.endswith(".parquet"):
                os.remove(full)  # _SUCCESS & friends
    out = []
    j = 0
    for dirpath, fn in part_files:
        full = os.path.join(dirpath, fn)
        num_rows = _parquet_row_count(full)  # pyarrow, VARIANT fallback
        if drop_empty and num_rows == 0:
            os.remove(full)
            continue
        dst = os.path.join(dirpath, f"{prefix}-{j:05d}.parquet")
        os.replace(full, dst)
        partition = {}
        for seg in os.path.relpath(dirpath, out_dir).split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                partition[k] = (
                    None
                    if v == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(v)
                )
        out.append(
            {
                "path": dst,
                "record_count": num_rows,
                "size": os.path.getsize(dst),
                "partition": partition,
            }
        )
        j += 1
    if not out:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
    return out


def _upsert_diff(
    spark,
    parent_dir: str,
    child_dir: str,
    key: list[str],
    verified_unique: set | None = None,
):
    """Diff two snapshot directories under PRIMARY-KEY semantics for
    equality-delete (Flink-style upsert) export: returns
    (changed_or_new_rows, deleted_or_replaced_keys) — the rows a MoR
    writer appends as a new data file, and the key tuples it writes to
    an equality delete file. `(None, None)` if the schemas differ (the
    transition needs a rewrite). Raises if `key` is not unique in
    either snapshot — equality deletes are only sound against a PK.

    Fully distributed, ONE key-partitioned join (round 12, guide
    §2.3/§2.4): the former form ran two null-safe anti-joins on a
    full-row struct key, shuffling each table's full width twice plus
    the duplicated struct. Under the (probed) PK uniqueness the same
    semantics decompose over the key: a child row is changed-or-new iff
    its key is absent from the parent or any column differs; a parent
    key is deleted-or-replaced iff absent from the child or any column
    differs. One full-outer join on the KEY columns (null-safe) moves
    each table once, the delta-sized classification is
    localCheckpoint-pinned, and both outputs derive from the pinned
    frame — the two downstream writer jobs recompute nothing. Exact (no
    hashing): values compare column-by-column null-safely, variant via
    its canonical-JSON cast, same as the struct key compared.

    Two key-uniqueness probes (groupBy + limit 1) still guard the PK
    precondition. Pass `verified_unique` (a mutable set of
    already-probed snapshot dirs) when diffing a chain — each dir is
    the child of one commit and the parent of the next, so caching
    halves the probe jobs."""
    from pyspark.sql import functions as F

    parent = spark.read.parquet(parent_dir)
    child = spark.read.parquet(child_dir)
    if sorted(parent.columns) != sorted(child.columns):
        return None, None
    missing = [k for k in key if k not in child.columns]
    if missing:
        raise ValueError(f"upsert_key columns {missing} not in snapshot schema")
    (_n, _cm, _pm, _pk) = _fresh_names(child.columns, "_n", "_cm", "_pm", "_pk")
    for name, df, d in (("parent", parent, parent_dir), ("child", child, child_dir)):
        if verified_unique is not None and d in verified_unique:
            continue
        if (
            df.groupBy(*key)
            .agg(F.count(F.lit(1)).alias(_n))
            .where(F.col(_n) > 1)
            .limit(1)
            .count()
        ):
            raise ValueError(
                f"upsert_key {key} is not unique in the {name} snapshot ({d})"
            )
        if verified_unique is not None:
            verified_unique.add(d)
    cols = sorted(child.columns)
    vt = {
        f.name
        for f in child.schema.fields
        if f.dataType.simpleString() == "variant"
    }

    def _cmp(side: str, col: str) -> F.Column:
        c = F.col(f"{side}.{col}")
        return c.cast("string") if col in vt else c

    c = child.withColumn(_cm, F.lit(1)).alias("c")
    p = parent.withColumn(_pm, F.lit(1)).alias("p")
    cond = None
    for k in key:
        e = _cmp("c", k).eqNullSafe(_cmp("p", k))
        cond = e if cond is None else (cond & e)
    differ = F.lit(False)
    for col in cols:
        if col in key:
            continue
        differ = differ | ~_cmp("c", col).eqNullSafe(_cmp("p", col))
    delta = (
        c.join(p, cond, "full_outer")
        .where(F.col(_pm).isNull() | F.col(_cm).isNull() | differ)
        .select(
            F.col(_cm),
            F.col(_pm),
            *[F.col(f"c.{col}").alias(col) for col in child.columns],
            F.struct(*[F.col(f"p.{k}").alias(k) for k in key]).alias(_pk),
        )
        .localCheckpoint()
    )
    changed = delta.where(F.col(_cm).isNotNull()).select(*child.columns)
    del_keys = delta.where(F.col(_pm).isNotNull()).select(
        *[F.col(f"{_pk}.{k}").alias(k) for k in key]
    )
    return changed, del_keys
