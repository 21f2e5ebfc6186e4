"""Shared merge-on-read transitions for the table-format exporters.

The Iceberg exporter (operators/iceberg_meta.py: v2 positional delete
files, v3 deletion vectors, incremental appends) and the Delta exporter
(operators/delta_log.py, deletion vectors) render one pointer history
as commits. `MorBase.transition` is the one place that decides what
each snapshot's transition is: a maintenance commit (compaction or
minor compaction), a pure delete, a pure append, or a rewrite. Each
diff validates its own result against the caller's parquet-footer row
totals and writes the positions it found, or returns None — the caller
then exports the always-correct rewrite model. `MorBase` holds the
state both exporters carry between diffs: the base files, the mask of
positions deleted since the last rewrite and the per-file deletion
vectors. It also keeps the change-set ledger (`_mor_ledger/` under the
table root): each transition's positions and folded deletion vectors
are computed once, keyed by the base state they were diffed against,
and every later export of any dialect on that root reads them back.
`scan_files` is the scan both the diffs' callers and the three table
readers use to name a row's file and position.
"""

from __future__ import annotations

import base64
import contextlib
import functools
import hashlib
import json
import os
import shutil
import urllib.parse
from dataclasses import dataclass

_SCHEME_RE = "^[a-zA-Z0-9+.-]+:/+"
#: The change-set ledger's directory under a table root (`MorBase`).
LEDGER_DIR = "_mor_ledger"
_POS_SCHEMA = "file_path STRING, pos BIGINT"


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


def _with_file_pos(df, _f, _p=None):
    """`df`, a parquet scan, plus each row's file (`_f`) and, when `_p`
    is named, its row index in that file. The file is Spark's
    `_metadata.file_path` URI turned back into the local path: scheme
    stripped, percent-escapes decoded, so it equals the
    `os.path.abspath` every caller keys its files by, also under a root
    or partition value holding a space or a `%`. `url_decode` is form
    decoding, so a literal `+` is escaped first. Both columns are
    deterministic (the file-name function is not), so a filter above
    them still pushes into the scan, and the row index stays the
    physical position when that filter skips row groups."""
    from pyspark.sql import functions as F

    uri = F.regexp_replace(F.col("_metadata.file_path"), _SCHEME_RE, "/")
    path = F.url_decode(F.regexp_replace(uri, r"\+", "%2B"))
    # Spark types `url_decode` nullable; falling back to the (never
    # null) URI keeps the column required, as the position-delete files
    # written from it declare
    df = df.withColumn(_f, F.coalesce(path, uri))
    return df if _p is None else df.withColumn(_p, F.col("_metadata.row_index"))


def scan_files(spark, paths, schema, pos: bool = False, file_map=None):
    """Read the parquet files `paths` with `schema`. With `pos` or a
    `file_map` each row also carries its file as `_file`
    (`_with_file_pos`), plus its row index as `_pos` with `pos`.
    `file_map` is `(fields, rows)`: StructFields and one `(path,
    *values)` row per file and value set, joined on `_file` as a
    broadcast map (a file listed twice fans its rows out). A schema
    column named like one of these working columns is refused rather
    than silently replaced."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .util import local_frame

    df = spark.read.schema(schema).parquet(*paths)
    if not pos and file_map is None:
        return df
    fields, rows = file_map or ([], None)
    clash = sorted(set(schema.names) & {"_file", "_pos", *(f.name for f in fields)})
    if clash:
        raise ValueError(
            f"table schema contains reserved working column name(s) {clash};"
            " rename the column(s) to read this table"
        )
    df = _with_file_pos(df, "_file", "_pos" if pos else None)
    if file_map is None:
        return df
    mapping = local_frame(
        spark, rows, T.StructType([T.StructField("_file", T.StringType()), *fields])
    )
    return df.join(F.broadcast(mapping), "_file")


def _diff_inputs(
    spark,
    base_dirs: list[str],
    deleted_so_far,
    child_dir: str,
    mask_rows: int | None = None,
    base_schema=None,
    child_schema=None,
):
    """The two sides of a transition diff: `(base, child, names)` where
    `base` is the MASKED base — the union of `base_dirs`' files (the
    base snapshot plus any append-delta dirs) minus the already-deleted
    positions in `deleted_so_far`, a DataFrame(file_path, pos) or None —
    carrying its (file, pos) columns, `child` is the child scan, and
    `names` are the working-column names (_f, _p, _k, _r, _nc, _h1, _h2)
    made fresh against the table's columns. None when the child's
    schema differs from a base dir's: a schema change is never a pure
    delete or append. Every base dir is read with `base_schema` and the
    child with `child_schema`, the data schemas the snapshot manifest
    records (`util.read_parquet`; None infers).

    `mask_rows` is the row count of `deleted_so_far`, known without a
    job (`MorBase` tracks it from the count identities). The mask is
    broadcast only when rows x (longest base path + 8 B) fits
    `spark.sql.autoBroadcastJoinThreshold` (`_broadcast_if_small`)."""
    from pyspark.sql import functions as F

    from .util import read_parquet

    if deleted_so_far is not None and mask_rows is None:
        raise ValueError("a prior-delete mask needs its row count (mask_rows)")
    scans = [read_parquet(spark, base_schema, d) for d in base_dirs]
    child = read_parquet(spark, child_schema, child_dir)
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
        # the mask's paths are base files: size it by the longest one
        width = max(
            (len(p.encode()) for s in scans for p in s.inputFiles()),
            default=0,
        )
        dels = _broadcast_if_small(spark, dels, mask_rows * (width + 8))
        base = base.join(dels, [_f, _p], "left_anti")
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


def _hashed_excess(spark, left, right, left_rows: int, right_rows: int, names, out):
    """Write the positions of the `left` rows in excess of `right`'s
    multiplicity for the same row value — Σ_k max(0, left_k − right_k)
    per value k — as parquet (file_path, pos, partial) at `out`. The
    write is the pin: every later use reads those files. Returns
    (count, longest path in bytes), or None, with `out` removed, unless
    `right` is a sub-multiset of `left`: the count identity |positions|
    == left_rows − right_rows (both from parquet footers) holds exactly
    then, and the partial groups' collision verification must reproduce
    the positions.

    NARROW SHUFFLE: rows group by a 128-bit row-value hash (two xxhash64
    lanes) instead of the full-row struct, so the one shuffle carries
    (hash, file, pos) — ~32 B + path per row — rather than every data
    column. The count, the partial-group count and the longest path are
    one aggregation, observed on the job that writes the positions — no
    job of its own, and only three numbers leave the executors.

    Collision verification — PARTIAL groups only. A candidate group
    whose joined `right` multiplicity is NULL is absent from `right`
    entirely; taking ALL its occurrences is exact even under a hash
    collision, because any colliding value's `right` rows would hash
    into the same group. Only groups `right` partially covers depend on
    the ranking choosing value-correct occurrences (`partial` marks
    their positions), so only they are re-diffed on the full-value
    struct key, restricted to the affected hash groups, and must
    reproduce the marked positions exactly. On unique-row tables that
    set is empty and verification is free — measured: a blanket
    affected-group verification re-scanned both sides per commit and
    cost more than the narrow shuffle saved."""
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
    (
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
        .select(
            F.col(_f).alias("file_path"),
            F.col(_p).alias("pos"),
            F.col(_nc).isNotNull().alias("partial"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )
    got = stats.get
    n, n_partial, width = got["n"], got["n_partial"], got["width"]
    # the count identity holds exactly when `right` is a sub-multiset
    # of `left`
    ok = n == left_rows - right_rows
    if ok and n_partial:
        partial = (
            spark.read.schema(f"{_POS_SCHEMA}, partial BOOLEAN")
            .parquet(out)
            .where("partial")
            .select(F.col("file_path").alias(_f), F.col("pos").alias(_p))
        )
        aff = _broadcast_if_small(
            spark,
            hashed(left).join(partial, [_f, _p], "left_semi").select(_h1, _h2).distinct(),
            n_partial * 16,
        )
        key = F.struct(*_row_key_cols(right, cols))

        def affected(df):
            return hashed(df).join(aff, [_h1, _h2], "left_semi").withColumn(_k, key)

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
        # a 128-bit collision in a partial group fails this
        ok = (
            exact.count() == n_partial
            and exact.join(partial, [_f, _p], "inner").count() == n_partial
        )
    if not ok:
        shutil.rmtree(out, ignore_errors=True)
        return None
    return n, width or 0


def _position_delete_diff(
    spark,
    base_dirs: list[str],
    deleted_so_far,
    child_dir: str,
    base_rows: int,
    child_rows: int,
    out: str,
    mask_rows: int | None = None,
    base_schema=None,
    child_schema=None,
):
    """If `child_dir`'s rows are a sub-multiset of the MASKED base (see
    `_diff_inputs`), write the NEW positions to delete as parquet
    (`read_positions` reads them) at `out` and return (count, longest
    path in bytes); else None (the transition needs a rewrite, not a
    delete). `base_rows` (masked live rows) and `child_rows` are the
    callers' parquet-footer totals.

    Distributed by construction — no driver-side row materialization:
    one shuffle groups base rows by row value, `row_number()` over
    (file, pos) ranks duplicate occurrences deterministically, and
    occurrences ranked past the child's multiplicity for that value are
    the deleted positions. The sub-multiset check is the count identity
    base_rows − |positions| == child_rows on those same positions
    (`_hashed_excess`), so no separate probe job runs. `mask_rows` is
    the row count of `deleted_so_far` and the schemas are the scans'
    (see `_diff_inputs`)."""
    inputs = _diff_inputs(
        spark, base_dirs, deleted_so_far, child_dir, mask_rows, base_schema, child_schema
    )
    if inputs is None:
        return None
    base, child, names = inputs
    return _hashed_excess(spark, base, child, base_rows, child_rows, names, out)


def _append_diff(
    spark,
    base_dirs: list[str],
    deleted_so_far,
    child_dir: str,
    base_rows: int,
    child_rows: int,
    out: str,
    mask_rows: int | None = None,
    base_schema=None,
    child_schema=None,
):
    """If `child_dir`'s rows are a super-multiset of the MASKED base (see
    `_diff_inputs`), write the child positions of the APPENDED rows
    (child minus base — exact multiset difference) as parquet at `out`
    and return (count, longest path in bytes); else None (the
    transition needs a rewrite, not an append). `base_rows` (masked
    live rows) and `child_rows` are the callers' parquet-footer totals.

    Mirror image of `_position_delete_diff`: the child occurrences
    ranked past the base's multiplicity per row value are the appended
    positions, validated by |positions| == child_rows − base_rows. The
    appended FULL rows move exactly once, when the exporter writes them
    (`_appended_rows`). `mask_rows` is the row count of
    `deleted_so_far` and the schemas are the scans' (see
    `_diff_inputs`)."""
    inputs = _diff_inputs(
        spark, base_dirs, deleted_so_far, child_dir, mask_rows, base_schema, child_schema
    )
    if inputs is None:
        return None
    base, child, names = inputs
    if any(t == "variant" for _, t in child.dtypes):
        # the appended rows must keep their original binary form, and
        # the exact verification pass compares full values — fall back
        # to the (always correct) rewrite model for variant tables
        return None
    _f, _p = names[:2]
    return _hashed_excess(
        spark, _with_file_pos(child, _f, _p), base, child_rows, base_rows, names, out
    )


def read_positions(spark, path: str):
    """The (file_path, pos) positions a diff wrote at `path`. A parquet
    scan types every column nullable; the positions are never null, and
    `coalesce` restores the required types the diff produced, so the
    v2 position-delete files written from them declare both columns
    required, as the spec says."""
    from pyspark.sql import functions as F

    df = spark.read.schema(_POS_SCHEMA).parquet(path)
    return df.select(
        F.coalesce("file_path", F.lit("")).alias("file_path"),
        F.coalesce("pos", F.lit(-1)).alias("pos"),
    )


def _appended_rows(
    spark, child_dir: str, positions, n: int, width: int, schema=None
):
    """The rows of `child_dir` at the `n` append-diff `positions`
    (longest path `width` bytes): a (file, pos) semi-join against the
    child scan, read with the child's data `schema` (None infers)."""
    from pyspark.sql import functions as F

    from .util import read_parquet

    child = read_parquet(spark, schema, child_dir)
    _f, _p = _fresh_names(child.columns, "_f", "_p")
    pos = positions.select(F.col("file_path").alias(_f), F.col("pos").alias(_p))
    return (
        _with_file_pos(child, _f, _p)
        .join(_broadcast_if_small(spark, pos, n * (width + 8)), [_f, _p], "left_semi")
        .select(*child.columns)
    )


def _listing(d: str) -> list:
    """Every file under dir `d` as [absolute path, size], sorted."""
    out = []
    for dirpath, _dirnames, filenames in os.walk(os.path.abspath(d)):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            out.append([p, os.path.getsize(p)])
    return sorted(out)


@dataclass
class _Entry:
    """A ledger entry: its path without the `.json` suffix, its JSON
    document and its positions, read back."""

    path: str
    doc: dict
    positions: object


def _load_entry(path: str, want: dict) -> dict | None:
    """The JSON document of the entry at `path` if it holds every
    `want` item and the footer row total of its positions equals its
    recorded count; else None. A torn JSON, a missing or unreadable
    positions file or a count that disagrees is a miss."""
    import pyarrow.parquet as pq

    try:
        with open(path + ".json") as fh:
            doc = json.load(fh)
        parts = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        ]
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    except (OSError, ValueError):
        return None
    if (
        not isinstance(doc, dict)
        or any(doc.get(k) != v for k, v in want.items())
        or not isinstance(doc.get("width"), int)
        or not parts
        or rows != doc["positions"]
    ):
        return None
    return doc


def _write_entry(path: str, doc: dict) -> None:
    from .util import atomic_open

    with atomic_open(path + ".json", "w") as fh:
        json.dump(doc, fh, sort_keys=True)


def _decode_dvs(raw) -> dict | None:
    """The entry's folded DVs as {file: (body, cardinality)}, or None
    when absent or malformed."""
    try:
        return {
            p: (base64.b64decode(b, validate=True), int(c)) for p, (b, c) in raw.items()
        }
    except (AttributeError, TypeError, ValueError):
        return None


def gc_ledger(root: str, live_dirs) -> None:
    """Remove the ledger entries under `root` whose child dir is not in
    `live_dirs` (the manifest's live snapshot dirs), and every file or
    dir no kept entry names: a torn entry, a crash's temporary
    positions. Removes the ledger dir when nothing is left."""
    ledger = os.path.join(root, LEDGER_DIR)
    if not os.path.isdir(ledger):
        return
    live = {os.path.abspath(d) for d in live_dirs}
    names = os.listdir(ledger)
    kept = set()
    for n in names:
        if n.endswith(".json"):
            try:
                with open(os.path.join(ledger, n)) as fh:
                    child = json.load(fh).get("child_dir")
            except (OSError, ValueError, AttributeError):
                continue
            if isinstance(child, str) and child in live:
                kept.add(n.removesuffix(".json"))
    for n in names:
        if n.removesuffix(".json") not in kept:
            p = os.path.join(ledger, n)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
    if not os.listdir(ledger):
        os.rmdir(ledger)


#: The maintenance flags operators/maintenance.py writes as a snapshot's
#: `operation` property: the transition kind each names, and the
#: property naming the snapshot it rewrote.
_MAINTENANCE = {
    "compaction": ("compaction", "compacted-from"),
    "rewrite-deletes": ("minor", "rewritten-from"),
}


@dataclass
class Transition:
    """One pointer-history event as `MorBase.transition` classified it.
    `kind` is "rewrite", "compaction", "minor", "delete" or "append";
    `snap` is the snapshot's manifest entry, `files` its data files
    (`_snapshot_files` dicts), `schema` its recorded data schema (None
    infers) and `read_schema` the schema a scan of it reads as. `diff`
    holds a delete's positions (DataFrame(file_path, pos)) or an
    append's rows. `file_rows`, each file's footer row count, is read
    on first use and noted in `totals`, the export's footer totals by
    snapshot dir."""

    kind: str
    root: str
    snap: dict
    files: list
    schema: object
    read_schema: object
    totals: dict
    diff: object = None

    @functools.cached_property
    def file_rows(self) -> list[int]:
        rows = _footer_rows(self.root, self.files)
        self.totals[self.snap["path"]] = sum(rows)
        return rows

    @property
    def rows(self) -> int:
        return sum(self.file_rows)

    @property
    def maintenance(self) -> bool:
        """A compaction or minor compaction: a commit of no data change."""
        return self.kind in ("compaction", "minor")


class MorBase:
    """The merge-on-read state an exporter carries from its last rewrite
    commit, shared by the Iceberg (v2 positional, v3 DV, append) and
    Delta (DV) exporters:

    - `dirs`: the base snapshot dir plus the append dirs stacked on it;
    - `schema`: the base snapshot's recorded data schema (None when the
      manifest has none), which reads every dir of `dirs` — an append
      diff only runs when the child's schema equals the base's, so the
      append dirs share it; `read_schema` is the schema a scan of the
      base reads as;
    - `files`: every live file of those dirs by absolute path, mapped to
      the entry the caller listed it with;
    - `live_rows`: the base's row count under the mask;
    - `deleted`: the mask, the union of the delete diffs since the
      rewrite (None before the first), `mask_rows`, its row count, and
      `chain`, their ledger keys in order;
    - `dv`: each touched file's cumulative deletion vector as (body
      bytes, cardinality). The driver holds compressed bitmaps, never
      positions; the positions stay in parquet, read by the executors.

    TRANSITIONS. `transition` decides, for both exporters, what each
    event of the pointer history is, given the previous live event and
    the diff kinds the caller's format writes (Delta with deletion
    vectors: delete; Iceberg v1: append; v2 and v3: delete and append;
    Delta without deletion vectors and the Iceberg equality-delete
    dialect: none):

    - A snapshot flagged `operation=compaction` or `rewrite-deletes`
      (operators/maintenance.py) is a `compaction` or `minor` commit
      when the snapshot it rewrote (`compacted-from` / `rewritten-from`,
      else the previous live event) is the previous live event. Its row
      total must then equal that event's, or the export is refused:
      every format renders maintenance as a commit that changes no data
      (Delta OPTIMIZE with dataChange false, Iceberg "replace"), so a
      wrong flag would hide a data change from CDF, streaming and
      incremental readers. A flagged snapshot reached any other way —
      the first exported event, a fast-forward to a branch's
      compaction, a source a vacuum expired — is a data-changing
      `rewrite`.
    - Any other snapshot is a `delete` or an `append` when the caller
      writes that kind, there is a base whose dirs are all on disk, the
      snapshot reads as the base's `read_schema` (a schema change is
      never a pure delete or append), and the diff finds the pure delete
      or append against the masked base. Anything else is a `rewrite`.

    A transition reads its snapshot's parquet footers only when the
    decision or the caller's commit needs the row counts
    (`Transition.file_rows`), and each snapshot dir's at most once per
    export; an unflagged event of a format without diff kinds reads
    none. The caller renders the kind as its format's commit and keeps
    the state current: `reset` after a rewrite commit, `record_delete`
    / `record_append` after a delete or append commit.

    CHANGE-SET LEDGER. `delete_diff`, `append_diff` and `fold_dvs`
    compute each transition once per table root, whichever exporter
    asks first, and persist it under `<root>/_mor_ledger/`:

    - key: sha256 of the diff kind and the base state — every file of
      the base dirs as (absolute path, size), the `chain` (which names
      the mask) and every file of the child dir as (absolute path,
      size). Delta and Iceberg share an entry exactly when their bases
      agree;
    - `<key>/`: the positions, Spark-written parquet (file_path, pos,
      partial) — deleted base positions, or for an append the child
      positions of the appended rows, which stay a semi-join of the
      child scan. It is written under a temporary name, then renamed
      into place; the write is the diff's pin;
    - `<key>.json`, written last (tmp + `os.replace`): the kind, the
      child dir, the count identity's numbers (`live_rows`,
      `child_rows`, `positions`), the longest path and, once folded,
      the cumulative DV bodies (base64) and cardinalities of the files
      the delete touches.

    An entry is used only when its JSON parses, agrees with the current
    key, kind and row counts, and the footer row total of its positions
    equals |live_rows − child_rows|. Anything else is a miss: the diff
    runs and the entry is overwritten. `gc_ledger` drops entries whose
    child dir is no longer a live snapshot. A transition's positions
    are O(rows it deletes or appends), so the ledger's size on disk is
    O(deleted + appended positions).

    Each recorded delete adds `live_rows - child_rows` to `mask_rows`,
    which the diff's count identity guarantees is its row count. The
    diffs and the DV encoder are looked up as module globals at call
    time, so a caller can swap or wrap them (tools/ab_mor_diff.py)."""

    def __init__(self, root: str):
        self.root = root
        self.ledger = os.path.join(root, LEDGER_DIR)
        self.totals: dict[str, int] = {}
        self.dirs: list[str] = []
        self.schema = self.read_schema = self.live_rows = None
        self.files: dict[str, dict] = {}
        self._clear_mask()

    def reset(self, t: Transition, files=None) -> None:
        """Start over from the rewrite commit of `t`, whose files the
        caller lists as `files` (dicts with a root-relative,
        percent-encoded `path`; `t.files` when None)."""
        self.dirs = [t.snap["path"]]
        self.schema, self.read_schema = t.schema, t.read_schema
        self.files = {}
        self._add_files(t.files if files is None else files)
        self.live_rows = t.rows
        self._clear_mask()

    def _clear_mask(self) -> None:
        self.deleted = None
        self.mask_rows = 0
        self.chain: list[str] = []
        self.dv: dict[str, tuple[bytes, int]] = {}
        self._pending: _Entry | None = None

    def transition(
        self, spark, snap: dict, prev: dict | None, files, schema, read_schema, kinds=()
    ) -> Transition:
        """Classify the transition from `prev`, the previous live
        event's snapshot entry (None for the first event), to `snap`,
        whose data `files`, recorded `schema` and `read_schema` the
        caller lists, for a format writing the diff `kinds` ("delete",
        "append"). See TRANSITIONS in the class docstring; a delete's
        or append's diff is not recorded yet."""
        t = Transition(
            "rewrite", self.root, snap, files, schema, read_schema, self.totals
        )
        props = snap.get("properties") or {}
        op = props.get("operation")
        if op in _MAINTENANCE:
            kind, source = _MAINTENANCE[op]
            if prev is None or props.get(source, prev["version"]) != prev["version"]:
                return t
            want = self.totals.get(prev["path"])
            if want is None and os.path.isdir(prev["path"]):
                prev_files = _snapshot_files(self.root, prev["path"])
                want = sum(_footer_rows(self.root, prev_files))
            if want is not None and t.rows != want:
                raise ValueError(
                    f"snapshot v{snap['version']} is flagged operation={op} but "
                    f"changes the row count ({want} -> {t.rows}); maintenance "
                    "must not change the table's data"
                )
            t.kind = kind
            return t
        if (
            kinds
            and self.dirs
            and read_schema == self.read_schema
            and all(os.path.isdir(d) for d in self.dirs)
        ):
            if "delete" in kinds and t.rows < self.live_rows:
                t.kind = "delete"
                t.diff = self.delete_diff(spark, snap["path"], t.rows, schema)
            elif "append" in kinds and t.rows > self.live_rows:
                t.kind = "append"
                t.diff = self.append_diff(spark, snap["path"], t.rows, schema)
            if t.diff is None:
                t.kind = "rewrite"
        return t

    def delete_diff(self, spark, child_dir: str, child_rows: int, schema):
        """The positions `_position_delete_diff` finds for `child_dir`
        (data `schema`, None infers) against the masked base, as a
        DataFrame(file_path, pos) read from the ledger, or None; records
        nothing."""
        e = self._diff(
            spark, "delete", child_dir, child_rows, schema, _position_delete_diff
        )
        self._pending = e
        return None if e is None else e.positions

    def append_diff(self, spark, child_dir: str, child_rows: int, schema):
        """The rows `_append_diff` finds appended in `child_dir` (data
        `schema`, None infers) over the masked base, or None; records
        nothing."""
        e = self._diff(spark, "append", child_dir, child_rows, schema, _append_diff)
        if e is None:
            return None
        return _appended_rows(
            spark, child_dir, e.positions, e.doc["positions"], e.doc["width"], schema
        )

    def _diff(
        self, spark, kind: str, child_dir: str, child_rows: int, schema, diff
    ):
        """The ledger entry of this transition: read when valid, else
        computed by `diff` and stored. None when `diff` finds the
        transition is not of `kind`."""
        state = [kind, [_listing(d) for d in self.dirs], self.chain, _listing(child_dir)]
        key = hashlib.sha256(json.dumps(state).encode()).hexdigest()
        path = os.path.join(self.ledger, key)
        want = {
            "key": key,
            "kind": kind,
            "child_dir": os.path.abspath(child_dir),
            "live_rows": self.live_rows,
            "child_rows": child_rows,
            "positions": abs(self.live_rows - child_rows),
        }
        doc = _load_entry(path, want)
        if doc is None:
            tmp = os.path.join(self.ledger, f".{key}.tmp")
            got = diff(
                spark,
                self.dirs,
                self.deleted,
                child_dir,
                self.live_rows,
                child_rows,
                tmp,
                mask_rows=self.mask_rows,
                base_schema=self.schema,
                child_schema=schema,
            )
            if got is None:
                return None
            doc = dict(want, width=got[1])
            # no JSON may name a positions dir while it is replaced
            with contextlib.suppress(FileNotFoundError):
                os.remove(path + ".json")
            shutil.rmtree(path, ignore_errors=True)
            finalize_spark_parts(tmp, "pos")
            os.rename(tmp, path)
            _write_entry(path, doc)
        return _Entry(path, doc, read_positions(spark, path))

    def _take(self, deleted) -> _Entry:
        if self._pending is None or deleted is not self._pending.positions:
            raise ValueError("expected the last delete_diff result")
        return self._pending

    def fold_dvs(self, deleted) -> list[str]:
        """Fold the last delete diff, before it is recorded, into the
        cumulative deletion vectors of the files it touches
        (operators/dv_kernel.py, on top of the positions already in the
        mask), or take them from its ledger entry when an earlier
        export folded it. Returns the touched files' absolute paths,
        sorted."""
        e = self._take(deleted)
        dv = _decode_dvs(e.doc.get("dv"))
        if dv is None:
            from .dv_kernel import dv_blobs_by_file

            rows = dv_blobs_by_file(deleted, self.deleted)
            dv = {r["file_path"]: (bytes(r["blob"]), int(r["cardinality"])) for r in rows}
            e.doc["dv"] = {
                p: [base64.b64encode(b).decode(), c] for p, (b, c) in dv.items()
            }
            _write_entry(e.path, e.doc)
        self.dv.update(dv)
        return sorted(dv)

    def record_delete(self, deleted, child_rows: int) -> None:
        """The last delete diff, `deleted`, took the base to
        `child_rows`."""
        self.chain.append(self._take(deleted).doc["key"])
        self._pending = None
        self.deleted = (
            deleted if self.deleted is None else self.deleted.unionByName(deleted)
        )
        self.mask_rows += self.live_rows - child_rows
        self.live_rows = child_rows

    def record_append(self, append_dir: str, child_rows: int, files) -> None:
        """An append commit wrote `files` under `append_dir` and took
        the base to `child_rows`."""
        self.dirs.append(append_dir)
        self._add_files(files)
        self.live_rows = child_rows

    def file(self, path: str) -> dict:
        """The entry of the live base file at absolute `path`."""
        try:
            return self.files[path]
        except KeyError:
            raise RuntimeError(
                f"diff produced positions for unknown file {path}"
            ) from None

    def _add_files(self, files) -> None:
        for f in files:
            full = os.path.join(self.root, urllib.parse.unquote(f["path"]))
            self.files[os.path.abspath(full)] = f


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


def _snapshot_files(root: str, snapshot_path: str) -> list[dict]:
    """Data files of one snapshot directory as Delta `add`-action dicts
    (path relative to the table root, percent-encoded per the spec)."""
    out = []
    for dirpath, _dirnames, filenames in os.walk(snapshot_path):
        for fn in sorted(filenames):
            if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            partition_values = {}
            for seg in rel.split("/")[:-1]:
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    partition_values[k] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else urllib.parse.unquote(v)
                    )
            st = os.stat(full)
            out.append(
                {
                    "path": urllib.parse.quote(rel, safe="/=-._"),
                    "partitionValues": partition_values,
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": True,
                }
            )
    return out


def _footer_rows(root: str, files: list[dict]) -> list[int]:
    """Parquet-footer row count of each of `files` (`_snapshot_files`
    dicts), in order — footer reads only, no data scan."""
    return [
        _parquet_row_count(os.path.join(root, urllib.parse.unquote(f["path"])))
        for f in files
    ]


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
        shutil.rmtree(out_dir, ignore_errors=True)
    return out


def write_spark_parts(df, out_dir: str, prefix: str, pcols=None) -> list[dict]:
    """Write `df` as parquet under `out_dir` (`partitionBy(pcols)` when
    given) and finalize the parts (`finalize_spark_parts`): the one
    Spark part writer of the append, upsert, position-delete and
    change-data files."""
    writer = df.write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(out_dir)
    return finalize_spark_parts(out_dir, prefix)


def _upsert_diff(
    spark,
    parent_dir: str,
    child_dir: str,
    key: list[str],
    verified_unique: set | None = None,
    parent_schema=None,
    child_schema=None,
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
    halves the probe jobs. The dirs are read with the data schemas the
    snapshot manifest records for them (None infers)."""
    from pyspark.sql import functions as F

    from .util import read_parquet

    parent = read_parquet(spark, parent_schema, parent_dir)
    child = read_parquet(spark, child_schema, child_dir)
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
