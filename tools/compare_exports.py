"""Digest every table-format export of a fixed set of histories, so two
checkouts can be shown to write the same trees.

    python tools/compare_exports.py build DIR
    PYTHONPATH=<checkout> python tools/compare_exports.py digest DIR OUT.json

`build` commits the histories once, each at `DIR/work/<name>`, and keeps
a pristine copy under `DIR/pristine/<name>`. `digest` restores a history
with `cp -a` to the same absolute root before every export (so every
path written into metadata is the same across runs), runs the export and
records:

- the sha256 of every non-parquet file under the root (metadata JSON,
  Avro manifests and lists, Puffin files, deletion-vector `.bin`s, the
  version hint, `_delta_log/` commits);
- a row hash of every parquet file (schema with field ids, then the
  sorted rows), since Spark's parquet bytes are not the contract;
- a fingerprint (row count and hash of the sorted rows) of the masked
  read at every version: `read_iceberg_table` per snapshot (plus row
  lineage on v3), `read_delta_table` per version and, for change-data
  exports, `read_delta_changes`;
- the same for a pruned and filtered read at every version
  (`prune=PRUNE` plus the same condition as `.where`), so file pruning
  and filter pushdown are in the digest too;
- for a Delta export, every other reader of the log walk: the
  `delta_history_table` rows, `version_at_timestamp` of each history
  timestamp and the root-relative `maintenance._delta_log_reachable`
  set;
- after an Iceberg export's files and reads are recorded, its NDV
  statistics: `export_iceberg_statistics` runs on the exported tree, and
  the sha256 of its Puffin file and each theta blob's sha256 and `ndv`
  property (by field id) are recorded.

The change-set ledger an export leaves under `_mor_ledger/` is digested
like any other file: entry JSON by sha256, positions by rows.

Each history also gets a `chained` entry: the benchmark's order on one
root (Delta DV+CDF, then Iceberg v2, then v3), then a second v3 export,
which reads every diff from the ledger the first three filled. It
records the files outside the Delta log (`_delta_log/`, `_change_data/`,
`deletion_vector_*.bin`), the Iceberg reads and `same_as_fresh_v3`:
whether those files, the ledger's aside, and the reads equal the fresh
`iceberg_v3` entry's. The ledger is set aside there only because a
Delta export also diffs transitions the Iceberg exports never do (a
delete after an append, which Delta exports as a rewrite), so its
entries are a superset of the fresh v3 export's.

An export or read that raises records its exception instead. Run
`digest` once per checkout with that checkout first on PYTHONPATH (the
package is resolved from there; this file's own checkout is only the
fallback), then compare the two JSON files: `cmp A.json B.json`, or
`python tools/compare_exports.py diff A.json B.json` for the differing
keys.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HISTORIES = ["dups", "dups_part", "upsert_days", "evolve", "sorted", "wap_compaction"]
LEDGER_DIR = "_mor_ledger"  # mor_diff.LEDGER_DIR; a parent checkout may lack it
HIDDEN_DAYS = {"dt": ("ts", "day")}
# every history has an integer `k`
PRUNE = [("k", "<", 40)]
WHERE = "k < 40"


def _spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from hybrid_data_lakehouse_lab_spark.session import get_spark

    return get_spark("compare-exports", master="local[2]", shuffle_partitions=4)


# -- histories ---------------------------------------------------------------


def _dups(spark, t, partitioned):
    """Duplicate-heavy rows: load, delete, append, delete, minor
    compaction, delete, compaction, delete."""
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        compact_snapshot,
        rewrite_delete_files,
    )

    kw = {"partition_by": ["g"]} if partitioned else {}
    live = spark.range(240).selectExpr("id % 80 AS k", "CAST(id % 4 AS STRING) AS g")
    t.write(live.repartition(3), committed_at_ms=1000, **kw)
    # one copy of each k % 11 == 0 group: a partial delete of duplicates
    live = live.exceptAll(live.where("k % 11 = 0").dropDuplicates())
    t.write(live.repartition(3), committed_at_ms=2000, **kw)
    more = spark.range(60).selectExpr("id % 90 AS k", "CAST(id % 4 AS STRING) AS g")
    live = live.unionByName(more)
    t.write(live.repartition(3), committed_at_ms=3000, **kw)
    live = live.where("k % 7 != 3")
    t.write(live.repartition(3), committed_at_ms=4000, **kw)
    rewrite_delete_files(t, committed_at_ms=5000)
    live = live.where("k % 5 != 1")
    t.write(live.repartition(3), committed_at_ms=6000, **kw)
    compact_snapshot(t, committed_at_ms=7000)
    live = live.where("k % 13 != 2")
    t.write(live.repartition(3), committed_at_ms=8000, **kw)


def _upsert_days(spark, t):
    """Unique key `k`, laid out under `dt` = the UTC day of `ts`:
    load, update, delete, insert, and an update that moves days."""

    def frame(sql):
        return spark.sql(sql).selectExpr(
            "k", "val", "ts", "date_format(ts, 'yyyy-MM-dd') AS dt"
        )

    base = (
        "SELECT CAST(id AS INT) AS k, concat('v', id % 9) AS val,"
        " timestamp_seconds(1700000000 + (id % 4) * 86400) AS ts"
        " FROM range(60)"
    )
    steps = [
        base,
        base.replace("concat('v', id % 9)", "IF(id % 10 = 0, 'upd', concat('v', id % 9))"),
        base.replace("FROM range(60)", "FROM range(60) WHERE id % 6 != 5"),
        base.replace("range(60)", "range(75)"),
        base.replace("(id % 4)", "IF(id % 8 = 0, 5, id % 4)"),
    ]
    for i, sql in enumerate(steps):
        t.write(
            frame(sql).repartition(2),
            partition_by=["dt"],
            committed_at_ms=1000 * (i + 1),
        )


def _evolve(spark, t):
    """Rename, type promotion with a partition-spec change, drop and
    re-add, then a delete and an append under the final schema."""
    k = "k"
    a_int = "CAST(k AS INT) AS a"
    amt_int = "CAST(k AS INT) AS amount"
    amt_long = "CAST(k AS BIGINT) AS amount"
    x_old = "concat('x', k) AS x"
    x_new = "concat('y', k) AS x"
    p = "concat('p', k % 3) AS p"
    steps = [
        ([k, a_int, x_old, p], ["p"], 40),
        ([k, amt_int, x_old, p], ["p"], 36),
        ([k, amt_long, x_old, p], None, 36),
        ([k, amt_long, p], None, 36),
        ([k, amt_long, p, x_new], None, 36),
        ([k, amt_long, p, x_new], None, 30),
        ([k, amt_long, p, x_new], None, 45),
    ]
    for i, (cols, part, n) in enumerate(steps):
        df = spark.range(n).selectExpr("CAST(id AS INT) AS k").selectExpr(*cols)
        if i == 5:
            df = df.where("k % 4 != 0")
        t.write(df.repartition(2), partition_by=part, committed_at_ms=1000 * (i + 1))


def _sorted(spark, t):
    """load, delete, sort-by rewrite, delete, append."""
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        rewrite_data_files_sorted,
    )

    live = spark.range(120).selectExpr("id AS k", "id * 7 % 50 AS v")
    t.write(live.repartition(3), committed_at_ms=1000)
    live = live.where("k % 9 != 0")
    t.write(live.repartition(3), committed_at_ms=2000)
    rewrite_data_files_sorted(
        t, by=[("v", "desc"), ("k", "asc")], committed_at_ms=3000, target_files=2
    )
    live = live.where("k % 10 != 4")
    t.write(live.repartition(3), committed_at_ms=4000)
    live = live.unionByName(spark.range(120, 140).selectExpr("id AS k", "id AS v"))
    t.write(live.repartition(3), committed_at_ms=5000)


def _wap_compaction(spark, t):
    """Write-audit-publish of a compaction: load, branch `b1`, compact
    `b1`, delete on main, then fast-forward main to `b1`. Main's last
    event is the compaction, but its source is not the event before it,
    so it is a data-changing commit."""
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        compact_snapshot,
    )

    live = spark.range(60).selectExpr("id AS k", "id % 7 AS v")
    t.write(live.repartition(3), committed_at_ms=1000)
    t.create_branch("b1", at_ms=2000)
    compact_snapshot(t, branch="b1", committed_at_ms=3000)
    t.write(live.where("k % 2 = 0").repartition(3), committed_at_ms=4000)
    t.fast_forward("main", "b1", at_ms=5000)


def build(out: str) -> None:
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

    spark = _spark()
    out = os.path.abspath(out)
    makers = {
        "dups": lambda t: _dups(spark, t, False),
        "dups_part": lambda t: _dups(spark, t, True),
        "upsert_days": lambda t: _upsert_days(spark, t),
        "evolve": lambda t: _evolve(spark, t),
        "sorted": lambda t: _sorted(spark, t),
        "wap_compaction": lambda t: _wap_compaction(spark, t),
    }
    for name in HISTORIES:
        work = os.path.join(out, "work", name)
        pristine = os.path.join(out, "pristine", name)
        for d in (work, pristine):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(pristine), exist_ok=True)
        makers[name](SnapshotTable(spark, work))
        subprocess.run(["cp", "-a", work, pristine], check=True)
        shutil.rmtree(work)
        print("built", name, flush=True)


# -- digest ------------------------------------------------------------------


def _exports(name):
    """(label, [(exporter name, kwargs), ...]) for every export of
    history `name`: one export each, or the chained run's four in
    order (see the module docstring)."""
    ice = {}
    if name == "upsert_days":
        ice["hidden_partitions"] = HIDDEN_DAYS
    if name == "evolve":
        ice["renamed_columns"] = {"amount": "a"}
    fv = {v: ("iceberg", dict(ice, format_version=v)) for v in (1, 2, 3)}
    dv_cdf = ("delta", {"mor_deletes": True, "change_data": True})
    out = [(f"iceberg_v{v}", [fv[v]]) for v in (1, 2, 3)]
    out.append(("chained", [dv_cdf, fv[2], fv[3], fv[3]]))
    if name == "upsert_days":
        out += [
            (f"iceberg_upsert_v{v}", [("iceberg", dict(ice, format_version=v, upsert_key=["k"]))])
            for v in (2, 3)
        ]
    out += [
        ("delta", [("delta", {})]),
        ("delta_dv", [("delta", {"mor_deletes": True})]),
        ("delta_dv_cdf", [dv_cdf]),
    ]
    return out


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"


def _rows_hash(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(x) for x in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _parquet_digest(path: str) -> str:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    schema = table.schema.to_string(show_field_metadata=True, show_schema_metadata=False)
    return _rows_hash([schema] + [tuple(r.values()) for r in table.to_pylist()])


def _tree(root: str) -> dict:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root)
            if fn.endswith(".parquet"):
                out[rel] = "rows:" + _parquet_digest(full)
            else:
                with open(full, "rb") as fh:
                    out[rel] = "sha256:" + hashlib.sha256(fh.read()).hexdigest()
    return out


def _fingerprint(read) -> str:
    try:
        df = read()
        rows = [tuple(r) for r in df.collect()]
        return f"{len(rows)}:{df.schema.simpleString()}:{_rows_hash(rows)}"
    except Exception as e:  # recorded, not raised: both sides must agree
        return "error:" + _err(e)


def _reads(spark, root: str, kind: str, kw: dict, n: int) -> dict:
    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        read_delta_changes,
        read_delta_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        read_iceberg_table,
    )

    out = {}
    for v in range(n):
        if kind == "iceberg":
            out[f"snapshot {v + 1}"] = _fingerprint(
                lambda: read_iceberg_table(spark, root, snapshot_id=v + 1)
            )
            out[f"snapshot {v + 1} pruned"] = _fingerprint(
                lambda: read_iceberg_table(
                    spark, root, snapshot_id=v + 1, prune=PRUNE
                ).where(WHERE)
            )
            if kw["format_version"] >= 3:
                out[f"snapshot {v + 1} lineage"] = _fingerprint(
                    lambda: read_iceberg_table(
                        spark, root, snapshot_id=v + 1, with_row_lineage=True
                    )
                )
        else:
            out[f"version {v}"] = _fingerprint(
                lambda: read_delta_table(spark, root, version=v)
            )
            out[f"version {v} pruned"] = _fingerprint(
                lambda: read_delta_table(spark, root, version=v, prune=PRUNE).where(
                    WHERE
                )
            )
    if kw.get("change_data"):
        out["changes"] = _fingerprint(
            lambda: read_delta_changes(spark, root, starting_version=1)
        )
    return out


def _statistics(t) -> dict:
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_statistics,
        load_table_metadata,
    )
    from hybrid_data_lakehouse_lab_spark.operators.puffin import read_blob

    try:
        export_iceberg_statistics(t)
        md = load_table_metadata(os.path.join(t.root, "metadata"))[1]
    except Exception as e:  # recorded, not raised: both sides must agree
        return {"error": _err(e)}
    out = {}
    for st in md["statistics"]:
        with open(st["statistics-path"], "rb") as fh:
            out["puffin"] = "sha256:" + hashlib.sha256(fh.read()).hexdigest()
        for bm in st["blob-metadata"]:
            blob = read_blob(st["statistics-path"], bm["offset"], bm["length"])
            out[f"field {bm['fields'][0]}"] = (
                f"sha256:{hashlib.sha256(blob).hexdigest()} ndv:{bm['properties']['ndv']}"
            )
    return out


def _delta_walk(spark, root: str) -> dict:
    """DESCRIBE HISTORY, TIMESTAMP AS OF at each history timestamp and
    orphan reachability of the Delta log at `root`."""
    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        version_at_timestamp,
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_inspect import (
        delta_history_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        _delta_log_reachable,
    )

    out = {}
    try:
        history = [list(r) for r in delta_history_table(spark, root).collect()]
        out["history"] = history
        log = os.path.join(root, "_delta_log")
        out["as_of"] = [[r[1], version_at_timestamp(log, r[1])] for r in history]
        out["reachable"] = sorted(
            os.path.relpath(p, root) for p in _delta_log_reachable(root)
        )
    except Exception as e:  # recorded, not raised: both sides must agree
        out["error"] = _err(e)
    return out


def _delta_owned(rel: str) -> bool:
    return rel.startswith(("_delta_log/", "_change_data/", "deletion_vector_"))


def _same_as_fresh(chained: dict, fresh: dict) -> bool:
    def iceberg(files):
        return {
            k: v for k, v in files.items()
            if not k.startswith(LEDGER_DIR + "/") and not _delta_owned(k)
        }

    return (
        iceberg(chained["files"]) == iceberg(fresh["files"])
        and chained["reads"] == fresh["reads"]
    )


def digest(out: str, out_json: str) -> None:
    from hybrid_data_lakehouse_lab_spark.operators.delta_log import export_delta_log
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_metadata,
    )
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

    exporters = {"iceberg": export_iceberg_metadata, "delta": export_delta_log}
    spark = _spark()
    out = os.path.abspath(out)
    result = {}
    for name in HISTORIES:
        work = os.path.join(out, "work", name)
        for label, steps in _exports(name):
            shutil.rmtree(work, ignore_errors=True)
            subprocess.run(
                ["cp", "-a", os.path.join(out, "pristine", name), work], check=True
            )
            t = SnapshotTable(spark, work)
            n = len(t._load_manifest()["history"]["main"])
            entry = {}
            try:
                for kind, kw in steps:
                    exporters[kind](t, **kw)
            except Exception as e:
                entry["export_error"] = _err(e)
            kind, kw = steps[-1]
            files = _tree(work)
            if label == "chained":
                files = {k: v for k, v in files.items() if not _delta_owned(k)}
            entry["files"] = files
            entry["reads"] = _reads(spark, work, kind, kw, n)
            if label == "chained":
                entry["same_as_fresh_v3"] = _same_as_fresh(
                    entry, result[f"{name}/iceberg_v3"]
                )
            elif kind == "iceberg":
                entry["statistics"] = _statistics(t)
            else:
                entry["walk"] = _delta_walk(spark, work)
            result[f"{name}/{label}"] = entry
            print(name, label, entry.get("export_error", "ok"), flush=True)
        shutil.rmtree(work, ignore_errors=True)
    with open(out_json, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)


def diff(a_json: str, b_json: str) -> int:
    with open(a_json) as fh:
        a = json.load(fh)
    with open(b_json) as fh:
        b = json.load(fh)

    def flat(d, prefix=""):
        for k, v in d.items():
            if isinstance(v, dict):
                yield from flat(v, f"{prefix}{k}/")
            else:
                yield f"{prefix}{k}", v

    fa, fb = dict(flat(a)), dict(flat(b))
    bad = sorted(k for k in fa.keys() | fb.keys() if fa.get(k) != fb.get(k))
    for k in bad:
        print(k, fa.get(k), fb.get(k), sep="\n  ")
    print(f"{len(fa)} vs {len(fb)} entries, {len(bad)} differ")
    return 1 if bad else 0


def main() -> int:
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "build":
        build(*args)
    elif cmd == "digest":
        digest(*args)
    elif cmd == "diff":
        return diff(*args)
    else:
        raise SystemExit(__doc__)
    return 0


if __name__ == "__main__":
    sys.exit(main())
