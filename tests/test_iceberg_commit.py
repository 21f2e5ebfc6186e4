"""One commit path for Iceberg metadata trees (operators/iceberg_commit.py).

- Lost updates: a REST-catalog `set-properties` commit that lands
  between a local writer's load and its write (`expire_iceberg_snapshots`,
  `rewrite_iceberg_manifests`, `write_partition_stats`,
  `export_iceberg_statistics`) survives, and so does the writer's own
  change.
- The exporter re-checks for catalog-committed snapshots under the
  tree's commit lock, so one that lands during its Spark work is
  refused, not dropped.
- A crash at the version write or at the hint swap leaves readers on
  the previous version, and a re-run converges.
- Processes committing through `commit_table` while the catalog commits
  lose no update, and write one version per commit.
- Creation commits v1 under the same lock: a migration or a create onto
  a tree that has a version is refused and changes nothing, a create
  racing the catalog's create on one root has one winner, a create that
  crashed before its hint swap leaves no table and re-runs, and a
  format-version 1 table created through the catalog takes appends.
- AST guards: outside the rules module no code edits the snapshot,
  ref, statistics or log keys of loaded metadata, and no local writer
  calls `write_metadata_version`.
"""

from __future__ import annotations

import ast
import contextlib
import os
import shutil

import pytest

# imported before any test patches `iceberg_meta.load_table_metadata`:
# both bind it at import
from hybrid_data_lakehouse_lab_spark.operators import (  # noqa: F401
    iceberg_inspect,
    iceberg_meta,
    iceberg_view,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_commit import commit_table
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    create_iceberg_table,
    export_iceberg_metadata,
    export_iceberg_statistics,
    load_table_metadata,
    migrate_parquet_dir,
    read_iceberg_statistics,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.rest_catalog import (
    IcebergRestCatalog,
    append_table_via_catalog,
    rest_commit_table,
    rest_create_namespace,
    rest_create_table,
    rest_get,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hybrid_data_lakehouse_lab_spark",
)
TABLE = "/v1/namespaces/ns/tables/t"


def _exported(spark, root: str) -> SnapshotTable:
    """load(12) -> append 3 -> append 3, exported as Iceberg v2: three
    snapshots, and a head whose manifest list holds three data
    manifests."""
    t = SnapshotTable(spark, root)
    rows = spark.range(18).selectExpr("id", "CAST(id % 3 AS INT) AS g")
    for at_ms, n in ((1000, 12), (2000, 15), (3000, 18)):
        t.write(rows.where(f"id < {n}"), committed_at_ms=at_ms)
    export_iceberg_metadata(t, format_version=2)
    return t


def _meta(root: str) -> tuple[int, dict]:
    return load_table_metadata(os.path.join(root, "metadata"))


@contextlib.contextmanager
def _catalog_commits_after_loads(monkeypatch, root: str):
    """Serve `root` as `ns.t` and land one catalog `set-properties`
    commit (`probe-<i>=kept`) right after every `load_table_metadata`
    call a writer makes: between its load and its write, whichever load
    the write uses. Yields the property names committed."""
    with IcebergRestCatalog({("ns", "t"): root}) as uri:
        real = iceberg_meta.load_table_metadata
        keys: list[str] = []
        busy = []

        def load(meta_dir):
            loaded = real(meta_dir)
            if not busy:  # not the catalog's own loads during a commit
                busy.append(1)
                keys.append(f"probe-{len(keys)}")
                rest_commit_table(
                    f"{uri}{TABLE}",
                    updates=[{"action": "set-properties", "updates": {keys[-1]: "kept"}}],
                )
                busy.pop()
            return loaded

        monkeypatch.setattr(iceberg_meta, "load_table_metadata", load)
        try:
            yield keys
        finally:
            monkeypatch.setattr(iceberg_meta, "load_table_metadata", real)
    assert keys, "no catalog commit ran"


def _kept(md: dict, keys: list[str]) -> bool:
    return all(md["properties"].get(k) == "kept" for k in keys)


# -- lost updates --------------------------------------------------------------


def test_expire_keeps_a_catalog_commit_landed_after_its_load(
    spark, tmp_path, monkeypatch
):
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        expire_iceberg_snapshots,
    )

    t = _exported(spark, str(tmp_path / "t"))
    with _catalog_commits_after_loads(monkeypatch, t.root) as keys:
        assert expire_iceberg_snapshots(t.root, keep_last=1) == [1, 2]
    n, md = _meta(t.root)
    assert n == 3 + len(keys) + 1  # the export, the catalog's, the expiry
    assert _kept(md, keys)
    assert [s["snapshot-id"] for s in md["snapshots"]] == [3]
    assert [e["snapshot-id"] for e in md["snapshot-log"]] == [3]
    assert read_iceberg_table(spark, t.root).count() == 18


def test_rewrite_manifests_keeps_a_catalog_commit_landed_after_its_load(
    spark, tmp_path, monkeypatch
):
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        rewrite_iceberg_manifests,
    )

    t = _exported(spark, str(tmp_path / "t"))
    with _catalog_commits_after_loads(monkeypatch, t.root) as keys:
        info = rewrite_iceberg_manifests(t.root)
    assert (info["manifests_before"], info["manifests_after"]) == (3, 1)
    n, md = _meta(t.root)
    assert n == 3 + len(keys) + 1
    assert _kept(md, keys)
    assert md["current-snapshot-id"] == md["refs"]["main"]["snapshot-id"] == 4
    head = md["snapshots"][-1]
    assert (head["summary"]["operation"], head["parent-snapshot-id"]) == (
        "replace",
        3,
    )
    assert md["last-sequence-number"] == head["sequence-number"] == 4
    assert read_iceberg_table(spark, t.root).count() == 18


def test_partition_stats_keep_a_catalog_commit_landed_after_their_load(
    spark, tmp_path, monkeypatch
):
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_pstats import (
        write_partition_stats,
    )

    t = _exported(spark, str(tmp_path / "t"))
    with _catalog_commits_after_loads(monkeypatch, t.root) as keys:
        entry = write_partition_stats(spark, t.root)
    n, md = _meta(t.root)
    assert n == 3 + len(keys) + 1
    assert _kept(md, keys)
    assert md["partition-statistics"] == [entry]
    assert entry["snapshot-id"] == 3


def test_statistics_export_keeps_a_catalog_commit_landed_after_its_load(
    spark, tmp_path, monkeypatch
):
    t = _exported(spark, str(tmp_path / "t"))
    with _catalog_commits_after_loads(monkeypatch, t.root) as keys:
        est = export_iceberg_statistics(t)
    n, md = _meta(t.root)
    assert n == 3 + len(keys) + 1
    assert _kept(md, keys)
    (st,) = md["statistics"]
    assert st["snapshot-id"] == 3
    assert {c: g["ndv"] for c, g in read_iceberg_statistics(spark, t.root).items()} == {
        "id": 18,
        "g": 3,
    }
    assert est == {"id": 18.0, "g": 3.0}


def test_export_refuses_a_snapshot_committed_during_its_spark_work(
    spark, tmp_path, monkeypatch
):
    """The exporter checks for catalog-committed snapshots before its
    Spark work and again under the tree's commit lock: one that lands
    in between is refused by id, and stays committed."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = spark.range(9).selectExpr("id")
    t.write(rows.where("id < 6"), committed_at_ms=1000)
    t.write(rows, committed_at_ms=2000)
    export_iceberg_metadata(t, format_version=2)
    t.write(rows.where("id > 0"), committed_at_ms=3000)
    meta_dir = os.path.join(t.root, "metadata")
    staged = os.path.join(meta_dir, "snap-staged-99-manifest-list.avro")
    shutil.copy(os.path.join(meta_dir, "snap-2-1-manifest-list.avro"), staged)
    snapshot = {
        "snapshot-id": 99,
        "parent-snapshot-id": 2,
        "sequence-number": 3,
        "timestamp-ms": 2500,
        "summary": {"operation": "append"},
        "manifest-list": staged,
    }
    real = iceberg_meta._check_foreign_commits
    with IcebergRestCatalog({("ns", "t"): t.root}) as uri:
        calls = []

        def check(meta_dir, drop_foreign_commits):
            real(meta_dir, drop_foreign_commits)
            calls.append(meta_dir)
            if len(calls) == 1:
                rest_commit_table(
                    f"{uri}{TABLE}",
                    updates=[
                        {"action": "add-snapshot", "snapshot": snapshot},
                        {"action": "set-snapshot-ref", "ref-name": "main",
                         "snapshot-id": 99},
                    ],
                )

        monkeypatch.setattr(iceberg_meta, "_check_foreign_commits", check)
        with pytest.raises(ValueError, match=r"ids \[99\]"):
            export_iceberg_metadata(t, format_version=2)
    n, md = _meta(t.root)
    assert n == 3
    assert md["current-snapshot-id"] == 99
    assert os.path.exists(staged)


# -- crash at the version write or the hint swap -------------------------------


def _crash_at(monkeypatch, suffix: str):
    """Make every `os.replace` onto a path ending in `suffix` raise,
    until the returned function restores `os.replace`."""
    replace = os.replace

    def crash(src, dst):
        if dst.endswith(suffix):
            raise OSError(f"injected crash at {suffix}")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", crash)
    return lambda: monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize("suffix", [".metadata.json", "version-hint.text"])
def test_crashed_expiry_leaves_readers_on_the_previous_version(
    spark, tmp_path, monkeypatch, suffix
):
    from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
        expire_iceberg_snapshots,
    )

    t = _exported(spark, str(tmp_path / "t"))
    before = _meta(t.root)
    restore = _crash_at(monkeypatch, suffix)
    with pytest.raises(OSError, match="injected"):
        expire_iceberg_snapshots(t.root, keep_last=1)
    restore()
    # nothing committed, nothing collected: the oldest snapshot reads
    assert _meta(t.root) == before
    assert read_iceberg_table(spark, t.root, snapshot_id=1).count() == 12
    assert expire_iceberg_snapshots(t.root, keep_last=1) == [1, 2]
    n, md = _meta(t.root)
    assert n == before[0] + 1
    assert [s["snapshot-id"] for s in md["snapshots"]] == [3]
    assert md["metadata-log"][-1]["metadata-file"].endswith("v3.metadata.json")
    assert read_iceberg_table(spark, t.root).count() == 18


@pytest.mark.parametrize("suffix", [".metadata.json", "version-hint.text"])
def test_crashed_catalog_commit_leaves_readers_on_the_previous_version(
    tmp_path, monkeypatch, suffix
):
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        rest_create_table(
            uri, ["ns"], "t", [{"id": 1, "name": "id", "type": "long"}]
        )
        url = f"{uri}{TABLE}"
        before = rest_get(url)
        update = [{"action": "set-properties", "updates": {"k": "v"}}]
        restore = _crash_at(monkeypatch, suffix)
        with pytest.raises(ValueError, match="HTTP 500"):
            rest_commit_table(url, updates=update)
        restore()
        assert rest_get(url) == before
        after = rest_commit_table(url, updates=update)
        assert after["metadata-location"].endswith("v2.metadata.json")
        md = rest_get(url)["metadata"]
        assert md["properties"]["k"] == "v"
        assert [e["metadata-file"] for e in md["metadata-log"]] == [
            before["metadata-location"]
        ]


# -- creation ------------------------------------------------------------------

FIELDS = [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}]


def _files(meta_dir: str) -> dict[str, bytes]:
    return {
        f: open(os.path.join(meta_dir, f), "rb").read() for f in os.listdir(meta_dir)
    }


def test_migration_over_a_tree_is_refused_and_changes_nothing(spark, tmp_path):
    src, other = str(tmp_path / "lake"), str(tmp_path / "other")
    spark.range(9).selectExpr("id", "CAST(id % 3 AS STRING) AS g").write.parquet(src)
    spark.range(4).selectExpr("id", "'x' AS g").write.parquet(other)
    root = str(tmp_path / "t")
    meta_dir = migrate_parquet_dir(spark, root, src, timestamp_ms=5)
    commit_table(meta_dir, [{"action": "set-properties", "updates": {"k": "kept"}}])
    before = _files(meta_dir)
    with pytest.raises(FileExistsError):
        migrate_parquet_dir(spark, root, other)
    n, md = _meta(root)
    assert (n, md["properties"]["k"]) == (2, "kept")
    assert _files(meta_dir) == before
    assert read_iceberg_table(spark, root).count() == 9


def test_create_racing_the_catalog_create_has_one_winner(tmp_path):
    import threading

    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        for i in range(4):
            root = str(tmp_path / f"t{i}")
            start, won = threading.Barrier(2), []

            def local():
                start.wait()
                with contextlib.suppress(FileExistsError):
                    create_iceberg_table(root, FIELDS)
                    won.append("local")

            def catalog():
                start.wait()
                with contextlib.suppress(ValueError):  # the 409
                    lt = rest_create_table(
                        uri, ["ns"], f"t{i}", FIELDS, location=root
                    )
                    won.append(lt["metadata"]["table-uuid"])

            threads = [threading.Thread(target=f) for f in (local, catalog)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
            assert not any(th.is_alive() for th in threads)
            assert len(won) == 1, won
            n, md = _meta(root)
            assert n == 1
            if won != ["local"]:
                assert md["table-uuid"] == won[0]
            meta_files = sorted(os.listdir(os.path.join(root, "metadata")))
            assert [f for f in meta_files if f[0] == "v"] == [
                "v1.metadata.json",
                "version-hint.text",
            ]


@pytest.mark.parametrize("suffix", [".metadata.json", "version-hint.text"])
def test_crashed_create_leaves_no_table_and_reruns(tmp_path, monkeypatch, suffix):
    root = str(tmp_path / "t")
    restore = _crash_at(monkeypatch, suffix)
    with pytest.raises(OSError, match="injected"):
        create_iceberg_table(root, FIELDS)
    restore()
    with pytest.raises(FileNotFoundError):
        _meta(root)
    # the re-run is the catalog's create of the same root: it succeeds
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        lt = rest_create_table(uri, ["ns"], "t", FIELDS, location=root)
        assert lt["metadata-location"] == os.path.join(
            root, "metadata", "v1.metadata.json"
        )
        md = rest_get(f"{uri}{TABLE}")["metadata"]
    assert md["table-uuid"] == lt["metadata"]["table-uuid"]
    assert _meta(root)[0] == 1


def test_v1_table_created_through_the_catalog_takes_appends(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, name STRING")
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        lt = rest_create_table(
            uri, ["ns"], "t", FIELDS, properties={"format-version": "1"}
        )
        assert lt["metadata"]["format-version"] == 1
        url = f"{uri}{TABLE}"
        s1 = append_table_via_catalog(spark, df, url)
        s2 = append_table_via_catalog(spark, df.selectExpr("id + 2 AS id", "name"), url)
        assert s2["parent-snapshot-id"] == s1["snapshot-id"]
        got = sorted(tuple(r) for r in read_iceberg_table(spark, url).collect())
    assert got == [(1, "a"), (2, "b"), (3, "a"), (4, "b")]


# -- processes racing the catalog ----------------------------------------------


def _commit_properties(meta_dir: str, worker: int, n: int) -> None:
    for i in range(n):
        commit_table(
            meta_dir,
            [{"action": "set-properties", "updates": {f"w{worker}-{i}": "1"}}],
        )


def test_processes_and_the_catalog_lose_no_commit(tmp_path):
    """More processes than cores commit properties through
    `commit_table` while the catalog commits its own: every key
    survives, and each commit wrote exactly one version."""
    import multiprocessing

    workers, n = min(len(os.sched_getaffinity(0)), 6) + 2, 10
    with IcebergRestCatalog({}, warehouse_dir=str(tmp_path)) as uri:
        rest_create_namespace(uri, ["ns"])
        loc = rest_create_table(
            uri, ["ns"], "t", [{"id": 1, "name": "id", "type": "long"}]
        )["metadata-location"]
        meta_dir = os.path.dirname(loc)
        ctx = multiprocessing.get_context("spawn")
        procs = [
            ctx.Process(target=_commit_properties, args=(meta_dir, w, n))
            for w in range(workers)
        ]
        for p in procs:
            p.start()
        for i in range(n):
            rest_commit_table(
                f"{uri}{TABLE}",
                updates=[{"action": "set-properties", "updates": {f"cat-{i}": "1"}}],
            )
        for p in procs:
            p.join(timeout=120)
        assert [p.exitcode for p in procs] == [0] * workers
        md = rest_get(f"{uri}{TABLE}")["metadata"]
    want = {f"w{w}-{i}" for w in range(workers) for i in range(n)}
    want |= {f"cat-{i}" for i in range(n)}
    assert want <= set(md["properties"])
    commits = (workers + 1) * n
    assert load_table_metadata(meta_dir)[0] == 1 + commits
    assert len(md["metadata-log"]) == commits
    versions = [f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")]
    assert len(versions) == 1 + commits


# -- AST guards ------------------------------------------------------------------

#: metadata keys only the commit rules may edit
GUARDED = {
    "snapshots",
    "snapshot-log",
    "statistics",
    "partition-statistics",
    "refs",
    "current-snapshot-id",
    "metadata-log",
}
#: edits of those keys on documents that are not loaded table metadata
EXEMPT = {
    # the catalog's `snapshots=refs` response: a copy sent, not written
    "operators/rest_catalog.py:IcebergRestCatalog._route_tables",
    # the SnapshotTable manifest, a different document
    "operators/maintenance.py:vacuum_snapshots.expire",
    "operators/timetravel.py:SnapshotTable.write.commit",
}
_MUTATORS = {"append", "extend", "insert", "remove", "clear", "update", "pop", "sort"}


def _key(node) -> str | None:
    s = node.slice
    return s.value if isinstance(s, ast.Constant) and isinstance(s.value, str) else None


class _Edits(ast.NodeVisitor):
    """(function, line, what) of every edit of a GUARDED key: an
    assignment or `del` of `x[key]`, `x.setdefault(key, ...)`,
    `x.pop(key)`, or a mutating method on `x[key]`."""

    def __init__(self):
        self.scope: list[str] = []
        self.found: list[tuple[str, int, str]] = []

    def _scoped(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _scoped

    def _hit(self, node, what):
        self.found.append((".".join(self.scope), node.lineno, what))

    def _targets(self, node, targets):
        for t in targets:
            for x in ast.walk(t):
                if isinstance(x, ast.Subscript) and _key(x) in GUARDED:
                    self._hit(node, f"x[{_key(x)!r}] =")
        self.generic_visit(node)

    def visit_Assign(self, node):
        self._targets(node, node.targets)

    def visit_AugAssign(self, node):
        self._targets(node, [node.target])

    def visit_AnnAssign(self, node):
        self._targets(node, [node.target])

    def visit_Delete(self, node):
        self._targets(node, node.targets)

    def visit_Call(self, node):
        f = node.func
        if isinstance(f, ast.Attribute):
            arg = node.args[0] if node.args else None
            if (
                f.attr in ("setdefault", "pop")
                and isinstance(arg, ast.Constant)
                and arg.value in GUARDED
            ):
                self._hit(node, f"x.{f.attr}({arg.value!r})")
            if (
                f.attr in _MUTATORS
                and isinstance(f.value, ast.Subscript)
                and _key(f.value) in GUARDED
            ):
                self._hit(node, f"x[{_key(f.value)!r}].{f.attr}()")
        self.generic_visit(node)


def _package_modules():
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def test_only_the_commit_rules_edit_snapshots_refs_and_logs():
    found = []
    for rel, tree in _package_modules():
        if rel == "operators/iceberg_commit.py":
            continue
        v = _Edits()
        v.visit(tree)
        found += [
            f"{rel}:{fn}:{line} {what}"
            for fn, line, what in v.found
            if f"{rel}:{fn}" not in EXEMPT
        ]
    assert not found, found


def test_no_local_writer_writes_a_metadata_version_directly():
    """`write_metadata_version` is called only by the commit primitive
    and the exporter's regeneration: table creation and migration
    commit v1 through `create_tree`."""
    allowed = {
        "operators/iceberg_commit.py:commit_trees",
        "operators/iceberg_meta.py:export_iceberg_metadata",
    }
    callers = set()
    for rel, tree in _package_modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and "write_metadata_version" in (
                    getattr(node.func, "id", None),
                    getattr(node.func, "attr", None),
                ):
                    callers.add(f"{rel}:{fn.name}")
    assert callers == allowed
