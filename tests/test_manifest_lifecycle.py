"""Every `SnapshotTable` manifest mutation is one read-modify-write of
the latest state (`SnapshotTable._update`).

- A competing commit that lands between a mutation's start and its
  manifest swap is never lost: `vacuum_snapshots`, `create_branch`,
  `fast_forward` and `drop_branch` keep it, and `write` aborts with
  `ConcurrentWriteError` instead of clobbering it.
- A manifest swap that fails leaves the previous manifest byte for
  byte, and no temporary file.
- A hypothesis state machine runs writes, branch moves, rollbacks,
  drops, vacuums, compactions and injected competing commits against a
  pure-Python model of row multisets and per-branch pointer histories:
  every read (`version=`, `as_of_ms=`, `branch=`) equals the model, and
  no version dir exists that the manifest does not list. The slow tier
  adds the Delta and Iceberg v2 / v3 exports: each exported version
  reads back equal to the model.

Competing commits come from the `before_manifest_lock` fixture
(tests/conftest.py)."""

from __future__ import annotations

import os
import re
import uuid
from collections import Counter
from functools import reduce

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
    export_delta_log,
    read_delta_table,
)
from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
    export_iceberg_metadata,
    read_iceberg_table,
)
from hybrid_data_lakehouse_lab_spark.operators.maintenance import (
    compact_snapshot,
    vacuum_snapshots,
)
from hybrid_data_lakehouse_lab_spark.operators.timetravel import (
    ConcurrentWriteError,
    SnapshotTable,
    live_history,
)
from hybrid_data_lakehouse_lab_spark.operators.util import local_frame

_VERSION_DIR = re.compile(r"v\d{5}-[0-9a-f]{8}")


def _df(spark, n):
    return spark.range(n).toDF("id")


def _version_dirs(t: SnapshotTable) -> tuple[set[str], set[str]]:
    """(version dirs on disk, version dirs the manifest lists)."""
    on_disk = {
        n
        for n in os.listdir(t.root)
        if _VERSION_DIR.fullmatch(n) and os.path.isdir(os.path.join(t.root, n))
    }
    return on_disk, {os.path.basename(s.path) for s in t.snapshots()}


# -- the lost-update race ----------------------------------------------------

_MUTATIONS = {
    "vacuum_snapshots": lambda t: vacuum_snapshots(t, older_than_ms=10_000),
    "create_branch": lambda t: t.create_branch("b", at_ms=5_000),
    "fast_forward": lambda t: t.fast_forward("dev", "main", at_ms=5_000),
    "drop_branch": lambda t: t.drop_branch("dev"),
}


@pytest.mark.parametrize("mutation", [*_MUTATIONS, "write"])
def test_competing_commit_is_never_lost(
    spark, tmp_path, before_manifest_lock, mutation
):
    """Three commits (10, 20, 30 rows) and a `dev` branch at v3; a
    fourth commit of 99 rows lands after the mutation started and
    before it takes the manifest lock. Afterwards the head reads the
    99 rows and v4's dir is listed. A `write` racing it aborts and
    removes its own dir."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i, n in enumerate((10, 20, 30)):
        t.write(_df(spark, n), committed_at_ms=1_000 * (i + 1))
    t.create_branch("dev", at_ms=3_500)
    v4 = {}

    def compete():
        other = SnapshotTable(spark, t.root)
        v4["info"] = other.write(_df(spark, 99), committed_at_ms=4_000)

    before_manifest_lock(compete)
    if mutation == "write":
        with pytest.raises(ConcurrentWriteError, match="reload and retry"):
            t.write(_df(spark, 5), committed_at_ms=4_500)
    else:
        _MUTATIONS[mutation](t)
    assert v4["info"].version == 4
    assert t.branch_head() == 4
    assert t.read().count() == 99
    on_disk, listed = _version_dirs(t)
    assert os.path.basename(v4["info"].path) in listed
    assert on_disk == listed
    history = t._load_manifest()["history"]["main"]
    assert [e["version"] for e in history] == [1, 2, 3, 4]


def test_failed_swap_leaves_manifest_and_no_tmp_file(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 10), committed_at_ms=1_000)
    manifest = os.path.join(t.root, SnapshotTable.MANIFEST)
    with open(manifest, "rb") as fh:
        before = fh.read()
    with pytest.raises(TypeError):
        t.write(_df(spark, 20), properties={"x": object()})  # not JSON
    with open(manifest, "rb") as fh:
        assert fh.read() == before
    assert [n for n in os.listdir(t.root) if n.endswith(".tmp")] == []
    on_disk, listed = _version_dirs(t)
    assert on_disk == listed
    assert t.read().count() == 10


def _create_branches(root: str, worker: int, n: int) -> None:
    t = SnapshotTable(None, root)  # branch moves touch only the manifest
    for i in range(n):
        t.create_branch(f"w{worker}-{i}", at_ms=i)


def test_concurrent_processes_lose_no_branch(spark, tmp_path):
    """More processes than cores create branches on one table at once,
    each through its own flock: every branch and its history event
    survives."""
    import multiprocessing

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 3), committed_at_ms=1_000)
    ctx = multiprocessing.get_context("spawn")
    workers, n = min(len(os.sched_getaffinity(0)), 6) + 2, 15
    procs = [
        ctx.Process(target=_create_branches, args=(t.root, w, n))
        for w in range(workers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert [p.exitcode for p in procs] == [0] * workers
    m = t._load_manifest()
    want = {f"w{w}-{i}" for w in range(workers) for i in range(n)}
    assert set(m["branches"]) == want
    assert all(len(m["history"][b]) == 1 for b in want)


# -- the model-based lifecycle -----------------------------------------------

BRANCHES = ["main", "b1", "b2"]
KEYS = range(6)


class Lifecycle(RuleBasedStateMachine):
    """A `SnapshotTable` and its model: `rows` (version → sorted rows,
    listed versions only), `at` (version → commit time),
    `compacted_from` (compaction version → the version it compacted),
    `expired` (vacuumed versions), `heads` (branch → version) and
    `history` (branch → [(version, at_ms)], append-ordered, kept when
    a branch is dropped)."""

    def __init__(self, spark, root: str, before_lock, exports: bool):
        super().__init__()
        self.spark = spark
        self.t = SnapshotTable(spark, root)
        self.before_lock = before_lock
        self.exports = exports
        self.clock = 0
        self.rows: dict[int, list[tuple]] = {}
        self.at: dict[int, int] = {}
        self.compacted_from: dict[int, int] = {}
        self.expired: set[int] = set()
        self.heads: dict[str, int] = {}
        self.history: dict[str, list[tuple[int, int]]] = {}
        self.verified: dict[str, int] = {}  # snapshot dir → version it read as
        self.armed = False
        self.fired = 0
        self.done = False

    def teardown(self):
        self.done = True  # a commit still armed must not reach the next run

    # -- model ----------------------------------------------------------------
    def tick(self) -> int:
        self.clock += 1_000
        return self.clock

    def _move(self, branch: str, version: int, at_ms: int) -> None:
        self.heads[branch] = version
        self.history.setdefault(branch, []).append((version, at_ms))

    def _commit(self, branch, rows, at_ms, compacted_from=None) -> int:
        version = max(self.rows) + 1 if self.rows else 1
        self.rows[version] = sorted(rows)
        self.at[version] = at_ms
        if compacted_from is not None:
            self.compacted_from[version] = compacted_from
        self._move(branch, version, at_ms)
        return version

    def expect(self, version=None, as_of_ms=None, branch="main"):
        """The listed version a read with these arguments resolves to,
        or the exception type it raises."""
        if version is None and as_of_ms is not None:
            events = [v for v, at in self.history.get(branch, []) if at <= as_of_ms]
            if not events:
                return ValueError
            version = events[-1]
        elif version is None:
            if branch not in self.heads:
                return FileNotFoundError
            version = self.heads[branch]
        return version if version in self.rows else ValueError

    def _frame(self, rows):
        return local_frame(self.spark, rows, "k int, v int")

    # -- the competing commit -------------------------------------------------
    def _compete(self) -> None:
        """A commit by another `SnapshotTable` on the same root: 99 on
        keys 0-2, on main, half a tick before the operation's time."""
        if self.done:
            return
        self.armed = False
        self.fired += 1
        rows = [(k, 99) for k in range(3)]
        at_ms = self.clock - 500
        info = SnapshotTable(self.spark, self.t.root).write(
            self._frame(rows), committed_at_ms=at_ms
        )
        assert info.version == self._commit("main", rows, at_ms)

    def race(self, race: bool) -> None:
        """With `race`, land a competing commit just before the next
        manifest mutation takes its lock."""
        if race and not self.armed:
            self.armed = True
            self.before_lock(self._compete)

    # -- rules ----------------------------------------------------------------
    @initialize()
    def load(self):
        rows = [(k, 0) for k in KEYS]
        at_ms = self.tick()
        self.t.write(self._frame(rows), committed_at_ms=at_ms)
        self._commit("main", rows, at_ms)

    @rule(
        branch=st.sampled_from(BRANCHES),
        kind=st.sampled_from(["load", "delete", "append", "upsert"]),
        val=st.integers(1, 9),
        race=st.booleans(),
    )
    def write(self, branch, kind, val, race):
        at_ms = self.tick()
        self.race(race)
        base = self.rows[self.heads[branch]] if branch in self.heads else []
        if kind == "load" or not base:
            rows = [(k, val) for k in KEYS]
        elif kind == "delete":
            # drop one key, never the last row
            rows = [r for r in base if r[0] != base[0][0]] or base
        elif kind == "append":
            rows = base + [(max(k for k, _ in base) + 1, val)]
        else:
            rows = [(k, v + val if k % 2 == val % 2 else v) for k, v in base]
        fired = self.fired
        try:
            self.t.write(self._frame(rows), committed_at_ms=at_ms, branch=branch)
        except ConcurrentWriteError:
            assert self.fired > fired
            return
        except ValueError as e:
            assert branch not in self.heads and "create_branch first" in str(e)
            return
        assert self.fired == fired
        self._commit(branch, rows, at_ms)

    @rule(
        name=st.sampled_from(BRANCHES[1:]),
        src=st.sampled_from(BRANCHES),
        race=st.booleans(),
    )
    def create_branch(self, name, src, race):
        at_ms = self.tick()
        self.race(race)
        try:
            head = self.t.create_branch(name, from_branch=src, at_ms=at_ms)
        except ValueError as e:
            assert ("already exists" in str(e) and name in self.heads) or (
                "has no snapshots" in str(e) and src not in self.heads
            ), e
            return
        assert name not in self.heads and head == self.heads[src]
        self._move(name, head, at_ms)

    @rule(
        to=st.sampled_from(BRANCHES),
        src=st.sampled_from(BRANCHES),
        race=st.booleans(),
    )
    def fast_forward(self, to, src, race):
        at_ms = self.tick()
        self.race(race)
        try:
            head = self.t.fast_forward(to, src, at_ms=at_ms)
        except ValueError as e:
            assert ("has no snapshots" in str(e) and src not in self.heads) or (
                "unknown branch" in str(e) and to not in self.heads
            ), e
            return
        assert head == self.heads[src]
        self._move(to, head, at_ms)

    @precondition(lambda self: len(set(self.heads.values())) > 1)
    @rule(race=st.booleans())
    def roll_back(self, race):
        """A backward fast-forward: the branch with the newest head moves
        to the oldest head another branch points at."""
        (_, src), *_, (_, to) = sorted((v, b) for b, v in self.heads.items())
        self.fast_forward(to, src, race)

    @rule(name=st.sampled_from(BRANCHES), race=st.booleans())
    def drop_branch(self, name, race):
        self.tick()
        self.race(race)
        if name == "main":
            with pytest.raises(ValueError, match="cannot drop main"):
                self.t.drop_branch(name)
            return
        self.t.drop_branch(name)
        self.heads.pop(name, None)

    @rule(keep_last=st.integers(1, 3), age=st.integers(0, 4), race=st.booleans())
    def vacuum(self, keep_last, age, race):
        older_than = self.tick() - 1_000 * age
        self.race(race)
        got = vacuum_snapshots(self.t, older_than_ms=older_than, keep_last=keep_last)
        versions = sorted(self.rows)
        protected = set(self.heads.values()) | set(versions[-keep_last:])
        want = [
            v for v in versions if v not in protected and self.at[v] < older_than
        ]
        assert got == want
        for v in want:
            del self.rows[v]
            self.expired.add(v)

    @rule(branch=st.sampled_from(BRANCHES), race=st.booleans())
    def compact(self, branch, race):
        at_ms = self.tick()
        self.race(race)
        fired = self.fired
        try:
            info = compact_snapshot(self.t, branch=branch, committed_at_ms=at_ms)
        except ConcurrentWriteError:
            assert self.fired > fired
            return
        except ValueError as e:
            assert branch not in self.heads and "to compact" in str(e)
            return
        head = self.heads[branch]
        if head in self.compacted_from:
            assert info is None
            return
        assert info.version == self._commit(
            branch, self.rows[head], at_ms, compacted_from=head
        )

    # -- exports (slow tier) ---------------------------------------------------
    def _exported_reads_equal_the_model(self, read) -> None:
        """Exported version i of main's live pointer history reads back
        the rows of the snapshot its event names."""
        events = live_history(self.t._load_manifest(), "main")
        got = self._collect([read(i).select("k", "v") for i in range(len(events))])
        for i, e in enumerate(events):
            assert got[i] == self.rows[e["version"]], (i, e)

    @precondition(lambda self: self.exports)
    @rule()
    def export_delta(self):
        export_delta_log(self.t, mor_deletes=True, change_data=True)
        self._exported_reads_equal_the_model(
            lambda i: read_delta_table(self.spark, self.t.root, version=i)
        )

    def _export_iceberg(self, format_version: int) -> None:
        export_iceberg_metadata(self.t, format_version=format_version)
        self._exported_reads_equal_the_model(
            lambda i: read_iceberg_table(self.spark, self.t.root, snapshot_id=i + 1)
        )

    @precondition(lambda self: self.exports)
    @rule()
    def export_iceberg_v2(self):
        self._export_iceberg(2)

    @precondition(lambda self: self.exports)
    @rule()
    def export_iceberg_v3(self):
        self._export_iceberg(3)

    # -- invariants -----------------------------------------------------------
    def _collect(self, frames) -> list[list[tuple]]:
        """Sorted rows of each frame, from one Spark job."""
        tagged = [df.withColumn("_q", F.lit(i)) for i, df in enumerate(frames)]
        out: list[Counter] = [Counter() for _ in frames]
        for r in reduce(lambda a, b: a.unionByName(b), tagged).collect():
            out[r["_q"]][(r["k"], r["v"])] += 1
        return [sorted(c.elements()) for c in out]

    @invariant()
    def reads_equal_the_model(self):
        """Each listed snapshot reads the model's rows (its dir is
        immutable, so each dir is read once), and every read resolves
        to the snapshot the model names, or raises as the model says."""
        paths = {v: self.t._resolve(version=v) for v in self.rows}
        new = [v for v in self.rows if paths[v] not in self.verified]
        if new:
            got = self._collect([self.t.read(version=v) for v in new])
            for v, rows in zip(new, got):
                assert rows == self.rows[v], v
                self.verified[paths[v]] = v
        queries = [{"version": v} for v in sorted(self.expired)[-2:]]
        for b in BRANCHES:
            queries.append({"branch": b})
            # at each pointer move and just before it
            times = {t for _v, at in self.history.get(b, []) for t in (at - 1, at)}
            queries += [{"as_of_ms": t, "branch": b} for t in sorted(times)]
        for q in queries:
            want = self.expect(**q)
            if isinstance(want, type):
                with pytest.raises(want):
                    self.t.read(**q)
            else:
                assert self.verified[self.t._resolve(**q)] == want, q

    @invariant()
    def manifest_lists_exactly_the_version_dirs(self):
        on_disk, listed = _version_dirs(self.t)
        assert on_disk == listed
        m = self.t._load_manifest()
        assert sorted(s["version"] for s in m["snapshots"]) == sorted(self.rows)
        heads = dict(m["branches"], main=m["current"])
        assert heads == self.heads
        assert {
            b: [(e["version"], e["at_ms"]) for e in evs]
            for b, evs in m["history"].items()
        } == self.history


def _run_lifecycle(spark, tmp_path, before_lock, exports, **kw):
    run_state_machine_as_test(
        lambda: Lifecycle(
            spark, str(tmp_path / uuid.uuid4().hex), before_lock, exports
        ),
        settings=settings(
            derandomize=True,
            database=None,
            deadline=None,
            suppress_health_check=list(HealthCheck),
            **kw,
        ),
    )


def test_manifest_lifecycle_matches_model(spark, tmp_path, before_manifest_lock):
    """The fast tier's short fixed-seed machine."""
    _run_lifecycle(
        spark,
        tmp_path,
        before_manifest_lock,
        exports=False,
        max_examples=10,
        stateful_step_count=15,
    )


@pytest.mark.slow
def test_manifest_lifecycle_with_exports_matches_model(
    spark, tmp_path, before_manifest_lock
):
    _run_lifecycle(
        spark,
        tmp_path,
        before_manifest_lock,
        exports=True,
        max_examples=40,
        stateful_step_count=20,
    )
