"""The two benchmark workloads, each a closed loop with one client.

A workload function takes a `Run` and returns its end-to-end metrics.
Each run is a fresh process: it sets up once from a cold JVM (session
start, inputs and the warm-up: the backfill on `cdc_cycles`, the oracle
pass on `mor_interop`; that is `setup_s`), then repeats its unit of
work until `seconds` have passed and checks the program's outputs. Every timed operation and every check counts as
attempted; one that raises or disagrees with the expected result counts
as failed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from host import file_sizes, tree_bytes, written_since
from spans import Tracer

ATTRS = ["product_name", "category", "price", "quantity", "sale_date", "created_at"]


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    work: str  # scratch directory, removed after the run
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # per-layer extras measured only when tracing (name -> list of values)
    extra: dict[str, list[float]] = field(default_factory=dict)

    def start_session(self) -> None:
        from hybrid_data_lakehouse_lab_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
        }
        if self.tracer.enabled:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark("lakebench", extra_conf=conf)
        self.note("session.start_s", time.perf_counter() - t0)
        self.tracer.bind(self.spark)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def attempt(self, fn, what: str):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed operation is data here
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def error_rate(self) -> float:
        return _rate(self.failed, self.attempted)

    def note(self, name: str, value: float) -> None:
        if self.tracer.enabled:
            self.extra.setdefault(name, []).append(value)

    def start_timed(self) -> float:
        """End set-up: per-layer records restart here. Returns the start."""
        self.tracer.start_timed()
        self.extra = {k: v for k, v in self.extra.items() if k == "session.start_s"}
        return time.perf_counter()

    def timed_out(self, t_start: float, done: int, minimum: int = 1) -> bool:
        return done >= minimum and time.perf_counter() - t_start >= self.seconds


# A failed operation leaves a sample list empty; the run then reports
# 0 (and correct: false) rather than crashing.
def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _rate(n: float, seconds: float) -> float:
    return n / seconds if seconds > 0 else 0.0


# ---------------------------------------------------------------------------
# cdc_cycles
# ---------------------------------------------------------------------------

BACKFILL_KEYS = 20_000
CYCLE_EVENTS = 10_000
MIN_CYCLES = 3


def _serve_views(job, as_of_ms: int) -> list[tuple[str, object]]:
    from pyspark.sql import functions as F

    return [
        ("current_count", lambda: job.current().count()),
        (
            "revenue_by_category",
            lambda: {r["category"]: r["revenue"] for r in job.revenue_by_category().collect()},
        ),
        (
            "key_history",
            lambda: job.history().filter(F.col("id") == gen.HOT_KEY).collect(),
        ),
        ("as_of", lambda: job.pipe.scd2(as_of_ms=as_of_ms).count()),
    ]


def _check_serving(run: Run, model: gen.CdcModel, name: str, got) -> None:
    cur = model.current()
    if name == "current_count":
        run.check(got == len(cur), f"current count {got} != {len(cur)}")
    elif name == "revenue_by_category":
        want: dict[str, float] = {}
        for img in cur.values():
            want[img["category"]] = want.get(img["category"], 0.0) + float(
                img["price"]
            ) * img["quantity"]
        ok = set(got) == set(want) and all(
            abs(got[c] - want[c]) <= 1e-6 * max(1.0, abs(want[c])) for c in want
        )
        run.check(ok, f"revenue by category {got} != {want}")
    elif name == "key_history":
        run.check(
            sum(1 for r in got if r["is_current"]) == 1,
            "hot key history has no single current row",
        )
    else:
        run.check(got > 0, "as-of read is empty")


def _check_final_state(run: Run, job, model: gen.CdcModel) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    want = model.current()
    got = {r["id"]: r for r in job.current().select("id", *ATTRS).collect()}
    same = set(got) == set(want) and all(
        all(str(got[k][a]) == str(want[k][a]) for a in ATTRS) for k in want
    )
    run.check(same, "final current state differs from the generator's model")
    # a deleted key keeps no current row; a live key exactly one
    hist = job.history()
    current_rows = (
        hist.groupBy("id")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n"))
        .filter("n > 0")
        .agg(F.count(F.lit(1)).alias("keys"), F.max("n").alias("most"))
        .collect()[0]
    )
    run.check(
        current_rows["keys"] == len(want) and current_rows["most"] == 1,
        f"current rows per key {current_rows}, {len(want)} live keys",
    )
    w = Window.partitionBy("id").orderBy("effective_start_ts")
    overlaps = (
        hist.withColumn("next_start", F.lead("effective_start_ts").over(w))
        .filter(
            F.col("next_start").isNotNull()
            & (
                F.col("effective_end_ts").isNull()
                | (F.col("effective_end_ts") > F.col("next_start"))
            )
        )
        .count()
    )
    run.check(overlaps == 0, f"{overlaps} overlapping SCD2 intervals")


def _trace_cdc_patches(run: Run) -> None:
    import hybrid_data_lakehouse_lab_spark.job as job_mod
    from hybrid_data_lakehouse_lab_spark.operators.pipeline import Scd2Pipeline

    tr = run.tracer
    tr.patch_stream(job_mod, "bronze_stream", "lanes.bronze")
    tr.patch(
        job_mod,
        "compact_partition_dir",
        "maintenance.compact",
        on_result=lambda out, *a: run.note("maintenance.compact_files_rewritten", len(out)),
    )
    tr.patch(Scd2Pipeline, "process_batch", "pipeline.process_batch")


def _trace_snapshot_patches(run: Run) -> None:
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable

    run.tracer.patch(
        SnapshotTable,
        "write",
        "timetravel.write",
        on_result=lambda info, *a: run.note("timetravel.write_bytes", tree_bytes(info.path)),
    )
    run.tracer.patch(SnapshotTable, "read", "timetravel.read")


def cdc_cycles(run: Run) -> dict:
    from hybrid_data_lakehouse_lab_spark.job import LakehouseJob

    _trace_cdc_patches(run)
    _trace_snapshot_patches(run)
    t0 = time.perf_counter()
    run.start_session()
    model = gen.CdcModel(run.seed)
    job = LakehouseJob(run.spark, os.path.join(run.work, "cdc"), attr_cols=ATTRS, compact=True)
    lines = model.backfill(BACKFILL_KEYS)
    gen.drop_lines(job.drop_dir, lines, "day000")
    with run.tracer.span("job.run"):
        n = run.attempt(job.run, "backfill")
    run.check(n == len(lines), f"backfill processed {n} of {len(lines)} events")

    setup_s = time.perf_counter() - t0

    cycles: list[float] = []
    serves: list[float] = []  # all four views once, per cycle
    events = 0
    bronze_bytes = 0
    t_start = run.start_timed()
    day = 1
    while not run.timed_out(t_start, len(cycles), MIN_CYCLES):
        lines = model.cycle(day, CYCLE_EVENTS)
        gen.drop_lines(job.drop_dir, lines, f"day{day:03d}")
        as_of_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        with run.tracer.span("job.run"):
            n = run.attempt(job.run, f"cycle {day}")
        dt = time.perf_counter() - t0
        if n is None:
            break
        run.check(n == len(lines), f"cycle {day} processed {n} of {len(lines)} events")
        cycles.append(dt)
        events += n
        if run.tracer.enabled:
            new_part = glob.glob(os.path.join(job.bronze_dir, "dt=*"))
            bronze_bytes += tree_bytes(max(new_part))
        serve_s = 0.0
        for name, view in _serve_views(job, as_of_ms):
            t0 = time.perf_counter()
            with run.tracer.span("job.serve"):
                got = run.attempt(view, f"serve {name}")
            serve_s += time.perf_counter() - t0
            if got is not None:
                _check_serving(run, model, name, got)
        serves.append(serve_s)
        day += 1

    run.attempt(lambda: _check_final_state(run, job, model), "final state")
    if run.tracer.enabled and run.failed == 0:
        table = job.pipe.table
        head = table._resolve()
        run.note("timetravel.space_amp", tree_bytes(table.root) / max(1, tree_bytes(head)))
        written = sum(run.extra.get("timetravel.write_bytes", []))
        run.note("timetravel.write_amp", written / max(1, bronze_bytes))
    metrics = {
        "setup_s": setup_s,
        "op_s.p50": _median(cycles),
        "read_s.p50": _median(serves),
        "items_per_s": _rate(events, sum(cycles)),
    }
    print(
        f"cdc_cycles: cycle_s.p50={metrics['op_s.p50']:.3f} s  "
        f"events_per_s={metrics['items_per_s']:.1f} 1/s  "
        f"serve_s.p50={metrics['read_s.p50']:.4f} s  cycles={len(cycles)}  "
        f"cycle_s={[round(c, 2) for c in cycles]}  serve_s={[round(c, 3) for c in serves]}  "
        f"error_rate={run.error_rate():.4f}"
    )
    return metrics


# ---------------------------------------------------------------------------
# mor_interop
# ---------------------------------------------------------------------------

TABLES_SCALE = 2  # 12,000 lineitem rows
OPS = ["overwrite", "delete", "append"]
APPEND_KEY_SHIFT = 10_000_000
# registry lanes an analyst runs over the same tables after the
# read-back: a TPC-H join, the SCD2 anchor and dedup
LANES = [
    "q9_product_type_profit",
    "scd2_build",
    "dedup_simhash_near_pairs",
]


def _versions(li):
    """Three commits: load, ~10% delete, ~5% append."""
    from pyspark.sql import functions as F

    v2 = li.filter("pmod(l_orderkey * 7 + l_linenumber, 10) != 3")
    appended = li.filter("pmod(l_orderkey, 20) = 1").withColumn(
        "l_orderkey", F.col("l_orderkey") + APPEND_KEY_SHIFT
    )
    return [li, v2, v2.unionByName(appended)]


def _expected_counts(path: str) -> list[int]:
    t = pq.read_table(path, columns=["l_orderkey", "l_linenumber"])
    ok = t["l_orderkey"].to_numpy()
    ln = t["l_linenumber"].to_numpy().astype("int64")
    n2 = int(((ok * 7 + ln) % 10 != 3).sum())
    return [len(ok), n2, n2 + int((ok % 20 == 1).sum())]


def _iceberg_ops(root: str) -> list[str]:
    metas = glob.glob(os.path.join(root, "metadata", "v*.metadata.json"))
    latest = max(metas, key=lambda p: int(os.path.basename(p)[1:].split(".")[0]))
    with open(latest) as f:
        return [s["summary"]["operation"] for s in json.load(f)["snapshots"]]


def _export(run: Run, name: str, root: str, fn) -> float:
    before = file_sizes(root) if run.tracer.enabled else None
    t0 = time.perf_counter()
    with run.tracer.span(name):
        run.attempt(fn, name)
    dt = time.perf_counter() - t0
    if before is not None:
        nbytes, nfiles = written_since(before, root)
        run.note(f"{name}_mb", nbytes / 2**20)
        run.note(f"{name}_files", nfiles)
    return dt


def _check_lanes(run: Run, data: str) -> None:
    """Every lane against its DuckDB oracle, outside the timed region."""
    from hybrid_data_lakehouse_lab_spark.plans import ORACLES, QUERIES
    from hybrid_data_lakehouse_lab_spark.testing.compare import duck_con, frames_equal

    con = duck_con(data)
    for name in LANES:
        got = run.attempt(lambda: QUERIES[name](run.spark, data).toPandas(), f"{name} check")
        if got is not None:
            ok, why = frames_equal(got, con.execute(ORACLES[name]).fetchdf())
            run.check(ok, f"{name}: {why}")
    con.close()


def mor_interop(run: Run) -> dict:
    from pyspark.sql import functions as F

    from hybrid_data_lakehouse_lab_spark.operators.delta_log import (
        export_delta_log,
        read_delta_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )
    from hybrid_data_lakehouse_lab_spark.operators.timetravel import SnapshotTable
    from hybrid_data_lakehouse_lab_spark.plans import QUERIES

    _trace_snapshot_patches(run)
    t0 = time.perf_counter()
    run.start_session()
    data = os.path.join(run.work, "tables")
    gen.write_tables(gen.tpch_tables(run.seed, TABLES_SCALE), data)
    # the oracle pass is also the warm-up, so it counts as set-up
    _check_lanes(run, data)
    setup_s = time.perf_counter() - t0
    spark = run.spark
    src_file = os.path.join(data, "lineitem.parquet")
    li = spark.read.parquet(src_file)
    cols = li.columns
    expected = _expected_counts(src_file)
    src_bytes = os.path.getsize(src_file)

    def fingerprint(df) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    rounds, commits, exports, reads, queries = [], [], [], [], []
    per_lane: dict[str, list[float]] = {n: [] for n in LANES}
    rows_committed = 0
    t_start = run.start_timed()
    while not run.timed_out(t_start, len(rounds)):
        root = os.path.join(run.work, f"mor{len(rounds)}")
        table = SnapshotTable(spark, root)
        t_round = time.perf_counter()
        for i, df in enumerate(_versions(li)):
            t0 = time.perf_counter()
            info = run.attempt(lambda: table.write(df, committed_at_ms=1000 * (i + 1)), "commit")
            commits.append(time.perf_counter() - t0)
            if info is not None:
                rows_committed += expected[i]
        export_s = _export(
            run,
            "delta_log.export",
            root,
            lambda: export_delta_log(table, mor_deletes=True, change_data=True),
        )
        export_s += _export(
            run,
            "iceberg_meta.export_v2",
            root,
            lambda: export_iceberg_metadata(table, format_version=2),
        )
        export_s += _export(
            run,
            "iceberg_meta.export_v3",
            root,
            lambda: export_iceberg_metadata(table, format_version=3),
        )
        exports.append(export_s)
        readers = [
            ("timetravel.read", lambda v: table.read(version=v + 1)),
            ("delta_log.read", lambda v: read_delta_table(spark, root, version=v)),
            ("iceberg_meta.read", lambda v: read_iceberg_table(spark, root, snapshot_id=v + 1)),
        ]
        for v in range(len(OPS)):
            seen = []
            read_s = 0.0
            for span, reader in readers:
                t0 = time.perf_counter()
                with run.tracer.span(span):
                    fp = run.attempt(lambda: fingerprint(reader(v)), f"{span} v{v}")
                read_s += time.perf_counter() - t0
                seen.append(fp)
            reads.append(read_s)
            run.check(
                None not in seen and len(set(seen)) == 1 and seen[0][0] == expected[v],
                f"version {v}: readers disagree {seen}, expected {expected[v]} rows",
            )
        for name in LANES:
            t0 = time.perf_counter()
            with run.tracer.span("plans"):
                run.attempt(
                    lambda: QUERIES[name](spark, data).write.format("noop").mode("overwrite").save(),
                    name,
                )
            dt = time.perf_counter() - t0
            queries.append(dt)
            per_lane[name].append(dt)
        rounds.append(time.perf_counter() - t_round)
        ops = run.attempt(lambda: _iceberg_ops(root), "iceberg operations")
        run.check(ops == OPS, f"iceberg operations {ops}")
        if run.tracer.enabled and run.failed == 0:
            written = sum(tree_bytes(s.path) for s in table.snapshots())
            run.note("timetravel.write_amp", written / src_bytes)
            run.note("timetravel.space_amp", tree_bytes(root) / tree_bytes(table._resolve()))
    for name, xs in per_lane.items():
        run.note(f"plans.lane_s.{name}", _median(xs))
    metrics = {
        "setup_s": setup_s,
        "op_s.p50": _median(exports),
        "read_s.p50": _median(reads),
        "items_per_s": _rate(rows_committed, sum(rounds)),
    }
    print(
        f"mor_interop: commit_s.p50={_median(commits):.4f} s  "
        f"export_s.p50={metrics['op_s.p50']:.3f} s  read_s.p50={metrics['read_s.p50']:.4f} s  "
        f"query_s.p50={_median(queries):.4f} s  "
        f"rounds={len(rounds)}  round_s={_median(rounds):.3f} s  "
        f"read_s={[round(r, 3) for r in reads]}  queries={len(queries)}  "
        f"error_rate={run.error_rate():.4f}"
    )
    return metrics


WORKLOADS = {
    "cdc_cycles": cdc_cycles,
    "mor_interop": mor_interop,
}
