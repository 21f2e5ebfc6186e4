"""One CDC cycle (`LakehouseJob.run`) reads only the bronze it can use,
reads it once, and runs only the Spark jobs its commit needs.

A warm cycle lists and scans only the `dt` partitions at or after the
SCD2 checkpoint's date, through one parquet scan with the schema from
the files' footers, and deduplicates on `lsn` in one shuffle. Its parts
run at most: compaction 1 job, `process_batch` 4, `SnapshotTable.write`
4, and building the bronze frame none. An orphan copy of a bronze part
file, what a crashed micro-batch leaves behind, is still deduplicated.

Job counts come from the `job_census` fixture (tests/conftest.py)."""

from __future__ import annotations

import glob
import json
import os
import shutil

import hybrid_data_lakehouse_lab_spark.job as job_mod
from hybrid_data_lakehouse_lab_spark.job import LakehouseJob
from hybrid_data_lakehouse_lab_spark.streaming import bronze_stream
from hybrid_data_lakehouse_lab_spark.streaming.lanes import read_envelope_stream
from hybrid_data_lakehouse_lab_spark.testing.fixtures import (
    BASE_MS,
    envelope_json_lines,
    make_cdc_events,
)

ATTRS = ["product_name", "category", "price", "quantity", "sale_date", "created_at"]
DAY_MS = 86_400_000


def _third_day_lines() -> list[str]:
    """Updates and one delete on 2026-01-03, after every fixture event
    (which span 2026-01-01 and 2026-01-02), with larger lsns."""
    events = make_cdc_events()
    lsn = max(e["payload"]["source"]["lsn"] for e in events)
    last = {}
    for e in events:
        p = e["payload"]
        img = p["after"] or p["before"]
        last[img["id"]] = None if p["op"] == "d" else img
    live = sorted(k for k, v in last.items() if v is not None)
    out = []
    for i, k in enumerate(live[:12]):
        lsn += 7
        before = last[k]
        if i == 5:
            op, after = "d", None
        else:
            op, after = "u", dict(before, quantity=before["quantity"] + 1)
        out.append(
            {
                "payload": {
                    "before": before,
                    "after": after,
                    "op": op,
                    "ts_ms": BASE_MS + 2 * DAY_MS + i * 60_000,
                    "source": {
                        "db": "mydb",
                        "table": "source_sales",
                        "txId": lsn // 2,
                        "lsn": lsn,
                    },
                }
            }
        )
    return [json.dumps(e, separators=(",", ":")) for e in out]


def _drop(job: LakehouseJob, lines: list[str], tag: str) -> None:
    os.makedirs(job.drop_dir, exist_ok=True)
    with open(os.path.join(job.drop_dir, f"batch-{tag}.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _lake(spark, root: str) -> LakehouseJob:
    """A lake after its first cycle over the fixture events, dropped as
    two files: two tasks, so each `dt` partition holds two part files
    and the closed one is compacted by the next cycle."""
    job = LakehouseJob(spark, root, attr_cols=ATTRS, compact=True)
    lines = envelope_json_lines()
    _drop(job, lines[::2], "a0")
    _drop(job, lines[1::2], "a1")
    assert job.run() == len(lines)
    return job


def _capture_bronze_frame(job: LakehouseJob, monkeypatch) -> dict:
    seen: dict = {}
    build = job._bronze_as_changes

    def capture(since=None):
        seen["since"], seen["frame"] = since, build(since)
        return seen["frame"]

    monkeypatch.setattr(job, "_bronze_as_changes", capture)
    return seen


def _state(job: LakehouseJob):
    audit = job.spark.read.parquet(job.pipe._ckpt_dir).drop("processed_at")
    return (
        sorted(tuple(r) for r in job.history().collect()),
        job.pipe.last_checkpoint(),
        sorted(tuple(r) for r in audit.collect()),
    )


def test_warm_cycle_job_census(spark, tmp_path, job_census, monkeypatch):
    job = _lake(spark, str(tmp_path / "lake"))
    second = _third_day_lines()
    _drop(job, second, "b")
    jobs: dict[str, int] = {}

    def counted(name, fn):
        def run(*a, **k):
            with job_census() as c:
                out = fn(*a, **k)
            jobs[name] = jobs.get(name, 0) + c.jobs
            return out

        return run

    closed = os.path.join(job.bronze_dir, "dt=2026-01-02", "*.parquet")
    assert len(glob.glob(closed)) >= 2  # the cycle's compaction has work
    seen = _capture_bronze_frame(job, monkeypatch)
    for owner, attr, name in [
        (job_mod, "compact_partition_dir", "compact"),
        (job.pipe, "process_batch", "process_batch"),
        (job.pipe.table, "write", "write"),
        (job, "_bronze_as_changes", "bronze_frame"),
    ]:
        monkeypatch.setattr(owner, attr, counted(name, getattr(owner, attr)))
    with job_census() as c:
        assert job.run() == len(second)
    jobs["run"] = c.jobs  # outside every part above; the stream's own are not counted

    assert len(glob.glob(closed)) == 1
    assert jobs["compact"] <= 1, jobs
    assert jobs["process_batch"] <= 4, jobs
    assert jobs["write"] <= 4, jobs
    assert jobs["bronze_frame"] == 0, jobs  # no schema-inference job
    assert jobs["run"] == 0, jobs
    assert sum(jobs.values()) <= 9, jobs

    # the checkpoint after the fixture's events falls on 2026-01-02: the
    # scan lists neither 2026-01-01's partition nor its files
    ts_us, _ = seen["since"]
    assert job._session_date(ts_us) == "2026-01-02"
    frame = seen["frame"]
    files = frame.inputFiles()
    assert files
    assert {f.split("/dt=")[1][:10] for f in files} == {"2026-01-02", "2026-01-03"}
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan


def test_orphan_duplicate_bronze_file_is_deduplicated(spark, tmp_path, monkeypatch):
    second = _third_day_lines()
    clean = _lake(spark, str(tmp_path / "clean"))
    _drop(clean, second, "b")
    assert clean.run() == len(second)

    job = _lake(spark, str(tmp_path / "orphan"))
    _drop(job, second, "b")
    # land the new events in bronze, then leave a second copy of a part
    # file under a name the sink never committed, as a crashed and
    # retried micro-batch does
    bronze_stream(
        read_envelope_stream(spark, job.drop_dir),
        job.bronze_dir,
        os.path.join(job.root, "bronze_ckpt"),
    ).awaitTermination(300)
    part = sorted(glob.glob(os.path.join(job.bronze_dir, "dt=2026-01-03", "*.parquet")))[0]
    orphan = os.path.join(os.path.dirname(part), "part-99999-orphan.c000.snappy.parquet")
    shutil.copyfile(part, orphan)
    raw = job._read_bronze("2026-01-03")
    assert raw.count() > raw.select("lsn").distinct().count()

    seen = _capture_bronze_frame(job, monkeypatch)
    assert job.run() == len(second)
    frame = seen["frame"]
    assert frame.count() == frame.select("lsn").distinct().count()
    assert _state(job) == _state(clean)


def test_checkpoint_date_is_taken_in_the_session_time_zone(spark, tmp_path):
    """Bronze's `dt` is `date_format(event_timestamp)` in the session
    time zone, so the pruning bound is the checkpoint's date there."""
    from pyspark.sql import functions as F

    job = LakehouseJob(spark, str(tmp_path / "lake"), attr_cols=ATTRS)
    ts_us = (BASE_MS + DAY_MS + 3 * 3_600_000) * 1000  # 2026-01-02T03:00Z
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz, want in [
            ("UTC", "2026-01-02"),
            ("America/Los_Angeles", "2026-01-01"),
            ("+08:00", "2026-01-02"),
            ("-5:00", "2026-01-01"),
        ]:
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = job._session_date(ts_us)
            spark_dt = spark.range(1).select(
                F.date_format(F.timestamp_micros(F.lit(ts_us)), "yyyy-MM-dd")
            ).first()[0]
            assert got == want == spark_dt, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
