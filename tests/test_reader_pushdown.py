"""A caller's filter reaches the parquet scan of a masked read.

`read_delta_table` and `read_iceberg_table` name each row's file and
position through `_metadata`, which is deterministic, so Catalyst pushes
a `.where` above the read into the data scan. The base files here hold
many small row groups with the matching rows at the end, so the pushed
filter skips the leading row groups; the deletion-vector mask must still
hit the physical positions it names.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq
import pytest
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


@pytest.fixture
def small_row_groups(spark):
    spark.conf.set("parquet.block.size", "1024")
    yield
    spark.conf.unset("parquet.block.size")


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "v", "g").collect())


def test_filter_pushes_into_masked_scans(spark, tmp_path, small_row_groups):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    live = spark.range(2000).selectExpr(
        "id", "1999 - id AS v", "CAST(id % 2 AS STRING) AS g"
    )
    # descending v within each file: rows with v < 40 sit in the last
    # row groups
    t.write(
        live.repartition(1).sortWithinPartitions("g", F.desc("v")),
        partition_by=["g"],
        committed_at_ms=1000,
    )
    t.write(
        live.where("v % 7 != 3").repartition(1),
        partition_by=["g"],
        committed_at_ms=2000,
    )
    base = glob.glob(os.path.join(t.root, "**", "*.parquet"), recursive=True)
    assert min(pq.ParquetFile(f).num_row_groups for f in base) > 4
    export_delta_log(t, mor_deletes=True)
    export_iceberg_metadata(t, format_version=3)
    assert glob.glob(os.path.join(t.root, "deletion_vector_*.bin"))
    assert glob.glob(os.path.join(t.root, "deletes", "*", "*.puffin"))
    want = [r for r in _rows(t.read()) if r[1] < 40]
    assert want and len(want) < 40  # the mask removed rows in range
    for read in (
        lambda: read_delta_table(spark, t.root),
        lambda: read_iceberg_table(spark, t.root),
    ):
        q = read().where("v < 40")
        plan = q._jdf.queryExecution().executedPlan().toString()
        pushed = re.findall(r"FileScan parquet .*?PushedFilters: \[([^\]]*)\]", plan)
        assert pushed and all(pushed), plan
        assert _rows(q) == want
        assert [r for r in _rows(read()) if r[1] < 40] == want
