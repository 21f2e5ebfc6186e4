"""The JVM-only deletion-vector encoder (operators/dv_kernel.py) equals
the reference serializer `roaring.dv_blob` byte for byte: on pinned
container boundaries, on random position sets (hypothesis), and when
it folds a file's prior positions into its cumulative bitmap."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hybrid_data_lakehouse_lab_spark.operators.dv_kernel import dv_blobs_by_file
from hybrid_data_lakehouse_lab_spark.operators.roaring import dv_blob
from hybrid_data_lakehouse_lab_spark.operators.util import local_frame

_SCHEMA = "file_path STRING, pos BIGINT"


def _frame(spark, sets: dict[str, set[int]]):
    return local_frame(
        spark, [(f, p) for f, ps in sets.items() for p in ps], _SCHEMA
    )


def _encode(spark, new: dict, prior: dict | None = None) -> dict:
    rows = dv_blobs_by_file(
        _frame(spark, new), None if prior is None else _frame(spark, prior)
    )
    return {r["file_path"]: (bytes(r["blob"]), r["cardinality"]) for r in rows}


def _expected(positions: set[int]):
    return dv_blob(sorted(positions)), len(positions)


_HI = 1 << 32
PINNED = {
    "sparse": {0, 1, 9, 4095, 65535},
    "card_4096": set(range(4096)),  # the largest array container
    "card_4097": set(range(4097)),  # the smallest bitmap container
    "full_container": set(range(65536)),
    "both_halves": set(range(32760, 32776)) | set(range(1, 65536, 13)),
    "many_keys": {k * 65536 + k for k in range(40)} | set(range(70000, 80000)),
    "high32_gaps": {3, 2 * _HI + 7, 2 * _HI + 70000, 5 * _HI},
    "high32_only": {_HI + 1},
}


def test_pinned_boundaries_match_dv_blob(spark):
    got = _encode(spark, PINNED)
    assert got == {f: _expected(ps) for f, ps in PINNED.items()}


def test_fold_returns_only_touched_files(spark):
    """A file with prior positions only is not re-emitted; a touched
    file's blob covers prior ∪ new."""
    prior = {"a": {1, 2, 70000}, "b": {5}}
    got = _encode(spark, {"a": {3, 2 * _HI}}, prior)
    assert got == {"a": _expected({1, 2, 3, 70000, 2 * _HI})}


_positions = st.one_of(
    st.integers(0, 3 * 65536),
    st.integers(0, 3).map(lambda h: h * _HI + 17),
)
_runs = st.tuples(st.integers(0, 200_000), st.integers(0, 9000)).map(
    lambda r: set(range(r[0], r[0] + r[1]))
)
_file_sets = st.builds(
    lambda pts, runs: set(pts).union(*runs),
    st.lists(_positions, max_size=60),
    st.lists(_runs, max_size=2),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    files=st.lists(
        st.tuples(_file_sets, _file_sets, st.booleans()), min_size=1, max_size=4
    )
)
def test_random_sets_and_folds_match_dv_blob(spark, files):
    """Each file: a prior set and a new set (possibly overlapping); the
    encoder's blob for every file with new positions equals
    dv_blob(sorted(prior ∪ new))."""
    new, prior = {}, {}
    for i, (old_ps, new_ps, has_prior) in enumerate(files):
        f = f"/data/part-{i}.parquet"
        if new_ps:
            new[f] = new_ps
        if has_prior and old_ps:
            prior[f] = old_ps
    if not new:
        return
    got = _encode(spark, new, prior or None)
    assert got == {
        f: _expected(ps | prior.get(f, set())) for f, ps in new.items()
    }


@pytest.mark.parametrize("n", [0, 1, 5])
def test_local_frame_builds_rows_and_empty_frames(spark, n):
    rows = [(f"f{i}", i << 33) for i in range(n)]
    df = local_frame(spark, rows, _SCHEMA)
    assert df.schema.simpleString() == "struct<file_path:string,pos:bigint>"
    assert sorted(tuple(r) for r in df.collect()) == rows
