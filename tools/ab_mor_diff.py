"""Interleaved A/B of the MoR transition diffs against an older
checkout's versions, on the 10× slice, in ONE JVM (guide §1: this
host's throttle makes sequential A/B invalid — interleave variants).

The old implementations are loaded from another checkout (a clone of
an earlier commit) as a separate module; shims adapt their signatures
(older diffs left the count-identity check to the exporters, so the
delete shim runs it). Each variant round swaps the three diff
functions in operators.mor_diff (late importers) and operators.
iceberg_meta / operators.delta_log (top-level importers), runs the lane
list with the noop sink, and records per-lane times. Min-of-N per
variant is printed per lane plus totals.

Usage: python tools/ab_mor_diff.py <old_repo_root> <n_rounds> [lane ...]
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_LANES = [
    "delta_dv_roundtrip",
    "iceberg_v2_metadata_roundtrip",
    "mor_compaction_roundtrip",
    "delta_cdf_roundtrip",
    "iceberg_equality_delete_roundtrip",
    "iceberg_v3_dv_roundtrip",
]


def main() -> None:
    old_root = sys.argv[1]
    n_rounds = int(sys.argv[2])
    lanes = sys.argv[3:] or DEFAULT_LANES

    from hybrid_data_lakehouse_lab_spark.operators import (
        delta_log,
        iceberg_meta,
        mor_diff,
    )
    from hybrid_data_lakehouse_lab_spark.plans import QUERIES
    from hybrid_data_lakehouse_lab_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "mor_diff_old",
        os.path.join(
            old_root, "hybrid_data_lakehouse_lab_spark/operators/mor_diff.py"
        ),
    )
    old = importlib.util.module_from_spec(spec)
    # the old module's relative imports don't exist under a flat name;
    # it only needs module-level names, which are self-contained
    spec.loader.exec_module(old)

    def old_delete_shim(spark, base_dirs, prior, child_dir, base_rows, child_rows):
        # the old diff left the count-identity check to its callers;
        # its fifth argument False selected that count-identity mode
        d = old._position_delete_diff(spark, base_dirs, prior, child_dir, False)
        if d is None:
            return None
        d = d.localCheckpoint()
        return d if base_rows - d.count() == child_rows else None

    def old_append_shim(spark, base_dirs, prior, child_dir, base_rows, child_rows):
        return old._append_diff(spark, base_dirs, prior, child_dir)

    new_fns = {
        "_position_delete_diff": mor_diff._position_delete_diff,
        "_append_diff": mor_diff._append_diff,
        "_upsert_diff": mor_diff._upsert_diff,
    }
    old_fns = {
        "_position_delete_diff": old_delete_shim,
        "_append_diff": old_append_shim,
        "_upsert_diff": old._upsert_diff,
    }

    def apply(fns):
        for name, fn in fns.items():
            setattr(mor_diff, name, fn)  # delta_log late-imports these
            if hasattr(iceberg_meta, name):
                setattr(iceberg_meta, name, fn)
            if hasattr(delta_log, name):
                setattr(delta_log, name, fn)

    spark = get_spark(
        "ab-mor-diff", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    slice_dir = os.environ.get("AB_SLICE_DIR", "/tmp/sf1r_slice")
    if not os.path.isdir(slice_dir):
        sys.path.insert(
            0,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "tools",
            ),
        )
        from make_scaled_slice import build

        build("/root/testdata/sf0.1", slice_dir, 10)

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    # untimed warmup under NEW code (JIT for shared plan machinery)
    apply(new_fns)
    materialize(QUERIES[lanes[0]](spark, slice_dir))

    variants = [("old", old_fns), ("new", new_fns)]
    results: dict[str, dict[str, float]] = {label: {} for label, _ in variants}
    for r in range(n_rounds):
        for label, fns in variants:
            apply(fns)
            for lane in lanes:
                spark.sparkContext.setJobDescription(f"{label} r{r} {lane}")
                t0 = time.perf_counter()
                materialize(QUERIES[lane](spark, slice_dir))
                dt = time.perf_counter() - t0
                per = results[label]
                per[lane] = min(per.get(lane, dt), dt)
                print(f"  [{label} r{r}] {lane}: {dt:.2f}s", flush=True)
    apply(new_fns)
    labels = [label for label, _ in variants]
    print("\nlane\t" + "\t".join(labels))
    for lane in lanes:
        print(lane + "\t" + "\t".join(f"{results[x][lane]:.2f}" for x in labels))
    print("TOTAL\t" + "\t".join(f"{sum(results[x].values()):.2f}" for x in labels))


if __name__ == "__main__":
    main()
