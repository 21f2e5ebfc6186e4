"""Executor-side deletion-vector construction — shared by the Delta
and Iceberg fv3 exporters.

Both formats frame per-file delete bitmaps around the SAME body bytes
(`D1 D3 39 64` magic + portable 64-bit RoaringBitmapArray — Delta's
deletion-vector payload and Iceberg v3's `deletion-vector-v1` blob
were designed byte-compatible), so one encoder serves both: the
per-commit (file_path, pos) delete diff plus the positions deleted
before it are folded into cumulative per-file bitmaps by two Spark
aggregations built from JVM expressions only — no Python worker
starts — and the driver receives only (file_path, blob, cardinality)
rows, bounded by compressed-bitmap bytes, never row positions. A
GDPR-scale purge deleting 1% of a 100 TB table would otherwise
materialize billions of Row objects on the driver
(`tests/test_distributed_dv.py`, `tests/test_fv3_distributed_dv.py`
guard this with a patched `DataFrame.collect`).

The output is byte-identical to `roaring.dv_blob(sorted(positions))`:
array containers (cardinality <= 4096) as little-endian uint16s,
bitmap containers as the two 4 KiB halves of Spark's own
`bitmap_construct_agg` (LSB-first, the roaring bitmap container
layout), framed under cookie 12346 with key/cardinality and offset
headers, one 32-bit bitmap per high-32 key up to the largest (the
array is dense: gaps are empty bitmaps). Each exporter owns the
format-specific outer framing (Delta: `.bin` file with BE length+crc
frames; Iceberg: Puffin blobs via `puffin.frame_dv_v1`).
"""

from __future__ import annotations

import struct

from .roaring import _ARRAY_MAX, _COOKIE_NO_RUN, DV_MAGIC


def _le_hex(x: str, nbytes: int) -> str:
    """SQL for the hex of integer expression `x` (0 <= x < 2^(8*nbytes))
    as `nbytes` little-endian bytes."""
    swapped = " | ".join(
        f"(((CAST({x} AS BIGINT) >> {8 * i}) & 255) << {8 * (nbytes - 1 - i)})"
        for i in range(nbytes)
    )
    return f"lpad(hex({swapped}), {2 * nbytes}, '0')"


def _roaring32_hex(sub: str) -> str:
    """SQL for the portable 32-bit roaring serialization of `sub`, an
    array of container structs (key, card, nbytes, body) sorted by key:
    cookie + count, key/cardinality-1 pairs, container offsets from the
    stream start, then the container bodies. Each offset re-sums the
    sizes before it: quadratic in the containers per high-32 key, which
    is one per 65,536 rows of the file (~150 for a 10M-row file)."""
    offset = (
        f"8 + 8 * size({sub})"
        f" + aggregate(slice({sub}, 1, j), 0L, (a, y) -> a + y.nbytes)"
    )
    return (
        f"concat('{struct.pack('<i', _COOKIE_NO_RUN).hex()}', "
        f"{_le_hex(f'size({sub})', 4)}, "
        f"array_join(transform({sub}, c -> concat("
        f"{_le_hex('c.key', 2)}, {_le_hex('c.card - 1', 2)})), ''), "
        f"array_join(transform({sub}, (c, j) -> {_le_hex(offset, 4)}), ''), "
        f"array_join(transform({sub}, c -> c.body), ''))"
    )


def dv_blobs_by_file(deleted, prior=None) -> list:
    """Cumulative deletion-vector blobs for the files this commit's
    (file_path, pos) delete diff `deleted` touches: each file's bitmap
    holds its new positions plus its positions in `prior` (the
    positions deleted since the last rewrite, a (file_path, pos)
    DataFrame, or None). Returns [Row(file_path, blob, cardinality)],
    one per touched file; `blob` is `roaring.dv_blob` of the sorted
    cumulative positions.

    Two aggregations, JVM expressions only: the first groups positions
    by (file, high-32 key, 16-bit container key) and builds each
    container's body; the second gathers a file's containers and
    frames the roaring64 array. Files present only in `prior` are
    folded too but dropped before the collect."""
    from pyspark.sql import functions as F

    cols = [F.col("file_path"), F.col("pos")]
    pos = deleted.select(*cols, F.lit(1).alias("new"))
    if prior is not None:
        pos = prior.select(*cols, F.lit(0).alias("new")).unionByName(pos)
    containers = (
        pos.select(
            "file_path",
            "new",
            F.expr("pos >> 32").alias("hi"),
            F.expr("CAST((pos >> 16) & 65535 AS INT)").alias("key"),
            F.expr("CAST(pos & 65535 AS INT)").alias("lo"),
        )
        .groupBy("file_path", "hi", "key")
        .agg(
            F.max("new").alias("new"),
            F.array_sort(F.collect_set("lo")).alias("vals"),
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(lo + 1))"
                " FILTER (WHERE lo < 32768)"
            ).alias("half0"),
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(lo + 1))"
                " FILTER (WHERE lo >= 32768)"
            ).alias("half1"),
        )
        .withColumn("card", F.size("vals"))
        .select(
            "file_path",
            "new",
            "card",
            F.struct(
                "hi",
                "key",
                "card",
                F.expr(
                    f"IF(card <= {_ARRAY_MAX}, 2 * card, 8192)"
                ).alias("nbytes"),
                F.expr(
                    f"IF(card <= {_ARRAY_MAX}, array_join(transform(vals,"
                    f" x -> {_le_hex('x', 2)}), ''),"
                    " hex(concat(half0, half1)))"
                ).alias("body"),
            ).alias("c"),
        )
    )
    files = (
        containers.groupBy("file_path")
        .agg(
            F.max("new").alias("new"),
            F.sum("card").alias("cardinality"),
            F.array_sort(F.collect_list("c")).alias("cs"),
        )
        .where(F.col("new") == 1)
        .select(
            "file_path",
            "cardinality",
            # one container array per high-32 key, 0..max (dense)
            F.expr(
                "transform(sequence(0L, element_at(cs, -1).hi),"
                " h -> filter(cs, c -> c.hi = h))"
            ).alias("bitmaps"),
        )
    )
    return files.select(
        "file_path",
        F.expr(
            f"unhex(concat('{struct.pack('<i', DV_MAGIC).hex()}',"
            f" {_le_hex('size(bitmaps)', 8)},"
            f" array_join(transform(bitmaps, b -> {_roaring32_hex('b')}), '')))"
        ).alias("blob"),
        "cardinality",
    ).collect()
