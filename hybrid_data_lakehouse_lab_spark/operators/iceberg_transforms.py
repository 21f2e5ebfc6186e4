"""Iceberg partition transforms beyond date binning: spec-exact
`bucket[N]` and `truncate[W]` (Iceberg spec "Partition Transforms" +
"Appendix B: 32-bit Hash Requirements").

Two implementations of the same function, value-locked to each other and
to the spec's published test vectors:

* **Driver-side Python** (`bucket_value`, `truncate_value`,
  `murmur3_32`) — used by the metadata reader for file pruning and by
  tests as the independent twin.
* **JVM-side Column kernel** (`bucket_col`, `truncate_col`) — computes
  bucket/truncate dir values DISTRIBUTED for partitioned writes. The
  murmur3_x86_32 rounds are expressed as pure Spark integer expressions
  (bigint arithmetic with explicit 32-bit masking; multiplications are
  split into 16-bit halves so no intermediate exceeds 2^49 — safe under
  ANSI mode, no overflow, no UDF, stays inside whole-stage codegen).
  At 100 TB the bucket column is a map-side projection: no shuffle, no
  Python, and the resulting layout gives bucket-pruned scans and
  storage-partitioned joins.

Hash domains follow Appendix B exactly: int/long/date/timestamp all
hash as the 8-byte little-endian long; strings hash their UTF-8 bytes;
binary hashes raw bytes. Seed 0 (NOT Spark's `F.hash`, which is
murmur3 with seed 42 — the two are incompatible, hence this kernel).

Reference parity: the reference's Iceberg DDL uses hidden partitioning
(libs/scd2_spark_processor.py:151, `days(...)`); bucket/truncate are
the other two transforms its table format supports.
"""

from __future__ import annotations

import datetime
import re
import struct

#: A parameterized transform name, `bucket[N]` or `truncate[W]`.
_PARAM_RE = re.compile(r"(bucket|truncate)\[(\d+)\]")

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)

#: The date/time binners and their spec result types: day -> date
#: (epoch-day values), month/year/hour -> int (months/years/hours from
#: epoch; hour is timestamp-only).
BINNERS = {"day": "date", "month": "int", "year": "int", "hour": "int"}


def known_transform(transform: str) -> bool:
    """Is `transform` one this engine reads and writes: identity, a
    binner, `bucket[N]` or `truncate[W]`?"""
    return transform in ("identity", *BINNERS) or bool(_PARAM_RE.fullmatch(transform))


def result_type(transform: str, source_type: str) -> str:
    """The spec's result type of a partition field: the source column's
    type for `identity` and `truncate[W]`, int for `bucket[N]`, and the
    `BINNERS` type of a binner. Raises NotImplementedError for a
    transform `known_transform` refuses."""
    if not known_transform(transform):
        raise NotImplementedError(f"unsupported partition transform {transform!r}")
    if transform in BINNERS:
        return BINNERS[transform]
    return "int" if transform.startswith("bucket") else source_type


# ---------------------------------------------------------------------------
# driver-side (pure Python)
# ---------------------------------------------------------------------------


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32, returned as a SIGNED 32-bit int (the Java/Iceberg
    convention the spec's Appendix-B test vectors use)."""
    h = seed & _M32
    n = len(data)
    rounded = n - (n & 3)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * _C1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * _C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def _hash_long(v: int) -> int:
    return murmur3_32(struct.pack("<q", v))


def _to_long(v, iceberg_type: str) -> int:
    """Appendix-B long domain for the hashable primitive types."""
    if iceberg_type in ("int", "long"):
        return int(v)
    if iceberg_type == "date":
        if isinstance(v, str):
            v = datetime.date.fromisoformat(v)
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return (v - _EPOCH_DATE).days
        return int(v)  # already epoch days
    if iceberg_type in ("timestamp", "timestamptz"):
        if isinstance(v, str):
            v = datetime.datetime.fromisoformat(v)
        if isinstance(v, datetime.datetime):
            epoch = (
                datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
                if v.tzinfo
                else _EPOCH_DT
            )
            return (v - epoch) // datetime.timedelta(microseconds=1)
        return int(v)  # already epoch micros
    raise NotImplementedError(f"bucket source type {iceberg_type!r}")


def bucket_value(v, n: int, iceberg_type: str) -> int | None:
    """The spec's bucket partition value: (hash & Int.MAX_VALUE) % n.
    Null hashes to null (null rows go to the null partition)."""
    if v is None:
        return None
    if iceberg_type == "string":
        h = murmur3_32(str(v).encode("utf-8"))
    elif iceberg_type in ("binary", "fixed"):
        h = murmur3_32(bytes(v))
    else:
        h = _hash_long(_to_long(v, iceberg_type))
    return (h & 0x7FFFFFFF) % n


def truncate_value(v, w: int, iceberg_type: str):
    """The spec's truncate partition value: ints floor to a multiple of
    W (toward negative infinity); strings/binary keep the first W units
    (codepoints for strings). Null stays null."""
    if v is None:
        return None
    if iceberg_type in ("int", "long"):
        v = int(v)
        return v - (((v % w) + w) % w)
    if iceberg_type == "string":
        return str(v)[:w]
    if iceberg_type in ("binary", "fixed"):
        return bytes(v)[:w]
    raise NotImplementedError(f"truncate source type {iceberg_type!r}")


# ---------------------------------------------------------------------------
# JVM-side Column kernel
# ---------------------------------------------------------------------------


def _mul32(x, c: int):
    """(x * c) mod 2^32 on a bigint Column holding a value < 2^32,
    without any intermediate exceeding ~2^49 (ANSI-overflow-safe):
    split x into 16-bit halves."""
    from pyspark.sql import functions as F

    lo = x.bitwiseAND(F.lit(0xFFFF))
    hi = F.shiftrightunsigned(x, 16)
    return (
        lo * F.lit(c)
        + F.shiftleft((hi * F.lit(c)).bitwiseAND(F.lit(0xFFFF)), 16)
    ).bitwiseAND(F.lit(_M32))


def _rotl32(x, r: int):
    from pyspark.sql import functions as F

    return (
        F.shiftleft(x, r).bitwiseOR(F.shiftrightunsigned(x, 32 - r))
    ).bitwiseAND(F.lit(_M32))


def _hash_long_col(v):
    """murmur3_x86_32(little_endian_8_bytes(v), seed=0) as a Column of
    the SIGNED 32-bit hash, for a bigint input Column. Mirrors
    murmur3_32 exactly: two 4-byte blocks, no tail, length 8."""
    from pyspark.sql import functions as F

    v = v.cast("bigint")
    h = F.lit(0).cast("bigint")
    for blk in (
        v.bitwiseAND(F.lit(_M32)),
        F.shiftrightunsigned(v, 32).bitwiseAND(F.lit(_M32)),
    ):
        k = _mul32(blk, _C1)
        k = _rotl32(k, 15)
        k = _mul32(k, _C2)
        h = h.bitwiseXOR(k)
        h = _rotl32(h, 13)
        h = (h * F.lit(5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_M32))
    h = h.bitwiseXOR(F.lit(8))
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 16))
    h = _mul32(h, 0x85EBCA6B)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 13))
    h = _mul32(h, 0xC2B2AE35)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 16))
    return h  # unsigned 32-bit in a bigint; sign is irrelevant after & MAX

def with_bucket_column(df, out_col: str, src, n: int, iceberg_type: str = "long"):
    """``df`` plus ``out_col`` = Iceberg bucket(src, n), with every
    murmur3 round staged as a NAMED intermediate column.

    The single-Column form (``bucket_col``) duplicates each rotl/xor
    operand subtree — Column expressions are trees, not DAGs — so the
    hash expands to hundreds of copies of the source expression, the
    generated sort/project function crosses janino's method limits
    (observed: a 14k-line ``sort_addToSorter`` failing to compile under
    a bucket-partitioned write), and Spark silently falls back to
    interpreted evaluation of the giant tree. Staging each round as an
    alias makes every reference an attribute (cheap to repeat), and
    CollapseProject keeps the stages separate precisely because the
    non-cheap aliases are referenced more than once. Values are
    identical to ``bucket_col`` (tests pin equality); use this form on
    row-at-scale paths, the Column form for value-side/driver work.
    ``src`` is a column name or Column."""
    from pyspark.sql import functions as F

    src = F.col(src) if isinstance(src, str) else src
    if iceberg_type in ("int", "long"):
        v = src.cast("bigint")
    elif iceberg_type == "date":
        v = F.datediff(src, F.lit("1970-01-01").cast("date")).cast("bigint")
    elif iceberg_type in ("timestamp", "timestamptz"):
        v = F.unix_micros(src)
    else:
        raise NotImplementedError(
            f"with_bucket_column source type {iceberg_type!r}"
        )
    taken = set(df.columns)
    def fresh(base: str) -> str:
        name = base
        i = 0
        while name in taken:
            i += 1
            name = f"{base}{i}"
        taken.add(name)
        return name

    tmp: list[str] = []
    def stage(dfx, base, expr):
        name = fresh(base)
        tmp.append(name)
        return dfx.withColumn(name, expr), F.col(name)

    df, tv = stage(df, "_mm3_v", v)
    h = F.lit(0).cast("bigint")
    for i, blk in enumerate(
        (
            tv.bitwiseAND(F.lit(_M32)),
            F.shiftrightunsigned(tv, 32).bitwiseAND(F.lit(_M32)),
        )
    ):
        df, k = stage(df, f"_mm3_k{i}", _mul32(blk, _C1))
        df, kr = stage(df, f"_mm3_kr{i}", _rotl32(k, 15))
        df, hx = stage(df, f"_mm3_hx{i}", h.bitwiseXOR(_mul32(kr, _C2)))
        df, hr = stage(df, f"_mm3_hr{i}", _rotl32(hx, 13))
        h = (hr * F.lit(5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_M32))
    df, f0 = stage(df, "_mm3_f0", h.bitwiseXOR(F.lit(8)))
    df, f1 = stage(
        df, "_mm3_f1", _mul32(f0.bitwiseXOR(F.shiftrightunsigned(f0, 16)), 0x85EBCA6B)
    )
    df, f2 = stage(
        df, "_mm3_f2", _mul32(f1.bitwiseXOR(F.shiftrightunsigned(f1, 13)), 0xC2B2AE35)
    )
    hashed = f2.bitwiseXOR(F.shiftrightunsigned(f2, 16))
    out = F.when(
        src.isNotNull(), hashed.bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(n)
    ).cast("int")
    return df.withColumn(out_col, out).drop(*tmp)


def bucket_col(col, n: int, iceberg_type: str = "long"):
    """Spark Column computing the Iceberg bucket partition value of
    `col` — pure integer expressions, codegen-friendly, for writing
    bucket-partitioned layouts distributed. Supports the 8-byte-long
    hash domain (int/long/date/timestamp); strings would need
    variable-length block iteration, which has no clean expression form
    — compute those with `bucket_value` in an Arrow kernel if ever
    needed."""
    from pyspark.sql import functions as F

    if iceberg_type in ("int", "long"):
        v = col.cast("bigint")
    elif iceberg_type == "date":
        v = F.datediff(col, F.lit("1970-01-01").cast("date")).cast("bigint")
    elif iceberg_type in ("timestamp", "timestamptz"):
        v = F.unix_micros(col)
    else:
        raise NotImplementedError(
            f"bucket_col source type {iceberg_type!r} (JVM kernel covers "
            f"the long domain; use bucket_value for strings)"
        )
    h = _hash_long_col(v)
    return F.when(
        col.isNotNull(), h.bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(n)
    ).cast("int")


def truncate_col(col, w: int, iceberg_type: str):
    """Spark Column computing the Iceberg truncate partition value."""
    from pyspark.sql import functions as F

    if iceberg_type in ("int", "long"):
        v = col.cast("bigint")
        return (v - ((v % w + w) % w)).cast(
            "int" if iceberg_type == "int" else "bigint"
        )
    if iceberg_type == "string":
        return F.substring(col, 1, w)
    raise NotImplementedError(f"truncate_col source type {iceberg_type!r}")
