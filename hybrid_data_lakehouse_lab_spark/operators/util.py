"""Small operator utilities."""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import urllib.parse
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

#: Size gate for ``fan_out(min_bytes=...)`` call sites: the measured
#: crossover (local[32], interleaved A/B) where a round-robin shuffle of
#: the scan output starts paying for itself on JVM-expression lanes
#: (regex/JSON/vector arithmetic). Below it the serial scan finishes
#: before the shuffle would — repartitioning a sub-MB corpus LOST 15-40%
#: at sf0.1 while the same lanes gained 1.3-3.2x on the 10x slice.
#: Python-kernel lanes (media codecs) skip the gate: their per-byte cost
#: is orders of magnitude higher, so repartitioning pays at any size.
#: Sized on UNCOMPRESSED bytes (parquet row-group total_byte_size):
#: compressed file size under-measures work by >20x on replicated
#: corpora (a 50k-doc slice compresses to 0.7 MB but carries 18 MB of
#: text through the lane's expressions).
FAN_OUT_MIN_BYTES = 4 << 20


def _input_bytes(files: list[str]) -> int | None:
    """Total UNCOMPRESSED input size of a scan's file listing — parquet
    footers' row-group total_byte_size (a few footer reads; only ever
    called for scans narrower than the cluster), raw file size for
    anything else. None = could not size (treat as big).

    LOCAL-ONLY by design (ADVICE r11): footer reads go through the
    driver's filesystem, so non-file schemes (s3a://, hdfs://) return
    None explicitly — the gate then treats the input as big and
    repartitions, the safe direction at real scale."""
    total = 0
    for f in files:
        parsed = urllib.parse.urlparse(f) if ":/" in f else None
        if parsed is None or len(parsed.scheme) <= 1:
            # a local path; a one-letter "scheme" is a drive letter
            # (C:/data/x.parquet), not a remote URL
            path = f
        elif parsed.scheme == "file":
            path = parsed.path
        else:
            return None  # remote scheme: cannot size from the driver
        try:
            if path.endswith(".parquet"):
                import pyarrow.parquet as pq

                md = pq.ParquetFile(path).metadata
                total += sum(
                    md.row_group(i).total_byte_size
                    for i in range(md.num_row_groups)
                )
            else:
                total += os.path.getsize(path)
        except Exception:
            return None
    return total


@contextlib.contextmanager
def atomic_open(path: str, mode: str = "wb"):
    """Open `path` for an all-or-nothing write: the bytes go to a hidden
    sibling `.<name>.tmp`, which `os.replace` swaps onto `path` only
    when the block exits cleanly. On an exception the sibling is
    removed and `path` keeps its previous content, so a crash never
    leaves a torn file that a committed log or metadata tree reads. The
    one writer of the exporters' commit files, manifests, deletion
    vectors, Puffin files and ledger entries."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    try:
        with open(tmp, mode) as fh:
            yield fh
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


@contextlib.contextmanager
def locked(path: str):
    """Hold an exclusive flock on `path` (created if missing) for the
    block: the lock a `SnapshotTable` manifest (`.manifest.lock`) and an
    Iceberg metadata tree (`metadata/.commit.lock`) are committed under.
    flock locks per open file description, so it serializes the threads
    of one process as well as processes on one node; a block that takes
    the same lock again waits forever."""
    with open(path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield


def read_parquet(spark, schema, *paths) -> DataFrame:
    """A parquet scan of `paths`, read with `schema` (a StructType of
    the data columns) when one is given. Spark then skips the one-task
    job it otherwise runs to read a footer for schema inference; hive
    partition columns are still inferred from the directory names, on
    the driver, with the types inference gives them. With `schema`
    None the schema is inferred."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


#: Footer key under which Spark's parquet writer records the written
#: frame's schema (Spark StructType JSON)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(*paths: str):
    """The Spark schema recorded in the footer of the first parquet file
    under `paths` (files, or directories searched recursively in sorted
    order), read on the driver. A non-merging Spark inference reads
    this same footer field, so `read_parquet(spark, footer_schema(*paths),
    *paths)` types every column as an inferring read does, hive
    partition columns included, without the inference job. None when
    that footer holds no Spark schema (a file another writer made) or
    no file is found: the caller's read then infers. LOCAL-ONLY, as
    `_input_bytes`: a remote path is not found, so it infers."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    for p in paths:
        pattern = os.path.join(glob.escape(p), "**", "*.parquet")
        files = [p] if os.path.isfile(p) else sorted(glob.glob(pattern, recursive=True))
        if not files:
            continue
        try:
            doc = (pq.read_metadata(files[0]).metadata or {}).get(_SPARK_ROW_METADATA)
        except OSError:
            # pyarrow rejects a footer holding a logical type it does
            # not know (Parquet VARIANT); DuckDB's reader handles it
            import duckdb

            row = duckdb.execute(
                "SELECT value FROM parquet_kv_metadata(?) WHERE key = ?",
                [files[0], _SPARK_ROW_METADATA],
            ).fetchone()
            doc = None if row is None else row[0]
        return None if doc is None else StructType.fromJson(json.loads(doc))
    return None


def local_frame(spark, rows, schema) -> DataFrame:
    """A DataFrame of driver-side `rows` (a list of tuples in `schema`
    order; `schema` a StructType or DDL string), built through
    PySpark's Arrow path: the rows become one `pyarrow.Table` that the
    JVM reads directly. A list passed to `spark.createDataFrame` goes
    through `sc.parallelize` and a Python RDD, which starts Python
    workers — seconds of cold cost on a process's first call, even for
    an empty list. The Arrow path has no silent fallback."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Ensure enough partitions for CPU-heavy downstream work.

    A small parquet file scans as ONE partition (maxPartitionBytes), which
    serializes expression-heavy lanes (hashing, shingling, regex) onto one
    core. Repartition up only when the scan is narrower than the cluster —
    at real scale inputs already have thousands of splits and this is a
    no-op (no shuffle added).

    ``min_bytes`` additionally skips the repartition when the scan's
    total input size is provably below the crossover where the shuffle
    pays for itself (see FAN_OUT_MIN_BYTES) — pass it on lanes whose
    per-byte compute is JVM-cheap; leave it off where per-row compute is
    heavyweight (Python codec kernels). A source with no file listing
    (checkpointed/in-memory relations) cannot prove it is small and
    repartitions as before.
    """
    if df.isStreaming:
        # inputFiles()/repartition() are batch-only APIs; media kernels
        # are batch lanes today, so streaming wiring passes through
        # unchanged rather than failing (ADVICE r11)
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Decide from the driver-side file listing, NOT df.rdd.getNumPartitions():
    # the .rdd probe forces a plan-to-RDD physical conversion per call. A scan
    # with >= target input files already parallelizes; at real scale (thousands
    # of splits) this branch makes fan_out a no-op with no shuffle added.
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if min_bytes and files:
        total = _input_bytes(files)
        if total is not None and total < min_bytes:
            return df
    return df.repartition(target)


#: Default per-bucket size cap for LSH candidate generation. Normal LSH
#: buckets hold a handful of near-duplicate documents; anything past this
#: is a degenerate class (boilerplate, constant documents) where all-pairs
#: expansion is O(B²) for no information gain.
DEFAULT_MAX_BUCKET = 256

_OBS_COUNTER = 0


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    keep_bucket_cols: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """All intra-bucket pairs (a.id < b.id), computing the input ONCE.

    The naive LSH candidate join is a self-join of the signature relation,
    which Spark plans as two full computations of the signature subtree
    (no exchange reuse across join sides). This operator instead groups
    rows per bucket and generates pairs inside the bucket with
    higher-order array functions — one pass over the input, one shuffle
    on the bucket key, pair expansion entirely inside codegen.

    Output columns: a, b — structs of (id, *payload_cols); with
    keep_bucket_cols=True the bucket key columns are kept alongside
    (multi-band LSH uses them to suppress cross-band duplicate pairs
    with a predicate instead of a dropDuplicates shuffle).

    Scale: per-bucket work is O(bucket²); LSH bucket sizes are small by
    construction — EXCEPT on degenerate corpora (millions of identical or
    near-constant documents landing in one bucket). ``max_bucket`` bounds
    that case: buckets larger than the cap switch from all-pairs to STAR
    pairs — every member paired with the bucket's minimum-id item — which
    is O(B) edges instead of O(B²) yet still links the entire degenerate
    class into one connected component for downstream duplicate-cluster
    assignment / similarity verification. (B-1 edges is the information-
    theoretic minimum to connect B duplicates; the dropped pairs are
    redundant for dedup.) Buckets at or under the cap are byte-identical
    to the uncapped output. The number of capped buckets is flagged, not
    silent: the returned DataFrame carries an attached
    ``pyspark.sql.Observation`` as ``df.bucket_pairs_observation`` with
    metrics ``capped_buckets`` / ``buckets``, populated once the plan is
    materialized.

    Oracle-pairing note: the registered DuckDB oracles state the plain
    all-pairs join, so a capped bucket is a DELIBERATE divergence that
    only a degenerate corpus can trigger. The pairing stays valid on the
    correctness gate's data because no test-corpus bucket approaches the
    cap — asserted by tests/test_bucket_cap.py
    (test_gate_corpora_never_trigger_the_cap), which fails loudly if the
    test data ever drifts into cap territory instead of letting the gate
    hash-mismatch mysteriously.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    item = F.struct(F.col(id_col).alias("id"), *[F.col(c) for c in payload_cols])
    grouped = (
        df.groupBy(*[F.col(c) for c in bucket_cols])
        .agg(F.array_sort(F.collect_list(item)).alias("items"))
        .filter(F.size("items") >= 2)
    )
    all_pairs = F.expr(
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), y -> struct(x AS a, y AS b))))"
    )
    obs = None
    if max_bucket is not None:
        # Unique per call: Spark rejects two observed-metrics nodes with
        # the same name in one plan, so a lane composing two capped
        # bucket_pairs outputs would fail analysis with a fixed name.
        global _OBS_COUNTER
        _OBS_COUNTER += 1
        obs = Observation(f"bucket_pairs_cap_{_OBS_COUNTER}")
        grouped = grouped.observe(
            obs,
            F.sum((F.size("items") > max_bucket).cast("long")).alias(
                "capped_buckets"
            ),
            F.count(F.lit(1)).alias("buckets"),
        )
        # items is array_sort-ed, so element_at(items, 1) is the
        # deterministic min-id hub.
        star_pairs = F.expr(
            "transform(slice(items, 2, size(items) - 1), "
            "y -> struct(element_at(items, 1) AS a, y AS b))"
        )
        pairs = F.when(F.size("items") > max_bucket, star_pairs).otherwise(
            all_pairs
        )
    else:
        pairs = all_pairs
    keep = list(bucket_cols) if keep_bucket_cols else []
    out = grouped.select(*keep, F.explode(pairs).alias("p")).select(
        *keep, "p.a", "p.b"
    )
    out.bucket_pairs_observation = obs
    return out
