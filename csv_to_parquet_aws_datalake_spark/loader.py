"""Table loading with schema normalization.

All ten driver tables (TESTDATA.md / FIXTURES.md §1) load through here so
timestamp-layout normalization is applied exactly once.  The driver has
shipped two physical layouts across rounds; both must land as microsecond
``TimestampType`` (oracle-equal to DuckDB's naive read under UTC):

- ``timestamp[ns]`` (rounds 1-3): with ``nanosAsLong`` the column arrives as
  long nanos and is converted via ``timestamp_micros(ts div 1000)`` — integer
  ``div``, never ``/`` (float division of ~1.7e18 exceeds double's 2^53 exact
  range; SURVEY.md §1.3).
- untagged ``timestamp[us]`` (round 4+): ``inferTimestampNTZ`` is disabled in
  session.py so these read directly as TimestampType; if a host session locks
  that conf, the NTZ cast below restores it.

At 100 TB the equivalent of this module is the catalog: the conversion is a
zero-shuffle map expression, fully fused into the scan by codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# (session-id, ntz-conf, sf_dir, name) -> (session, DataFrame).  A
# spark.read.parquet costs ~75 ms per call (driver-side footer/schema job),
# and every fresh query build loads 1-3 tables — memoizing the immutable
# source DataFrames takes that off every rebuild (bench times a fresh build
# per run).  The NTZ conf is part of the key because it changes what the
# read returns (and the normalization branch taken); testdata paths are
# immutable within a round.  The value tuple holds the session object
# DELIBERATELY: it pins the session alive so CPython can never reuse
# id(spark) for a different session while its entries exist (id-keyed
# caches are unsound without this).  Entries are never evicted — bounded in
# practice by (sessions x 10 tables x sf_dirs), a few dozen tiny plan
# objects per process; a process cycling many sessions pays that retention.
_TABLE_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    key = (id(spark), ntz, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached[1]
    df = normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    _TABLE_CACHE[key] = (spark, df)
    return df


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Microsecond ``TimestampType`` columns from either driver layout, for
    a batch read or a stream alike.

    A bigint ``ts`` is the events table's nanosAsLong layout.  Untagged
    parquet timestamp[us] arrives as TIMESTAMP_NTZ when the host session
    locked inferTimestampNTZ on; the cast back to TimestampType is
    value-preserving under the UTC session zone, so every downstream
    schema and oracle hash sees microsecond TIMESTAMP whatever the host
    confs."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for c in [c for c, t in df.dtypes if t == "timestamp_ntz"]:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLES}


def scan_split_estimate(df: DataFrame) -> int:
    """Metadata-only estimate of a file-rooted frame's scan parallelism:
    ``ceil(total_bytes / maxPartitionBytes)``, at least 1.

    It is a LOWER bound on the planned task count (Spark may split finer
    via bytesPerCore, never coarser), so a "healthy" verdict holds in
    both directions the raw file COUNT does not: one large file
    estimates wide (no spurious at-scale widening), and many tiny packed
    files estimate 1 (the single-task explode hazard is caught).  Every
    caller hands in a frame rooted in a ``load_table`` parquet scan, and
    parquet splits by row group; a large single-row-group file is
    unsplittable in practice but undetectable without footer reads.
    Sizes come from the local filesystem; non-local schemes fall back to
    the file count (a real remote corpus has many files).  A frame with
    no input files estimates 0, which callers treat as healthy."""
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return 0
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return len(files)
        try:
            total += os.path.getsize(unquote(urlparse(f).path))
        except OSError:
            return len(files)
    conf = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "128MB")
    try:
        max_pb = int(df.sparkSession.sparkContext._jvm
                     .org.apache.spark.network.util.JavaUtils
                     .byteStringAsBytes(conf))
    except Exception:
        max_pb = 128 * 1024 * 1024
    return max(1, math.ceil(total / max_pb))


def widen_if_narrow(df: DataFrame, *key: str) -> DataFrame:
    """Repartition ``df`` to the session's shuffle width ONLY when the scan
    is under-parallel.

    A single small parquet file is one row group and therefore ONE scan task
    no matter what ``maxPartitionBytes`` says — locally that serializes any
    CPU-heavy map work (e.g. 8 hashes per shingle in i34) onto one core.
    The guard makes this a no-op at production scale: a 100 TB scan has
    thousands of splits, so the corpus never pays a redistribution shuffle
    just to widen (that WOULD be a scale anti-pattern); locally the payload
    is one small file, so the shuffle is negligible.  Passing hash ``key``
    columns lets a downstream groupBy on the same keys reuse the exchange.
    """
    # the width is spark.sql.shuffle.partitions, the one plan-width input
    # (never the host's core count).  Threshold min(4, width): only a
    # degenerate few-split scan under a wider plan should redistribute.  A
    # real corpus scan (hundreds+ of splits) never matches, and under a
    # width narrower than the scan a repartition could only REDUCE
    # parallelism while paying a shuffle.  The count stays explicit: a
    # count-less repartition is AQE-coalescible and would fold a tiny
    # widened scan back to one task.
    #
    # Call-site contract: hand this helper a SCAN-ROOTED frame
    # (projection/filter above a file scan is fine, an exchange or an
    # in-memory localCheckpoint upstream is not) — a frame with no input
    # files estimates 0, treated as healthy, so a narrow constructed frame
    # would silently skip widening.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    splits = scan_split_estimate(df)
    if splits == 0 or splits >= min(4, width):
        return df
    return df.repartition(width, *key) if key else df.repartition(width)
