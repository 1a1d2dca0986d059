"""Session construction & configuration.

The driver hands us an already-built ``SparkSession``; :func:`configure`
applies the runtime-settable confs every query path needs (verified settable
post-creation on PySpark 4.1.2).  ``build_session`` is used by bench.py and
the test suite when no session exists yet.

Scale notes (100 TB design intent, SURVEY.md §7.4):
- AQE on: runtime partition coalescing, broadcast switch, skew-join splitting
  are exactly the knobs that keep a fixed logical plan healthy at 1000×.
- every plan width is ``spark.sql.shuffle.partitions``: shuffles, the
  widening of a narrow scan, the global-rank range split and the salt
  widths all read it, and no plan reads the host's core count.
  ``build_session`` sets it to the core count and ``configure`` lifts
  Spark's 200 default to 32; on a real cluster it would be 2-3× total
  executor cores (or left to AQE's coalescing from a high initial).
- UTC session timezone pins timestamp semantics to the oracle engine's.
- codegen cache sized to the registry's working set: a sweep of the batch
  queries generates 1,712 distinct classes, against Spark's 100-entry LRU,
  which evicted each class before its reuse and recompiled it every call.
  It is a static conf, so driver-built sessions keep Spark's default.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

#: confs that are runtime-settable and required for correctness.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries timestamp[ns]; Spark 4 rejects it outright
    # without this (SURVEY.md §1.3 — the single biggest trap in this repo).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # testdata timestamps are untagged parquet timestamp[us]
    # (isAdjustedToUTC=false); Spark 4 would infer TIMESTAMP_NTZ, while the
    # DuckDB oracle reads the same bytes as naive TIMESTAMP.  Reading them as
    # microsecond TimestampType under the UTC session zone keeps the stored
    # micros — and every date-part / window / hash downstream — oracle-equal.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

#: applied only when the session still runs Spark's 200 default: AQE
#: coalesces over-partitioned batch shuffles but NOT stateful streaming
#: ones, where 200 partitions churn 200 state stores per micro-batch.  A
#: deliberate caller-chosen value (e.g. cores-matched) is left alone.
DEFAULT_SHUFFLE_PARTITIONS = "32"


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs (idempotent; safe on driver-provided sessions)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # conf locked by the host session
            # do not die, but never silently: a locked timeZone/nanosAsLong
            # shows up later as inscrutable oracle mismatches
            print(f"[engine] WARNING: could not set {k}={v}: {exc}",
                  file=sys.stderr)
    # local-rig input sizing (§7.4 "size maxPartitionBytes for the target
    # SF"): each table here is ONE small parquet file, so the 128 MB
    # default yields ~3 scan tasks and 29 idle cores; 8 MB splits restore
    # scan parallelism.  A 4 MB broadcast threshold stops AQE from
    # single-threadedly serializing a ~20 MB fact side as a broadcast
    # (dimensions still qualify).  Both are applied ONLY when still at the
    # Spark default — on a real cluster with 128 MB row groups the
    # defaults are correct and a deliberate setting wins.
    defaults = {
        "spark.sql.shuffle.partitions": ("200", DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.files.maxPartitionBytes": ("134217728b", "8m"),
        "spark.sql.autoBroadcastJoinThreshold": ("10485760b", "4m"),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": ("-1", "4m"),
    }
    for k, (default_v, v) in defaults.items():
        try:
            if spark.conf.get(k, default_v) == default_v:
                spark.conf.set(k, v)
        except Exception as exc:
            print(f"[engine] WARNING: could not adjust {k}: {exc}",
                  file=sys.stderr)
    return spark


def build_session(app_name: str = "csv_to_parquet_aws_datalake_spark",
                  cpus: int | None = None) -> SparkSession:
    """Local session for bench/tests; honors SPARK_GRAFT_CPUS."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static conf, so set here, not in RUNTIME_CONFS: one sweep of the
        # 204 batch queries at sf0.001 generates 1,712 distinct classes; at
        # the default 100 a curation pass (~250) recompiled ~260 every pass
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    # cores-matched shuffle width, set AFTER the loop so it wins (configure()
    # respects any non-default value)
    b = b.config("spark.sql.shuffle.partitions", str(cpus))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
