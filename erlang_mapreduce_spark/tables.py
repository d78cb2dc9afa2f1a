"""Fixture-table access.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet each under an sf dir. The engine
always goes through ``load`` so column pruning / predicate pushdown reach the
parquet scan (reading parquet declaratively is the Spark analog of the
reference's whole-file read + split at mapreduce.erl:41-43).
"""

from __future__ import annotations

import math
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# dimension tables small enough to broadcast at ANY scale factor (they grow
# sublinearly or not at all in TPC-H-style data): always broadcast-join these.
BROADCAST_DIMS = ("region", "nation", "supplier", "part")


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """Parse a Spark byte-size conf ('128m', '4194304', '1g', '134217728b')."""
    v = str(spark.conf.get(key, default)).strip().lower().removesuffix("b")
    if v and v[-1] in _SIZE_SUFFIX:
        return int(float(v[:-1]) * _SIZE_SUFFIX[v[-1]])
    return int(v)


def scan_parallel(df: DataFrame) -> DataFrame:
    """Restore full parallelism after a scan that arrived in fewer partitions
    than the cluster has cores — the case for any operator whose work is
    dominated by post-scan fan-out (explode to n-grams, per-vector math,
    media decode), where one input split would otherwise serialize the whole
    pipeline onto one task. At scale the scan already has >= cores partitions
    and this is a no-op, so the extra shuffle is paid only when the input
    is small — where the shuffle itself is cheap, but NOT every downstream
    cost is: each task of a following Python/Arrow UDF pays ~0.2 CPU-s of
    worker setup (PySpark 4.1's per-task `setup_spark_files` →
    `importlib.invalidate_caches()`) before it reads a row, so fanning a
    few milliseconds of UDF work out to every core multiplies that fixed
    cost by the core count. Don't put this in front of a cheap UDF
    (quality_classifier_score measured 4 Python tasks for 20 ms of
    scoring at sf0.01).

    The split count is ESTIMATED from the leaf files' sizes with the same
    arithmetic Spark's file-split planning uses (maxPartitionBytes +
    openCostInBytes) — pure driver-side metadata, no `df.rdd` hop (which
    would run full physical planning + RDD DAG construction per call: cheap
    on a fixture, a needless planning cost on a wide 100 TB plan). Callers
    only hand this narrow-over-file-scan inputs (post-shuffle inputs are
    already conf-sized — see _doc_gram_sets); fileless plans (in-memory
    relations in tests) and any metadata error fall back to the RDD path,
    where plans are local and planning is trivially cheap."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if files:
            max_part = _conf_bytes(
                spark, "spark.sql.files.maxPartitionBytes", "134217728"
            )
            open_cost = _conf_bytes(
                spark, "spark.sql.files.openCostInBytes", "4194304"
            )
            padded = sum(
                os.path.getsize(urlparse(f).path) + open_cost for f in files
            )
            est_splits = max(1, math.ceil(padded / max_part))
            return df.repartition(target) if est_splits < target else df
    except (OSError, ValueError):
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    # The caller may hand us a vanilla session (the driver does). UTC
    # session tz is correctness-critical and runtime-settable, so pin it
    # here rather than only in our own session factory: timestamp→string
    # formatting must match the (naive/UTC) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Spark < 4.1 rejects parquet TIMESTAMP(NANOS) outright unless this
        # legacy conf is on (read as long of nanos); Spark 4.1+ ignores it
        # and reads NTZ natively — the type-adaptive branch below handles
        # both. Wrapped defensively: a future Spark may drop the conf key.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). How Spark surfaces it is
        # version-dependent: 4.1+ reads it natively as TIMESTAMP_NTZ
        # truncated to micros; older versions need
        # spark.sql.legacy.parquet.nanosAsLong=true and emit a long of
        # nanos. Normalize BOTH paths to a session-tz (UTC) TimestampType
        # truncated to micros — exactly DuckDB's value (integer division;
        # values are post-1970 so floor == trunc) — so every downstream
        # operator sees one stable type regardless of Spark version.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            # TIMESTAMP_NTZ → TIMESTAMP is a pure re-tag under UTC tz
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
