"""Parquet table registry over the driver's synthetic warehouse
(TESTDATA.md). Mirrors the reference's Kedro catalog of named datasets
(conf/base/catalog.py:195-307) as plain DataFrame builders — S4/S5 in
SURVEY §2.1.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# A single parquet file below maxPartitionBytes with one row group yields ONE
# input split, serializing every downstream computation on one core. On a real
# warehouse (many files / many row groups per file) the scan parallelizes
# natively and this branch never fires; locally it restores the parallelism a
# cluster layout would give. The shuffle it adds carries at most one small
# file's bytes. Tables under _SPLIT_MIN_BYTES (tiny dims) are left alone —
# they get broadcast anyway.
_SPLIT_MIN_BYTES = 256 << 10
_SPLIT_MAX_BYTES = 128 << 20


# r13 (guide §7.3 driver-side work): constructing a reader measures
# ~60-120 ms per call (conf round-trip, footer/schema resolution, the
# repartition wrapper — all py4j + driver-side planning), and the fleet
# makes ~950 load_table calls per bench run (466 static call sites, two
# timed runs each) — >1.5 min of pure construction overhead. The memo
# below caches the LAZY DataFrame (a query plan, never data or results:
# every execution still scans the parquet) per (SparkContext
# application id, resolved dir, table). The application id changes when
# a context is stopped/recreated, so no stale session objects survive;
# the test-data directories are immutable for the life of a run, so a
# cached plan can never go stale. Bounded: #dirs x #tables entries.
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    d = sf_dir or DEFAULT_SF_DIR
    path = f"{d}/{name}.parquet"
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        app_id = None  # context shutting down: build uncached
    if app_id is not None:
        key = (app_id, d, name)
        hit = _PLAN_MEMO.get(key)
        if hit is not None:
            return hit
    # Self-sufficient: events.parquet stores ts as TIMESTAMP(NANOS), which
    # vanilla Spark rejects (PARQUET_TYPE_ILLEGAL). The conf is
    # runtime-settable, so set it here rather than relying on whoever built
    # the session (session.py sets it too, but the verify harness doesn't).
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # unknown conf on some Spark builds; the read will then surface it
    df = spark.read.parquet(path)
    try:
        size = os.path.getsize(path)
    except OSError:  # directory-style parquet: already multi-file
        size = None
    if size is not None and _SPLIT_MIN_BYTES < size < _SPLIT_MAX_BYTES:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS) → read as long nanos
        # (spark.sql.legacy.parquet.nanosAsLong) and convert; the data is
        # microsecond-grained so the division is lossless.
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer `div`, not `/`: epoch-nanos exceed 2^53, double
            # division would round and drift the microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if app_id is not None:
        _PLAN_MEMO[(app_id, d, name)] = df
    return df


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every table as a temp view so spark.sql(...) plans match the
    DuckDB oracle's pre-registered views."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
