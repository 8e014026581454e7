"""Loading the driver testdata tables (TESTDATA.md) with normalized types.

The only normalization applied: `events.ts` is exposed as both ``ts_ns``
(BIGINT epoch-nanoseconds, exact) and ``ts`` (microsecond TIMESTAMP — the
session timezone is pinned to UTC so its epoch value is unambiguous). The
driver has generated the column as parquet timestamp[ns] in some rounds
(Spark reads that as a nanosecond long via
``spark.sql.legacy.parquet.nanosAsLong``) and timestamp[us] in others
(Spark reads TIMESTAMP_NTZ); ``_normalize_events`` accepts every observed
physical encoding and produces the same two logical columns, so suite
queries and their DuckDB oracles agree regardless of the generator's unit.
All other tables are read as-is so filters/projections push down to the
parquet scan untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from .session import apply_runtime_confs

def _normalize_events(df: DataFrame) -> DataFrame:
    """Expose ``ts_ns`` (BIGINT nanos) + ``ts`` (microsecond TIMESTAMP) for
    any physical encoding of the events timestamp column."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # parquet timestamp[ns] read under nanosAsLong. div 1000 == floor
        # division: identical to DuckDB's ns→us truncation for post-epoch
        # data. Keep nanos for exact arithmetic.
        return df.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    if isinstance(ts_type, TimestampNTZType):
        # parquet timestamp[us] (no tz). Session tz is UTC, so casting the
        # wall-clock NTZ value to TIMESTAMP preserves the stored micros.
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
        ts_type = TimestampType()
    if isinstance(ts_type, TimestampType):
        return df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    raise TypeError(f"unsupported events.ts encoding: {ts_type}")


# (applicationId, sf_dir, table) -> DataFrame. The testdata tables are
# immutable for a session's lifetime, so the schema-inference /
# file-listing job behind spark.read.parquet need only run once per
# table — without this every suite query re-paid it, a fixed tax the
# per-query parquet baselines (pre-registered views) never saw.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    key = (spark.sparkContext.applicationId,
           os.path.abspath(sf_dir), name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
        if name == "events":
            df = _normalize_events(df)
        _TABLE_CACHE[key] = df
    return df
