"""Fixture-table catalog: parquet loaders for /root/testdata/sf*/.

All reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning.  The one special case is
``events``: its parquet footer declares TIMESTAMP(NANOS), which Spark's
vectorized reader rejects, so the session sets
``spark.sql.legacy.parquet.nanosAsLong=true`` and this loader converts the
nano-long back to a microsecond TimestampType (integer division floors,
matching DuckDB's ns->us truncation so oracle comparisons agree).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin semantics at read time so the engine behaves identically on
    # sessions it didn't build (the correctness driver constructs its own
    # plain SparkSession): UTC wall-clock, and tolerate either fixture
    # vintage -- TIMESTAMP(NANOS) (rounds 1-2) or plain microsecond
    # NTZ-annotated timestamps (round 3 regeneration).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Per-SESSION memo of the lazy DataFrame HANDLE (never of results:
    # every action still scans the parquet).  Each spark.read.parquet
    # call pays driver-side file listing + footer/schema inference +
    # py4j round-trips (measured 0.13-0.30 s per table on the round-13
    # optimization host) and a bench/driver run constructs each query
    # fresh per rep, so the catalog was re-inferring the same immutable
    # fixture schema thousands of times.  Production lakes solve this
    # with a catalog/metastore (guide §6: manifest metadata beats
    # re-listing); a dict on the session instance is the session-scoped
    # equivalent and dies with the session -- no cross-session leaks, no
    # state keyed on the data directory surviving the process.
    cache = getattr(spark, "_rtfl_table_handles", None)
    if cache is None:
        cache = {}
        spark._rtfl_table_handles = cache
    key = (os.path.abspath(sf_dir), name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos long -> microsecond timestamp.  Integer DIV, not `/`: the
        # nano epoch (~1.7e18) exceeds double's exact-integer range, so
        # float division would drift by microseconds.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # NTZ-annotated fixture timestamps read back as TIMESTAMP_NTZ, which
    # breaks instant-typed functions (unix_millis, to_utc_timestamp) and
    # streaming watermarks.  With the session pinned to UTC the cast
    # preserves the wall-clock, so results match DuckDB's naive reads.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    cache[key] = df
    return df

def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}
