"""Fixture table readers (FIXTURES.md / TESTDATA.md).

All inputs are Parquet — the columnar scan path. Catalyst pushes
predicates and prunes columns into these scans (verified by
tests/test_plans.py); at 100 TB the same `spark.read.parquet` call
reads a partitioned directory tree and partition pruning applies on
top. The types come from the Parquet footers, but reading them is work:
`table()` passes no schema, so every call runs a one-task
footer-inference job before the query's own jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Dimension tables small enough to broadcast at any scale factor (region/
# nation are fixed-size; supplier/part/customer grow with sf but remain
# dims vs the lineitem/orders facts). Used by join builders to decide
# broadcast hints.
BROADCAST_DIMS = {"region", "nation", "supplier"}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Normalize timestamp representations so every downstream query sees a
    # plain (LTZ) TIMESTAMP under the UTC session — the same values DuckDB
    # gets reading the naive parquet column as UTC:
    # - TIMESTAMP(NANOS) fixtures arrive as nanos-since-epoch LongType
    #   (spark.sql.legacy.parquet.nanosAsLong, set in session.py);
    # - naive TIMESTAMP(MICROS) fixtures arrive as TIMESTAMP_NTZ when the
    #   session wasn't built by us (inferTimestampNTZ left at its default) —
    #   unix_micros()/window() reject NTZ, so cast it here.
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            # integer DIV, not `/`: float division of nanos-since-epoch
            # (~1.7e18) exceeds double precision and would corrupt low bits
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            # NTZ -> LTZ cast interprets the naive value in the session
            # timezone (UTC), which is exactly the oracle's reading
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df
