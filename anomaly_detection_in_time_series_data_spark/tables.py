"""Loaders for the driver fixture tables (TESTDATA.md).

Every load is a ``spark.read.parquet`` with the schema the parquet footer
gives (already canonical); filters and projections push down to the scan.
Inferring that schema is a Spark job of its own (~0.13 s on 4 cores), so
``parquet_schema`` memoizes it per file version and loads pass it to
``spark.read.schema`` — only the first load of a file version pays the job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# path -> ((mtime, length, nanosAsLong), schema): the latest version only
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized per
    (path, modification time, length, ``nanosAsLong`` setting).

    A rewritten file gets a new key, so its schema is inferred again. Only
    a regular local file is memoized; any other path (a directory, a
    remote URI) is inferred on every call. The returned object is shared
    between callers: treat it as read-only.
    """
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    version = (st.st_mtime_ns, st.st_size, spark.conf.get(_NANOS_AS_LONG))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != version:
        hit = _SCHEMAS[path] = (version, spark.read.parquet(path).schema)
    return hit[1]


def _read(spark: SparkSession, path: str) -> DataFrame:
    # A fresh relation (and fresh attribute ids) on every call: self-joins
    # of two loads of one table must not share attributes.
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import ensure_pyfiles

    ensure_pyfiles(spark)  # the driver's own session needs the package too
    # Deterministic timestamp semantics vs the (naive-timestamp) DuckDB
    # oracle: date-part extraction and date literals must render in UTC
    # regardless of how the caller's session was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # The driver regenerates fixtures between rounds and the physical
        # type of events.ts has changed across regenerations: sometimes
        # parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
        # with PARQUET_TYPE_ILLEGAL unless read as long), sometimes a plain
        # TIMESTAMP(MICROS). Branch on what the footer actually says.
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = _read(spark, f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            # nanos-as-long → exact integer division to micros (`div`, not
            # `/` — nanos exceed double's 2^53 integer range).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # Normalize NTZ to TimestampType so every downstream consumer
            # (unix_micros, session_window, streaming watermarks) sees one
            # type regardless of the fixture's physical encoding.  The
            # session timezone is pinned UTC above, so the wall-clock values
            # are unchanged and match the naive-timestamp DuckDB oracle.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
