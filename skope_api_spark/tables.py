"""TESTDATA star-schema loaders (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under a scale-factor directory.
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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # ts is stored as timestamp[ns]; Spark 4 refuses INT64(TIMESTAMP_NANOS)
        # unless read as raw longs. The conf is runtime-settable; set it here
        # (not only in session.py) so sessions not built by
        # skope_api_spark.session — e.g. the verify driver's — can read events.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            # `div` keeps the arithmetic in exact int64 (a double division
            # would lose precision at 1e18 ns) and truncates toward zero —
            # identical to DuckDB's ns→µs truncation on the same file.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] with isAdjustedToUTC=false lands as NTZ, which
            # unix_millis/window() reject. ntz→ltz cast interprets the wall
            # clock in the session timezone and collect converts back with
            # the SAME timezone, so the round-trip is value-identical to
            # DuckDB's naive read whatever the session tz is.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
