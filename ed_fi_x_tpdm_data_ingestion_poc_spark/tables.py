"""Catalog of the driver test tables (/root/testdata/<sf>/*.parquet).

Schemas documented in /root/repo/FIXTURES.md §5. The loader is intentionally
thin: `spark.read.parquet` gives us the vectorized reader, predicate pushdown
and column pruning for free — the 100 TB path is the same code with a bigger
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .queries import memo_unlocked
from .session import tune

TABLE_NAMES = (
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Lazy — the scan plan carries pushed filters.

    Pins engine runtime conf (UTC session timezone, AQE, Arrow) first: the
    driver may hand us a session configured arbitrarily (e.g. a non-UTC
    timezone, which would shift every timestamp materialized through
    toPandas), and the engine's semantics must not depend on it.

    DataFrames are memoized per (session, sf, table): they're immutable
    plans, and re-resolving the same parquet footer/schema on every query
    is pure py4j latency."""
    tune(spark)
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")

    def load() -> DataFrame:
        path = os.path.join(sf_dir, f"{name}.parquet")
        return _read_events(spark, path) if name == "events" else spark.read.parquet(path)

    return memo_unlocked(spark, ("table", sf_dir, name), load)


def _read_events(spark: SparkSession, path: str):
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    refuses ([PARQUET_TYPE_ILLEGAL]). Read nanos as long and rebuild a
    microsecond timestamp column — still a single pushdown-capable scan."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and pin engine runtime conf on the session."""
    tune(spark)
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql access."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
