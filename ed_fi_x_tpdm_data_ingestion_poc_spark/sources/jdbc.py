"""Partitioned JDBC source.

Replaces the reference's single-connection, all-rows-into-heap scan
(/root/reference/banner-connector/src/main/java/org/edfi/sis/dao/
Dao.java:29-75: one java.sql.Connection, List<List<String>> accumulation,
strings + "[null]" sentinel) and its per-id N+1 prepared-statement loop
(Dao.java:78-114, driven by SisConnectorService.java:147-150).

Engine design:
  * `spark.read.jdbc` with partitionColumn/lowerBound/upperBound/
    numPartitions — N parallel range scans instead of 1 connection;
  * the N+1 loop disappears: scan once, then join against the id set
    (broadcast when small) — SURVEY.md R2;
  * real types end-to-end (no stringification, no sentinel).

Exercised end-to-end against an embedded Apache Derby database (the JVM
on this box ships derby.jar): q02 runs a real JDBC round-trip with
pushdown asserted (tests/test_jdbc_dialects.py, bench derby_fixture);
per-dialect identifier quoting for Oracle/MySQL/Postgres — the drivers
the reference ships at banner-connector/pom.xml:76-93 — is covered by
construction-level assertions since those servers don't run here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class JdbcSource:
    url: str  # jdbc:postgresql://..., jdbc:mysql://..., jdbc:oracle:thin:...
    user: str = ""
    password: str = ""
    driver: str | None = None
    fetch_size: int = 10_000
    options: dict[str, str] = field(default_factory=dict)


def read_query(
    spark: SparkSession,
    src: JdbcSource,
    sql: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 1,
) -> DataFrame:
    """Run SQL on the remote RDBMS (ref R1 — the predicate/projection text is
    pushed down by construction). With partitioning bounds, Spark issues
    num_partitions range-sliced queries in parallel."""
    reader = (
        spark.read.format("jdbc")
        .option("url", src.url)
        .option("query", sql)
        .option("user", src.user)
        .option("password", src.password)
        .option("fetchsize", str(src.fetch_size))
    )
    if src.driver:
        reader = reader.option("driver", src.driver)
    for k, v in src.options.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def read_table(
    spark: SparkSession,
    src: JdbcSource,
    dbtable: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 1,
) -> DataFrame:
    """Read a table (or '(subquery) alias') with optional range partitioning:
    num_partitions parallel connections each scanning one slice of
    partition_column. Filters/projections on the result push down into the
    remote SQL (visible as PushedFilters in .explain)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", src.url)
        .option("dbtable", dbtable)
        .option("fetchsize", str(src.fetch_size))
    )
    if src.user:
        reader = reader.option("user", src.user).option("password", src.password)
    if src.driver:
        reader = reader.option("driver", src.driver)
    for k, v in src.options.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()
