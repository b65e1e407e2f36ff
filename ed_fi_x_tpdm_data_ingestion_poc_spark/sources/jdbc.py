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

from pyspark.sql import DataFrame, DataFrameReader, SparkSession


@dataclass
class JdbcSource:
    url: str  # jdbc:postgresql://..., jdbc:mysql://..., jdbc:oracle:thin:...
    user: str = ""
    password: str = ""
    driver: str | None = None
    fetch_size: int = 10_000
    options: dict[str, str] = field(default_factory=dict)


def _reader(spark: SparkSession, src: JdbcSource, **options: str) -> DataFrameReader:
    """A jdbc reader on `src`'s url with `options`, its fetch size and
    driver, then src.options (which win over the others)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", src.url)
        .options(**options)
        .option("fetchsize", str(src.fetch_size))
    )
    if src.driver:
        reader = reader.option("driver", src.driver)
    return reader.options(**src.options)


def read_query(spark: SparkSession, src: JdbcSource, sql: str) -> DataFrame:
    """Run SQL on the remote RDBMS (ref R1 — the predicate/projection text is
    pushed down by construction). Spark reads a query through one
    connection: it rejects partitionColumn together with `query`, so a
    parallel scan goes through read_table."""
    return _reader(spark, src, query=sql, user=src.user, password=src.password).load()


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
    creds = {"user": src.user, "password": src.password} if src.user else {}
    reader = _reader(spark, src, dbtable=dbtable, **creds)
    if partition_column is not None:
        reader = reader.options(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return reader.load()
