"""End-to-end ETL pipeline queries (reference semantics R4–R26) and the
REST paginated-source check (Q03).

The driver only materializes the TPC-H-ish tables, so the Banner-shaped
pipeline fixtures are inline literals shared — by construction — between the
Spark builder and the DuckDB oracle (CTE VALUES). The pipeline query chains
every semantic operator: rename (R6) -> cast (R8) -> last-row-wins (R15) ->
descriptor enrichment with fallback (R10) -> address dedup + period merge
(R13) -> nest (R11-R14), with arrays canonicalized to sorted CSV strings so
the value hash is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import build_once, fixture_df, memo, query

# --------------------------------------------------------------- fixtures --
# (pidm, first, last, birth_date 'YYYY-MM-DD'|None, sex_code, source_order)
_CANDS = [
    (101, "Ana", "Alvarez", "1999-02-03", "F", 1),
    (101, "Ana", "Alvarez-Smith", "1999-02-03", "F", 2),  # last-row-wins (R15)
    (102, "Ben", "Baker", "2000-07-15", "M", 1),
    (103, "Cam", "Cole", None, "X", 1),  # null birth date + unknown sex code
    (104, "Dee", "Dunn", "1998-11-30", "M", 1),  # zero addresses
]
# (pidm, street, city, state_code, zip, atyp_code, begin, end|None)
_ADDRS = [
    (101, "1 Elm St", "Austin", "TX", "78701", "MA", "2019-01-01", "2019-12-31"),
    (101, "1 Elm St", "Austin", "TX", "78701", "MA", "2020-01-01", None),  # same addr, new period (merge, R13)
    (101, "1 Elm St", "Austin", "TX", "78701", "MA", "2020-01-01", None),  # exact dup period (drop, :398-402)
    (101, "9 Oak Av", "Dallas", "TX", "75201", "PR", "2018-05-01", None),
    (102, "2 Pine Rd", "Reno", "NV", "89501", "MA", "2021-03-01", None),  # NV not in vocab -> bare code
    (103, "3 Fir Ln", "Boise", "ZZ", "83701", "QQ", "2022-06-01", None),  # both codes unknown
]
_SEX_VOCAB = [("M", "uri://ed-fi.org/SexDescriptor"), ("F", "uri://ed-fi.org/SexDescriptor")]
_STATE_VOCAB = [("TX", "uri://ed-fi.org/StateAbbreviationDescriptor"),
                ("CA", "uri://ed-fi.org/StateAbbreviationDescriptor")]
_ATYP_VOCAB = [("MA", "uri://ed-fi.org/AddressTypeDescriptor"),
               ("PR", "uri://ed-fi.org/AddressTypeDescriptor")]
# reconciliation snapshot: 101/102 exist remotely, 900/901 are remote-only
_REMOTE = [("101", "res-101"), ("102", "res-102"), ("900", "res-900"), ("901", "res-901")]


# One REST stub server per process: the server is the fixture ("the remote
# ODS API"); the declared operator is the paginated executor-side read.
_STUB_CACHE: dict = {}


def _stub_server():
    def build():
        from ..testing.rest_stub import StubRestServer

        rows = [{"id": i, "name": f"row-{i}", "grp": i % 10} for i in range(250)]
        server = StubRestServer(rows, page_size_cap=100)
        server.__enter__()
        import atexit

        atexit.register(lambda: server.__exit__())
        return server

    return build_once(_STUB_CACHE, "server", build, label="rest_stub")


def _values(rows: list[tuple]) -> str:
    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


@query(
    "qz60_pipeline_docs",
    oracle=f"""
    WITH cand(pidm, first_name, last_name, birth_date, sex_code, ord) AS
           (VALUES {_values(_CANDS)}),
         addr(pidm, street, city, state_code, zip, atyp, b, e) AS
           (VALUES {_values(_ADDRS)}),
         sexv(code, ns) AS (VALUES {_values(_SEX_VOCAB)}),
         statev(code, ns) AS (VALUES {_values(_STATE_VOCAB)}),
         atypv(code, ns) AS (VALUES {_values(_ATYP_VOCAB)}),
         last_cand AS (
           SELECT * FROM (
             SELECT pidm, first_name, last_name, birth_date, sex_code,
                    ROW_NUMBER() OVER (PARTITION BY pidm ORDER BY ord DESC) AS rn
             FROM cand) t WHERE rn = 1),
         addr_enriched AS (
           SELECT a.pidm,
                  COALESCE(tv.ns || '#' || a.atyp, a.atyp) AS atype_uri,
                  a.street, a.city,
                  COALESCE(sv.ns || '#' || a.state_code, a.state_code) AS state_uri,
                  a.zip, a.b || '~' || COALESCE(a.e, '') AS period
           FROM addr a
           LEFT JOIN atypv tv ON a.atyp = tv.code
           LEFT JOIN statev sv ON a.state_code = sv.code),
         merged AS (
           SELECT pidm,
                  atype_uri || '|' || street || '|' || city || '|' || state_uri
                    || '|' || zip || '|'
                    || string_agg(DISTINCT period, ',' ORDER BY period) AS addr_str
           FROM addr_enriched
           GROUP BY pidm, atype_uri, street, city, state_uri, zip),
         nested AS (
           SELECT pidm, string_agg(addr_str, ';' ORDER BY addr_str) AS addresses_csv
           FROM merged GROUP BY pidm)
    SELECT CAST(c.pidm AS VARCHAR) AS tcid, c.first_name, c.last_name,
           COALESCE(CAST(CAST(c.birth_date AS DATE) AS VARCHAR), '') AS birth_iso,
           COALESCE(sx.ns || '#' || c.sex_code, c.sex_code) AS sex_uri,
           COALESCE(n.addresses_csv, '') AS addresses_csv
    FROM last_cand c
    LEFT JOIN sexv sx ON c.sex_code = sx.code
    LEFT JOIN nested n ON c.pidm = n.pidm
    """,
    tags=("pipeline",),
)
def q60(spark: SparkSession, sf: str) -> DataFrame:
    """Full reference ETL chain, hash-checked: rename -> cast -> last-row-
    wins -> enrichment (match + fallback) -> address dedup/period merge ->
    nest, flattened to canonical CSV strings for cross-engine hashing.

    Spark side runs the engine's real operator library; the oracle
    re-derives the same semantics in pure SQL.
    """
    from ..operators.casts import cast_columns
    from ..operators.enrich import enrich_descriptor_uri
    from ..operators.relational import latest_per_key
    from ..operators.rename import rename_columns

    # Physical (Banner-style) column names prove the rename layer (R6).
    cand = fixture_df(
        spark, "cand", _CANDS,
        "SPRIDEN_PIDM long, SPRIDEN_FIRST_NAME string, SPRIDEN_LAST_NAME string,"
        " SPBPERS_BIRTH_DATE string, SPBPERS_SEX string, SOURCE_ORDER int",
    )
    cand = rename_columns(
        cand,
        {
            "tcid": "spriden_pidm",  # case-insensitive match (R5)
            "first_name": "SPRIDEN_FIRST_NAME",
            "last_name": "SPRIDEN_LAST_NAME",
            "birth_date": "SPBPERS_BIRTH_DATE",
            "sex_code": "SPBPERS_SEX",
            "ord": "SOURCE_ORDER",
        },
    )
    cand = cast_columns(cand, {"birth_date": "date"})
    cand = latest_per_key(cand, ["tcid"], ["ord"])
    sexv = fixture_df(spark, "sexv", _SEX_VOCAB, "codeValue string, namespace string")
    cand = enrich_descriptor_uri(cand, sexv, code_col="sex_code", out_col="sex_uri")

    addr = fixture_df(
        spark, "addr", _ADDRS,
        "pidm long, street string, city string, state_code string, zip string,"
        " atyp string, b string, e string",
    )
    statev = fixture_df(spark, "statev", _STATE_VOCAB, "codeValue string, namespace string")
    atypv = fixture_df(spark, "atypv", _ATYP_VOCAB, "codeValue string, namespace string")
    addr = enrich_descriptor_uri(addr, atypv, code_col="atyp", out_col="atype_uri")
    addr = enrich_descriptor_uri(addr, statev, code_col="state_code", out_col="state_uri")
    addr = addr.withColumn(
        "period", F.concat(F.col("b"), F.lit("~"), F.coalesce(F.col("e"), F.lit("")))
    )
    merged = (
        addr.groupBy("pidm", "atype_uri", "street", "city", "state_uri", "zip")
        .agg(
            F.array_join(F.array_sort(F.collect_set("period")), ",").alias("periods_csv")
        )
        .select(
            "pidm",
            F.concat_ws(
                "|", "atype_uri", "street", "city", "state_uri", "zip", "periods_csv"
            ).alias("addr_str"),
        )
    )
    nested = merged.groupBy("pidm").agg(
        F.array_join(F.array_sort(F.collect_list("addr_str")), ";").alias("addresses_csv")
    )
    return (
        cand.join(nested, cand.tcid == nested.pidm, "left")
        .select(
            F.col("tcid").cast("string").alias("tcid"),
            "first_name",
            "last_name",
            F.coalesce(F.col("birth_date").cast("string"), F.lit("")).alias("birth_iso"),
            "sex_uri",
            F.coalesce("addresses_csv", F.lit("")).alias("addresses_csv"),
        )
    )


@query(
    "qz61_reconcile_snapshot",
    oracle=f"""
    WITH cand(pidm, first_name, last_name, birth_date, sex_code, ord) AS
           (VALUES {_values(_CANDS)}),
         remote(k, rid) AS (VALUES {_values(_REMOTE)}),
         src AS (SELECT DISTINCT CAST(pidm AS VARCHAR) AS k FROM cand)
    SELECT 'upsert' AS op, k FROM src
    UNION ALL
    SELECT 'delete' AS op, k FROM remote
    WHERE k NOT IN (SELECT k FROM src)
    """,
    tags=("pipeline",),
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation (ref R21, SisConnectorService.java:463-470):
    every source doc is an upsert; remote-only keys become deletes — one
    left_anti join replaces the reference's mutate-a-HashMap-during-upserts
    bookkeeping."""
    from ..operators.relational import reconcile_snapshot

    src = fixture_df(
        spark, "src_keys", [(str(r[0]),) for r in _CANDS], "k string"
    ).distinct()
    remote = fixture_df(spark, "remote", _REMOTE, "k string, rid string")
    upserts, deletes = reconcile_snapshot(src, remote, "k")
    return (
        upserts.select(F.lit("upsert").alias("op"), "k")
        .unionAll(deletes.select(F.lit("delete").alias("op"), "k"))
    )


@query(
    "qz02_jdbc_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100) t
    WHERE l_quantity > 5
    """,
    tags=("source", "jdbc"),
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """JDBC source/sink round-trip against embedded Derby (the one JDBC
    engine shipped with Spark): write 100 lineitem rows through the JDBC
    sink, read them back with a PARTITIONED jdbc scan (4 range slices on
    l_orderkey — the engine's replacement for the reference's single
    connection, Dao.java:26-75) plus a pushed-down filter, and hash-match
    the original rows. On a real RDBMS the same reader takes url/driver
    from config (sources/jdbc.py). The Derby database is the fixture (the
    "remote RDBMS"), written once per (session, sf); the declared operator
    is the partitioned read."""
    from ..sources.jdbc import JdbcSource, read_table
    from ..tables import table

    def build_fixture():
        import tempfile

        li = table(spark, sf, "lineitem")
        src_rows = (
            li.orderBy("l_orderkey", "l_linenumber")
            .limit(100)
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        )
        db_url = f"jdbc:derby:{tempfile.mkdtemp(prefix='q02-')}/db;create=true"
        props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        src_rows.write.jdbc(db_url, "li_sample", mode="overwrite", properties=props)
        lo, hi = src_rows.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
        return (db_url, int(lo), int(hi))

    # one Derby "remote RDBMS" per (session, sf): the database is the
    # fixture; the declared operator is the partitioned JDBC scan against it
    url, lo, hi = memo(
        spark, ("derby_fixture", sf), build_fixture, label="derby_fixture"
    )

    jdbc = JdbcSource(url=url, driver="org.apache.derby.jdbc.EmbeddedDriver")
    back = read_table(
        spark,
        jdbc,
        "li_sample",
        partition_column="l_orderkey",
        lower_bound=int(lo),
        upper_bound=int(hi) + 1,
        num_partitions=4,
    )
    return (
        back.filter(F.col("l_quantity") > 5)  # pushed to the JDBC scan
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    )


@query(
    "qz03_rest_paged",
    oracle="""
    SELECT CAST(r.range AS BIGINT) AS id, 'row-' || r.range AS name
    FROM range(250) r
    """,
    tags=("source", "rest"),
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    """REST paginated source (ref R16): a local stub serves 250 rows at page
    size 100 with a Total-Count header; the engine plans page offsets and
    fetches them in executors — and reads ALL pages, fixing the reference's
    first-100-only truncation (SisConnectorService.java:493, 694)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..sources.rest import RestSource, read_rest

    server = _stub_server()
    src = RestSource(base_url=server.url, path="/items", page_size=100)
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    return read_rest(spark, src, schema)


@query(
    "qz49b_scd2_history",
    oracle="""
    WITH ch AS (SELECT user_id AS key, ts, ROUND(value, 2) AS val, event_id
                FROM events),
     v AS (SELECT key, val, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY key ORDER BY ts, event_id)
                    AS valid_to
           FROM ch),
     fc AS (SELECT key, MIN(ts) AS valid_to FROM ch GROUP BY key),
     b AS (SELECT c_custkey AS key, ROUND(c_acctbal, 2) AS val FROM customer),
     br AS (SELECT b.key, b.val, TIMESTAMP '1900-01-01' AS valid_from,
                   fc.valid_to
            FROM b LEFT JOIN fc ON b.key = fc.key)
    SELECT key, val, valid_from, valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM (SELECT * FROM br UNION ALL SELECT * FROM v)
    """,
    tags=("pipeline", "cdc"),
)
def q49b(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history merge (operators/scd.py): customer balances as the base
    snapshot, events as a timestamped change feed keyed by user_id. The
    reference's delivery is SCD1 overwrite-by-key (SisConnectorService.java
    upsert loop); this is the table-side history complement — every version
    kept with [valid_from, valid_to) and an is_current marker. One window
    shuffle over the feed + one key join for the base; no driver state."""
    from ..operators.scd import merge_scd2
    from ..tables import table

    base = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round("c_acctbal", 2).alias("val"),
    )
    changes = table(spark, sf, "events").select(
        F.col("user_id").alias("key"),
        "ts",
        F.round("value", 2).alias("val"),
        "event_id",
    )
    return merge_scd2(
        base, changes, keys=["key"], ts_col="ts", attr_cols=["val"],
        tiebreak=["event_id"],
    )


@query(
    "qz98_rest_datasource",
    oracle="""
    SELECT CAST(r.range AS BIGINT) AS id, 'row-' || r.range AS name,
           CAST(r.range % 10 AS BIGINT) AS grp
    FROM range(250) r WHERE r.range % 10 = 3
    """,
    tags=("source", "rest"),
)
def q98(spark: SparkSession, sf: str) -> DataFrame:
    """The REST source as a first-class Spark 4 Python DataSource
    (sources/rest_datasource.py): spark.read.format("edfi_rest") with the
    equality predicate PUSHED DOWN into the REST query string (ref R17 as
    real DSv2 pushdown — the stub filters server-side and reports the
    filtered Total-Count, so only 25 rows ever cross the wire; asserted
    against the stub's request log in tests/test_rest_datasource.py).
    Page partitions are planned from the probed count and fetched by
    executors, same plan as q03's read_rest."""
    from ..sources.rest_datasource import register_rest_datasource

    server = _stub_server()
    register_rest_datasource(spark)
    df = (
        spark.read.format("edfi_rest")
        .schema("id long, name string, grp long")
        .option("base_url", server.url)
        .option("path", "/items")
        .option("page_size", "100")
        .load()
    )
    return df.filter(F.col("grp") == 3)


@query(
    "qz98b_rest_limit",
    oracle="""
    SELECT CAST(r.range AS BIGINT) AS id, 'row-' || r.range AS name,
           CAST(r.range % 10 AS BIGINT) AS grp
    FROM range(10, 130) r
    """,
    tags=("source", "rest"),
)
def q98b(spark: SparkSession, sf: str) -> DataFrame:
    """R17's offset/limit surface on the DataSource read path
    (TeacherCandidatesApi.java:187-191): option('offset', 10) +
    option('limit', 120) plan only the pages covering rows [10, 130) —
    ceil(120/100) = 2 page fetches instead of the whole 250-row
    collection (request count asserted against the stub log in
    tests/test_rest_datasource.py::
    test_limit_offset_options_fetch_only_needed_pages)."""
    from ..sources.rest_datasource import register_rest_datasource

    server = _stub_server()
    register_rest_datasource(spark)
    return (
        spark.read.format("edfi_rest")
        .schema("id long, name string, grp long")
        .option("base_url", server.url)
        .option("path", "/items")
        .option("page_size", "100")
        .option("offset", "10")
        .option("limit", "120")
        .load()
    )


@query(
    "qz99_stream_rest_source",
    oracle="""
    SELECT CAST(r.range AS BIGINT) AS id, 'row-' || r.range AS name,
           CAST(r.range % 10 AS BIGINT) AS grp
    FROM range(250) r
    """,
    tags=("streaming", "source", "rest"),
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    """The REST endpoint as a STREAMING source
    (sources/rest_datasource.py::RestStreamReader): micro-batches read
    rows beyond the checkpointed offset — the Ed-Fi change-query poll
    expressed as a Structured Streaming source instead of the reference's
    full-snapshot re-pull (SisConnectorService.java:129-140). Bounded
    drain (availableNow) of the 250-row stub, hash-checked against the
    full collection; incremental-growth and restart behavior are pinned
    in tests/test_rest_datasource.py::test_rest_stream_incremental."""
    from ..sources.rest_datasource import register_rest_datasource
    from ..streaming.replay import run_to_memory

    server = _stub_server()
    register_rest_datasource(spark)
    stream = (
        spark.readStream.format("edfi_rest")
        .schema("id long, name string, grp long")
        .option("base_url", server.url)
        .option("path", "/items")
        .option("page_size", "100")
        .load()
    )
    return run_to_memory(stream, output_mode="append")


@query(
    "q298_jdbc_write_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 150) t
    WHERE o_totalprice > 50000
    """,
    tags=("sink", "jdbc"),
)
def q298(spark: SparkSession, sf: str) -> DataFrame:
    """JDBC WRITE path round-trip (sinks/jdbc.py::write_table — VERDICT
    r16 #7, the write half qz02's read-complete source was missing):
    against embedded Derby, the fixture exercises all three writer
    modes in sequence — (1) overwrite CREATES the table from a decoy
    slice, (2) overwrite again TRUNCATES in place (DDL preserved —
    the truncate=True default) and loads orders rows 1..100, (3)
    append adds rows 101..150 through batched inserts — then the
    partitioned reader (4 range slices) pulls all 150 back with a
    pushed-down o_totalprice filter and the hash must equal the
    parquet source. A failed truncate (decoy rows surviving) or a
    lost/double append batch each shift the hash.

    Dialect posture matches the read path: Derby is the live engine;
    Oracle/MySQL/Postgres quoting and writer-option construction are
    pinned in tests/test_jdbc_dialects.py. Scale: one connection per
    task capped by max_connections (admission control for the RDBMS),
    batchsize-row executeBatch round-trips, no Python in the loop."""
    from ..sinks.jdbc import write_table
    from ..sources.jdbc import JdbcSource, read_table
    from ..tables import table

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]

    def build_fixture():
        import tempfile

        o = table(spark, sf, "orders").orderBy("o_orderkey")
        first = o.limit(100).select(*cols)
        second = (
            o.limit(150).select(*cols)
            .exceptAll(first)
        )
        db_url = f"jdbc:derby:{tempfile.mkdtemp(prefix='q298-')}/db;create=true"
        sink = JdbcSource(
            url=db_url, driver="org.apache.derby.jdbc.EmbeddedDriver"
        )
        # (1) create via overwrite with a DECOY slice...
        write_table(second, sink, "orders_out", mode="overwrite",
                    max_connections=2)
        # (2) ...then truncate-overwrite with the real first slice: if
        # the truncate path failed, decoy rows survive and the hash breaks
        write_table(first, sink, "orders_out", mode="overwrite",
                    max_connections=2)
        # (3) append the second slice
        write_table(second, sink, "orders_out", mode="append",
                    batch_size=32, max_connections=2)
        # bounds over the FULL 150-row table, so the 4 range slices
        # below genuinely stripe the data (an upper bound past the real
        # max collapses every row into slice 1 and a striping bug in
        # read_table could never shift the hash)
        lo, hi = (
            o.limit(150).agg(F.min("o_orderkey"), F.max("o_orderkey"))
            .first()
        )
        return (db_url, int(lo), int(hi))

    url, lo, hi = memo(
        spark, ("jdbc_sink_fixture", sf), build_fixture,
        label="jdbc_sink_fixture",
    )
    sink = JdbcSource(url=url, driver="org.apache.derby.jdbc.EmbeddedDriver")
    back = read_table(
        spark, sink, "orders_out",
        partition_column="o_orderkey", lower_bound=lo,
        upper_bound=hi + 1, num_partitions=4,
    )
    return back.filter(F.col("o_totalprice") > 50000).select(*cols)
