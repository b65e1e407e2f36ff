"""Relational operator surface: scans, filters, joins, aggregates, windows,
sorts, set ops (SURVEY.md §2.3 Q01–Q33).

These re-express, Spark-first, the relational capabilities the reference
reaches only by shipping raw SQL text to a remote RDBMS
(/root/reference/runtime/input/sql/*.sql executed via
banner-connector/src/main/java/org/edfi/sis/dao/Dao.java:40-75): projection
with aliases, equi-joins, conjunctive equality + IN + IS NULL predicates,
ORDER BY, CASE WHEN — plus the app-level patterns (N+1 per-id lookup loop ->
join, last-row-wins -> max_by, snapshot reconciliation -> left_anti).

Everything here is built-in Catalyst: whole-stage codegen, partial
aggregation, broadcast selection and AQE come for free because the plans are
declarative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import table
from . import broadcast_if_small, memo, query

# ---------------------------------------------------------------- scans ----


@query(
    "qz01_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
    tags=("scan",),
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet scan + projection + top-k (ref R1 analog, Dao.java:40-75).

    Column pruning reaches the scan: ReadSchema carries only 4 columns.
    """
    li = table(spark, sf, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "qz04_sink_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
    tags=("sink",),
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    """JSON sink write+reread round-trip equals the source (ref R24,
    SisConnectorService.java:163-182). Hash-checked against the Q01 oracle.
    """
    import tempfile

    out = tempfile.mkdtemp(prefix="q04_roundtrip_")
    df = q01(spark, sf)
    df.write.mode("overwrite").json(out)
    back = spark.read.schema(df.schema).json(out)
    return back


# -------------------------------------------------- filters / predicates ----


@query(
    "qz05_filter_conjunction",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_quantity > 30 AND l_returnflag = 'R'
    """,
    tags=("filter",),
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive comparison predicates (ref §2.2, teacherCandidateIds.sql:3-6).

    Both predicates push to the parquet scan (PushedFilters in explain).
    """
    li = table(spark, sf, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber")
    )


@query(
    "qz06_in_between",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
      AND o_totalprice BETWEEN 1000 AND 100000
    """,
    tags=("filter",),
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """IN-list + BETWEEN predicates (ref §2.2, teacherCandidateIds.sql:7)."""
    o = table(spark, sf, "orders")
    return (
        o.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_totalprice").between(1000, 100000)
        )
        .select("o_orderkey")
    )


@query(
    "qz07_is_null",
    oracle="""
    SELECT e.event_id FROM events e
    LEFT JOIN (SELECT DISTINCT event_type AS et FROM events
               WHERE event_type <> 'error') d
      ON e.event_type = d.et
    WHERE d.et IS NULL OR NULLIF(e.event_type, 'click') IS NULL
    """,
    tags=("filter",),
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    """IS NULL / three-valued logic (ref §2.2 teacherCandidateAddresses.sql:22;
    unmatched-column->null path SisConnectorService.java:830-836).

    The testdata carries no natural NULLs in any column, so the r01–r06
    certifications of the old single-table predicate were over 0-row
    results — a hash that certifies only emptiness agreement (VERDICT
    r13). This version manufactures NULLs exactly the way the reference
    hits them — an unmatched LEFT-join column — and via a NULLIF
    expression, then filters on IS NULL over both: ~4k of 10k events
    qualify at sf0.01, so the certification hash now bites."""
    e = table(spark, sf, "events")
    d = (
        e.where(F.col("event_type") != "error")
        .select(F.col("event_type").alias("et"))
        .distinct()
    )
    return (
        e.join(d, e.event_type == d.et, "left")
        .where(
            F.col("et").isNull()
            | F.nullif(F.col("event_type"), F.lit("click")).isNull()
        )
        .select("event_id")
    )


@query(
    "qz08_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderpriority WHEN '1-URGENT' THEN 'hot'
                                WHEN '2-HIGH' THEN 'warm'
                                ELSE 'cold' END AS pr
    FROM orders
    """,
    tags=("filter",),
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """CASE WHEN mapping (ref §2.2, teacherCandidateAddresses.sql:9-15)."""
    o = table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", "hot")
        .when(F.col("o_orderpriority") == "2-HIGH", "warm")
        .otherwise("cold")
        .alias("pr"),
    )


@query(
    "qz09_rename_alias",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS full_name
    FROM customer
    """,
    tags=("project",),
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """Column-map rename layer (ref R6, SisConnectorService.java:723-733;
    runtime/input/columnmap/teacherCandidate.map). The engine version is
    operators.rename.rename_columns; this query proves the primitive."""
    from ..operators.rename import rename_columns

    c = table(spark, sf, "customer")
    out = rename_columns(c, {"customer_id": "c_custkey", "full_name": "c_name"})
    return out


# ---------------------------------------------------------------- joins ----


def _join_chain(spark: SparkSession, sf: str, hint: bool) -> DataFrame:
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region")
    if hint:
        n, r = F.broadcast(n), F.broadcast(r)
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


_Q10_SQL = """
    SELECT c.c_custkey, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """


@query("qz10_join_chain", oracle=_Q10_SQL, tags=("join",))
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """Inner equi-join chain (ref §2.2 implicit-comma joins,
    teacherCandidateAddresses.sql:17-23). Planner picks the strategy."""
    return _join_chain(spark, sf, hint=False)


@query("qz11_broadcast_join", oracle=_Q10_SQL, tags=("join",))
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit broadcast-hash join of small dims (ref R10's in-heap lookup
    maps, SisConnectorService.java:503-507 -> broadcast, not driver HashMap).
    Same result as q10 by construction; at 100 TB the dims stay broadcast."""
    return _join_chain(spark, sf, hint=True)


@query(
    "qz12_left_join",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    tags=("join",),
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join (customers with zero orders keep a NULL row)."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select("c_custkey", "o_orderkey")
    )


@query(
    "qz13_semi_join",
    oracle="""
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """Left semi join (EXISTS)."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey")
    )


@query(
    "qz14_anti_join",
    oracle="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o.o_orderdate <  TIMESTAMP '1997-01-01')
    """,
    tags=("join",),
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """Left anti join (NOT EXISTS) — the reference's delete-detection
    reconciliation (R21, SisConnectorService.java:463-470) is exactly this.

    Every sf0.01 customer has SOME order, so the original unfiltered
    anti join certified a 0-row hash (VERDICT r13: emptiness agreement
    proves nothing). The right side is now the 1996 order book —
    'customers with no orders last year', the real churn question this
    idiom answers — and 332 of 1500 customers qualify at sf0.01, so the
    anti-join semantics are certified on a non-vacuous result. The date
    filter also prunes the orders scan before the join at 100 TB."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
    )


@query(
    "qz15_theta_join",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n
    FROM supplier s JOIN customer c ON s.s_acctbal > c.c_acctbal
    GROUP BY s.s_suppkey
    """,
    tags=("join",),
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """Theta (range-predicate) join; planner uses broadcast nested loop on
    the small build side."""
    s = table(spark, sf, "supplier")
    c = table(spark, sf, "customer")
    return (
        s.join(c, s.s_acctbal > c.c_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "qz16_cross_join",
    oracle="SELECT COUNT(*) AS n FROM region CROSS JOIN nation",
    tags=("join",),
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded cross join."""
    r = table(spark, sf, "region")
    n = table(spark, sf, "nation")
    return r.crossJoin(n).agg(F.count(F.lit(1)).alias("n"))


@query(
    "qz17_asof_style_join",
    oracle="""
    SELECT e.event_id, o.o_orderkey
    FROM events e
    JOIN orders o ON e.user_id = o.o_custkey
                 AND CAST(e.ts AS DATE) >= CAST(o.o_orderdate AS DATE)
    ORDER BY e.event_id, o.o_orderkey LIMIT 1000
    """,
    tags=("join",),
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """Equi+range (as-of-style) join of the event stream against orders.

    Equi key carries the shuffle; the range predicate is evaluated post-join
    — the scalable shape for point-in-time joins (see operators.asof for the
    true last-prior-match variant)."""
    e = table(spark, sf, "events")
    o = table(spark, sf, "orders")
    return (
        e.join(
            o,
            (e.user_id == o.o_custkey)
            & (e.ts.cast("date") >= o.o_orderdate.cast("date")),
        )
        .select("event_id", "o_orderkey")
        .orderBy("event_id", "o_orderkey")
        .limit(1000)
    )


# ----------------------------------------------------------- aggregates ----


@query(
    "qz18_hash_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-measure hash aggregate (TPC-H Q1 shape). Catalyst plans
    partial (map-side) + final aggregation automatically — the distributed
    replacement for the reference's single-threaded accumulation loops."""
    li = table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "qz19_count_distinct",
    oracle="SELECT COUNT(DISTINCT o_custkey) AS n FROM orders",
    tags=("agg",),
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — Catalyst expands to a two-phase aggregate."""
    o = table(spark, sf, "orders")
    return o.agg(F.count_distinct("o_custkey").alias("n"))


@query(
    "qz20_approx_distinct_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch"),
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL++) within ±5% of exact — sketch values
    differ across engines, so the hashed result is the verified tolerance
    flag itself (1 = within tolerance).

    Plan shape: distinct keys first, then ONE final aggregate computing
    both the exact count and the HLL estimate over the deduplicated keys.
    Mixing count_distinct with another aggregate in a single agg() makes
    Catalyst plan an Expand (row doubling) + double two-phase aggregation
    — measured 2x slower than this two-step at sf0.1."""
    o = table(spark, sf, "orders")
    # count('o_custkey'), not count(1): approx_count_distinct ignores
    # NULLs, so a NULL key must not count toward "exact" either.
    return o.select("o_custkey").distinct().agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.count("o_custkey").alias("exact"),
    ).select(
        F.when(
            (F.abs(F.col("approx") - F.col("exact")) / F.col("exact")) <= 0.05, 1
        )
        .otherwise(0)
        .cast("int")
        .alias("ok")
    )


@query(
    "qz69_approx_quantile_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch"),
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    """approx_percentile (t-digest-ish sketch) vs EXACT percentile for
    p50/p90/p99 of o_totalprice, one aggregate job; ok=1 iff every
    approximation is within 1% relative error. Sketch internals differ
    across engines (DuckDB approx_quantile), so — like q20 — the hashed
    result is the verified tolerance flag itself. (The exact percentile
    is the expensive half — it buffers the column per group — which is
    exactly why the sketch exists at 100 TB; the check runs on the
    smaller fact to keep the validation cheap.)"""
    o = table(spark, sf, "orders")
    # Fully lazy: the flag is a zip_with/forall expression over the two
    # sketch arrays, so one bench iteration is ONE job (the old .first()
    # + constant-flag form ran two).
    return o.agg(
        F.percentile_approx(
            "o_totalprice", [0.5, 0.9, 0.99], 10_000
        ).alias("apx"),
        F.expr(
            "percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))"
        ).alias("ex"),
    ).select(
        F.forall(
            F.zip_with("apx", "ex", lambda a, e: (F.abs(a - e) / e) <= 0.01),
            lambda x: x,
        )
        .cast("int")
        .alias("ok")
    )


@query(
    "qz21_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS f, COALESCE(l_linestatus, 'ALL') AS s,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    li = table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("f"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("s"),
            "n",
        )
    )


@query(
    "qz22_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pr,
           COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("agg",),
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE / grouping sets."""
    o = table(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("st"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("pr"),
            "n",
        )
    )


@query(
    "qz23_max_by",
    oracle="""
    SELECT o_custkey, last_order FROM (
      SELECT o_custkey, o_orderkey AS last_order,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders) t
    WHERE rn = 1
    """,
    tags=("agg",),
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    """max_by = the reference's last-row-wins reduce (R15,
    SisConnectorService.java:277-292), done as one distributed aggregate
    instead of an overwrite loop. Ties broken by (o_orderdate, o_orderkey)
    struct ordering so the result is deterministic."""
    o = table(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.expr("max_by(o_orderkey, struct(o_orderdate, o_orderkey))").alias(
                "last_order"
            )
        )
    )


@query(
    "qz24_collect_nest",
    oracle="""
    SELECT c_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS orders_csv
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("agg", "nest"),
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    """collect_list nesting (ref R11–R14 document assembly,
    SisConnectorService.java:410-461). collect_list is order-nondeterministic
    after shuffle, so the engine convention is array_sort before any output
    (SURVEY.md §4 custom item 3); canonicalized to CSV for hashing."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("o_orderkey")), ",").alias(
                "orders_csv"
            )
        )
    )


@query(
    "qz25_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    tags=("agg", "dedup"),
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup (ref R13 address dedup, SisConnectorService.java:392-408)."""
    li = table(spark, sf, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
    )


# -------------------------------------------------------------- windows ----


@query(
    "qz26_ranking",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS INT) AS rn,
           CAST(RANK() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC) AS INT) AS rk
    FROM orders
    """,
    tags=("window",),
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking window functions."""
    o = table(spark, sf, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w1).alias("rn"),
        F.rank().over(w2).alias("rk"),
    )


@query(
    "qz27_window_frame",
    oracle="""
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mv
    FROM orders
    """,
    tags=("window",),
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    """Moving aggregate with an explicit ROWS frame."""
    o = table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("mv")
    )


@query(
    "qz28_lag",
    oracle="""
    SELECT o_orderkey,
           LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS pv
    FROM orders
    """,
    tags=("window",),
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    """LAG analytic function."""
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", F.lag("o_totalprice").over(w).alias("pv")
    )


@query(
    "qz29_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    tags=("window",),
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group via ranking window (the scalable per-key top-k)."""
    from ..operators.relational import top_k_per_group

    o = table(spark, sf, "orders")
    out = top_k_per_group(
        o,
        keys=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return out.select("o_custkey", "o_orderkey", "rn")


# ------------------------------------------------- sorts / limits / sets ----


@query(
    "qz30_global_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    tags=("sort",),
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    """Global sort + limit — Spark executes TakeOrderedAndProject (per-
    partition heap + driver merge), no full sort materialization."""
    o = table(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "qz31_union",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    UNION SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    """UNION (distinct)."""
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct()


@query(
    "qz32_intersect",
    oracle="""
    SELECT c_nationkey FROM customer
    INTERSECT SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT."""
    c = table(spark, sf, "customer").select("c_nationkey")
    s = table(spark, sf, "supplier").select("s_nationkey")
    return c.intersect(s)


@query(
    "qz33_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    tags=("setop",),
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT — set-level analog of the reconciliation anti-join (R21):
    nations that have customers but no high-balance (> 9000) supplier.

    Suppliers cover all 25 nations at every SF, so the original
    nation-minus-supplier EXCEPT certified a 0-row hash (VERDICT r13).
    The filtered right side leaves a real 18-nation difference at
    sf0.01, so the set-difference semantics (dedup + anti) are
    certified on actual rows. subtract == EXCEPT DISTINCT in both
    engines; the acctbal predicate pushes to the supplier scan."""
    c = table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = (
        table(spark, sf, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


@query(
    "qz71_pivot",
    oracle="""
    SELECT o_orderstatus,
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
           COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
           COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
           ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice END), 2) AS urgent_rev
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "pivot"),
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: priority classes to columns per order status. Spark runs the
    native pivot (explicit value list => single-pass conditional
    aggregation, no extra distinct-values job); the oracle is the
    equivalent engine-independent conditional-aggregation SQL."""
    o = table(spark, sf, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    zero = F.lit(0).cast("bigint")
    return piv.select(
        "o_orderstatus",
        # a (status, priority) combo absent from the data pivots to NULL,
        # but the oracle's COUNT(CASE ...) yields 0 — align on 0
        F.coalesce(F.col("1-URGENT_n"), zero).alias("urgent"),
        F.coalesce(F.col("2-HIGH_n"), zero).alias("high"),
        F.coalesce(F.col("3-MEDIUM_n"), zero).alias("medium"),
        F.col("1-URGENT_rev").alias("urgent_rev"),
    )


@query(
    "qz72_vocab_topk",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents)
    SELECT word, COUNT(*) AS n FROM tok
    GROUP BY word ORDER BY n DESC, word LIMIT 100
    """,
    tags=("llm", "text", "agg"),
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary head: top-100 tokens by frequency — explode + count +
    total-ordered top-k, the first step of any tokenizer/vocab build.
    Partial aggregation combines per-partition counts before the shuffle,
    so the shuffle carries one row per distinct token per partition."""
    d = table(spark, sf, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(100)
    )


@query(
    "qz73_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'price' AS measure,
           ROUND(l_extendedprice, 2) AS val
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', ROUND(l_discount, 2)
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', ROUND(l_tax, 2)
    FROM lineitem WHERE l_orderkey <= 100
    """,
    tags=("project", "unpivot"),
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (wide measures -> long rows), the q71 complement. Spark's
    native unpivot is a single-scan Expand node — one pass emitting 3 rows
    per input row, not 3 UNIONed rescans (the oracle's portable form)."""
    li = table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 100)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
        F.round("l_discount", 2).alias("discount"),
        F.round("l_tax", 2).alias("tax"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["price", "discount", "tax"],
        "measure",
        "val",
    )


@query(
    "qz76_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS st,
           COALESCE(o_orderpriority, 'ALL') AS pr,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg",),
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind q21 ROLLUP / q22
    CUBE): per-status totals, per-priority totals, and the grand total in
    ONE pass — Catalyst plans a single Expand + hash aggregate, not three
    scans."""
    o = table(spark, sf, "orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS st,
               COALESCE(o_orderpriority, 'ALL') AS pr,
               COUNT(*) AS n
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        o=o,
    )


@query(
    "qz77_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 30 AS plus30,
           datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01')
             AS days_to_ref,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
             AS month_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
    tags=("functions", "date"),
)
def q77(spark: SparkSession, sf: str) -> DataFrame:
    """Date arithmetic (ref R8 family): add-days, day difference to a
    reference date, month truncation, end-of-month — each a dialect
    mapping (Spark date_add/datediff/trunc/last_day vs DuckDB interval
    arithmetic and date_trunc)."""
    o = table(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
            F.datediff(
                F.lit("1998-12-01").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("bigint").alias("days_to_ref"),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month_start"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


# ---------------------------------------------------------------------------
# q208-q211 — classic warehouse report shapes over the TPC-H-style tables
# (the multi-way selective-join family the earlier relational surface
# exercised only piecewise: joins qz10-qz17, aggregates qz18-qz23)
# ---------------------------------------------------------------------------


@query(
    "qz208_ship_priority",
    oracle="""
    SELECT l.l_orderkey AS o_key,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_date,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND l.l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, o_date, o_key LIMIT 10
    """,
    tags=("relational", "join", "agg"),
)
def q208(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping-priority report (the TPC-H Q3 shape): top-10 unshipped
    revenue among BUILDING-segment orders placed before a cutoff with
    line items still shipping after it — a selective 3-way
    fact-dimension-fact join feeding a grouped top-k.

    Plan shape at 100 TB: the segment filter reduces customer ~5x
    BEFORE its join (predicate pushdown reaches the scan), orders
    prunes on the date filter, and the orderkey join is the only
    fact-fact shuffle; revenue is ROUND(2)-ed before the ordering so
    the top-k boundary is deterministic cross-engine (ties then break
    on date + key — total order under LIMIT, the registry rule)."""
    c = table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("o_key"),
            F.col("o_orderdate").cast("date").alias("o_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .select("o_key", "revenue", "o_date", "priority")
        .orderBy(F.col("revenue").desc(), "o_date", "o_key")
        .limit(10)
    )


@query(
    "qz209_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY nation
    """,
    tags=("relational", "join", "agg"),
)
def q209(spark: SparkSession, sf: str) -> DataFrame:
    """Local-supplier volume (the TPC-H Q5 shape): revenue per ASIA
    nation where the CUSTOMER and the SUPPLIER sit in the same nation —
    the 6-way join whose distinguishing edge is the non-hierarchical
    c_nationkey = s_nationkey condition (it correlates two dimension
    branches, so join ORDER matters: nation/region prune the supplier
    side before the fact join, not after).

    Plan shape at 100 TB: nation and region are FIXED-cardinality
    (25/5 rows — never SF-proportional), so their hints are
    unconditional; supplier is SF x 10k rows (~1e9 at 100 TB), so the
    region-pruned supplier branch goes through ``broadcast_if_small``
    — hinted only when provably under the cap, otherwise unhinted so
    AQE picks the join strategy from runtime sizes (the query degrades
    to a shuffle join instead of dying on a blown broadcast). Orders
    prunes on the year filter; lineitem joins orders on orderkey (the
    one fact-fact shuffle); the same-nation condition rides the
    supplier join as an equi-key with the customer side. Output is
    nations-sized, totally ordered.

    Measured (tools/scale_probe.py warehouse_join_q5, sf0.1 lineitem
    x10 = 6M rows): 1.04 -> 1.19 s — 0.11x the linear law; the pruned
    orders scan and broadcast dimension chain keep the join cost
    pinned to the filtered fact stream, exactly the plan contract. The
    same probe also inflates SUPPLIER 10x under a forced-low gate
    (cap 1 row — the 100 TB condition): the supplier join degrades to
    the shuffle/AQE path and completes in 1.5 s vs 1.57 s broadcast
    with exactly 10x the per-nation revenue — gate measured, not
    asserted; the degrade-to-shuffle plan itself is pinned by
    tests/test_plan_quality.py."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    sup = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            broadcast_if_small(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (c.c_nationkey == sup.s_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .orderBy("nation")
    )


@query(
    "qz210_returned_items",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue,
           ROUND(c.c_acctbal, 2) AS acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, custkey LIMIT 20
    """,
    tags=("relational", "join", "agg"),
)
def q210(spark: SparkSession, sf: str) -> DataFrame:
    """Returned-item report (the TPC-H Q10 shape): the 20 customers who
    returned the most revenue in one quarter — the churn-risk /
    fraud-triage report every warehouse runs; a returnflag-filtered
    fact joined up the customer->nation hierarchy.

    Plan shape at 100 TB: the returnflag + quarter predicates reach
    both fact scans; one orderkey fact-fact shuffle; customer joins on
    custkey and nation broadcasts. Revenue is ROUND(2)-ed before the
    top-k ordering, ties break on custkey."""
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    o = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .select("custkey", "name", "revenue", "acctbal", "nation")
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(20)
    )


@query(
    "qz211_promo_revenue_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice
                                       * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
    tags=("relational", "join", "agg"),
)
def q211(spark: SparkSession, sf: str) -> DataFrame:
    """Promotion revenue share (the TPC-H Q14 shape): the percentage of
    one month's shipped revenue attributable to PROMO parts — the
    conditional-aggregate-over-a-dimension-attribute report (campaign
    lift, assortment mix) in its canonical form.

    Plan shape at 100 TB: the ship-month predicate reaches the
    lineitem scan; part is SF x 200k rows (~2e10 at 100 TB), so its
    partkey join is ``broadcast_if_small``-gated — hinted only under
    the cap, otherwise unhinted and AQE picks shuffle vs broadcast
    from runtime sizes (degrades, never dies); BOTH sums ride one
    aggregate over the same join (never two scans). The output ratio
    is float-sum over float-sum — rounded at 1e-4, ~7 orders above the
    worst-case cross-engine summation-order noise at this row count
    (the established revenue-ROUND(2) argument, one decade tighter)."""
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = table(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(
                        F.col("p_type").startswith("PROMO"), rev
                    ).otherwise(F.lit(0.0))
                )
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@query(
    "qz212_late_order_priority",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1 ORDER BY priority
    """,
    tags=("relational", "join", "agg"),
)
def q212(spark: SparkSession, sf: str) -> DataFrame:
    """Order-priority late-shipment check (the TPC-H Q4 shape): how many
    of one quarter's orders, per priority, had at least one line item
    ship more than 60 days after the order — the EXISTS-with-a-
    CORRELATED-condition report (the subquery's predicate references
    BOTH relations: l_shipdate > o_orderdate + 60d), which plans as a
    LEFT SEMI join carrying the non-equi condition alongside the
    orderkey equi key, so each order counts ONCE no matter how many
    late items it has (an inner join + distinct would shuffle the
    multiplicity it then throws away).

    Plan shape at 100 TB: the quarter filter reaches the orders scan;
    the semi join shuffles on orderkey only; output is
    priorities-sized, totally ordered."""
    o = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate
                > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("priority")
    )


@query(
    "qz213_disjunctive_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    tags=("relational", "join", "agg"),
)
def q213(spark: SparkSession, sf: str) -> DataFrame:
    """Disjunctive-predicate revenue (the TPC-H Q19 shape): an OR of
    three (brand, size-range, quantity-range) conjunctions across BOTH
    join sides — the optimizer stress case for predicate decomposition:
    Catalyst pushes the derivable per-side disjunctions
    (brand-1 OR 2 OR 3 to the part scan, the quantity-range union to
    the lineitem scan) even though the full predicate can only be
    evaluated after the join. The report itself is the classic
    'special deal' revenue question.

    Plan shape at 100 TB: both scans prune on the pushed disjunction
    residuals before the partkey join; part is SF x 200k rows, so its
    side is ``broadcast_if_small``-gated (hinted under the cap,
    otherwise AQE picks the strategy from runtime sizes — a shuffle
    join, never a blown broadcast); one final one-row aggregate."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@query(
    "qz214_two_nation_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(YEAR(CAST(l.l_shipdate AS DATE)) AS INT) AS ship_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE ((cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_7')
        OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_2'))
    GROUP BY 1, 2, 3 ORDER BY cust_nation, supp_nation, ship_year
    """,
    tags=("relational", "join", "agg"),
)
def q214(spark: SparkSession, sf: str) -> DataFrame:
    """Two-nation shipping volume by year (the TPC-H Q7 shape): trade
    flow between two specific nations in BOTH directions, split by
    customer-side vs supplier-side nation and ship year — the
    bilateral-flow report whose distinguishing feature is the SAME
    dimension (nation) joined twice under different roles, with a
    symmetric pair filter across the two aliases.

    Plan shape at 100 TB: both nation aliases broadcast (and the name
    filter prunes each to one row BEFORE its join, so the fact stream
    is filtered early through the customer and supplier branches); one
    orderkey fact-fact shuffle; year comes from the TZ-free DATE cast
    (the session is UTC-pinned, the q77 precedent). Output is
    2 x years-sized, totally ordered."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin("NATION_2", "NATION_7"))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin("NATION_2", "NATION_7"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year(F.col("l_shipdate").cast("date"))
            .cast("int")
            .alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@query(
    "qz215_top_supplier",
    oracle="""
    WITH rev AS (SELECT l.l_suppkey AS suppkey,
                        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)),
                              2) AS total
                 FROM lineitem l
                 WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l.l_shipdate < TIMESTAMP '1997-04-01'
                 GROUP BY 1)
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, rev.total AS total
    FROM rev JOIN supplier s ON s.s_suppkey = rev.suppkey
    WHERE rev.total = (SELECT MAX(total) FROM rev)
    ORDER BY suppkey
    """,
    tags=("relational", "join", "agg"),
)
def q215(spark: SparkSession, sf: str) -> DataFrame:
    """Top supplier by quarterly revenue, TIES INCLUDED (the TPC-H Q15
    shape): the correlated-max idiom — 'every row achieving the group
    maximum', which a LIMIT 1 gets wrong whenever two suppliers tie.
    Plans as one grouped revenue table joined against its own one-row
    MAX (broadcast scalar), never a window over the full table.

    Float-equality hazard handled: the tie comparison runs on
    ROUND(2)-ed revenue on BOTH engines — raw float equality across
    engines is exactly the nondeterminism the registry bans; at 2
    decimals the compared values are bit-identical cross-engine (the
    revenue-ROUND precedent).

    Plan shape at 100 TB: quarter filter at the scan, one suppkey
    grouped aggregate, a 1-row broadcast max join (genuinely scalar —
    the unconditional hint is safe). Supplier is SF x 10k rows, so its
    dimension join is ``broadcast_if_small``-gated: hinted under the
    cap, otherwise unhinted so AQE degrades it to a shuffle join
    instead of blowing the broadcast limit."""
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = table(spark, sf, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total")
    )
    mx = rev.agg(F.max("total").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total == F.col("mx"))
        .join(broadcast_if_small(s), rev.suppkey == s.s_suppkey)
        .select(
            F.col("suppkey"),
            F.col("s_name").alias("name"),
            F.col("total"),
        )
        .orderBy("suppkey")
    )


@query(
    "qz216_order_count_histogram",
    oracle="""
    WITH per_cust AS (SELECT c.c_custkey,
                             COUNT(o.o_orderkey) AS n_orders
                      FROM customer c
                      LEFT JOIN orders o
                        ON o.o_custkey = c.c_custkey
                       AND o.o_orderpriority <> '1-URGENT'
                      GROUP BY 1)
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY 1 ORDER BY n_customers DESC, n_orders
    """,
    tags=("relational", "join", "agg"),
)
def q216(spark: SparkSession, sf: str) -> DataFrame:
    """Customer order-count distribution (the TPC-H Q13 shape): how
    many customers placed 0, 1, 2, ... non-urgent orders — the
    ZERO-PRESERVING double aggregate whose defining subtlety is the
    LEFT join with the filter ON THE JOIN CONDITION (a WHERE would
    silently delete the zero-order customers the histogram exists to
    count) and COUNT(column) counting only matched rows.

    Plan shape at 100 TB: one custkey shuffle for the outer join +
    first aggregate (same key, one exchange serves both), then a
    histogram-sized regroup; output is max-order-count rows."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .select(F.col("n_orders").cast("bigint").alias("n_orders"),
                "n_customers")
        .orderBy(F.col("n_customers").desc(), "n_orders")
    )


@query(
    "qz217_dormant_rich_customers",
    oracle="""
    WITH thresh AS (SELECT AVG(c_acctbal) AS t FROM customer
                    WHERE c_acctbal > 0),
    dormant AS (SELECT c.c_mktsegment AS segment, c.c_acctbal
                FROM customer c
                WHERE c.c_acctbal > (SELECT t FROM thresh)
                  AND NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_custkey = c.c_custkey
                                    AND o.o_orderpriority = '1-URGENT'))
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_custs,
           ROUND(SUM(c_acctbal), 2) AS balance
    FROM dormant GROUP BY 1 ORDER BY segment
    """,
    tags=("relational", "join", "agg"),
)
def q217(spark: SparkSession, sf: str) -> DataFrame:
    """Dormant high-balance customers per segment (the TPC-H Q22
    shape): above-average account balance and no URGENT order — the
    scalar-subquery-threshold + NOT-EXISTS idiom (who has money parked
    but never escalates; the urgent-priority restriction also keeps the
    fixture result non-empty, where no-orders-at-all selects zero rows
    and the hash would be trivially empty). The threshold is a one-row
    aggregate broadcast as a cross join (never recomputed per row);
    NOT EXISTS with the correlated priority condition plans as a LEFT
    ANTI join on custkey with the priority filter pushed to the orders
    scan.

    Float note: the AVG threshold is computed independently by each
    engine; a customer within one ulp of it could theoretically flip —
    the fixture's balances sit well off the mean (the qz20-style
    argument), and the aggregate outputs are ROUND(2)-ed.

    Plan shape at 100 TB: one scalar aggregate over customer, the
    filter map-side against the broadcast scalar, one anti-join
    shuffle on custkey (orders projected to the key column only),
    segment-sized output."""
    c = table(spark, sf, "customer")
    o = (
        table(spark, sf, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    thresh = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("t")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("t"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("balance"),
        )
        .orderBy("segment")
    )


@query(
    "qz219_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_delta,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    tags=("relational", "agg"),
)
def q219(spark: SparkSession, sf: str) -> DataFrame:
    """Forecasting-revenue-change (the TPC-H Q6 shape): how much revenue
    would appear if small-quantity discounts in one band were dropped —
    the purest what-if aggregate: NO join, arithmetic over a
    triple-predicate slice of the fact table.

    Plan shape at 100 TB: all three predicates (ship-year range,
    discount band, quantity ceiling) push to the parquet scan, column
    pruning leaves 4 columns, and the whole query is one map-only
    partial aggregate + a 1-row reduce — zero shuffles of data, only
    the final scalar exchange. This is the query that measures pure
    scan bandwidth."""
    li = table(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue_delta"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@query(
    "qz220_min_cost_supplier",
    oracle="""
    WITH eu AS (SELECT s.s_suppkey, s.s_name FROM supplier s
                JOIN nation n ON n.n_nationkey = s.s_nationkey
                JOIN region r ON r.r_regionkey = n.n_regionkey
                             AND r.r_name = 'EUROPE'),
    ec AS (SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
                  ROUND(MIN(l.l_extendedprice / l.l_quantity), 6)
                    AS unit_cost
           FROM lineitem l
           JOIN eu ON eu.s_suppkey = l.l_suppkey
           JOIN part p ON p.p_partkey = l.l_partkey
                      AND p.p_size BETWEEN 10 AND 15
                      AND p.p_type = 'PROMO'
           GROUP BY 1, 2),
    best AS (SELECT partkey, MIN(unit_cost) AS mc FROM ec GROUP BY 1)
    SELECT ec.partkey AS partkey, ec.suppkey AS suppkey,
           eu.s_name AS supplier, ec.unit_cost AS unit_cost
    FROM ec JOIN best ON best.partkey = ec.partkey
                     AND ec.unit_cost = best.mc
    JOIN eu ON eu.s_suppkey = ec.suppkey
    ORDER BY partkey, suppkey
    """,
    tags=("relational", "join", "agg"),
)
def q220(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum-cost supplier per part (the TPC-H Q2 shape): for every
    PROMO part in a size band, the EUROPE supplier(s) offering the
    lowest observed unit cost — the correlated-min-PER-GROUP idiom
    (q215's correlated max is the 1-group special case). The testdata
    has no partsupp table, so the supply catalog is DERIVED: per
    (part, supplier) the minimum shipped unit price from lineitem.

    Float discipline: unit cost is one IEEE division ROUND(6)-ed at
    the catalog build on BOTH engines, so the min and the tie-equality
    compare rounded values — never raw float equality (the q215 rule).

    Plan shape at 100 TB: part + supplier-region predicates prune the
    catalog BEFORE the per-part min (restricting a per-group min to a
    group SUBSET is semantics-preserving); the catalog aggregate is
    the one big shuffle (partkey, suppkey); `best` regroups by partkey
    and AQE's runtime exchange reuse serves both branches from the
    same shuffle (verified in the post-execution adaptive plan:
    ReusedExchange x2); the best-join is partkey-keyed on
    co-partitioned catalog-sized data. Supplier/nation/region ride
    broadcast_if_small / fixed-dim hints."""
    li = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    p = table(spark, sf, "part").where(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "PROMO")
    )
    eu = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    ec = (
        li.join(broadcast_if_small(eu), li.l_suppkey == eu.s_suppkey)
        .join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6
            ).alias("unit_cost")
        )
    )
    # `best` derives from `ec`, so joining on ec.partkey == best.partkey
    # hands Spark a same-lineage attribute pair (the "trivially true
    # equals predicate" warning); alias best's output columns so the
    # join condition names two DISTINCT attributes and the plan never
    # leans on the lineage-dedup heuristic.
    best = (
        ec.groupBy("partkey")
        .agg(F.min("unit_cost").alias("mc"))
        .select(F.col("partkey").alias("bk"), "mc")
    )
    return (
        ec.join(
            best,
            (F.col("partkey") == F.col("bk"))
            & (F.col("unit_cost") == F.col("mc")),
        )
        .drop("bk", "mc")
        .join(broadcast_if_small(eu), F.col("suppkey") == eu.s_suppkey)
        .select(
            "partkey",
            "suppkey",
            F.col("s_name").alias("supplier"),
            "unit_cost",
        )
        .orderBy("partkey", "suppkey")
    )


@query(
    "qz221_market_share",
    oracle="""
    WITH sales AS (
      SELECT YEAR(CAST(o.o_orderdate AS DATE)) AS yr,
             l.l_extendedprice * (1 - l.l_discount) AS vol,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
                   AND r.r_name = 'AMERICA'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01')
    SELECT CAST(yr AS INT) AS yr,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
                          ELSE 0 END) / SUM(vol), 4) AS share,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM sales GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "join", "agg"),
)
def q221(spark: SparkSession, sf: str) -> DataFrame:
    """National market share (the TPC-H Q8 shape): one supplier
    nation's share of ECONOMY-part revenue sold into the AMERICA
    market per year — the conditional-share-of-total idiom where the
    numerator's filter (supplier nation) is independent of the
    market-defining joins.

    Float discipline: the share is float-sum over float-sum of the
    SAME rows on both engines, ROUND(4) — the q211 promo_pct argument
    (noise is ~9 orders below the rounding grain at any row count
    because both sums grow together).

    Plan shape at 100 TB: the order-date window prunes the orders
    scan, p_type prunes part; lineitem->orders is the fact-fact
    orderkey shuffle, customer joins on custkey (second keyed
    shuffle); nation x2 and region broadcast unconditionally (fixed
    25/5 rows); supplier and part are broadcast_if_small-gated. The
    two-year output is 2 rows."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf, "customer")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    p = table(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(
            F.broadcast(r), F.col("cn_region") == r.r_regionkey
        )
        .join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    return (
        sales.groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("vol")
                    ).otherwise(F.lit(0.0))
                )
                / F.sum("vol"),
                4,
            ).alias("share"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("yr")
    )


@query(
    "qz222_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(YEAR(CAST(o.o_orderdate AS DATE)) AS INT) AS yr,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * 0.1 * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("relational", "join", "agg"),
)
def q222(spark: SparkSession, sf: str) -> DataFrame:
    """Product-line profit by supplier nation and year (the TPC-H Q9
    shape): revenue minus a cost term that needs a DIMENSION attribute
    (p_retailprice) inside the fact-row arithmetic — the
    measure-from-two-tables idiom. The testdata has no partsupp
    supplycost, so cost is a fixed 10% retail-price carry per unit —
    deterministic and engine-identical.

    Plan shape at 100 TB: the name LIKE prunes part before its gated
    broadcast; supplier is gated, nation broadcast; the one fact-fact
    shuffle is the orderkey join for the order year. Output is
    nations x years."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").where(F.col("p_name").like("%red%"))
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    o = table(spark, sf, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(F.round(F.sum(amount), 2).alias("profit"))
        .orderBy("nation", "yr")
    )


@query(
    "qz223_important_parts",
    oracle="""
    WITH v AS (SELECT l.l_partkey AS partkey, SUM(l.l_quantity) AS vol
               FROM lineitem l
               JOIN supplier s ON s.s_suppkey = l.l_suppkey
               JOIN nation n ON n.n_nationkey = s.s_nationkey
                            AND n.n_name = 'NATION_7'
               GROUP BY 1),
    t AS (SELECT SUM(vol) AS tot FROM v)
    SELECT partkey, CAST(vol AS BIGINT) AS vol
    FROM v, t WHERE vol > tot * 0.002
    ORDER BY vol DESC, partkey
    """,
    tags=("relational", "join", "agg"),
)
def q223(spark: SparkSession, sf: str) -> DataFrame:
    """Important-stock report (the TPC-H Q11 shape): parts whose shipped
    volume from one nation's suppliers exceeds a FRACTION OF THE TOTAL
    — the scalar-subquery-threshold idiom, where the cut line is an
    aggregate of the same grouped table being filtered.

    Exactness: volumes are sums of integer-valued quantities — exact
    in doubles at any summation order — and the threshold is one IEEE
    multiply of that exact total, so the comparison can never flip
    cross-engine.

    Plan shape at 100 TB: the grouped volume table (partkey) feeds
    both the output rows and, via a 1-row re-aggregate + broadcast
    cross join (the q215 scalar idiom), the threshold. The scalar
    branch re-derives the aggregate — a second map-side partial + tiny
    shuffle over the nation-pruned fact (measured: AQE's exchange
    reuse does not canonicalize the two consumers equal here). That
    second bounded pass is inherent to the fraction-of-total idiom
    unless the grouped table is materialized; at parts-scale output it
    is cheaper than a global-window single-partition plan, which is
    the alternative this query deliberately avoids. Supplier is gated,
    nation broadcast."""
    li = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation").where(F.col("n_name") == "NATION_7")
    v = (
        li.join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("l_quantity").alias("vol"))
    )
    t = v.agg(F.sum("vol").alias("tot"))
    return (
        v.crossJoin(F.broadcast(t))
        .where(F.col("vol") > F.col("tot") * 0.002)
        .select("partkey", F.col("vol").cast("bigint").alias("vol"))
        .orderBy(F.desc("vol"), "partkey")
    )


@query(
    "qz224_priority_lines",
    oracle="""
    SELECT l.l_returnflag AS rflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "join", "agg"),
)
def q224(spark: SparkSession, sf: str) -> DataFrame:
    """Priority-class line counts per return flag (the TPC-H Q12 shape):
    a fact-fact join whose ONLY payload from the joined side is a
    two-way CASE classification — the count-by-condition-after-join
    idiom (Q12 classifies shipmodes; the testdata's equivalent
    categorical pair is returnflag x orderpriority).

    Plan shape at 100 TB: the ship-year predicate prunes the lineitem
    scan to one year before the orderkey shuffle; orders carries only
    (orderkey, orderpriority) after pruning; both conditional counts
    ride ONE aggregate pass. Output is 3 rows."""
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("rflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("bigint")
            .alias("high_lines"),
            F.sum(F.when(hi, 0).otherwise(1))
            .cast("bigint")
            .alias("low_lines"),
        )
        .orderBy("rflag")
    )


@query(
    "qz225_supplier_variety",
    oracle="""
    SELECT p.p_brand AS brand, CAST(p.p_size AS INT) AS size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand NOT IN ('Brand#1','Brand#2')
      AND p.p_size IN (1,4,9,16,25,36,49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY 1,2 ORDER BY supplier_cnt DESC, brand, size
    """,
    tags=("relational", "join", "agg"),
)
def q225(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier variety per (brand, size) (the TPC-H Q16 shape): how
    many DISTINCT suppliers ship each excluded-brand part class,
    excluding a blacklist subquery — the NOT-IN-subquery + distinct
    count idiom.

    NOT IN is planned as a left ANTI join (s_suppkey is never NULL in
    the blacklist, so anti-join and NOT IN agree; with a nullable
    subquery Spark would need the null-aware variant — documented
    hazard, not hit here).

    Plan shape at 100 TB: brand/size predicates prune part before its
    gated broadcast; the blacklist (negative-balance suppliers) is a
    tiny filtered scan broadcast as the anti side; the distinct count
    is the one (brand, size)-keyed shuffle with partial distinct
    aggregation map-side."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").where(
        ~F.col("p_brand").isin("Brand#1", "Brand#2")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = (
        table(spark, sf, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .join(
            broadcast_if_small(bad),
            li.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("int").alias("size"),
        )
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(F.desc("supplier_cnt"), "brand", "size")
    )


@query(
    "qz226_small_qty_revenue",
    oracle="""
    WITH pa AS (SELECT l_partkey, COUNT(*) AS cnt, SUM(l_quantity) AS sq
                FROM lineitem GROUP BY 1)
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_weekly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity * 5.0 * pa.cnt < pa.sq
    """,
    tags=("relational", "join", "agg"),
)
def q226(spark: SparkSession, sf: str) -> DataFrame:
    """Small-quantity-order revenue (the TPC-H Q17 shape): revenue from
    lines whose quantity is below 20% of that part's average — the
    correlated-per-group-average idiom (the group aggregate joins back
    against its own members).

    Exactness: `qty < 0.2 * avg` is rewritten `5 * qty * cnt < sum` on
    BOTH engines — quantities are integer-valued, so every operand is
    an exactly-representable integer in a double and the comparison is
    order-independent; the raw form divides two floats and could flip
    on the boundary cross-engine.

    Plan shape at 100 TB: the classic encoding aggregates lineitem per
    part and joins the profile back — TWO passes over the fact. Here
    the per-part profile rides a WINDOW over the already-filtered
    lines instead: brand is a part-level attribute and the join key is
    partkey, so the gated part broadcast keeps EVERY line of each
    surviving part — the windowed count/sum per partkey equals the
    whole-table profile for exactly the parts that can reach the
    output. One scan, one partkey exchange, one 1-row reduce (the
    oracle keeps the two-pass SQL form; the algebra is identical)."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").where(F.col("p_brand") == "Brand#3")
    w = Window.partitionBy("l_partkey")
    j = (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .select(
            "l_quantity",
            "l_extendedprice",
            F.count(F.lit(1)).over(w).alias("cnt"),
            F.sum("l_quantity").over(w).alias("sq"),
        )
    )
    return (
        j.where(F.col("l_quantity") * 5.0 * F.col("cnt") < F.col("sq"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_weekly"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@query(
    "qz227_large_volume_orders",
    oracle="""
    WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS sq
                 FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150)
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
           ROUND(o.o_totalprice, 2) AS totalprice,
           CAST(big.sq AS BIGINT) AS total_qty
    FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, orderkey LIMIT 20
    """,
    tags=("relational", "join", "agg"),
)
def q227(spark: SparkSession, sf: str) -> DataFrame:
    """Large-volume orders (the TPC-H Q18 shape): the 20 biggest orders
    by price among those whose total line quantity clears a HAVING
    threshold — the grouped-HAVING-then-rejoin idiom. Quantity sums
    are integer-exact, so the HAVING cut is deterministic.

    Plan shape at 100 TB: the orderkey-grouped quantity sum is the one
    fact shuffle and the HAVING filter collapses it to the rare heavy
    tail BEFORE the orders join (orderkey-keyed, co-partitioned);
    customer joins on custkey; the top-20 compiles to
    TakeOrderedAndProject (per-partition heap, never a global
    sort)."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("sq").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.desc("totalprice"), "orderkey")
        .limit(20)
    )


@query(
    "qz228_promo_suppliers",
    oracle="""
    SELECT s.s_suppkey AS suppkey, s.s_name AS name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
                 AND r.r_name = 'EUROPE'
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'red%'
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1 HAVING SUM(l.l_quantity) > 40)
    ORDER BY suppkey
    """,
    tags=("relational", "join"),
)
def q228(spark: SparkSession, sf: str) -> DataFrame:
    """Promotion-capable suppliers (the TPC-H Q20 shape): EUROPE
    suppliers who shipped more than a threshold volume of red parts in
    one year — the IN-on-an-AGGREGATED-subquery idiom (a semi join
    whose right side is itself a grouped HAVING table).

    Plan shape at 100 TB: the inner aggregate prunes lineitem by
    ship-year at the scan and by the part LIKE through a gated
    broadcast, groups by suppkey, and the HAVING collapses it to at
    most |suppliers| rows — which is why the semi join gates it with
    broadcast_if_small (supplier-proportional, NOT fact-proportional);
    nation/region broadcast unconditionally. Quantity sums are
    integer-exact, so the HAVING cut is deterministic."""
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf, "part").where(F.col("p_name").like("red%"))
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    heavy = (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 40)
        .select("l_suppkey")
    )
    return (
        s.join(
            F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
            s.s_nationkey == F.col("n_nationkey"),
        )
        .join(
            broadcast_if_small(heavy),
            s.s_suppkey == heavy.l_suppkey,
            "left_semi",
        )
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
        )
        .orderBy("suppkey")
    )


@query(
    "qz229_waiting_suppliers",
    oracle="""
    WITH ll AS (SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
                       CAST(l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                            AS INT) AS late
                FROM lineitem l
                JOIN orders o ON o.o_orderkey = l.l_orderkey
                WHERE o.o_orderstatus = 'F'),
    ord AS (SELECT ok, COUNT(DISTINCT sk) AS ns,
                   COUNT(DISTINCT CASE WHEN late = 1 THEN sk END) AS nl
            FROM ll GROUP BY ok)
    SELECT s.s_name AS name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM ll JOIN ord ON ord.ok = ll.ok
    JOIN supplier s ON s.s_suppkey = ll.sk
    WHERE ll.late = 1 AND ord.ns > 1 AND ord.nl = 1
    GROUP BY 1 ORDER BY numwait DESC, name LIMIT 25
    """,
    tags=("relational", "join", "agg"),
)
def q229(spark: SparkSession, sf: str) -> DataFrame:
    """Suppliers who kept orders waiting (the TPC-H Q21 shape): late
    lines (shipped > 60 days after the order date — the testdata's
    stand-in for receipt > commit) on multi-supplier finished orders
    where NO OTHER supplier was late. Q21's classic form is an EXISTS
    + NOT EXISTS pair of correlated self-joins; here both collapse
    into ONE per-order profile — distinct suppliers and distinct LATE
    suppliers — because 'another supplier exists' is ns > 1 and 'no
    other supplier is late' (given this line is late) is nl = 1. The
    rewrite is the scale-correct form: the correlated-EXISTS plan
    re-probes the fact table per row; the profile is one grouped
    aggregate.

    Plan shape at 100 TB: the status filter prunes orders; lineitem
    joins orders on orderkey (THE fact shuffle); the per-order profile
    — distinct suppliers / distinct late suppliers — rides a WINDOW
    (size of collect_set) over the same orderkey partitioning instead
    of a grouped self-join, so the fact is scanned and shuffled ONCE
    (the grouped form re-derived the join for its second consumer —
    measured, no AQE exchange reuse fired); the per-order sets are
    bounded by suppliers-per-order, not order size. Supplier is gated;
    top-25 is TakeOrderedAndProject. Timestamps compare exactly — no
    float hazard anywhere."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    s = table(spark, sf, "supplier")
    w = Window.partitionBy("ok")
    ll = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .cast("int")
        .alias("late"),
    )
    prof = ll.select(
        "sk",
        "late",
        F.size(F.collect_set("sk").over(w)).alias("ns"),
        F.size(
            F.collect_set(
                F.when(F.col("late") == 1, F.col("sk"))
            ).over(w)
        ).alias("nl"),
    )
    return (
        prof.where(
            (F.col("late") == 1) & (F.col("ns") > 1) & (F.col("nl") == 1)
        )
        .join(broadcast_if_small(s), F.col("sk") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "name")
        .limit(25)
    )


@query(
    "qz230_trailing_window_spend",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
                      CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                        AS day
               FROM orders)
    SELECT o_orderkey AS orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY day
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2)
             AS spend_30d,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_30d
    FROM o
    """,
    tags=("window",),
)
def q230(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-30-day spend per customer at every order (the
    VALUE-RANGE window frame): `RANGE BETWEEN 29 PRECEDING AND CURRENT
    ROW` over an epoch-day key — a physically different operator from
    qz27's ROWS frame (the frame boundary binds to the ORDER-BY VALUE,
    so same-day peer rows all enter the frame and the trailing window
    is time-true regardless of how many orders share a day — a ROWS
    frame gets both wrong).

    Exactness: the day key is integer epoch-microseconds div 86400e6
    on BOTH engines (positive range, so floor == truncate) — never a
    calendar function (TZ hazard class).

    Plan shape at 100 TB: one custkey exchange + per-partition sort —
    identical cost to the ROWS frame; the range frame is evaluated by
    a sliding two-pointer over the sorted partition, O(n) per
    customer (adds/removes are incremental, NOT O(frame size) per
    row — a hot key's giant frames cost rows, not rows x frame).

    Measured (tools/scale_probe.py range_frame_skew, sf0.1, 10x
    orders): uniform disjoint custkeys 0.19x the linear law
    (0.67 -> 1.29 s); a HOT layout with one custkey owning ~10% of
    all rows (its per-frame membership summing to 293M row-slots vs
    1.7M uniform) costs only 1.44x the uniform leg (1.85 s) — the
    straggler is bounded by the hot partition's ROW share through one
    thread, confirming the incremental frame law. Day-bucket
    pre-aggregation (collapse to (custkey, day) sums before the
    window) is the documented escape hatch if a real feed ever puts a
    double-digit share on one entity."""
    o = table(spark, sf, "orders")
    # orders loads as TIMESTAMP_NTZ: epoch micros via timestampdiff from
    # the NTZ epoch (the established events-us pattern), TZ-free
    day = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00',"
        " o_orderdate) div 86400000000"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        "o_custkey",
        "o_totalprice",
        day.alias("day"),
    ).select(
        "orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_30d"),
    )


@query(
    "qz231_relational_division",
    oracle="""
    WITH cov AS (SELECT l.l_suppkey AS suppkey,
                        COUNT(DISTINCT r.r_regionkey) AS n_regions
                 FROM lineitem l
                 JOIN orders o ON o.o_orderkey = l.l_orderkey
                 JOIN customer c ON c.c_custkey = o.o_custkey
                 JOIN nation n ON n.n_nationkey = c.c_nationkey
                 JOIN region r ON r.r_regionkey = n.n_regionkey
                 WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l.l_shipdate < TIMESTAMP '1997-02-01'
                 GROUP BY 1),
    t AS (SELECT COUNT(*) AS total FROM region)
    SELECT s.s_suppkey AS suppkey, s.s_name AS name
    FROM cov JOIN t ON cov.n_regions = t.total
    JOIN supplier s ON s.s_suppkey = cov.suppkey
    ORDER BY suppkey
    """,
    tags=("relational", "join", "agg"),
)
def q231(spark: SparkSession, sf: str) -> DataFrame:
    """Relational DIVISION: suppliers whose one-month shipments reached
    customers in EVERY market region — the universal 'for all'
    quantifier Codd's algebra needs a whole operator for, expressed as
    the set-cover counting rewrite (distinct covered regions == total
    regions) instead of the textbook double-NOT-EXISTS, whose
    correlated re-probes are quadratic at fact scale. The divisor
    cardinality comes from the region table itself (1-row broadcast),
    never a hard-coded 5 — the count is integer-exact.

    Plan shape at 100 TB: the ship-month predicate prunes the fact
    scan; one orderkey fact-fact shuffle; customer joins on custkey;
    nation/region broadcast; ONE suppkey-grouped distinct count,
    equality-joined against the broadcast scalar; supplier gated. 24
    of 100 suppliers qualify at sf0.01 — the predicate discriminates
    (a cover-everything fixture would certify nothing, the q217
    rule)."""
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region")
    s = table(spark, sf, "supplier")
    cov = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.countDistinct("r_regionkey").alias("n_regions"))
    )
    t = r.agg(F.count(F.lit(1)).alias("total"))
    return (
        cov.join(F.broadcast(t), cov.n_regions == F.col("total"))
        .join(broadcast_if_small(s), cov.suppkey == s.s_suppkey)
        .select("suppkey", F.col("s_name").alias("name"))
        .orderBy("suppkey")
    )


@query(
    "qz232_universal_priority",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY 1
    HAVING COUNT(*) >= 2
       AND COUNT(*) = SUM(CASE WHEN o_orderpriority
                                    IN ('1-URGENT','2-HIGH')
                               THEN 1 ELSE 0 END)
    ORDER BY custkey
    """,
    tags=("relational", "agg"),
)
def q232(spark: SparkSession, sf: str) -> DataFrame:
    """Universal quantification over a group: customers ALL of whose
    orders (and at least two) are high-priority — the 'every row
    satisfies P' idiom, rewritten count(*) == count-if(P) so one
    grouped aggregate answers it (the NOT EXISTS encoding re-probes
    the fact per customer). Counts are integers; the equality can
    never flip.

    Plan shape at 100 TB: single scan of orders, one custkey-grouped
    aggregate with map-side combine carrying three counters; the
    HAVING filters post-aggregate rows only. 2 of 1500 customers
    qualify at sf0.01 — discriminating, non-vacuous."""
    o = table(spark, sf, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.sum(F.when(hi, 1).otherwise(0)).alias("_n_hi"),
        )
        .where((F.col("n_orders") >= 2) & (F.col("n_orders") == F.col("_n_hi")))
        .drop("_n_hi")
        .orderBy("custkey")
    )


@query(
    "qz241_pareto_share",
    oracle="""
    WITH r AS (SELECT l_partkey,
                      SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                     * 100.0, 0) AS BIGINT)) AS rev
               FROM lineitem GROUP BY 1),
    w AS (SELECT rev,
                 ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rk,
                 SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(rev) OVER () AS tot,
                 COUNT(*) OVER () AS n
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_parts,
           CAST(rk AS BIGINT) AS top_n,
           ROUND(CAST(cum AS DOUBLE) / tot, 6) AS top_share
    FROM w WHERE rk = CAST(CEIL(0.2 * n) AS BIGINT)
    """,
    tags=("relational", "agg", "analytics"),
)
def q241(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto revenue concentration: the share of total lineitem
    revenue earned by the top 20% of parts — the 80/20 check behind
    assortment and cache-tiering decisions (qz201's HHI compresses
    concentration to one unitless number; this reports the actionable
    cut: HOW MUCH revenue the head actually holds and how many parts
    that is).

    Exactness: per-row revenue is fixed-point cents
    (ROUND(price*(1-disc)*100), identical double->integer rounding
    cross-engine), so part revenues, the running sum, and the total
    are exact integers; the single share division happens once at the
    cut rank. The (rev DESC, partkey) order is total, so the 20% cut
    is deterministic.

    Scale shape: one map-side-combined groupBy collapses the fact
    table to parts-sized rows; rank and running revenue come from TWO
    passes of `global_running_sums`' distributed prefix sum (range
    exchange + Arrow cumsum + P-row offset join) — at 100 TB the
    part table is SF x 200k rows (~2e10), far past the
    single-partition-window cliff the plain OVER () form would hit.
    The ranked table is a materialize-once artifact (the q205
    token_coverage_ranked convention: the two prefix-sum passes cost
    ~4 s of fixed mapInPandas overhead at sf0.1 and are identical per
    evaluation); n and tot are read off its LAST row (max rk / max
    cum) via a 1-row broadcast cross join, so the warm query is one
    cached-scan job with no driver scalars.

    Measured (tools/scale_probe.py pareto_prefix_sum, sf0.1, lineitem
    with DISJOINT part keys x10, num_partitions=32): 4.1 -> 10.8 s —
    0.27x the linear law; the fixed two-pass mapInPandas cost
    dominates and the 10x part-key growth rides the range exchange
    without a knee."""
    from ..operators.ranking import global_running_sums

    def _ranked() -> DataFrame:
        from . import built

        cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
        ).cast("bigint")
        r = (
            table(spark, sf, "lineitem")
            .select(F.col("l_partkey"), cents.alias("c"))
            .groupBy("l_partkey")
            .agg(F.sum("c").alias("rev"))
        )
        order = [F.col("rev").desc(), F.col("l_partkey")]
        # num_partitions sized to the session's parallelism: the prefix
        # sum's cost at test scale is FIXED per range partition (two
        # Arrow passes each), so 64 empty-ish partitions doubled the
        # build (9.5 -> 4.7 s measured at sf0.1 with 32); at 100 TB the
        # knob scales up with the parts table instead
        npart = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        cum = global_running_sums(r, order=order, value=F.col("rev"),
                                  sum_col="cum", num_partitions=npart)
        rk = global_running_sums(cum, order=order, value=F.lit(1),
                                 sum_col="rk", num_partitions=npart)
        return built(rk.persist())

    rk = memo(spark, ("pareto_ranked", sf), _ranked, label="pareto_ranked")
    st = rk.agg(
        F.max("rk").alias("n"), F.max("cum").alias("tot")
    )
    return (
        rk.crossJoin(F.broadcast(st))
        .where(F.col("rk") == F.ceil(0.2 * F.col("n")).cast("bigint"))
        .select(
            F.col("n").cast("bigint").alias("n_parts"),
            F.col("rk").cast("bigint").alias("top_n"),
            F.round(
                F.col("cum").cast("double") / F.col("tot"), 6
            ).alias("top_share"),
        )
    )


@query(
    "qz255_fulfillment_latency",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_orderpriority, o_orderdate
               FROM orders),
    firstship AS (SELECT l_orderkey, MIN(l_shipdate) AS fs
                  FROM lineitem GROUP BY 1),
    lat AS (SELECT o.o_orderpriority AS priority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(f.fs AS DATE)) AS days
            FROM o JOIN firstship f ON f.l_orderkey = o.o_orderkey),
    g AS (SELECT priority, days, COUNT(*) AS k
          FROM lat GROUP BY 1, 2),
    w AS (SELECT priority, days, k,
                 SUM(k) OVER (PARTITION BY priority ORDER BY days
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(k) OVER (PARTITION BY priority) AS n
          FROM g)
    SELECT priority, CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MIN(days) FILTER (cum >= (n + 1) // 2) AS BIGINT)
             AS p50_days,
           CAST(MIN(days) FILTER (cum >= CEIL(0.9 * n)) AS BIGINT)
             AS p90_days
    FROM w GROUP BY priority ORDER BY priority
    """,
    tags=("relational", "agg", "analytics"),
)
def q255(spark: SparkSession, sf: str) -> DataFrame:
    """Fulfillment-latency percentiles by order priority: exact
    p50/p90 days from order placement to the FIRST line shipment —
    the SLA report that tells whether URGENT orders actually move
    faster, as order statistics rather than means (latency tails are
    what SLAs are written against, and one stuck order should move
    p90, not drown in an average).

    Exactness: latency is an exact integer day difference on DATE-cast
    values (identical calendar arithmetic cross-engine, no timezone
    arithmetic — the qz35 rule); percentiles are exact grouped-count
    rank reconstructions per priority — p50 at rank (n+1)//2, p90 at
    ceil(0.9 n), the q195 convention.

    Scale shape: ONE orderkey-keyed shuffle (the lineitem collapse to
    first-ship joins orders on its grouping key); after that the
    (priority, days) table is 5 x observation-range rows and the rank
    windows are per-priority over it. Map-side combine applies to
    both the MIN(l_shipdate) collapse and the day-count group."""
    from pyspark.sql.window import Window as W

    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    fs = (
        table(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("fs"))
    )
    lat = o.join(fs, o.o_orderkey == fs.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("fs").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    g = lat.groupBy("priority", "days").agg(F.count(F.lit(1)).alias("k"))
    cum = (
        W.partitionBy("priority")
        .orderBy("days")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    per = W.partitionBy("priority")
    w = g.select(
        "priority",
        "days",
        F.sum("k").over(cum).alias("cum"),
        F.sum("k").over(per).alias("n"),
    )
    return (
        w.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("n") + 1) / 2),
                    F.col("days"),
                )
            )
            .cast("bigint")
            .alias("p50_days"),
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(0.9 * F.col("n")),
                    F.col("days"),
                )
            )
            .cast("bigint")
            .alias("p90_days"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q267-q272 — round-15 warehouse idioms: market-basket lift, YoY growth,
# gaps-and-islands streaks, intra-customer concentration, SLA ladders,
# exact grouped medians.
# ---------------------------------------------------------------------------


@query(
    "q267_brand_basket_lift",
    oracle="""
    WITH ob AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
                FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob),
    ba AS (SELECT brand, COUNT(*) AS na FROM ob GROUP BY 1),
    pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
                  COUNT(*) AS n_ab
           FROM ob a JOIN ob b ON b.ok = a.ok AND b.brand > a.brand
           GROUP BY 1, 2)
    SELECT pr.brand_a, pr.brand_b,
           CAST(pr.n_ab AS BIGINT) AS support,
           ROUND(CAST(pr.n_ab AS DOUBLE) * n.n_orders
                 / (x.na * y.na), 6) AS lift
    FROM pr JOIN ba x ON x.brand = pr.brand_a
    JOIN ba y ON y.brand = pr.brand_b
    CROSS JOIN n
    WHERE pr.n_ab >= 20
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 15
    """,
    tags=("relational", "join", "agg", "analytics"),
)
def q267(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association lift between part BRANDS co-ordered in
    the same order: lift(a,b) = P(a,b)/(P(a)P(b)) with a support
    floor, top 15 — the classic co-occurrence screen (Agrawal et al.
    1993's support/lift, applied at brand granularity where TPC-H
    orders actually repeat). Brand-level, not part-level, is the
    scale-honest choice: the pair fan-out per order is bounded by
    (distinct brands/order choose 2) <= C(25,2), independent of order
    width, while raw partkey pairs would be support-starved AND
    unbounded.

    Exactness: all three counts (pair co-orders, per-brand orders,
    total orders) are exact integers off ONE distinct (order, brand)
    collapse; lift is a single double ratio, ROUNDed 1e-6; the LIMIT
    rides a total ORDER BY (lift, brand_a, brand_b).

    Plan shape at 100 TB: part is a gated broadcast; the fact is
    repartitioned on ORDERKEY ALONE before the (ok, brand) distinct —
    hash(ok) clusters every (ok, brand) group, so the distinct runs
    exchange-free on top of it AND the pair self-join reuses the same
    partitioning (zero further fact exchanges). The alternative (plain
    .distinct(), which partitions on (ok, brand)) gets map-side partial
    dedup but forces the self-join to RE-shuffle the collapse on ok;
    brands-per-order is small so partial dedup removes little, and one
    fact exchange beats two (VERDICT r15 #5 measurement, median of 3:
    sf0.1 2.19 -> 1.88 s (-14%); 10x disjoint-orderkey lineitem
    9.18 -> 5.57 s (-39%) — the advantage GROWS with scale, so the
    repartition form is the keeper). Margins and the 1-row total are
    broadcast back onto a brands^2-bounded pair table; top-15 is
    TakeOrderedAndProject. Measured growth (tools/scale_probe.py
    basket_pair_lift, sf0.1, 10x lineitem with disjoint orderkeys —
    the pair table grows linearly with orders while pairs-per-order
    stays bounded): 0.58x the linear law pre-change, improved by the
    -39% above."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    ob = (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .repartition("ok")
        .distinct()
    )
    n = ob.agg(F.countDistinct("ok").alias("n_orders"))
    ba = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("na"))
    a = ob.select(F.col("ok"), F.col("brand").alias("brand_a"))
    b = ob.select(F.col("ok").alias("ok2"), F.col("brand").alias("brand_b"))
    pr = (
        a.join(
            b,
            (F.col("ok2") == F.col("ok"))
            & (F.col("brand_b") > F.col("brand_a")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 20)
    )
    return (
        pr.join(
            F.broadcast(ba.select(F.col("brand").alias("brand_a"),
                                  F.col("na").alias("na_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(ba.select(F.col("brand").alias("brand_b"),
                                  F.col("na").alias("na_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").cast("bigint").alias("support"),
            F.round(
                F.col("n_ab").cast("double") * F.col("n_orders")
                / (F.col("na_a") * F.col("na_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(15)
    )


@query(
    "q268_yoy_nation_growth",
    oracle="""
    WITH r AS (SELECT n.n_name AS nation,
                      CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
                        AS yr,
                      SUM(CAST(ROUND(l.l_extendedprice
                               * (1 - l.l_discount) * 100.0, 0)
                          AS HUGEINT)) AS cents
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey
               JOIN customer c ON c.c_custkey = o.o_custkey
               JOIN nation n ON n.n_nationkey = c.c_nationkey
               GROUP BY 1, 2)
    SELECT cur.nation AS nation, cur.yr AS year,
           ROUND(CAST(cur.cents AS DOUBLE) / 100.0, 2) AS revenue,
           ROUND(CAST(cur.cents - prv.cents AS DOUBLE)
                 / prv.cents, 6) AS yoy
    FROM r cur JOIN r prv ON prv.nation = cur.nation
                         AND prv.yr = cur.yr - 1
    WHERE prv.cents > 0
    ORDER BY nation, year
    """,
    tags=("relational", "join", "agg", "analytics"),
)
def q268(spark: SparkSession, sf: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the
    board-slide number (the TIME dimension analog of q256's day-lag
    join): revenue collapses to a nations x years table once, then
    the YoY ratio reads the yr-1 row via lag() guarded on calendar
    adjacency (equivalent to the shifted-key self-join because
    (nation, yr) is unique — see the plan note below). Years with no
    predecessor drop, a zero-revenue predecessor is guarded out.

    Exactness: revenue accumulates in exact integer cents
    (decimal(38,0)/HUGEINT — the q241 money rule) so the grouped sums
    are order-independent cross-engine; the YoY ratio and the /100
    display conversion are the only float steps, ROUNDed at 1e-6/1e-2.
    The year key is EXTRACT/year() on a TIMESTAMP_NTZ — both engines
    read the same calendar field of the same wall-clock value (the
    qz35 date-literal class, no TZ hazard).

    Plan shape at 100 TB: one fact shuffle on orderkey (the
    unavoidable lineitem-orders SortMergeJoin), customer join on
    custkey, nation broadcast; the YoY step runs on the nations x years
    aggregate (25 x ~7 rows). VERDICT r15 #5 probe note: unlike q267
    there is no second fact-sized exchange to eliminate here — the
    collapse IS the aggregate (bounded at nations x years).

    Round-17 restructure (guide §1.2 per-task work; the q290
    finding): revenue cents accumulate as LONG per
    (nation, yr, salt=orderkey%64) sub-sums — the per-row value is
    exact in long (cents <= ~2^24 per line) — then an exact
    decimal(38,0) finish over the (nation x yr x 64)-row table, so
    the q241 money rule (exact integer cents, order-independent
    cross-engine) still holds at any scale while the fact-row pass
    never touches the BigDecimal path. Measured variants (noop,
    sf0.1): old smj+decimal+self-join 1.82 s; broadcast-hinting the
    projected orders side LOST to the SMJ (1.37 vs 1.24 s — the
    150k-row broadcast relation is rebuilt per execution, costing
    more than the small co-shuffle), so the fact join deliberately
    stays SMJ; final smj+long-salted+lag form 1.14 s."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    dec = "decimal(38,0)"
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.pmod(F.col("l_orderkey"), F.lit(64)).alias("__salt"),
        )
        .agg(F.sum(cents).alias("pcents"))
        .groupBy("nation", "yr")
        .agg(F.sum(F.col("pcents").cast(dec)).alias("cents"))
    )
    # YoY via lag over the tiny aggregate instead of a self-join:
    # (nation, yr) is unique, so "the row at yr-1, if any" IS the lag
    # row exactly when lag(yr) == yr - 1 — equivalent to the inner
    # join at prv.yr = cur.yr - 1, but the nations x years subtree is
    # built ONCE (the self-join form re-executed the whole fact
    # aggregate under each branch; round-17 plan diff: two fact
    # pipelines -> one, plus one bounded window exchange).
    from pyspark.sql.window import Window

    w = Window.partitionBy("nation").orderBy("yr")
    return (
        r.select(
            "nation",
            "yr",
            F.col("cents").alias("cc"),
            F.lag("cents").over(w).alias("pc"),
            F.lag("yr").over(w).alias("pyr"),
        )
        .where((F.col("pyr") == F.col("yr") - 1) & (F.col("pc") > 0))
        .select(
            "nation",
            F.col("yr").alias("year"),
            F.round(F.col("cc").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
            F.round(
                (F.col("cc") - F.col("pc")).cast("double") / F.col("pc"),
                6,
            ).alias("yoy"),
        )
        .orderBy("nation", "year")
    )


@query(
    "qz269_order_day_streaks",
    oracle="""
    WITH d AS (SELECT DISTINCT o_custkey,
                      date_diff('microsecond',
                                TIMESTAMP '1970-01-01 00:00:00',
                                o_orderdate) // 86400000000 AS day
               FROM orders),
    r AS (SELECT o_custkey, day,
                 day - ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY day) AS grp
          FROM d),
    s AS (SELECT o_custkey, grp, COUNT(*) AS len
          FROM r GROUP BY 1, 2)
    SELECT CAST(len AS BIGINT) AS streak_len,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "window", "analytics"),
)
def q269(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: the distribution of CONSECUTIVE-day ordering
    streaks across customers — the canonical day - ROW_NUMBER()
    islands idiom (each maximal run of consecutive distinct order
    days shares a constant difference), reduced to how many streaks
    of each length exist. The engagement-cadence histogram behind
    retention features ('ordered 3+ days in a row') that qz143's
    cohort offsets and qz254's DAU/MAU both blur over.

    Exactness: epoch-day keys are integer microsecond div (the q230
    convention, TZ-free); the islands key, streak lengths and the
    histogram are exact integers end to end — no floats at all.

    Plan shape at 100 TB: one distinct collapse of orders to
    (custkey, day), one custkey-partitioned window (same exchange
    class as q230), two bounded aggregates; output is
    max-streak-length rows."""
    d = (
        table(spark, sf, "orders")
        .select(
            "o_custkey",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " timestamp_ntz'1970-01-01 00:00:00', o_orderdate)"
                " div 86400000000"
            ).alias("day"),
        )
        .distinct()
    )
    r = d.select(
        "o_custkey",
        "day",
        (
            F.col("day")
            - F.row_number().over(
                Window.partitionBy("o_custkey").orderBy("day")
            )
        ).alias("grp"),
    )
    s = r.groupBy("o_custkey", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        s.groupBy(F.col("len").cast("bigint").alias("streak_len"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_streaks"))
        .orderBy("streak_len")
    )


@query(
    "qz270_top_order_share",
    oracle="""
    WITH oc AS (SELECT o_custkey,
                       CAST(ROUND(o_totalprice * 100.0, 0) AS HUGEINT)
                         AS cents
                FROM orders),
    g AS (SELECT o_custkey, MAX(cents) AS mx, SUM(cents) AS tot,
                 COUNT(*) AS n
          FROM oc GROUP BY 1),
    j AS (SELECT c.c_mktsegment AS segment,
                 CAST(g.mx AS DOUBLE) / g.tot AS share, g.n
          FROM g JOIN customer c ON c.c_custkey = g.o_custkey)
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(share), 6) AS avg_top_share,
           ROUND(AVG(CASE WHEN n >= 2 THEN share END), 6)
             AS avg_top_share_multi
    FROM j GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "agg", "analytics"),
)
def q270(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-customer revenue concentration by market segment: the
    average share a customer's single LARGEST order takes of their
    lifetime spend — the whale-dependence metric (a segment whose
    customers put ~1.0 of spend in one order is transactional; ~0.2
    means steady repeat business), reported both over all customers
    and restricted to multi-order customers (single-order customers
    contribute an uninformative share of exactly 1).

    Exactness: per-customer max and total are exact integer cents
    (the q241 money rule), so each share is one exact-integer double
    ratio; the per-segment AVG is a customers-sized float fold
    ROUNDed at 1e-6 (q249 precedent).

    Plan shape at 100 TB: one custkey-grouped aggregate of orders
    (map-side combined), a customer-dimension join (gated broadcast),
    one segments-sized aggregate. No window, no fact self-join."""
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    dec = "decimal(38,0)"
    g = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100.0, 0)
            .cast(dec)
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("cents").alias("mx"),
            F.sum("cents").alias("tot"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    j = g.join(
        broadcast_if_small(c), g.o_custkey == c.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("mx").cast("double") / F.col("tot").cast("double")).alias(
            "share"
        ),
        "n",
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.avg("share"), 6).alias("avg_top_share"),
            F.round(
                F.avg(F.when(F.col("n") >= 2, F.col("share"))), 6
            ).alias("avg_top_share_multi"),
        )
        .orderBy("segment")
    )


@query(
    "qz271_sla_attainment",
    oracle="""
    WITH d AS (SELECT o.o_orderpriority AS priority,
                      date_diff('microsecond', o.o_orderdate,
                                l.l_shipdate) // 86400000000 AS days
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS within_30d,
           ROUND(SUM(CASE WHEN days <= 60 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS within_60d,
           ROUND(SUM(CASE WHEN days <= 90 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS within_90d
    FROM d GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "join", "agg", "analytics"),
)
def q271(spark: SparkSession, sf: str) -> DataFrame:
    """Ship-SLA attainment ladder by order priority: the share of line
    items shipped within 30/60/90 days of order placement — the
    operational CDF-at-fixed-horizons companion to qz255's exact
    percentiles (ops teams commit to 'X% within 30 days', which reads
    off THIS table, not a percentile). Day latency is the integer
    microsecond difference div day (whole-day floor on both engines).

    Exactness: three conditional integer counts per priority with one
    rational division each, ROUNDed at 1e-6.

    Plan shape at 100 TB: the one orderkey fact-fact shuffle shared
    with qz255's plan class, then a 5-group map-side-combined
    aggregate. No window."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    days = F.expr(
        "timestampdiff(MICROSECOND, o_orderdate, l_shipdate)"
        " div 86400000000"
    )
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"), days.alias("days")
    )
    n = F.count(F.lit(1))

    def within(h: int):
        return F.round(
            F.sum(F.when(F.col("days") <= h, 1).otherwise(0)) * 1.0 / n,
            6,
        )

    return (
        d.groupBy("priority")
        .agg(
            n.cast("bigint").alias("n_lines"),
            within(30).alias("within_30d"),
            within(60).alias("within_60d"),
            within(90).alias("within_90d"),
        )
        .orderBy("priority")
    )


@query(
    "qz272_brand_median_discount",
    oracle="""
    WITH d AS (SELECT p.p_brand AS brand,
                      CAST(ROUND(l.l_discount * 100.0, 0) AS INT)
                        AS pct
               FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    g AS (SELECT brand, pct, COUNT(*) AS k FROM d GROUP BY 1, 2),
    t AS (SELECT brand, SUM(k) AS n FROM g GROUP BY 1),
    w AS (SELECT g.brand, g.pct, t.n,
                 SUM(g.k) OVER (PARTITION BY g.brand ORDER BY g.pct
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM g JOIN t ON t.brand = g.brand)
    SELECT t.brand, CAST(t.n AS BIGINT) AS n_lines,
           CAST((SELECT MIN(pct) FROM w
                 WHERE w.brand = t.brand
                   AND w.cum >= (t.n + 1) // 2) AS INT)
             AS median_disc_pct
    FROM t ORDER BY brand
    """,
    tags=("relational", "join", "agg"),
)
def q272(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median discount percentage per part brand — the grouped-
    median idiom done the scale-correct way: discounts live on an
    11-value integer-percent grid, so the median is an exact
    (n+1)//2 order statistic over GROUPED counts (the qz255/q264
    integer-rank convention), never a per-group sort of the fact
    table and never an engine-specific percentile function (DuckDB
    and Spark interpolate differently; grouped ranks are bit-equal).

    Exactness: integer percent buckets, integer counts, integer rank
    probe — no floats anywhere.

    Plan shape at 100 TB: part is a gated broadcast onto the fact
    scan; ONE (brand, pct) map-side-combined count (brands x 11
    rows); the cumulative window and rank probe run on that bounded
    table."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    d = li.join(
        broadcast_if_small(p), li.l_partkey == p.p_partkey
    ).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100.0, 0).cast("int").alias("pct"),
    )
    g = d.groupBy("brand", "pct").agg(F.count(F.lit(1)).alias("k"))
    t = g.groupBy("brand").agg(F.sum("k").alias("n"))
    w = g.join(t, "brand").select(
        "brand",
        "pct",
        "n",
        F.sum("k")
        .over(
            Window.partitionBy("brand")
            .orderBy("pct")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
    )
    med = (
        w.where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("brand")
        .agg(F.min("pct").alias("median_disc_pct"))
    )
    return (
        t.join(med, "brand")
        .select(
            "brand",
            F.col("n").cast("bigint").alias("n_lines"),
            F.col("median_disc_pct").cast("int").alias(
                "median_disc_pct"
            ),
        )
        .orderBy("brand")
    )


@query(
    "qz275_customer_theil",
    oracle="""
    WITH g AS (SELECT o_custkey,
                      SUM(CAST(ROUND(o_totalprice * 100.0, 0)
                          AS HUGEINT)) AS c
               FROM orders GROUP BY 1),
    t AS (SELECT COUNT(*) AS n, SUM(c) AS x FROM g)
    SELECT CAST(t.n AS BIGINT) AS n_customers,
           ROUND(CAST(t.x AS DOUBLE) / 100.0 / t.n, 2) AS mean_spend,
           ROUND(SUM((CAST(g.c AS DOUBLE) / t.x)
                     * LN(t.n * CAST(g.c AS DOUBLE) / t.x)), 6)
             AS theil
    FROM g CROSS JOIN t GROUP BY t.n, t.x
    """,
    tags=("relational", "agg", "analytics", "stats"),
)
def q275(spark: SparkSession, sf: str) -> DataFrame:
    """Theil T index of lifetime-spend inequality across customers
    (Theil 1967): T = Sum (x_i/X) ln(n x_i / X) — 0 when every
    customer spends equally, ln(n) at total concentration. The
    decomposable inequality measure (unlike Gini it splits exactly
    into between-segment + within-segment terms, so this is the base
    number a per-segment drill-down subtracts from); complements
    qz167's token Gini (corpus axis) and qz201's daily HHI (mix
    axis) with the REVENUE concentration axis.

    Exactness: per-customer spend totals are exact integer cents
    (q241 money rule); the entropy-style fold is one customers-sized
    float sum of identical per-row expressions (q261 precedent),
    ROUNDed at 1e-6. Spend is strictly positive, so ln is total.

    Plan shape at 100 TB: one custkey-grouped map-side-combined
    aggregate of orders, a 1-row broadcast total, one final fold.
    No window, no join against the fact."""
    dec = "decimal(38,0)"
    g = (
        table(spark, sf, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100.0, 0)
            .cast(dec)
            .alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").alias("c"))
    )
    t = g.agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("x"))
    share = F.col("c").cast("double") / F.col("x").cast("double")
    return (
        g.crossJoin(F.broadcast(t))
        .groupBy("n", "x")
        .agg(
            F.round(
                F.sum(share * F.log(F.col("n") * share)), 6
            ).alias("theil")
        )
        .select(
            F.col("n").cast("bigint").alias("n_customers"),
            F.round(
                F.col("x").cast("double") / 100.0 / F.col("n"), 2
            ).alias("mean_spend"),
            "theil",
        )
    )


@query(
    "qz276_cohort_ltv",
    oracle="""
    WITH o AS (SELECT o_custkey,
                      CAST(EXTRACT(year FROM o_orderdate) * 12
                           + EXTRACT(month FROM o_orderdate) - 1
                        AS BIGINT) AS m,
                      CAST(ROUND(o_totalprice * 100.0, 0) AS HUGEINT)
                        AS cents
               FROM orders),
    f AS (SELECT o_custkey, MIN(m) AS cm FROM o GROUP BY 1),
    r AS (SELECT f.cm, o.m - f.cm AS off, SUM(o.cents) AS cents
          FROM o JOIN f ON f.o_custkey = o.o_custkey
          WHERE o.m - f.cm <= 5
          GROUP BY 1, 2),
    w AS (SELECT cm, off,
                 SUM(cents) OVER (PARTITION BY cm ORDER BY off
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM r),
    n AS (SELECT cm, COUNT(*) AS nc FROM f GROUP BY 1)
    SELECT CAST(w.cm AS INT) AS cohort_month,
           CAST(w.off AS INT) AS month_offset,
           CAST(n.nc AS BIGINT) AS cohort_size,
           ROUND(CAST(w.cum AS DOUBLE) / 100.0 / n.nc, 2)
             AS ltv_per_customer
    FROM w JOIN n ON n.cm = w.cm
    ORDER BY 1, 2
    """,
    tags=("relational", "window", "agg", "analytics"),
)
def q276(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime value: customers cohorted by FIRST-order month,
    cumulative revenue per customer at month offsets 0..5 — the LTV
    curve whose level differences across cohorts are the earliest
    honest signal of acquisition-quality drift (qz143 counts retained
    USERS per offset; this weights them by money, which is what the
    payback model actually consumes). The month key is the integer
    year*12+month index (calendar-field arithmetic on TIMESTAMP_NTZ,
    no TZ hazard), offsets capped at 5 to bound the output.

    Exactness: revenue accumulates in exact integer cents through the
    grouped sums AND the cumulative window (all integer); the /100
    per-customer display division is the only float, ROUNDed 1e-2.

    Plan shape at 100 TB: one custkey-grouped first-order collapse,
    one custkey join back onto orders (both sides shuffle on the same
    key once), a months^2-bounded aggregate, and the cumulative
    window over that bounded table."""
    dec = "decimal(38,0)"
    o = table(spark, sf, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).cast("bigint").alias("m"),
        F.round(F.col("o_totalprice") * 100.0, 0).cast(dec).alias(
            "cents"
        ),
    )
    f = o.groupBy("o_custkey").agg(F.min("m").alias("cm"))
    r = (
        o.join(f, "o_custkey")
        .where(F.col("m") - F.col("cm") <= 5)
        .groupBy("cm", (F.col("m") - F.col("cm")).alias("off"))
        .agg(F.sum("cents").alias("cents"))
    )
    w = r.select(
        "cm",
        "off",
        F.sum("cents")
        .over(
            Window.partitionBy("cm")
            .orderBy("off")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
    )
    n = f.groupBy("cm").agg(F.count(F.lit(1)).alias("nc"))
    return (
        w.join(n, "cm")
        .select(
            F.col("cm").cast("int").alias("cohort_month"),
            F.col("off").cast("int").alias("month_offset"),
            F.col("nc").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("cum").cast("double") / 100.0 / F.col("nc"), 2
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "month_offset")
    )


@query(
    "qz277_discount_quantity_corr",
    oracle="""
    WITH d AS (SELECT p.p_brand AS brand,
                      CAST(ROUND(l.l_discount * 100.0, 0) AS BIGINT)
                        AS dc,
                      CAST(l.l_quantity AS BIGINT) AS q
               FROM lineitem l
               JOIN part p ON p.p_partkey = l.l_partkey),
    g AS (SELECT brand, COUNT(*) AS n, SUM(dc) AS sd, SUM(q) AS sq,
                 SUM(CAST(dc AS HUGEINT) * dc) AS sdd,
                 SUM(CAST(q AS HUGEINT) * q) AS sqq,
                 SUM(CAST(dc AS HUGEINT) * q) AS sdq
          FROM d GROUP BY 1)
    SELECT brand, CAST(n AS BIGINT) AS n_lines,
           CASE WHEN (n * sdd - CAST(sd AS HUGEINT) * sd) > 0
                     AND (n * sqq - CAST(sq AS HUGEINT) * sq) > 0
                THEN ROUND(CAST(n * sdq - CAST(sd AS HUGEINT) * sq
                                AS DOUBLE)
                     / SQRT(CAST(n * sdd - CAST(sd AS HUGEINT) * sd
                                 AS DOUBLE)
                            * CAST(n * sqq - CAST(sq AS HUGEINT) * sq
                                   AS DOUBLE)), 6)
                ELSE 0.0 END AS r
    FROM g ORDER BY brand
    """,
    tags=("relational", "join", "agg", "stats"),
)
def q277(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation between discount percentage and quantity per
    part brand — the micro-elasticity screen (a strongly positive r
    says bigger discounts move bigger volumes for that brand; r ~ 0
    says discounting is noise and the margin giveaway buys nothing).
    The qz243 integer-moment Pearson machinery applied to a
    fact-table pair of bounded-domain columns.

    Exactness: discount lives on the integer percent grid, quantity
    is integer; all five moments are exact decimal(38,0)/HUGEINT;
    r is one closed-form double with both variance guards (the
    q244/q248 den>0 convention), ROUNDed at 1e-6.

    Round-17 hot-path restructure (guide §1.2 per-task work; the q290
    finding): decimal(38,0) per-row multiplies + precision-38 sum
    buffers run on the BigDecimal/serialized-BigInteger path. The
    cross-moments dc*dc / q*q / dc*q are bounded products (dc <= 100,
    q <= 2^31 per row after the bigint cast; on TPC-H domains <= 2500)
    that fit a LONG multiply exactly, so the fact-row aggregate now
    sums LONGs per (brand, salt=orderkey%64) and a second brands x 64
    -sized aggregate finishes in exact decimal(38,0). A salt-slice
    sub-sum overflowing long (ANSI: loud error) needs ~3.7e15 fact
    rows per brand-slice; the decimal outer total is exact at any
    scale, so the moment contract is unchanged.

    Plan shape at 100 TB: part broadcast-gated onto the fact scan,
    ONE map-side-combined (brands x 64)-sized long aggregate + a
    brands-sized decimal finish. No second corpus pass."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    dec = "decimal(38,0)"
    d = li.join(
        broadcast_if_small(p), li.l_partkey == p.p_partkey
    ).select(
        F.col("p_brand").alias("brand"),
        F.pmod(F.col("l_orderkey"), F.lit(64)).alias("__salt"),
        F.round(F.col("l_discount") * 100.0, 0)
        .cast("bigint")
        .alias("dc"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    sub = d.groupBy("brand", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("dc").alias("psd"),
        F.sum("q").alias("psq"),
        F.sum(F.col("dc") * F.col("dc")).alias("psdd"),
        F.sum(F.col("q") * F.col("q")).alias("psqq"),
        F.sum(F.col("dc") * F.col("q")).alias("psdq"),
    )
    g = sub.groupBy("brand").agg(
        F.sum("pn").alias("n"),
        F.sum("psd").alias("sd"),
        F.sum("psq").alias("sq"),
        F.sum(F.col("psdd").cast(dec)).alias("sdd"),
        F.sum(F.col("psqq").cast(dec)).alias("sqq"),
        F.sum(F.col("psdq").cast(dec)).alias("sdq"),
    )
    vx = F.col("n") * F.col("sdd") - F.col("sd").cast(dec) * F.col("sd")
    vy = F.col("n") * F.col("sqq") - F.col("sq").cast(dec) * F.col("sq")
    cov = F.col("n") * F.col("sdq") - F.col("sd").cast(dec) * F.col("sq")
    return g.select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                cov.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("r"),
    ).orderBy("brand")
