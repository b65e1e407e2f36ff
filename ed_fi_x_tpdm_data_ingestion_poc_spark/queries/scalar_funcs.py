"""Scalar function surface: string / date / math / array / struct / JSON
(SURVEY.md §2.3 Q34–Q40).

Covers the reference's expression needs: case-insensitive matching +
concatenation (StringUtil.java, descriptor URI building
SisConnectorService.java:510-516), ISO date handling (JSON.java:213-237),
JSON document serialization (R23), and the descriptor-enrichment join with
fallback (R10) — all as JVM-side built-ins inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from . import fixture_df, query


@query(
    "qz34_string_funcs",
    oracle="""
    SELECT c_custkey, UPPER(c_name) AS u, LOWER(c_mktsegment) AS l,
           SUBSTR(c_name, 1, 8) AS s, CAST(LENGTH(c_name) AS INT) AS n,
           TRIM(c_name) AS t, REPLACE(c_name, '#', '-') AS r,
           CONCAT(c_mktsegment, '#', c_name) AS cc
    FROM customer
    """,
    tags=("functions",),
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    """String functions (upper/lower/substr/length/trim/replace/concat)."""
    c = table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("u"),
        F.lower("c_mktsegment").alias("l"),
        F.substring("c_name", 1, 8).alias("s"),
        F.length("c_name").alias("n"),
        F.trim("c_name").alias("t"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("r"),
        F.concat("c_mktsegment", F.lit("#"), "c_name").alias("cc"),
    )


@query(
    "qz35_date_funcs",
    oracle="""
    SELECT o_orderkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
           CAST(o_orderdate AS DATE) AS d,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS iso
    FROM orders
    """,
    tags=("functions",),
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time functions — ISO formatting parity with the reference's
    Gson adapters (ref R8/R23, JSON.java:213-237)."""
    o = table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso"),
    )


@query(
    "qz36_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS chg,
           ROUND(ABS(l_discount - 0.05), 6) AS a,
           CAST(FLOOR(l_quantity) AS BIGINT) AS f,
           CAST(CEIL(l_quantity) AS BIGINT) AS c,
           ROUND(SQRT(l_extendedprice), 4) AS sq
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500
    """,
    tags=("functions",),
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    """Math functions (round/abs/floor/ceil/sqrt, money arithmetic).

    Top-k first, THEN the expression projection: the sort keys are base
    columns, so selecting the 500 rows before computing the math evaluates
    the expressions 500 times instead of once per corpus row (Catalyst
    keeps a projection below a Sort+Limit; this ordering is the manual
    equivalent of project-after-top-k)."""
    li = table(spark, sf, "lineitem")
    return (
        li.select(
            "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
            "l_tax", "l_quantity",
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                2,
            ).alias("chg"),
            F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("a"),
            F.floor("l_quantity").alias("f"),
            F.ceil("l_quantity").alias("c"),
            F.round(F.sqrt("l_extendedprice"), 4).alias("sq"),
        )
    )


@query(
    "qz37_array_funcs",
    oracle="""
    SELECT doc_id, list_contains(string_split(text, ' '), 'the') AS hit,
           CAST(len(string_split(text, ' ')) AS INT) AS n
    FROM documents
    """,
    tags=("functions", "array"),
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    """Array functions over tokenized text (split/contains/size)."""
    d = table(spark, sf, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_contains(toks, "the").alias("hit"),
        F.size(toks).alias("n"),
    )


@query(
    "qz38_struct_json",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(t := event_type,
                               v := CAST(ROUND(value * 10000) AS BIGINT))) AS j
    FROM events
    """,
    tags=("functions", "json"),
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """Struct build + JSON serialization (ref R11 document assembly + R23
    Gson serialization -> F.struct + to_json). The metric value is scaled to
    an integer so the JSON number rendering is engine-independent."""
    e = table(spark, sf, "events")
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.round(F.col("value") * 10000, 0).cast("bigint").alias("v"),
            )
        ).alias("j"),
    )


@query(
    "qz39_json_extract",
    oracle="""
    SELECT event_id, json_extract_string(props, '$.k') AS k
    FROM events
    """,
    tags=("functions", "json"),
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """JSON path extraction from the semi-structured props column."""
    e = table(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").alias("k")
    )


# Inline enrichment fixtures for q40 (FIXTURES.md §6: the driver does not
# materialize fixture_codes/fixture_descriptors as parquet, so both engines
# build them from the same literals).
_FIXTURE_CODES = [
    "AL", "AK", "AZ", "CA", "CO", "CT", "XX", "YY", "ZZ", "TX",
    "NY", "FL", "WA", "OR", "NV", "Q1", "Q2", "MA", "PR", "BIS",
]
_FIXTURE_DESCRIPTORS = [
    ("AL", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("AK", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("AZ", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("CA", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("CO", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("CT", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("TX", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("NY", "uri://ed-fi.org/StateAbbreviationDescriptor"),
    ("MA", "uri://ed-fi.org/AddressTypeDescriptor"),
    ("PR", "uri://ed-fi.org/AddressTypeDescriptor"),
    ("BIS", "uri://ed-fi.org/TPPDegreeTypeDescriptor"),
]


def _codes_values_sql() -> str:
    return ", ".join(f"('{c}')" for c in _FIXTURE_CODES)


def _desc_values_sql() -> str:
    return ", ".join(f"('{c}', '{ns}')" for c, ns in _FIXTURE_DESCRIPTORS)


@query(
    "qz40_descriptor_enrich",
    oracle=f"""
    WITH fixture_codes(code) AS (VALUES {_codes_values_sql()}),
         fixture_descriptors(codeValue, namespace) AS (VALUES {_desc_values_sql()})
    SELECT f.code, COALESCE(d.namespace || '#' || f.code, f.code) AS uri
    FROM fixture_codes f
    LEFT JOIN fixture_descriptors d ON f.code = d.codeValue
    """,
    tags=("enrich",),
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Descriptor URI enrichment with pass-through fallback — the exact
    semantics of the reference's 7 get*DescriptorUri lookups
    (SisConnectorService.java:489-688: uri = namespace + '#' + code on match,
    bare code on miss), as a broadcast left join instead of a driver HashMap.
    """
    from ..operators.enrich import enrich_descriptor_uri

    codes = fixture_df(
        spark, "desc_codes", [(c,) for c in _FIXTURE_CODES], "code string"
    )
    descriptors = fixture_df(
        spark, "descriptors", _FIXTURE_DESCRIPTORS,
        "codeValue string, namespace string",
    )
    out = enrich_descriptor_uri(
        codes, descriptors, code_col="code", out_col="uri"
    )
    return out.select("code", "uri")


@query(
    "qz95_variant_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("functions", "json"),
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type: parse_json
    ONCE into the binary variant encoding, then typed variant_get
    extractions feed the aggregate — the engine answer to ad-hoc JSON at
    scale (qz39's get_json_object re-parses the string per path; variant
    parses once and its columnar/shredded form keeps extraction cheap
    when many paths read the same cell). Typed NULL-safe extraction via
    try_variant_get."""
    e = table(spark, sf, "events")
    v = e.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )
