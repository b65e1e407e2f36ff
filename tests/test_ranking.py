"""Scale-safe exact global rank + serpentine shard balance laws."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.ranking import (
    global_ranks,
    serpentine_shards,
)


def _sized(spark, n, mod=997):
    return spark.range(0, n).withColumn(
        "size", F.pmod(F.xxhash64("id"), F.lit(mod))
    )


def test_global_ranks_is_the_exact_sort_order(spark):
    rows = global_ranks(
        _sized(spark, 500), [F.col("size").desc(), F.col("id")],
        num_partitions=7,
    ).collect()
    assert sorted(r["rank"] for r in rows) == list(range(1, 501))
    by_rank = [(r["size"], r["id"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert by_rank == sorted(by_rank, key=lambda t: (-t[0], t[1]))


def test_global_ranks_more_partitions_than_rows(spark):
    rows = global_ranks(
        _sized(spark, 5), [F.col("id")], num_partitions=64
    ).collect()
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
    assert [r["id"] for r in sorted(rows, key=lambda r: r["rank"])] == [
        0, 1, 2, 3, 4,
    ]


def test_global_ranks_empty_and_validation(spark):
    df = _sized(spark, 10).where("id < 0")
    assert global_ranks(df, [F.col("id")]).count() == 0
    with pytest.raises(ValueError, match="order column"):
        global_ranks(df, [])


def test_global_ranks_schema_not_mutated(spark):
    df = _sized(spark, 10)
    before = [f.name for f in df.schema.fields]
    global_ranks(df, [F.col("id")]).count()
    assert [f.name for f in df.schema.fields] == before


def test_serpentine_balance_and_coverage(spark):
    s = 4
    ranked = global_ranks(
        _sized(spark, 1000), [F.col("size").desc(), F.col("id")]
    )
    agg = (
        ranked.select(serpentine_shards(F.col("rank"), s), "size")
        .groupBy("shard")
        .agg(F.sum("size").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["shard"] for r in agg) == list(range(s))
    assert all(r["n"] == 250 for r in agg)
    totals = [r["t"] for r in agg]
    # LPT-style guarantee: spread bounded by one max element
    assert max(totals) - min(totals) <= 997


def test_serpentine_formula_first_two_blocks(spark):
    out = (
        spark.range(1, 9)
        .select(
            F.col("id").alias("rank"),
            serpentine_shards(F.col("id"), 4),
        )
        .collect()
    )
    got = {r["rank"]: r["shard"] for r in out}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 3, 6: 2, 7: 1, 8: 0}


def test_serpentine_validation(spark):
    with pytest.raises(ValueError, match="num_shards"):
        serpentine_shards(F.lit(1), 0)


def test_global_running_sums_matches_sequential(spark):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.ranking import (
        global_running_sums,
    )

    rows = global_running_sums(
        _sized(spark, 400),
        [F.col("size").desc(), F.col("id")],
        F.col("size"),
        num_partitions=9,
        sum_col="run",
    ).collect()
    seq = sorted(((r["size"], r["id"]) for r in rows), key=lambda t: (-t[0], t[1]))
    acc, expect = 0, {}
    for size, i in seq:
        acc += size
        expect[i] = acc
    assert {r["id"]: r["run"] for r in rows} == expect


def test_global_running_sums_budget_prefix_is_contiguous(spark):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.ranking import (
        global_running_sums,
    )

    df = _sized(spark, 200)
    total = df.agg(F.sum("size")).first()[0]
    r = global_running_sums(
        df, [F.col("id")], F.col("size"), num_partitions=5, sum_col="run"
    )
    kept = r.where(F.col("run") <= total // 2).collect()
    ids = sorted(x["id"] for x in kept)
    assert ids == list(range(len(ids)))  # a prefix in the order given


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_global_running_sums_input_partitions_outgrow_the_range_sample(
    spark, aqe
):
    """200,000 rows in 4 input partitions: each holds far more rows than
    the range sampler reads, so two executions of the range exchange
    pick different bounds. The offsets must come from the same
    execution as the per-partition sums, under either AQE setting."""
    from pyspark.sql import Window

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.ranking import (
        global_running_sums,
    )

    order = [F.col("size").desc(), F.col("id")]
    df = spark.range(0, 200_000, 1, 4).withColumn(
        "size", F.pmod(F.xxhash64("id"), F.lit(997))
    )
    ref = df.select(
        "id",
        F.sum("size")
        .over(Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0))
        .alias("want"),
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        got = global_running_sums(
            df, order, F.col("size"), num_partitions=16, sum_col="run"
        )
        n, wrong = got.join(ref, "id").agg(
            F.count(F.lit(1)), F.sum((F.col("run") != F.col("want")).cast("int"))
        ).first()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert (n, wrong) == (200_000, 0)
