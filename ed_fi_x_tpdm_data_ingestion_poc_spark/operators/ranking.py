"""Scale-safe exact global ranking and size-balanced shard assignment.

The naive global rank — ``row_number().over(Window.orderBy(...))`` — is
the canonical 100 TB scale-killer: an empty ``partitionBy`` funnels the
ENTIRE dataset through one task (Spark even warns). The exact shape that
survives scale is the one ``ORDER BY`` itself uses (range exchange +
local sort), extended with a prefix sum over per-partition totals, all
in ONE plan:

1. ``repartitionByRange(P, keys)`` + ``sortWithinPartitions(keys)`` —
   one range shuffle, each partition holds a contiguous, sorted key
   range;
2. one ``mapInPandas`` pass numbers rows 1..n_p WITHIN each partition
   (a running counter across that partition's Arrow batches — no second
   shuffle, no state beyond one long) and tags the partition id;
3. the per-partition totals of that same pass (P rows) collapse to one
   row, an array ``aggregate`` turns them into offsets, and a broadcast
   P-row join makes ``rank = offset + local_rank``.

Both sides of that join read the same range exchange, so a partition id
names the same key range on both: the range sampler is seeded per RDD,
and offsets taken from a second execution (a driver collect) land on
the wrong partitions once a partition outgrows the sample. Building
the plan runs no Spark job; no task ever sees more than its own range
(or P totals). Ties are broken by the caller-supplied key list, so pass
a unique final key (e.g. the id) to make ranks a pure function of the
data — partition BOUNDARIES from range sampling are not deterministic,
but with a total order the assigned ranks are.

No analog in the reference (its largest ordered set is one JDBC page,
SisConnectorService.java); this is beyond-reference scale surface —
the primitive under exact deciles, serpentine sharding, and any
"sort the corpus once, number it exactly" export.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def global_running_sums(
    df: DataFrame,
    order: list[Column],
    value: Column,
    *,
    num_partitions: int = 64,
    sum_col: str = "run_total",
) -> DataFrame:
    """Add ``sum_col`` = inclusive running sum of ``value`` (a bigint
    expression over ``df``'s columns) in the given total order, without
    a single-partition window — the distributed prefix sum under
    budget-capped selection, exact quantile cuts on sorted exports, and
    ``global_ranks`` itself (value = 1). Project ``df`` down to the
    columns you need FIRST — every retained column rides the range
    exchange and the Arrow pass.

    ``order`` must define a TOTAL order (append a unique id as the last
    key) or equal-key rows get an arbitrary-but-valid prefix order.

    Plan: range exchange + local sort; one Arrow pass cumsums each
    partition (a running carry across that partition's batches); that
    pass's per-partition totals (P rows) fold into offsets in one row,
    and a broadcast P-row join adds them back.
    """
    if not order:
        raise ValueError("global_running_sums needs at least one order column")

    with_v = df.withColumn("__v", value.cast("long"))
    ranged = with_v.repartitionByRange(
        num_partitions, *order
    ).sortWithinPartitions(*order)
    cols = [c for c in ranged.columns if c != "__v"]

    def cumsum(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        carry = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf["__pid"] = pid
            pdf["__lsum"] = pdf["__v"].cumsum() + carry
            carry = int(pdf["__lsum"].iloc[-1]) if len(pdf) else carry
            yield pdf

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # copy, never .add() on the live schema: StructType.add mutates in
    # place and would corrupt `ranged`'s cached column list
    schema = StructType(
        list(ranged.schema.fields)
        + [
            StructField("__pid", IntegerType()),
            StructField("__lsum", LongType()),
        ]
    )
    summed = ranged.mapInPandas(cumsum, schema)
    # the totals come from this pass's own output, so both join sides
    # are the same subtree over the same range exchange (Spark reuses
    # it); the mapInPandas also keeps column pruning from changing the
    # exchange's input on the total side. Offset of partition p = sum
    # of the totals of the partitions before it, over one P-long array.
    off = F.broadcast(
        summed.groupBy("__pid")
        .agg(F.sum("__v").alias("__t"))
        .agg(F.collect_list(F.struct("__pid", "__t")).alias("p"))
        .select(
            F.inline(
                F.transform(
                    "p",
                    lambda x: F.struct(
                        x["__pid"].alias("__pid"),
                        F.aggregate(
                            F.filter("p", lambda y: y["__pid"] < x["__pid"]),
                            F.lit(0).cast("long"),
                            lambda acc, y: acc + y["__t"],
                        ).alias("__off"),
                    ),
                )
            )
        )
    )
    return (
        summed.join(off, "__pid")
        .withColumn(sum_col, (F.col("__off") + F.col("__lsum")).cast("long"))
        .select(*cols, sum_col)
    )


def global_ranks(
    df: DataFrame,
    order: list[Column],
    *,
    num_partitions: int = 64,
    rank_col: str = "rank",
) -> DataFrame:
    """Add ``rank_col`` (1-based bigint, in the given column-list
    order) to ``df`` without a single-partition window: the rank IS the
    running count, so this is ``global_running_sums`` with value = 1.
    Same total-order and project-first contracts.
    """
    return global_running_sums(
        df, order, F.lit(1), num_partitions=num_partitions, sum_col=rank_col
    )


def serpentine_shards(
    rank: Column, num_shards: int, shard_col: str = "shard"
) -> Column:
    """Map a 1-based global rank to a shard id by serpentine (boustro-
    phedon) round-robin: block b = (rank-1) // S alternates direction,
    so shard s gets the s-th and (2S-1-s)-th largest of every 2S rows.
    Applied to a size-descending rank this is the classic LPT-flavoured
    balance guarantee without any coordination: each shard's total is
    within one max-element of any other's for every prefix of blocks.
    Pure JVM arithmetic — composes into the same select as the rank.
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    i = rank - F.lit(1)
    block = F.floor(i / num_shards)
    pos = i % num_shards
    return (
        F.when(block % 2 == 0, pos)
        .otherwise(F.lit(num_shards - 1) - pos)
        .cast("int")
        .alias(shard_col)
    )
