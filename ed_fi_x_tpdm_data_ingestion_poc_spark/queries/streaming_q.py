"""Structured Streaming queries (SURVEY.md §2.3 Q44-Q49).

Each runs a bounded (AvailableNow-triggered) stream over a file replay of
the events table and returns the final result as a batch DataFrame. Where
the result is batch-equivalent SQL (tumbling/sliding/session windows,
dedup, reconciliation counts) the oracle hash-checks it against DuckDB
computing the same aggregate directly; the watermark/late-data check (q47)
is an ok-flag because its expectation ("batch minus exactly the late row")
is itself computed and compared in-engine.

Window starts are compared as epoch seconds (BIGINT) — engine-independent
and timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ok_flag, query


def _events_stream(
    spark: SparkSession,
    sf: str,
    layout: str = "single",
    shuffle_n: int | None = None,
):
    from ..streaming.replay import (
        events_replay_dir,
        low_shuffle_clone,
        read_replay_stream,
    )

    d = events_replay_dir(spark, sf, layout=layout)
    if shuffle_n is not None:
        spark = low_shuffle_clone(spark, shuffle_n)
    return read_replay_stream(spark, d)


@query(
    "qz44_stream_tumbling",
    oracle="""
    SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w_start, event_type,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY w_start, event_type
    """,
    tags=("streaming",),
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window count by event_type: streaming window(ts, 5 min) over
    the file replay must equal the batch floor(epoch/300) aggregate."""
    ev = _events_stream(spark, sf)
    agg = ev.groupBy(F.window("ts", "5 minutes"), "event_type").count()
    from ..streaming.replay import run_to_memory

    res = run_to_memory(agg, output_mode="complete")
    return res.select(
        F.unix_timestamp("window.start").alias("w_start"),
        "event_type",
        F.col("count").alias("n"),
    ).orderBy("w_start", "event_type")


@query(
    "qz45_stream_sliding",
    oracle="""
    WITH starts AS (
      SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w_start, event_type
      FROM events
      UNION ALL
      SELECT CAST(floor(epoch(ts)/300)*300 - 300 AS BIGINT), event_type
      FROM events)
    SELECT w_start, event_type, COUNT(*) AS n
    FROM starts GROUP BY 1, 2 ORDER BY w_start, event_type
    """,
    tags=("streaming",),
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window count (10 min window, 5 min slide): every event lands
    in exactly two windows; the oracle materializes both candidate starts."""
    ev = _events_stream(spark, sf)
    agg = ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type").count()
    from ..streaming.replay import run_to_memory

    res = run_to_memory(agg, output_mode="complete")
    return res.select(
        F.unix_timestamp("window.start").alias("w_start"),
        "event_type",
        F.col("count").alias("n"),
    ).orderBy("w_start", "event_type")


@query(
    "qz46_stream_session",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s_start,
           COUNT(*) AS n
    FROM s GROUP BY user_id, sid ORDER BY user_id, s_start
    """,
    tags=("streaming",),
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30 min gap) per user: streaming session_window must
    equal batch gap-based sessionization (lag > 30 min starts a session)."""
    ev = _events_stream(spark, sf)
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").count()
    from ..streaming.replay import run_to_memory

    res = run_to_memory(agg, output_mode="complete")
    return res.select(
        "user_id",
        F.unix_timestamp("session_window.start").alias("s_start"),
        F.col("count").alias("n"),
    ).orderBy("user_id", "s_start")


@query(
    "qz47_stream_watermark_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("streaming",),
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark/late-data semantics, self-verified via checkpoint restarts
    (the production shape: watermark state persists in the checkpoint and
    gates data arriving in later runs; within a single AvailableNow run
    Spark 4 plans all batches up front and does not late-filter mid-run).

    Replay: run 1 = all events but the earliest; run 2 = the earliest
    event, now ~30 days behind the checkpointed watermark (10 min delay) —
    it must be DROPPED (asserted via numRowsDroppedByWatermark == 1 AND by
    result equality); run 3 = a far-future flush event that closes all real
    windows so append mode emits them to the parquet sink. Final output ==
    batch aggregate WITHOUT the late event (flush's own window stays open
    and is never emitted)."""
    import os
    import shutil
    import tempfile

    from ..streaming.replay import events_replay_dir
    from ..tables import table

    staging = events_replay_dir(spark, sf, layout="late")
    live = tempfile.mkdtemp(prefix="q47-live-")
    ckpt = tempfile.mkdtemp(prefix="q47-ckpt-")
    out = tempfile.mkdtemp(prefix="q47-out-")
    dropped = 0

    for fname in sorted(os.listdir(staging)):
        shutil.copy(os.path.join(staging, fname), os.path.join(live, fname))
        ev = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).parquet(live)
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "event_type")
            .count()
            .select(
                F.unix_timestamp("window.start").alias("w_start"),
                "event_type",
                F.col("count").alias("n"),
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped += sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )

    res = spark.read.parquet(out).select("w_start", "event_type", "n")
    ebatch = table(spark, sf, "events")
    earliest = ebatch.orderBy("ts", "event_id").limit(1)
    expected = (
        ebatch.join(earliest.select("event_id"), "event_id", "left_anti")
        .groupBy(
            (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long").alias("w_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    delta = res.exceptAll(expected).unionAll(expected.exceptAll(res))
    ok = 1 if dropped == 1 and delta.limit(1).count() == 0 else 0
    return ok_flag(spark, bool(ok))


@query(
    "qz48_stream_dedup",
    oracle="""
    SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
    tags=("streaming",),
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming dedup: the replay delivers the whole table TWICE
    (two micro-batches); dropDuplicates on event_id must suppress the second
    copy across batches, leaving exactly the batch-distinct aggregate.

    The oracle CASTs SUM(event_id) to BIGINT: DuckDB's SUM over an integer
    column yields HUGEINT (int128), which pandas narrows to float64
    ("49995000.0") while Spark's LongType sum stays int64 ("49995000") —
    a value-hash mismatch on identical numbers (round-1 driver red row).

    The replay structure is asserted in-query: exactly two non-empty
    micro-batches must arrive and the second copy must be fully dropped;
    a violation raises with the observed per-batch input counts instead of
    silently returning an aggregate from a mis-batched run."""
    ev = _events_stream(spark, sf, layout="dup")
    deduped = ev.dropDuplicates(["event_id"])
    from ..streaming.replay import run_to_memory

    res, progress = run_to_memory(deduped, output_mode="append", with_progress=True)
    batch_inputs = [int(p["numInputRows"]) for p in progress if int(p["numInputRows"]) > 0]
    n_out = res.count()
    if len(batch_inputs) != 2 or sum(batch_inputs) != 2 * n_out:
        raise RuntimeError(
            "q48 replay mis-batched: expected 2 equal deliveries summing to "
            f"2x output; got inputs={batch_inputs} output={n_out}"
        )
    return res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "qz65_stream_stateful_custom",
    oracle="""
    SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "stateful"),
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running (count, sum) whose state must CARRY across micro-batches (the
    replay delivers the table in three ts-ordered files). Each batch emits
    the running totals; the final row per user (max running count) must
    equal the batch aggregate exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    from ..streaming.replay import (
        events_replay_dir,
        low_shuffle_clone,
        read_replay_stream,
        run_to_memory,
    )

    replay = events_replay_dir(spark, sf, layout="thirds")
    # State-store cost scales with shuffle partitions x micro-batches (one
    # checkpointed store per partition per batch); 15 user groups don't
    # need 32 stores. The low-shuffle setting is scoped to a cloned
    # session so concurrent bench queries never see it.
    ev = read_replay_stream(low_shuffle_clone(spark), replay)

    def running_totals(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, sv = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            sv += float(pdf["value"].sum())
        state.update((n, sv))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "sv": [sv]})

    updates = ev.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType="user_id long, n long, sv double",
        stateStructType="n long, sv double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_memory(updates, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        res.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n", F.round("sv", 2).alias("sv"))
        .orderBy("user_id")
    )


@query(
    "qz49_stream_rest_reconcile",
    oracle="""
    SELECT 'delete' AS op, 2 AS n
    UNION ALL
    SELECT 'upsert' AS op, COUNT(*) AS n FROM events
    ORDER BY op
    """,
    tags=("streaming", "rest"),
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming upsert sink + snapshot reconciliation (ref R18/R21
    semantics on a stream): foreachBatch POSTs every micro-batch's documents
    to a REST stub via the engine's rest_upsert (executor-parallel,
    401-refresh path shared with batch); after the stream, remote docs never
    upserted are DELETEd (left_anti), exactly the reference's full-snapshot
    reconciliation. Counts are taken from the STUB's recorded state, so the
    check covers the HTTP path end-to-end."""
    from ..sinks.rest_sink import RestSink, rest_delete, rest_upsert
    from ..streaming.replay import run_foreach_batch
    from ..testing.rest_stub import StubRestServer

    ev = _events_stream(spark, sf)
    with StubRestServer([]) as server:
        sink = RestSink(base_url=server.url, path="/events")

        def post_batch(batch_df: DataFrame, batch_id: int) -> None:
            docs = batch_df.select(
                F.col("event_id").cast("string").alias("key"),
                F.to_json(F.struct("event_id", "event_type", "value")).alias("body"),
            )
            rest_upsert(docs, sink, key_col="key", json_col="body").count()

        run_foreach_batch(ev, post_batch)

        upserted = spark.createDataFrame(
            [(str(d["event_id"]),) for d in server.upserts], "k string"
        ).distinct()
        # remote snapshot: two ids that no longer exist in the source
        remote = spark.createDataFrame([("ghost-1",), ("ghost-2",)], "k string")
        stale = remote.join(upserted, "k", "left_anti")
        rest_delete(stale, sink, id_col="k").count()

        n_up = len({d["event_id"] for d in server.upserts})
        n_del = len(set(server.deletes))
    return spark.createDataFrame(
        [("delete", n_del), ("upsert", n_up)], "op string, n long"
    ).orderBy("op")


@query(
    "qz49c_stream_session",
    oracle="""
    WITH w AS (SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk FROM events),
     s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid FROM w)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming",),
)
def q49c(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming session windows with watermark state eviction: the thirds_
    flush replay delivers ts-ordered micro-batches, so sessions spanning a
    file boundary must MERGE across batches in the state store; the flush
    sentinel advances the watermark past every real session so append mode
    emits all of them. Must equal the batch gaps-and-islands oracle (the
    same oracle as q54's batch session_window — streaming and batch
    sessionization agree)."""
    ev = _events_stream(spark, sf, layout="thirds_flush")
    sess = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    from ..streaming.replay import run_to_memory

    res = run_to_memory(sess, output_mode="append")

    # The replay's TimestampType carries the file's NAIVE micros as
    # internal UTC micros (the parquet reader does not rebase), so the
    # TZ-free wall clock is the UTC rendering — but a plain collect()
    # renders in the SESSION zone and shifts under a non-UTC driver
    # (r15 hostile-TZ sweep caught +5:45 under Asia/Kathmandu).
    # cast->NTZ snapshots the session-zone wall clock; convert_timezone
    # back to UTC restores the file's naive value, identically on any
    # session TZ (identity under UTC, so certified hashes are unmoved).
    def _ntz(c: str):
        return F.expr(
            "convert_timezone(current_timezone(), 'UTC',"
            f" cast({c} as timestamp_ntz))"
        )

    return res.filter(F.col("user_id") >= 0).select(
        "user_id",
        _ntz("session_window.start").alias("session_start"),
        _ntz("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


@query(
    "qz49d_stream_dedup_wm",
    oracle="""
    SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
    tags=("streaming",),
)
def q49d(spark: SparkSession, sf: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: q48's unbounded-state dedup holds
    every key forever — correct, but state grows without bound on an
    infinite stream. The within-watermark variant evicts keys older than
    the delay, the production shape at stream scale. With a delay wider
    than the replayed span (40 days > 30), the duplicate second batch is
    still fully suppressed, so the result equals q48's batch-distinct
    aggregate."""
    ev = _events_stream(spark, sf, layout="dup")
    deduped = ev.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    from ..streaming.replay import run_to_memory

    res = run_to_memory(deduped, output_mode="append")
    return res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.count_distinct("event_type").alias("n_types"),
    )


@query(
    "qz49f_stream_stream_join",
    oracle="""
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
     AND a.event_id < b.event_id
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def q49f(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join: two replay streams of the events table
    joined on (time bucket, 5-minute range) — q55's binned-range-join plan
    in its Structured Streaming form. The bucket equality gives the join a
    proper state key; the range condition lives INSIDE the join condition,
    so with both sides watermarked Spark derives state eviction bounds
    (left rows age out once no future right row can reach them) — bounded
    state on an infinite stream. Pairs spanning micro-batch boundaries
    come from buffered state. Must equal the batch oracle (same digest as
    q55)."""
    from ..streaming.replay import (
        events_replay_dir,
        read_replay_stream,
        run_to_memory,
    )

    d = events_replay_dir(spark, sf, layout="thirds")
    bucket = 300

    a = (
        read_replay_stream(spark, d)
        .select(
            F.col("event_id").alias("a_id"),
            F.col("ts").alias("a_ts"),
            F.col("event_type").alias("type_a"),
        )
        .withWatermark("a_ts", "0 seconds")
        .withColumn(
            "a_bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp("a_ts") / bucket),
                    F.floor((F.unix_timestamp("a_ts") + bucket) / bucket),
                )
            ),
        )
    )
    b = (
        read_replay_stream(spark, d)
        .select(
            F.col("event_id").alias("b_id"),
            F.col("ts").alias("b_ts"),
            F.col("event_type").alias("type_b"),
        )
        .withWatermark("b_ts", "0 seconds")
        .withColumn("b_bin", F.floor(F.unix_timestamp("b_ts") / bucket))
    )
    cond = (
        (F.col("a_bin") == F.col("b_bin"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 300 SECOND"))
        & (F.col("a_id") < F.col("b_id"))
    )
    joined = a.join(b, cond, "inner").select("type_a", "type_b")
    res = run_to_memory(joined, output_mode="append")
    return res.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "qz49g_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    tags=("streaming",),
)
def q49g(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join: the events replay stream joined to
    the static customer dimension with an explicit broadcast hint — the
    standard streaming enrichment shape (dimension re-read per micro-
    batch, fact side never shuffles for it; no state store involved,
    unlike stream-stream joins). Aggregated per market segment and checked
    against the batch join."""
    from ..streaming.replay import run_to_memory
    from ..tables import table

    ev = _events_stream(spark, sf, layout="thirds")
    dim = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(dim), "user_id", "inner").select(
        F.col("c_mktsegment").alias("segment"), "value"
    )
    res = run_to_memory(joined, output_mode="append")
    return res.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "qz49i_stream_cdc_scd2",
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
    tags=("streaming", "pipeline", "cdc"),
)
def q49i(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC-apply: the events change feed replayed as three
    (ts, event_id)-ordered micro-batches and foreachBatch-merged into the
    SCD2 history table seeded from the customer snapshot
    (operators/scd.py Scd2Store). The oracle is the SAME full-feed batch
    rebuild SQL as q49b — incremental apply == rebuild, hash-checked.
    Completes the CDC story q49b opened: q49b is the backfill path, this
    is the continuous path (foreachBatch is Spark's idiom for merging a
    micro-batch into a mutable table)."""
    from ..operators.scd import Scd2Store
    from ..streaming.replay import (
        events_replay_dir,
        read_replay_stream,
        run_foreach_batch,
    )
    from ..tables import table

    base = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("key"),
        F.round("c_acctbal", 2).alias("val"),
    )
    store = Scd2Store(
        base, keys=["key"], attr_cols=["val"], ts_col="ts",
        tiebreak=["event_id"],
    )
    replay = events_replay_dir(spark, sf, layout="thirds_total")
    ev = read_replay_stream(spark, replay).select(
        F.col("user_id").alias("key"),
        "ts",
        F.round("value", 2).alias("val"),
        "event_id",
    )
    run_foreach_batch(ev, store.apply)
    return store.history()


_SPACK_CAP, _SPACK_SHARDS = 256, 8


@query(
    "qz84_stream_packing",
    oracle=f"""
    WITH RECURSIVE d AS (SELECT doc_id, doc_id % {_SPACK_SHARDS} AS shard,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
          FROM documents),
     r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id)
                       AS rn FROM d),
     p AS (
       SELECT shard, rn, doc_id, tok, CAST(0 AS BIGINT) AS bin_id, tok AS acc
       FROM r WHERE rn = 1
       UNION ALL
       SELECT r.shard, r.rn, r.doc_id, r.tok,
              CASE WHEN p.acc + r.tok > {_SPACK_CAP} THEN p.bin_id + 1
                   ELSE p.bin_id END,
              CASE WHEN p.acc + r.tok > {_SPACK_CAP} THEN r.tok
                   ELSE p.acc + r.tok END
       FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
    SELECT doc_id, shard, bin_id, tok FROM p
    """,
    tags=("streaming", "stateful", "llm", "pack"),
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING sequence packing: the q59 sharded next-fit packer as a
    custom stateful operator (applyInPandasWithState). Per-shard state is
    the open bin's (bin_id, acc) — O(1), carried across micro-batches;
    each arriving doc either extends the open bin or starts the next one,
    and every row is emitted with its final assignment immediately
    (append mode — assignments never revise). The replay delivers
    documents in three id-ordered files, satisfying the per-shard
    monotonic-arrival contract under which streaming assignment ==
    batch `pack_next_fit` == the recursive-CTE oracle, all verified by
    one hash. The 100 TB stream shape: state per shard is two longs no
    matter how many documents flow through."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.replay import (
        DOCS_SIZED_DDL,
        documents_sized_replay_dir,
        low_shuffle_clone,
        read_replay_stream,
        run_to_memory,
    )

    replay = documents_sized_replay_dir(spark, sf)
    # 8 shard groups don't need 32 state stores per micro-batch (see q65);
    # the low-shuffle conf lives in a cloned session, never the parent's.
    docs = read_replay_stream(low_shuffle_clone(spark), replay, DOCS_SIZED_DDL)
    shards = _SPACK_SHARDS
    cap = _SPACK_CAP

    def pack_shard(key, pdf_iter, state: GroupState):
        import pandas as pd

        bin_id, acc = state.get if state.exists else (0, 0)
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("doc_id", kind="mergesort")
            bins = []
            for tok in pdf["tok"]:
                tok = int(tok)
                if acc > 0 and acc + tok > cap:
                    bin_id += 1
                    acc = 0
                acc += tok
                bins.append(bin_id)
            pdf = pdf.assign(shard=key[0], bin_id=pd.Series(bins, dtype="int64").values)
            out.append(pdf[["doc_id", "shard", "bin_id", "tok"]])
        state.update((bin_id, acc))
        yield pd.concat(out) if out else pd.DataFrame(
            columns=["doc_id", "shard", "bin_id", "tok"]
        )

    import pandas as pd  # noqa: F401  (bound into the closure above)

    assigned = (
        docs.withColumn("shard", F.pmod("doc_id", F.lit(shards)).cast("bigint"))
        .groupBy("shard")
        .applyInPandasWithState(
            pack_shard,
            outputStructType="doc_id long, shard long, bin_id long, tok long",
            stateStructType="bin_id long, acc long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(assigned, output_mode="append")


# ---------------------------------------------------------------------------
# q162 — streaming per-group quantile summaries (mergeable MRL on a stream)
# ---------------------------------------------------------------------------

_SQ_EPS = 0.05


@query(
    "qz162_stream_quantiles_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("streaming", "quantile", "stateful"),
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type quantile summaries maintained ON THE STREAM: each
    micro-batch's values collapse through the same batch_points kernel
    as the batch builder (operators/quantiles.py), and the kept points
    concatenate into applyInPandasWithState state — summary_merge IS
    list append, so streaming maintenance needs no new math: slacks
    add, n adds, and the rank-error contract survives verbatim. This is
    the p50/p99-per-key dashboard over a live ingest, state bounded by
    batches/eps points per key (re-collapse through batch_points once
    state exceeds a cap if the stream is unbounded; the bounded replay
    never hits it).

    Laws, checked distributed against the exact events table:
    * accounting — each type's summary n == its exact row count, and
      slack == the sum of its per-batch strides;
    * rank bounds — for each type and each quartile answer v:
      lo <= true_rank(v) <= lo + slack (summary_rank_bounds), true
      ranks from ONE conditional-aggregate pass over events;
    * the stream ran in > 1 micro-batch (state actually carried)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.quantiles import batch_points, summary_rank_bounds
    from ..streaming.replay import run_to_memory
    from ..tables import table
    from . import memo

    eps = _SQ_EPS

    def _laws() -> bool:
        ev = _events_stream(spark, sf, layout="thirds", shuffle_n=4).select(
            "event_type", "value"
        )

        def upd(key, pdf_iter, state: GroupState):
            if state.exists:
                pv, pw, n, slack, b = state.get
                pv, pw = list(pv), list(pw)
            else:
                pv, pw, n, slack, b = [], [], 0, 0, 0
            for pdf in pdf_iter:
                vals, w, s = batch_points(
                    pdf["value"].to_numpy(dtype="float64"), eps
                )
                if len(vals):
                    pv += [float(x) for x in vals]
                    pw += [int(x) for x in w]
                    n += int(w.sum())
                    slack += s
            b += 1
            state.update((pv, pw, n, slack, b))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "pv": [pv],
                    "pw": [pw],
                    "n": [n],
                    "slack": [slack],
                    "b": [b],
                }
            )

        updates = ev.groupBy("event_type").applyInPandasWithState(
            upd,
            outputStructType=(
                "event_type string, pv array<double>, pw array<long>, "
                "n long, slack long, b long"
            ),
            stateStructType=(
                "pv array<double>, pw array<long>, n long, slack long, b long"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = run_to_memory(updates, output_mode="update").collect()

        final: dict[str, object] = {}
        for r in res:
            if r.event_type not in final or r.b > final[r.event_type].b:
                final[r.event_type] = r
        multi_batch = max(r.b for r in final.values()) > 1

        summaries = {
            t: {
                "points": sorted(zip(r.pv, r.pw)),
                "n": r.n,
                "slack": r.slack,
            }
            for t, r in final.items()
        }
        # quartile answers per type -> one conditional-aggregate pass
        # computes every true rank; driver holds types x quartiles rows
        from ..operators.quantiles import summary_quantile

        probes = {
            t: sorted({summary_quantile(s, p) for p in (0.25, 0.5, 0.75)})
            for t, s in summaries.items()
        }
        e = table(spark, sf, "events")
        counts = {
            r["event_type"]: r["n"]
            for r in e.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # exact ranks: broadcast the (type, probe) table — types x
        # quartiles rows — onto events and count value <= probe per
        # pair; the corpus is scanned once, never collected
        probe_rows = [(t, float(v)) for t, vs in probes.items() for v in vs]
        pdf_probes = F.broadcast(
            spark.createDataFrame(probe_rows, "event_type string, probe double")
        )
        ranks = {
            (r["event_type"], r["probe"]): r["rk"]
            for r in e.join(pdf_probes, "event_type")
            .groupBy("event_type", "probe")
            .agg(F.sum((F.col("value") <= F.col("probe")).cast("long")).alias("rk"))
            .collect()
        }
        ok = set(counts) == set(summaries) and multi_batch
        for t, s in summaries.items():
            ok &= s["n"] == int(counts[t]) and s["slack"] > 0
            for v in probes[t]:
                true_rank = int(ranks[(t, v)])
                lo, hi = summary_rank_bounds(s, v)
                ok &= lo <= true_rank <= hi
        return bool(ok)

    ok = memo(spark, ("stream_quantile_laws", sf), _laws, label="stream_quantile_laws")
    return ok_flag(spark, ok)


# ---------------------------------------------------------------------------
# q179 — streaming Page-Hinkley changepoint detector (order-sensitive state)
# ---------------------------------------------------------------------------

_PH_DELTA = 0.5
_PH_LAMBDA = 1000.0


@query(
    "qz179_stream_page_hinkley",
    oracle=f"""
    WITH o AS (SELECT event_type, value, event_id,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    w AS (SELECT event_type, value, us, event_id,
                 AVG(value) OVER (PARTITION BY event_type
                                  ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS xb
          FROM o),
    m AS (SELECT event_type, us, event_id,
                 SUM(value - xb - {_PH_DELTA})
                   OVER (PARTITION BY event_type ORDER BY us, event_id
                         ROWS UNBOUNDED PRECEDING) AS m
          FROM w),
    f AS (SELECT event_type, COUNT(*) AS n,
                 MAX(m) AS mmax, MIN(m) AS mmin,
                 LIST(m ORDER BY us, event_id)[-1] AS mend
          FROM m GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(mend, 4) AS m_end,
           ROUND(mmax, 4) AS m_max,
           ROUND(mmin, 4) AS m_min,
           CAST(ROUND(mmax - mend, 4) > {_PH_LAMBDA} AS INT) AS alarm
    FROM f
    """,
    tags=("streaming", "stats"),
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    """Page-Hinkley changepoint detector per event type, maintained ON
    THE STREAM — the online twin of q174's retrospective CUSUM: after
    each sample, m += x - mean_so_far - delta; a downward shift in the
    value level drags m below its running maximum, and
    m_max - m_end > lambda alarms (Page 1954; the standard online
    drift detector in stream-mining toolkits).

    Unlike every other streaming law here, PH is ORDER-SENSITIVE state:
    the replay must deliver rows in (ts, event_id) order across
    micro-batch boundaries, which is exactly the thirds_total layout's
    contract (the same per-key monotonic-feed contract the incremental
    SCD2 apply uses). Within a batch the chunks of one group are
    concatenated and sorted before folding; across batches the state
    (n, sum, m, m_max, m_min) carries. The DuckDB oracle replays the
    identical fold as two nested running windows in the identical
    total order — float accumulation order is therefore pinned on both
    sides, and the 1e-4 rounding sits ~5 orders above the worst-case
    ulp drift of a 2k-sample fold.

    Scale shape: state is 5 scalars per key; each micro-batch does one
    numpy pass over its rows — no per-event Python, no shuffle beyond
    the groupBy key exchange."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.replay import run_to_memory

    def _fold() -> DataFrame:
        ev = _events_stream(
            spark, sf, layout="thirds_total", shuffle_n=4
        ).select("event_type", "event_id", "ts", "value")

        def upd(key, pdf_iter, state: GroupState):
            import numpy as np

            if state.exists:
                k, s, m, mmax, mmin = state.get
            else:
                k, s, m, mmax, mmin = 0, 0.0, 0.0, float("-inf"), float(
                    "inf"
                )
            chunks = [pdf for pdf in pdf_iter]
            if chunks:
                pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
                x = pdf["value"].to_numpy(dtype="float64")
                t = np.arange(1, len(x) + 1, dtype="float64")
                mean = (s + np.cumsum(x)) / (k + t)
                mm = m + np.cumsum(x - mean - _PH_DELTA)
                k += len(x)
                s += float(x.sum())
                m = float(mm[-1])
                mmax = max(mmax, float(mm.max()))
                mmin = min(mmin, float(mm.min()))
            state.update((k, s, m, mmax, mmin))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n": [k],
                    "m_end": [m],
                    "m_max": [mmax],
                    "m_min": [mmin],
                }
            )

        updates = ev.groupBy("event_type").applyInPandasWithState(
            upd,
            outputStructType=(
                "event_type string, n long, m_end double, "
                "m_max double, m_min double"
            ),
            stateStructType=(
                "k long, s double, m double, mmax double, mmin double"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = run_to_memory(updates, output_mode="update").collect()
        final: dict[str, object] = {}
        for r in res:
            if r.event_type not in final or r.n > final[r.event_type].n:
                final[r.event_type] = r
        return spark.createDataFrame(list(final.values()))

    from .llm import _artifact

    out = _artifact(spark, sf, "ph_stream", _fold)
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("m_end", 4).alias("m_end"),
        F.round("m_max", 4).alias("m_max"),
        F.round("m_min", 4).alias("m_min"),
        (F.round(F.col("m_max") - F.col("m_end"), 4) > _PH_LAMBDA)
        .cast("int")
        .alias("alarm"),
    )


# ---------------------------------------------------------------------------
# q182 — streaming PSI drift monitor (q162's stream state x q177's PSI)
# ---------------------------------------------------------------------------


@query(
    "qz182_stream_psi_monitor",
    oracle="""
    WITH ref AS (SELECT value FROM events WHERE event_type = 'view'),
    rr AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn,
                  COUNT(*) OVER () AS n
           FROM ref),
    t AS (SELECT rr.value AS t
          FROM rr, UNNEST(generate_series(1, 9)) AS g(i)
          WHERE rr.rn = GREATEST(1, (g.i * rr.n + 9) // 10)),
    b AS (SELECT event_type,
                 (SELECT COUNT(*) FROM t WHERE t.t <= e.value) AS bucket
          FROM events e),
    srcs AS (SELECT event_type, COUNT(*) AS n FROM b GROUP BY event_type),
    grid AS (SELECT s.event_type, s.n, g.i AS bucket
             FROM srcs s, UNNEST(generate_series(0, 9)) AS g(i)),
    cnt AS (SELECT event_type, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
    f AS (SELECT grid.event_type, grid.n, grid.bucket,
                 COALESCE(cnt.c, 0) AS c
          FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type
                                  AND cnt.bucket = grid.bucket),
    refp AS (SELECT bucket, (c + 0.5) / (n + 5.0) AS pa
             FROM f WHERE event_type = 'view'),
    q AS (SELECT f.event_type,
                 SUM(((f.c + 0.5) / (f.n + 5.0) - refp.pa)
                     * LN(((f.c + 0.5) / (f.n + 5.0)) / refp.pa)) AS psi
          FROM f JOIN refp ON refp.bucket = f.bucket
          WHERE f.event_type <> 'view'
          GROUP BY f.event_type)
    SELECT event_type, ROUND(psi, 6) AS psi,
           CAST(ROUND(psi, 6) > 0.2 AS INT) AS drift,
           CAST(3 AS INT) AS batches
    FROM q
    """,
    tags=("streaming", "stats", "quantile"),
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    """Live PSI drift monitor ON THE STREAM — consolidated (r15, VERDICT
    r14 #7) onto the ONE production PSI code path: q218's
    applyInPandasWithState updater (psi_state_update). Until r14 this
    name carried a separate foreachBatch driver-dict fold with
    identical semantics; once the recoverable updater landed, the
    driver-dict variant was a second production path to keep correct
    for no additional coverage (its only distinguishing property —
    cold restart — is a strict subset of the recoverable monitor's
    behavior). The name (and its r11+ certification lineage against
    the batch-PSI oracle) stays registered; the body now certifies the
    stream-equals-batch law on the same state-store path q218 pins,
    so a regression in the production updater fails BOTH entries.

    Everything else is unchanged from the original contract: exact
    reference-decile edges (integer rank arithmetic, rank_den=10),
    map-side bucketing against 9 broadcast literals, Jeffreys-smoothed
    PSI against the 'view' reference, 3-batch thirds replay with the
    hash-checked `batches` column, final emission hash-equal to the
    batch oracle."""
    return _psi_recoverable_monitor(spark, sf)


@query(
    "qz218_stream_psi_recoverable",
    oracle="""
    WITH ref AS (SELECT value FROM events WHERE event_type = 'view'),
    rr AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn,
                  COUNT(*) OVER () AS n
           FROM ref),
    t AS (SELECT rr.value AS t
          FROM rr, UNNEST(generate_series(1, 9)) AS g(i)
          WHERE rr.rn = GREATEST(1, (g.i * rr.n + 9) // 10)),
    b AS (SELECT event_type,
                 (SELECT COUNT(*) FROM t WHERE t.t <= e.value) AS bucket
          FROM events e),
    srcs AS (SELECT event_type, COUNT(*) AS n FROM b GROUP BY event_type),
    grid AS (SELECT s.event_type, s.n, g.i AS bucket
             FROM srcs s, UNNEST(generate_series(0, 9)) AS g(i)),
    cnt AS (SELECT event_type, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
    f AS (SELECT grid.event_type, grid.n, grid.bucket,
                 COALESCE(cnt.c, 0) AS c
          FROM grid LEFT JOIN cnt ON cnt.event_type = grid.event_type
                                  AND cnt.bucket = grid.bucket),
    refp AS (SELECT bucket, (c + 0.5) / (n + 5.0) AS pa
             FROM f WHERE event_type = 'view'),
    q AS (SELECT f.event_type,
                 SUM(((f.c + 0.5) / (f.n + 5.0) - refp.pa)
                     * LN(((f.c + 0.5) / (f.n + 5.0)) / refp.pa)) AS psi
          FROM f JOIN refp ON refp.bucket = f.bucket
          WHERE f.event_type <> 'view'
          GROUP BY f.event_type)
    SELECT event_type, ROUND(psi, 6) AS psi,
           CAST(ROUND(psi, 6) > 0.2 AS INT) AS drift,
           CAST(3 AS INT) AS batches
    FROM q
    """,
    tags=("streaming", "stats", "quantile"),
)
def q218(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint-RECOVERABLE live PSI drift monitor — qz182's cumulative
    (event_type, decile-bucket) contingency state ported from the
    driver-dict foreachBatch fold into applyInPandasWithState (the
    q192/q161 template), closing the one asymmetry in the monitor
    family (VERDICT r13 'What's missing' #3): the per-type count
    vector now lives in Spark's state store, so a restarted monitor
    resumes from its checkpoint instead of silently undercounting
    (tests/test_monitor_recovery.py drives the production updater
    through a kill/restart and pins emission == uninterrupted run).

    Semantics are identical to qz182 — same exact decile edges, same
    Jeffreys-smoothed PSI against the 'view' reference, same oracle —
    so this query certifies the stream-equals-batch law on the
    RECOVERABLE state path: after the 3-batch thirds replay, every
    type's cumulative bucket vector equals the batch table's and the
    final PSI hash-equals the batch oracle.

    Scale shape: bucketing is a map-side comparison against 9
    broadcast literals; state per key is one 10-long vector (bounded
    by the schema, not the stream); per-batch work is a vectorized
    bincount per type. The final PSI rescore walks types x 10 numbers
    on the driver — bounded emissions at any corpus size."""
    return _psi_recoverable_monitor(spark, sf)


def _psi_recoverable_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """The single production PSI monitor build (shared by q218 and
    qz182, r15 consolidation): exact reference-decile bucketing on the
    thirds replay, the psi_state_update applyInPandasWithState fold,
    and the driver-side types x 10 final rescore. Memoized per
    (session, sf): the suite certifies the path twice (two names, two
    oracle comparisons) but runs the stream once."""
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.quantiles import exact_quantiles_via_summary
    from ..streaming.replay import run_to_memory
    from ..tables import table
    from . import memo
    from .stats_q import _PSI_PHIS

    e_batch = table(spark, sf, "events")

    def _edges() -> dict[float, float]:
        return exact_quantiles_via_summary(
            e_batch.where(F.col("event_type") == "view").select("value"),
            "value",
            _PSI_PHIS,
            eps=0.01,
            rank_den=10,
        )

    thr = memo(spark, ("psi_ev_edges", sf), _edges, label="psi_ev_edges")

    def _monitor() -> DataFrame:
        bucket = sum(
            (F.col("value") >= F.lit(thr[phi])).cast("int")
            for phi in _PSI_PHIS
        )
        ev = _events_stream(spark, sf, layout="thirds", shuffle_n=4).select(
            "event_type", bucket.cast("int").alias("bucket")
        )
        updates = ev.groupBy("event_type").applyInPandasWithState(
            psi_state_update(),
            outputStructType=PSI_MONITOR_OUT_DDL,
            stateStructType=PSI_MONITOR_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = run_to_memory(updates, output_mode="update").collect()
        final: dict[str, object] = {}
        for r in res:
            if r.event_type not in final or r.b > final[r.event_type].b:
                final[r.event_type] = r
        batches = max(int(r.b) for r in final.values())
        if batches < 2:
            raise RuntimeError(
                "q218 replay mis-batched: recoverable PSI monitor saw "
                f"{batches} micro-batches, expected 3"
            )
        view = final["view"]
        pa_ref = [
            (view.counts[i] + 0.5) / (view.n + 5.0)
            for i in range(_PSI_N_BUCKETS)
        ]
        rows = []
        for t in sorted(final):
            if t == "view":
                continue
            r = final[t]
            s = sum(
                ((r.counts[i] + 0.5) / (r.n + 5.0) - pa_ref[i])
                * math.log(((r.counts[i] + 0.5) / (r.n + 5.0)) / pa_ref[i])
                for i in range(_PSI_N_BUCKETS)
            )
            rows.append((t, round(s, 6), 1 if round(s, 6) > 0.2 else 0, batches))
        return spark.createDataFrame(
            rows, "event_type string, psi double, drift int, batches int"
        )

    return memo(
        spark, ("psi_stream_rec", sf), _monitor, label="psi_stream_rec"
    )


# ---------------------------------------------------------------------------
# q192 — streaming sketch-KS drift monitor (q162's stream state x q170's law)
# ---------------------------------------------------------------------------

_SKM_EPS = 0.05
_SKM_MON = "purchase"  # monitored feed
_SKM_REF = "view"      # reference feed

# the per-key PSI contingency-state contract: shared by q218 and
# tests/test_monitor_recovery.py (same reasoning as the MRL DDLs below)
PSI_MONITOR_OUT_DDL = (
    "event_type string, counts array<long>, n long, b long"
)
PSI_MONITOR_STATE_DDL = "counts array<long>, n long, b long"

_PSI_N_BUCKETS = 10


def psi_state_update(n_buckets: int = _PSI_N_BUCKETS):
    """Builder for q218's applyInPandasWithState updater: state is the
    cumulative per-bucket count vector of one event type's decile
    contingency row (plus total and batch counters). Each micro-batch's
    pre-bucketed rows fold in with a vectorized bincount; counts add
    over disjoint row sets, so the state after any prefix of batches
    equals the batch-table counts over that prefix — which is what
    makes the monitor checkpoint-recoverable, unlike qz182's
    driver-dict fold (cold restart by design). Module-level so the
    recovery contract test drives the PRODUCTION updater."""

    def upd(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            counts, n, b = state.get
            counts = list(counts)
        else:
            counts, n, b = [0] * n_buckets, 0, 0
        for pdf in pdf_iter:
            bc = np.bincount(
                pdf["bucket"].to_numpy(dtype="int64"), minlength=n_buckets
            )
            for i in range(n_buckets):
                counts[i] += int(bc[i])
            n += int(bc.sum())
        b += 1
        state.update((counts, n, b))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "counts": [counts],
                "n": [n],
                "b": [b],
            }
        )

    return upd


# the per-key MRL-summary state contract: shared by q192 and
# tests/test_monitor_recovery.py so a state-schema change that would
# break checkpoint recovery fails CI instead of production
MRL_MONITOR_OUT_DDL = (
    "event_type string, pv array<double>, pw array<long>, "
    "n long, slack long, b long"
)
MRL_MONITOR_STATE_DDL = (
    "pv array<double>, pw array<long>, n long, slack long, b long"
)


def mrl_state_update(eps: float, value_col: str = "value"):
    """Builder for q192's applyInPandasWithState updater: state is the
    kept (value, weight) points plus n/slack/batch counters of a
    mergeable MRL quantile summary; each micro-batch is compressed by
    the SAME batch_points kernel the batch summaries use and appended
    (ranks add over disjoint row sets, so bounds add — the q170 merge
    law). Module-level so the checkpoint-recovery contract test drives
    the PRODUCTION updater, not a test double."""
    from ..operators.quantiles import batch_points

    def upd(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            pv, pw, n, slack, b = state.get
            pv, pw = list(pv), list(pw)
        else:
            pv, pw, n, slack, b = [], [], 0, 0, 0
        for pdf in pdf_iter:
            vals, w, s = batch_points(
                pdf[value_col].to_numpy(dtype="float64"), eps
            )
            if len(vals):
                pv += [float(x) for x in vals]
                pw += [int(x) for x in w]
                n += int(w.sum())
                slack += s
        b += 1
        state.update((pv, pw, n, slack, b))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "pv": [pv],
                "pw": [pw],
                "n": [n],
                "slack": [slack],
                "b": [b],
            }
        )

    return upd


@query(
    "qz192_stream_sketch_ks",
    oracle=f"""
    WITH e AS (SELECT value AS v,
                      CASE WHEN event_type = '{_SKM_MON}' THEN 1 ELSE 0 END
                        AS a
               FROM events
               WHERE event_type IN ('{_SKM_MON}', '{_SKM_REF}')),
    g AS (SELECT v, SUM(a) AS c1, COUNT(*) - SUM(a) AS c2
          FROM e GROUP BY v),
    w AS (SELECT SUM(c1) OVER (ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cum1,
                 SUM(c2) OVER (ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cum2
          FROM g),
    t AS (SELECT (SELECT SUM(c1) FROM g) AS n1,
                 (SELECT SUM(c2) FROM g) AS n2,
                 MAX(ABS(cum1 * (SELECT SUM(c2) FROM g)
                         - cum2 * (SELECT SUM(c1) FROM g))) AS dnum
          FROM w)
    SELECT ROUND(CAST(dnum AS DOUBLE) / (1.0 * n1 * n2), 6) AS d_exact,
           CAST(n1 AS BIGINT) AS n_mon, CAST(n2 AS BIGINT) AS n_ref,
           CAST(1 AS INT) AS ok
    FROM t
    """,
    tags=("streaming", "stats", "quantile"),
)
def q192(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming sketch-KS drift monitor — the mergeable-summary twin of
    q182's PSI monitor and the live form of q170's batch law: per-type
    MRL quantile summaries are maintained ON THE STREAM (the q162
    applyInPandasWithState shape — state is the kept (value, weight)
    points plus n/slack/batch counters), and after the bounded replay
    the monitor compares the monitored feed's STREAM-BUILT summary
    against the reference feed's, exactly as a 100 TB deployment
    compares kilobyte summaries instead of re-scanning two corpora.

    Laws folded into the flag (values hash-check, the flag pins the
    batching-dependent parts):
    * accounting — every type's stream summary weight total equals the
      batch row count for that type (n_mon/n_ref are hash-checked
      against the oracle's COUNTs);
    * the stream carried state across >1 micro-batch;
    * q170's error law on STREAM-built summaries: |D_sketch - D_exact|
      <= (slack_m + maxw_m)/n_m + (slack_r + maxw_r)/n_r, with D_exact
      from the exact integer machinery (grouped value counts + TWO
      global_running_sums distributed prefix sums — the q165 rule:
      event values are continuous, so the running totals never ride a
      single-partition window).

    Scale shape: stream state is n_batches/eps points per type; the
    exact check is one grouped collapse + two range-exchange prefix
    sums; the sketch comparison walks kilobytes on the driver."""
    import bisect

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.ranking import global_running_sums
    from ..streaming.replay import run_to_memory
    from ..tables import table
    from . import memo

    eps = _SKM_EPS

    def _build() -> DataFrame:
        ev = _events_stream(spark, sf, layout="thirds", shuffle_n=4).select(
            "event_type", "value"
        )

        updates = ev.groupBy("event_type").applyInPandasWithState(
            mrl_state_update(eps),
            outputStructType=MRL_MONITOR_OUT_DDL,
            stateStructType=MRL_MONITOR_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = run_to_memory(updates, output_mode="update").collect()
        final: dict[str, object] = {}
        for r in res:
            if r.event_type not in final or r.b > final[r.event_type].b:
                final[r.event_type] = r
        multi_batch = max(r.b for r in final.values()) > 1

        # batch-side exact counts per type (accounting law for EVERY type)
        ebatch = table(spark, sf, "events")
        exact_n = {
            r.event_type: r.n
            for r in ebatch.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        acct_ok = all(
            final[t].n == exact_n.get(t, -1) for t in final
        ) and set(final) == set(exact_n)

        # exact D between monitored and reference feeds: grouped counts +
        # two distributed prefix sums (cum_mon and cum_total; cum_ref =
        # cum_total - cum_mon), one-row reduce
        e = ebatch.where(
            F.col("event_type").isin(_SKM_MON, _SKM_REF)
        ).select(
            F.col("value").alias("v"),
            (F.col("event_type") == _SKM_MON).cast("long").alias("a"),
        )
        g = e.groupBy("v").agg(
            F.sum("a").alias("c1"),
            F.count(F.lit(1)).alias("ct"),
        )
        r1 = global_running_sums(
            g, order=[F.col("v")], value=F.col("c1"), sum_col="cum1"
        )
        r2 = global_running_sums(
            r1, order=[F.col("v")], value=F.col("ct"), sum_col="cumt"
        )
        # the max gap needs the totals first: two one-row reduces
        tot = r2.agg(
            F.sum("c1").alias("n1"),
            F.sum(F.col("ct") - F.col("c1")).alias("n2"),
        ).first()
        n1, n2 = int(tot["n1"]), int(tot["n2"])
        # decimal(38,0): cum*n reaches n1*n2, which wraps int64 past
        # ~3e9 rows per side (the q165 s2 advice, same class)
        dnum = (
            r2.select(
                F.abs(
                    F.col("cum1").cast("decimal(38,0)") * F.lit(n2)
                    - (F.col("cumt") - F.col("cum1")).cast("decimal(38,0)")
                    * F.lit(n1)
                ).alias("d")
            )
            .agg(F.max("d"))
            .first()[0]
        )
        d_exact = float(int(dnum) / (1.0 * n1 * n2))
        from decimal import ROUND_HALF_UP, Decimal

        d_exact_r = float(
            Decimal(repr(d_exact)).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
        )

        # sketch D from the STREAM-built summaries + q170's error law
        def summ(t):
            r = final[t]
            pts = sorted(zip(r.pv, r.pw))
            return {
                "points": pts,
                "n": r.n,
                "slack": r.slack,
            }

        sm, sr = summ(_SKM_MON), summ(_SKM_REF)

        def _lo_cdf(summary):
            vals = [v for v, _ in summary["points"]]
            cums, acc = [], 0
            for _, wgt in summary["points"]:
                acc += wgt
                cums.append(acc)
            return vals, cums

        vm, cm = _lo_cdf(sm)
        vr, cr = _lo_cdf(sr)

        def lo(vals, cums, x):
            i = bisect.bisect_right(vals, x)
            return cums[i - 1] if i else 0

        union = sorted(set(vm) | set(vr))
        d_sketch = max(
            abs(lo(vm, cm, x) / sm["n"] - lo(vr, cr, x) / sr["n"])
            for x in union
        )
        bound = (
            sm["slack"] + max(w for _, w in sm["points"])
        ) / sm["n"] + (
            sr["slack"] + max(w for _, w in sr["points"])
        ) / sr["n"]
        ok = (
            multi_batch
            and acct_ok
            and abs(d_sketch - d_exact) <= bound
            and sum(w for _, w in sm["points"]) == sm["n"] == n1
            and sum(w for _, w in sr["points"]) == sr["n"] == n2
        )
        return spark.range(1).select(
            F.lit(d_exact_r).alias("d_exact"),
            F.lit(n1).cast("bigint").alias("n_mon"),
            F.lit(n2).cast("bigint").alias("n_ref"),
            F.lit(1 if ok else 0).cast("int").alias("ok"),
        )

    return memo(spark, ("sketch_ks_stream", sf), _build, label="sketch_ks_stream")


# ---------------------------------------------------------------------------
# q206 — streaming last-touch attribution (qz193's live form)
# ---------------------------------------------------------------------------

# the per-user last-touch state contract: shared by q206 and
# tests/test_monitor_recovery.py (the q192/q161 rationale — a
# state-schema change that breaks checkpoint recovery fails CI)
LAST_TOUCH_OUT_DDL = "touch string, n long"
LAST_TOUCH_STATE_DDL = "last string"


def last_touch_state_update():
    """Builder for q206's applyInPandasWithState updater: state is ONE
    string (the user's last seen event type); each batch's purchases
    credit their in-batch predecessor, or the carried state when a
    purchase OPENS the batch (the cross-batch case). Emits the batch's
    per-touch DELTA counts. Module-level so the checkpoint-recovery
    contract test drives the PRODUCTION updater."""

    def upd(key, pdf_iter, state):
        import pandas as pd

        last = state.get[0] if state.exists else "none"
        chunks = [pdf for pdf in pdf_iter]
        out: dict[str, int] = {}
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            types = pdf["event_type"].tolist()
            prev = [last] + types[:-1]
            for t, p in zip(types, prev):
                if t == "purchase":
                    out[p] = out.get(p, 0) + 1
            last = types[-1]
        state.update((last,))
        yield pd.DataFrame(
            {"touch": list(out), "n": [out[t] for t in out]}
        )

    return upd


@query(
    "qz206_stream_last_touch",
    oracle="""
    WITH s AS (SELECT event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events)
    SELECT COALESCE(prev, 'none') AS touch, CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY n DESC, touch
    """,
    tags=("streaming", "analytics", "sequence", "stateful"),
)
def q206(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution maintained ON THE STREAM — qz193's LAG
    window in its live form: per-user state is ONE string (the last
    event type seen), each micro-batch credits its purchases to the
    type immediately preceding them (the in-batch predecessor, or the
    carried state for a purchase that OPENS a batch — the cross-batch
    case that makes this a real stateful operator), and emits only the
    batch's (touch, n) delta rows; the final result is the running sum
    of deltas. Must hash-equal the batch oracle exactly.

    Order contract: last-touch is ORDER-SENSITIVE state, so the replay
    uses the thirds_total layout (total (ts, event_id) order across
    micro-batch boundaries — the qz179 Page-Hinkley contract) and each
    batch's per-user chunk is concatenated and sorted before the fold.

    Scale shape: state is one string per user (vs qz179's 5 floats per
    type); each batch does one vectorized shift-and-mask pass per user
    chunk — no per-event Python, no shuffle beyond the user-key
    exchange; emissions are touch-types-sized per batch, and the delta
    aggregation is types-sized."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.replay import run_to_memory
    from . import memo

    def _build() -> DataFrame:
        ev = _events_stream(
            spark, sf, layout="thirds_total", shuffle_n=4
        ).select("user_id", "event_id", "ts", "event_type")

        updates = ev.groupBy("user_id").applyInPandasWithState(
            last_touch_state_update(),
            outputStructType=LAST_TOUCH_OUT_DDL,
            stateStructType=LAST_TOUCH_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # every emitted row is a per-(user, batch) DELTA: the memory
        # sink in update mode appends rows, so the final answer is the
        # sum over all emissions
        res = run_to_memory(updates, output_mode="update")
        return (
            res.groupBy("touch")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), "touch")
        )

    out = memo(spark, ("last_touch_stream", sf), _build, label="last_touch_stream")
    return out


# ---------------------------------------------------------------------------
# q278 — recoverable streaming moments monitor (the third stateful
# updater family: PSI contingency vectors, MRL summaries, and now raw
# numeric moments)
# ---------------------------------------------------------------------------

# the per-key moments-state contract: shared by q278 and
# tests/test_monitor_recovery.py (the PSI/MRL DDL rationale — a state
# schema change that breaks checkpoint recovery must fail CI)
MOM_MONITOR_OUT_DDL = (
    "event_type string, n long, s decimal(38,0), ssq decimal(38,0), b long"
)
MOM_MONITOR_STATE_DDL = "n long, s decimal(38,0), ssq decimal(38,0), b long"


def moments_state_update():
    """Builder for q278's applyInPandasWithState updater: state is one
    event type's exact micro-unit value moments (count, sum, sum of
    squares) plus the batch counter. Sums are COMMUTATIVE over disjoint
    row sets, so the state after any prefix of batches equals the batch
    table's moments over that prefix — the same recoverability argument
    as psi_state_update, with decimal(38,0) state columns because
    micro-unit squares overflow int64 after ~10 corpus-scale rows
    (Python ints are arbitrary-precision in the fold; Decimal only at
    the state/Arrow boundary). Module-level so the recovery test drives
    the PRODUCTION updater."""

    def upd(key, pdf_iter, state):
        from decimal import Decimal

        import pandas as pd

        if state.exists:
            n, s, ssq, b = state.get
            s, ssq = int(s), int(ssq)
        else:
            n, s, ssq, b = 0, 0, 0, 0
        for pdf in pdf_iter:
            iv = pdf["iv"].to_numpy(dtype="int64")
            n += len(iv)
            s += int(iv.sum())
            ssq += int((iv.astype(object) ** 2).sum())
        b += 1
        state.update((n, Decimal(s), Decimal(ssq), b))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n": [n],
                "s": [Decimal(s)],
                "ssq": [Decimal(ssq)],
                "b": [b],
            }
        )

    return upd


@query(
    "qz278_stream_moments_recoverable",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(ROUND(value * 1000000.0, 0) AS HUGEINT)
                        AS iv
               FROM events),
    g AS (SELECT event_type, COUNT(*) AS n, SUM(iv) AS s,
                 SUM(iv * iv) AS ssq
          FROM e GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS mean_value,
           CASE WHEN n > 1
                THEN ROUND(CAST(n * ssq - s * s AS DOUBLE)
                     / n / (n - 1) / 1000000000000.0, 6)
                ELSE 0.0 END AS var_value,
           CAST(3 AS INT) AS batches
    FROM g
    """,
    tags=("streaming", "stats"),
)
def q278(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint-recoverable streaming VALUE-moments monitor per event
    type — the third recoverable stateful family after q218's PSI
    contingency vectors and qz192's MRL summaries: exact micro-unit
    (count, sum, sum-of-squares) state in applyInPandasWithState,
    emitting running mean and sample variance per type. This is the
    monitor a revenue/latency feed actually runs first (PSI needs
    binning policy, KS needs a reference feed; mean/variance need
    nothing) and the live source for q263's Fano screen.

    Certifies the stream-equals-batch law on the recoverable path:
    after the 3-batch thirds replay the cumulative moments equal the
    batch table's exactly (integer sums are commutative over disjoint
    batches), so mean/var hash-equal the batch oracle; the batches
    column pins that state actually carried across micro-batches.
    Kill/restart recovery of the PRODUCTION updater is pinned in
    tests/test_monitor_recovery.py.

    Scale shape: per-batch work is a vectorized numpy fold per type;
    state per key is four numbers; the emission is types-sized. The
    micro-unit squares ride decimal(38,0) state (int64 would wrap
    after ~10 corpus-scale rows); variance divides the all-integer
    n*ssq - s^2 once in double (q234 convention)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.replay import run_to_memory
    from . import memo

    def _monitor() -> DataFrame:
        ev = _events_stream(spark, sf, layout="thirds", shuffle_n=4).select(
            "event_type",
            F.round(F.col("value") * 1_000_000.0, 0)
            .cast("long")
            .alias("iv"),
        )
        updates = ev.groupBy("event_type").applyInPandasWithState(
            moments_state_update(),
            outputStructType=MOM_MONITOR_OUT_DDL,
            stateStructType=MOM_MONITOR_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = run_to_memory(updates, output_mode="update").collect()
        final: dict[str, object] = {}
        for r in res:
            if r.event_type not in final or r.b > final[r.event_type].b:
                final[r.event_type] = r
        batches = max(int(r.b) for r in final.values())
        if batches < 2:
            raise RuntimeError(
                "q278 replay mis-batched: moments monitor saw "
                f"{batches} micro-batches, expected 3"
            )
        from decimal import ROUND_HALF_UP, Decimal

        def _r6(x: float) -> float:
            # HALF_UP to match both engines' ROUND (python round() is
            # banker's and would flip a .5e-6 boundary cross-engine)
            return float(
                Decimal(repr(x)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )

        rows = []
        for t in sorted(final):
            r = final[t]
            n, s, ssq = int(r.n), int(r.s), int(r.ssq)
            mean = _r6(s / n / 1e6)
            var = (
                _r6((n * ssq - s * s) / n / (n - 1) / 1e12)
                if n > 1
                else 0.0
            )
            rows.append((t, n, mean, var, batches))
        return spark.createDataFrame(
            rows,
            "event_type string, n_events bigint, mean_value double,"
            " var_value double, batches int",
        )

    return memo(
        spark, ("moments_stream", sf), _monitor, label="moments_stream"
    )


@query(
    "q288_stream_outer_join",
    oracle="""
    WITH a AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    b AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    j AS (SELECT a.event_id AS a_id, b.event_id AS b_id
          FROM a LEFT JOIN b
            ON b.user_id = a.user_id
           AND b.ts >= a.ts - INTERVAL 5 MINUTE
           AND b.ts <= a.ts)
    SELECT (b_id IS NOT NULL) AS matched,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_purchases
    FROM j GROUP BY 1
    """,
    tags=("streaming",),
)
def q288(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the watermark capability qz49f's
    inner interval join does NOT exercise: unmatched left rows must be
    HELD in state until the watermark proves no future right row can
    match, then emitted exactly once with nulls. Purchases left-join
    preceding same-user clicks within 5 minutes; the batch oracle is
    the identical LEFT JOIN. Null emission is the part that goes wrong
    in naive streaming joins (emit-on-arrival double-counts; never-emit
    drops the unmatched side), so the certified result counts BOTH
    populations: matched pair rows and unmatched purchases.

    Mechanics pinned here: equality key (user_id) + event-time range
    ON BOTH join columns + watermarks on both sides gives Spark the
    state eviction bound; the thirds_flush layout's far-future sentinel
    advances the final watermark so trailing unmatched purchases flush
    (the availableNow no-data final batch emits them). The sentinel is
    deliberately INCLUDED in both type filters and dropped only on the
    BATCH side of the memory sink: Catalyst pushes every deterministic
    stream-side filter below the event-time node into the scans (a
    type filter caps each side's watermark at its own type's max; even
    a post-join user_id != -1 lands in PushedFilters of both scans),
    and any of those strands the trailing purchases in state
    (measured twice; see inline comments).

    Scale shape: stream-stream joins shuffle both sides on the equality
    key once; state per key is bounded by the 5-minute range + the
    watermark delay, independent of stream length — the property that
    makes this runnable forever at 100 TB/day."""
    from ..streaming.replay import run_to_memory

    # The __flush__ sentinel MUST flow through both withWatermark nodes:
    # the watermark value is computed from rows reaching the event-time
    # node, and Catalyst pushes a plain type filter BELOW it, so
    # where(type == 'purchase') would silently reduce each side's
    # watermark to that type's own max (measured: wm lagged the stream
    # by hours = min(max purchase ts, max click ts) per batch, and the
    # trailing unmatched purchases never flushed). Keeping the sentinel
    # in BOTH filters lets it advance the final watermark wherever the
    # filter lands; its own join output (user -1, matches nothing) is
    # dropped after the join. Side construction is shared with the
    # q296/q297 full/right-outer modes (_stream_join_sides).
    a, b, cond = _stream_join_sides(spark, sf)
    joined = a.join(b, cond, "leftOuter").select("a_id", "b_id")
    res = run_to_memory(joined, output_mode="append")
    # The sentinel's own output row (it matches the b-side sentinel at
    # equal ts) is dropped HERE, on the batch side of the memory sink —
    # a stream-side where() on user/id gets predicate-pushed below the
    # EventTimeWatermark node into both scans (observed PushedFilters:
    # Not(EqualTo(user_id,-1))), which re-kills the sentinel before it
    # can advance the watermark.
    return res.where(F.col("a_id") != -1).groupBy(
        F.col("b_id").isNotNull().alias("matched")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("a_id").cast("bigint").alias("n_purchases"),
    )


def _stream_join_sides(spark: SparkSession, sf: str):
    """The q288 side-builder, shared by the outer-join family: purchases
    (a) and clicks (b) from the thirds_flush replay, each keeping the
    __flush__ sentinel THROUGH its watermark node (the pushdown trap
    q288's inline comments document: Catalyst pushes any deterministic
    stream-side filter below EventTimeWatermark into the scan, so a
    bare type filter caps each side's watermark at its own type's max
    and strands unmatched rows in state forever)."""
    from ..streaming.replay import events_replay_dir, read_replay_stream

    d = events_replay_dir(spark, sf, layout="thirds_flush")
    a = (
        read_replay_stream(spark, d)
        .where(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("event_id").alias("a_id"),
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", "0 seconds")
    )
    b = (
        read_replay_stream(spark, d)
        .where(F.col("event_type").isin("click", "__flush__"))
        .select(
            F.col("event_id").alias("b_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "0 seconds")
    )
    cond = (
        (F.col("b_user") == F.col("a_user"))
        & (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 300 SECOND"))
        & (F.col("b_ts") <= F.col("a_ts"))
    )
    return a, b, cond


@query(
    "q296_stream_full_outer_join",
    oracle="""
    WITH a AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    b AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    j AS (SELECT a.event_id AS a_id, b.event_id AS b_id
          FROM a FULL JOIN b
            ON b.user_id = a.user_id
           AND b.ts >= a.ts - INTERVAL 5 MINUTE
           AND b.ts <= a.ts)
    SELECT (a_id IS NOT NULL) AS has_purchase,
           (b_id IS NOT NULL) AS has_click,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_clicks
    FROM j GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def q296(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream FULL OUTER join with watermark — the last
    structured-streaming join mode q288's left-outer left open
    (VERDICT r16 #5): BOTH sides' unmatched rows are held in state and
    emitted with nulls exactly once, when the watermark proves no
    future partner can arrive. Purchases full-join preceding same-user
    clicks within 5 minutes; the batch oracle is the identical FULL
    JOIN, and the certified result counts all three populations —
    matched pairs, watermark-flushed unmatched purchases (has_click
    false), and watermark-flushed unmatched clicks (has_purchase
    false) — so emit-on-arrival double-counting, never-emit dropping,
    and one-sided flushing are each separately visible in the hash.

    The __flush__ sentinel flows through BOTH watermark nodes (the
    q288 pushdown trap, regression-pinned for this mode in
    tests/test_stream_outer_joins.py) and is dropped on the BATCH side
    of the memory sink — under full-outer the two sentinel rows join
    each other (same user -1, equal ts), so exactly one joined
    sentinel row is removed; a stream-side filter would be pushed
    below the event-time node and re-cap the watermark.

    Scale shape: identical to q288 — one equality-key shuffle of each
    side, state bounded by the 5-minute range + watermark delay per
    key regardless of stream length; full-outer adds only the
    right-side unmatched state Spark already tracks for the join."""
    from ..streaming.replay import run_to_memory

    a, b, cond = _stream_join_sides(spark, sf)
    joined = a.join(b, cond, "fullOuter").select("a_id", "b_id")
    res = run_to_memory(joined, output_mode="append")
    return (
        res.where(
            (F.coalesce(F.col("a_id"), F.lit(0)) != -1)
            & (F.coalesce(F.col("b_id"), F.lit(0)) != -1)
        )
        .groupBy(
            F.col("a_id").isNotNull().alias("has_purchase"),
            F.col("b_id").isNotNull().alias("has_click"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("a_id").cast("bigint").alias("n_purchases"),
            F.countDistinct("b_id").cast("bigint").alias("n_clicks"),
        )
    )


@query(
    "q297_stream_right_outer_join",
    oracle="""
    WITH a AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    b AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    j AS (SELECT a.event_id AS a_id, b.event_id AS b_id
          FROM a RIGHT JOIN b
            ON b.user_id = a.user_id
           AND b.ts >= a.ts - INTERVAL 5 MINUTE
           AND b.ts <= a.ts)
    SELECT (a_id IS NOT NULL) AS matched,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_clicks
    FROM j GROUP BY 1
    """,
    tags=("streaming",),
)
def q297(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream RIGHT OUTER join with watermark — the mirror of
    q288, completing the outer-join mode family: unmatched CLICKS are
    the held-and-flushed population here (a click with no same-user
    purchase in the following 5 minutes emits with a null a_id once
    the watermark passes). Not symmetric sugar over q288: the state
    eviction bound now lives on the RIGHT side's event-time range, so
    this mode exercises Spark evicting/emitting the b-side buffer —
    the exact path a left-outer run never touches. Same sentinel
    discipline as q288/q296; under right-outer the sentinel pair joins
    (equal ts), so one joined sentinel row drops batch-side.

    Scale shape: identical to q288 — one equality-key shuffle per
    side, bounded per-key state."""
    from ..streaming.replay import run_to_memory

    a, b, cond = _stream_join_sides(spark, sf)
    joined = a.join(b, cond, "rightOuter").select("a_id", "b_id")
    res = run_to_memory(joined, output_mode="append")
    return (
        res.where(F.coalesce(F.col("b_id"), F.lit(0)) != -1)
        .groupBy(F.col("a_id").isNotNull().alias("matched"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("b_id").cast("bigint").alias("n_clicks"),
        )
    )


@query(
    "q299_stream_semi_join",
    oracle="""
    WITH a AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    b AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT CAST(COUNT(*) AS BIGINT) AS n_qualified,
           CAST(MIN(a.event_id) AS BIGINT) AS first_id,
           CAST(MAX(a.event_id) AS BIGINT) AS last_id
    FROM a
    WHERE EXISTS (SELECT 1 FROM b
                  WHERE b.user_id = a.user_id
                    AND b.ts >= a.ts - INTERVAL 5 MINUTE
                    AND b.ts <= a.ts)
    """,
    tags=("streaming",),
)
def q299(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT SEMI join with watermark — with q288/q296/
    q297 this covers every stream-stream join mode Spark supports
    (inner via qz49f, left/right/full outer, semi): purchases that HAD
    a same-user click in the preceding 5 minutes, emitted once per
    left row regardless of how many clicks matched — the existence
    test the outer modes can only express through a post-join distinct
    that re-shuffles the matched pairs. State discipline is the
    outer-join one (left rows buffer until the watermark bounds the
    match window; matched rows emit once), and the batch oracle is the
    equivalent EXISTS subquery. Certified by the qualified count plus
    the min/max qualified event ids (endpoints pin the membership, not
    just its size). The flush sentinel rides both sides
    (_stream_join_sides); its self-match emits one a_id=-1 row,
    dropped batch-side like its siblings.

    Scale shape: same one equality-key shuffle per side and bounded
    per-key state as q288 — semi joins additionally DROP right-side
    rows from the emitted stream entirely, so output volume is capped
    by the left side alone (the cheapest of the join modes at scale)."""
    from ..streaming.replay import run_to_memory

    a, b, cond = _stream_join_sides(spark, sf)
    joined = a.join(b, cond, "leftSemi").select("a_id")
    res = run_to_memory(joined, output_mode="append")
    return res.where(F.col("a_id") != -1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_qualified"),
        F.min("a_id").cast("bigint").alias("first_id"),
        F.max("a_id").cast("bigint").alias("last_id"),
    )
