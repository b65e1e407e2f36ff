"""Mergeable-sketch queries (q89, q90, q94): HLL sketch-table rollups
and map-only Bloom decontamination, batch and streaming.

The scale story both pin: at 100 TB you cannot afford a second scan, so
the engine materializes fixed-size summaries once and answers follow-ups
from the summaries alone —

q89 HLL rollup      : per-(event_type, day) HllSketch table of user_id,
                      rolled up to event_type and to the global grain by
                      MERGING sketches (hll_union_agg); verified within
                      ±5% of the exact distinct counts at every grain.
q90 bloom decontam  : eval-set 5-gram shingles -> driver-built power-of-
                      two Bloom bit array -> embedded as an array<bigint>
                      literal -> corpus probed with pure-JVM xxhash64
                      double hashing. NO join, NO shuffle on the corpus
                      side (vs q75's broadcast inverted-index join);
                      verified against the exact containment join: zero
                      false negatives (a law) and observed shingle-level
                      false-positive rate within the design bound.

q94 stream decontam : the same Bloom verdict as a STATELESS streaming
                      filter (probe inside an F.filter lambda over the
                      per-row shingle array) on a documents replay
                      stream — no watermark, no state store, no join;
                      append rows checked exactly equal to the batch
                      evaluation of the same expression.

Sketch internals differ across engines, so — like q20/q68/q69 — the
hashed result is the verified tolerance/law flag itself (DuckDB twin:
SELECT 1). No analog in the reference (exact in-memory HashMaps at
SisConnectorService.java:503-507 are its only "summaries").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from . import built, law, memo, query

_FPP = 0.01


@query(
    "qz89_hll_rollup_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch"),
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-table rollup: build the finest-grain (event_type, day) HLL
    table of distinct user_id ONCE, then answer both the per-event_type
    and the global distinct-user questions by merging sketches — the
    events table is scanned once for the sketch build and once for the
    exact verification side; production keeps only the first. ok=1 iff
    every merged estimate is within 5% of exact at both grains."""
    from ..operators.sketches import hll_rollup, hll_sketch_table

    e = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    fine = hll_sketch_table(e, ["event_type", "day"], "user_id", lgk=14)
    by_type = hll_rollup(fine, ["event_type"], "user_id_hll", out="est")
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact")
    )
    per_type_ok = (
        by_type.join(exact, "event_type")
        .agg(
            F.min(
                (F.abs(F.col("est") - F.col("exact")) / F.col("exact")) <= 0.05
            ).alias("ok1")
        )
    )
    global_est = hll_rollup(fine, [], "user_id_hll", out="est")
    global_exact = e.agg(F.count_distinct("user_id").alias("exact"))
    global_ok = global_est.crossJoin(global_exact).select(
        ((F.abs(F.col("est") - F.col("exact")) / F.col("exact")) <= 0.05).alias(
            "ok2"
        )
    )
    return (
        per_type_ok.crossJoin(global_ok)
        .select((F.col("ok1") & F.col("ok2")).cast("int").alias("ok"))
    )


@query(
    "qz90_bloom_decontam_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("llm", "curation", "sketch"),
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination: flag corpus docs whose 5-gram
    containment against the eval set (docs id < 20, q75's split) reaches
    0.5, using a driver-built Bloom over the eval shingle hashes probed
    with pure JVM expressions. Shingles come from the SAME memoized
    64-bit shingle index q75/q100 share (one corpus shingling pass per
    session, persisted); the corpus side is then MAP-ONLY until its
    per-doc aggregate — no join against the eval set, which is the plan
    you want when the verdict (keep/drop) is all you need at 100 TB.

    ok=1 iff (a) zero false negatives vs the exact containment join —
    a LAW of the filter, not a tolerance — and (b) the shingle-level
    false-positive rate among shingles NOT in the eval set is within
    5x the design fpp (slack for the small-sample variance at test SF)."""
    from ..operators.sketches import bloom_might_contain, build_bloom
    from .curation_q import _shingle_index_k5

    full_idx = _shingle_index_k5(spark, sf)
    ev_sh = full_idx.filter(F.col("id") < 20).select("s").distinct()
    corp_sh = full_idx.filter(F.col("id") >= 20)

    bloom = memo(
        spark,
        ("bloom_eval_5gram", sf),
        lambda: build_bloom(ev_sh, "s", fpp=_FPP),
        label="bloom_eval_5gram",
    )

    # Production path: the probe column alone — map-only, no eval join
    # (tests/test_sketches.py pins that plan). Verification fuses the
    # bloom fraction and the exact fraction into ONE pass over the index
    # joined against the broadcast eval marks, then checks the law
    # per doc: exact >= θ must imply bloom >= θ.
    hit = bloom_might_contain(bloom, F.col("s")).cast("int")
    ev_mark = F.broadcast(ev_sh.withColumn("in_eval", F.lit(1)))
    marked = corp_sh.join(ev_mark, "s", "left")
    inev = F.coalesce("in_eval", F.lit(0))
    per_doc = marked.groupBy("id").agg(
        (F.sum(hit) / F.count("*")).alias("hit_frac"),
        (F.sum(inev) / F.count("*")).alias("c"),
        F.sum(hit * (1 - inev)).alias("fp_occ"),
        F.sum(1 - inev).alias("neg_occ"),
    )
    # one verification pass: false-negative docs (the law) + occurrence-
    # weighted FPR among non-eval shingle occurrences (shingles here are
    # near-unique, so occurrence weighting ~= distinct-shingle FPR and
    # saves the extra distinct+probe pass)
    return per_doc.agg(
        F.sum(
            ((F.col("c") >= 0.5) & (F.col("hit_frac") < 0.5)).cast("int")
        ).alias("fn"),
        (F.sum("fp_occ") / F.sum("neg_occ")).alias("fpr"),
    ).select(
        law(
            (F.col("fn") == 0)
            & (F.coalesce(F.col("fpr"), F.lit(0.0)) <= 5 * _FPP)
        )
    )


_DOC_DDL = "doc_id long, text string"


def _docs_replay_dir(spark: SparkSession, sf: str) -> str:
    """Three doc_id-ordered parquet arrival slots over (doc_id, text) —
    the micro-batch fixture for the streaming queries (q94, q161),
    written once per (session, sf)."""
    from ..streaming.replay import write_replay_dir

    def build() -> str:
        d = table(spark, sf, "documents")
        pdf = d.select("doc_id", "text").orderBy("doc_id").toPandas()
        n = len(pdf)
        chunks = [
            pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3],
            pdf.iloc[2 * n // 3 :],
        ]
        return write_replay_dir(chunks)

    return memo(spark, ("docs_replay", sf), build, label="docs_replay")


def _shingle_arr(toks) -> "F.Column":
    """Distinct 5-gram shingle strings per row as an array column — pure
    JVM higher-order expressions, usable on a stream (no Python)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
        )
    )


@query(
    "qz94_stream_decontam_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("streaming", "llm", "sketch"),
)
def q94(spark: SparkSession, sf: str) -> DataFrame:
    """STATELESS streaming decontamination: q90's Bloom verdict applied to
    a documents replay stream. Per row: shingle array (JVM higher-order
    exprs) -> F.filter with the bloom probe inside the lambda -> hit
    fraction -> keep/drop flag. No watermark, no state store, no join —
    the filter composes into any ingest stream at zero marginal shuffle,
    which is how eval decontamination runs on a live 100 TB ingest
    (the Bloom literal rides along in each micro-batch's plan; rebuild
    the bloom and restart the stream when the eval set changes).

    ok=1 iff the streamed per-doc flags EXACTLY equal the same expression
    evaluated in batch over the same table (append-mode rows are
    compared as sets keyed by doc_id)."""
    from ..operators.sketches import bloom_might_contain, build_bloom
    from ..operators.text import tokens
    from ..streaming.replay import read_replay_stream, run_to_memory

    d = table(spark, sf, "documents")
    ev_sh = (
        d.filter(F.col("doc_id") < 20)
        .select(F.explode(_shingle_arr(tokens("text"))).alias("s"))
        .distinct()
    )
    bloom = memo(
        spark,
        ("bloom_eval_str", sf),
        lambda: build_bloom(ev_sh, "s", fpp=_FPP),
        label="bloom_eval_str",
    )

    def verdict(df: DataFrame) -> DataFrame:
        sh = _shingle_arr(tokens("text"))
        hits = F.size(
            F.filter(sh, lambda s: bloom_might_contain(bloom, s))
        )
        return df.filter(F.col("doc_id") >= 20).select(
            "doc_id",
            ((hits / F.size(sh)) >= 0.5).cast("int").alias("drop"),
        )

    def stream():
        replay = _docs_replay_dir(spark, sf)
        return run_to_memory(
            verdict(read_replay_stream(spark, replay, _DOC_DDL)),
            output_mode="append",
        )

    streamed = memo(
        spark, ("decontam_stream", sf), stream, label="decontam_stream"
    )
    batch = verdict(d)
    return (
        streamed.join(batch, "doc_id", "full")
        .filter(
            streamed["drop"].isNull()
            | batch["drop"].isNull()
            | (streamed["drop"] != batch["drop"])
        )
        .agg(F.count(F.lit(1)).alias("mismatches"))
        .select(law(F.col("mismatches") == 0))
    )


@query(
    "qz96_hll_incremental_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch", "incremental"),
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental sketch-table maintenance: the nightly contract that a
    new day's partition updates the distinct-count summary WITHOUT
    re-scanning history. Split events at the median day; build the
    per-event_type sketch table over the OLD days (the stored artifact),
    sketch ONLY the new days' rows, and merge the two sketch tables with
    hll_union_agg. ok=1 iff the merged estimate per type is (a) within
    1% of a from-scratch single-pass sketch over all rows (union is
    lossless over sketch state; only representation-mode wobble remains)
    and (b) within 5% of the exact distinct count."""
    from ..operators.sketches import hll_rollup, hll_sketch_table

    e = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    split = e.agg(
        F.expr("percentile_approx(unix_date(day), 0.5, 1000)")
    ).scalar()
    old = e.filter(F.unix_date("day") <= split)
    new = e.filter(F.unix_date("day") > split)

    stored = hll_sketch_table(old, ["event_type"], "user_id", lgk=14)
    fresh = hll_sketch_table(new, ["event_type"], "user_id", lgk=14)
    merged = hll_rollup(
        stored.unionByName(fresh), ["event_type"], "user_id_hll", out="inc"
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(14))
        ).alias("full"),
        F.count_distinct("user_id").alias("exact"),
    )
    return (
        merged.join(direct, "event_type")
        .agg(
            F.min(
                ((F.abs(F.col("inc") - F.col("full")) / F.col("full")) <= 0.01)
                & (
                    (F.abs(F.col("inc") - F.col("exact")) / F.col("exact"))
                    <= 0.05
                )
            )
            .cast("int")
            .alias("ok")
        )
    )


@query(
    "qz105_hll_intersect_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch"),
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-algebra intersection estimate: |A∩B| from mergeable HLL
    summaries alone via inclusion-exclusion, est(A) + est(B) −
    est(A∪B) — the union sketch comes from hll_union_agg over the two
    sets' sketches, so the answer needs NO re-scan of either set and no
    join: the question every audience-overlap / cross-corpus-coverage
    report asks at 100 TB, answered from two fixed-size summaries.
    Sets: users in deterministic xxhash buckets [0,60) and [40,100) —
    a designed ~20% overlap, so the subtraction is non-degenerate.
    ok=1 iff the estimate lands within 10% of the exact intersection
    (lgk=14 keeps each term sub-1%; the flag is deterministic).
    Inclusion-exclusion noise grows as overlap shrinks relative to the
    union — for tiny intersections production uses theta/KMV sketches
    instead; that boundary is the point the docstring records."""
    e = table(spark, sf, "events")
    h = F.pmod(F.xxhash64("user_id"), F.lit(100))
    users = e.select("user_id", h.alias("h"))
    a = users.filter(F.col("h") < 60)
    b = users.filter(F.col("h") >= 40)
    sk = (
        a.select(F.lit("a").alias("s"), "user_id")
        .unionByName(b.select(F.lit("b").alias("s"), "user_id"))
        .groupBy("s")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("hll"))
    )
    ests = sk.select(
        "s", F.hll_sketch_estimate("hll").alias("est")
    ).groupBy().pivot("s", ["a", "b"]).sum("est")
    union_est = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("u")
    )
    exact = users.filter(
        (F.col("h") >= 40) & (F.col("h") < 60)
    ).agg(F.count_distinct("user_id").alias("x"))
    inter_est = F.col("a") + F.col("b") - F.col("u")
    x = F.col("x")
    return (
        ests.crossJoin(union_est)
        .crossJoin(exact)
        .select(
            law((x > 0) & (F.try_divide(F.abs(inter_est - x), x) <= 0.10))
        )
    )


@query(
    "qz107_cms_freq_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch", "llm", "text"),
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min frequency sketch over corpus tokens
    (operators/sketches.py::cms_build/cms_point/cms_merge) — the
    mergeable FREQUENCY summary completing the sketch family (HLL:
    distincts, Bloom: membership, CMS: counts). Three laws verified in
    one flag, all deterministic (xxhash64 slots, fixed data):

    * overestimate law — for every exact top-50 word, the JVM point
      probe (min over 4 depth-table literals, map-only, no join) is
      >= the true count: a cell counts ALL occurrences of everything
      hashing into it, so underestimation is impossible;
    * error bound — est - true <= 3 * ceil(e*n/w) on those words
      (Cormode & Muthukrishnan's bound with slack for the small-w
      regime at test SF);
    * merge law — sketches built on the two doc_id halves merge
      CELL-IDENTICALLY to the full-corpus sketch (counting is linear,
      so mergeability is exact, not approximate): the nightly pattern
      of sketching only the new partition and summing summaries."""
    import math

    from ..operators.sketches import cms_build, cms_merge, cms_point
    from ..operators.text import tokens

    d = table(spark, sf, "documents")
    words = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    full = memo(
        spark, ("cms_tokens", sf),
        lambda: cms_build(words, "w", d=4, w=2048),
        label="cms_tokens",
    )
    halves = memo(
        spark, ("cms_tokens_halves", sf),
        lambda: cms_merge(
            cms_build(words.filter(F.col("doc_id") % 2 == 0), "w", d=4, w=2048),
            cms_build(words.filter(F.col("doc_id") % 2 == 1), "w", d=4, w=2048),
        ),
        label="cms_tokens_halves",
    )
    merge_ok = halves["tables"] == full["tables"]
    top = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "w")
        .limit(50)
    )
    bound = 3 * math.ceil(math.e * full["n"] / full["w"])
    return top.select(
        "true_cnt", cms_point(full, F.col("w")).alias("est")
    ).agg(
        F.min(F.col("est") >= F.col("true_cnt")).alias("law"),
        F.max(F.col("est") - F.col("true_cnt")).alias("max_err"),
    ).select(
        law(F.col("law") & (F.col("max_err") <= bound) & F.lit(bool(merge_ok)))
    )


@query(
    "qz123_kmv_sketch_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("agg", "sketch"),
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    """K-minimum-values distinct sketch (operators/sketches.py::kmv_*):
    the theta-style summary that closes the boundary q105's docstring
    records — HLL inclusion-exclusion SUBTRACTS three noisy estimates,
    so a tiny |A∩B| drowns in the union's error; KMV intersects the
    retained hash SAMPLES, so small overlaps of large sets stay
    estimable from two 8·k-byte summaries with no join and no re-scan.

    Sets over distinct l_orderkey hash-buckets (A: h<55, B: h>=50 — a
    designed ~5%-of-universe overlap, the regime q105 cannot serve).
    Four deterministic laws in one flag (xxhash64, fixed data):

    * merge law — kmv_merge of the two half-sketches (split by another
      hash bit) equals kmv_build over all of A, LIST-identically: the k
      smallest of a union are among each side's k smallest, so per-side
      retention is lossless (the nightly partitions-sketch-independently
      contract, exact rather than approximate);
    * estimate law — (k-1)/u_(k) lands within 10% of the exact distinct
      count of both A and B (k=1024 -> ~3% expected error);
    * intersection law — the Jaccard-scaled union estimate lands within
      25% of the exact |A∩B| even though the overlap is ~5% of the
      union — inclusion-exclusion at lgk=14 misses this badly when the
      subtraction noise exceeds the 5% signal;
    * exactness law — a set smaller than k (bucket h<1) round-trips
      EXACTLY: fewer than k distincts means the sketch IS the set.
    """
    from ..operators.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
    )

    li = table(spark, sf, "lineitem")
    keys = li.select("l_orderkey").distinct().select(
        F.col("l_orderkey").alias("id"),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(100)).alias("h"),
        F.pmod(F.xxhash64("l_orderkey", F.lit("kmv-half")), F.lit(2)).alias(
            "half"
        ),
    )
    a = keys.filter(F.col("h") < 55)

    def _sketches() -> dict:
        k = 1024
        return {
            "a": kmv_build(a, "id", k),
            "b": kmv_build(keys.filter(F.col("h") >= 50), "id", k),
            "a_halves": kmv_merge(
                kmv_build(a.filter(F.col("half") == 0), "id", k),
                kmv_build(a.filter(F.col("half") == 1), "id", k),
            ),
            # 2048 > the h<1 bucket's distinct count at every test SF
            # (1502 at sf0.1), so this sketch retains the whole set — the
            # exactness claim is about the operator, not the luck of the
            # bucket size
            "small": kmv_build(keys.filter(F.col("h") < 1), "id", 2048),
        }

    sk = memo(spark, ("kmv_sketches", sf), _sketches, label="kmv_sketches")

    def rel(est: float, true: str):
        # |est - true| / true, or |est| when the true count is 0
        return F.coalesce(
            F.try_divide(F.abs(F.lit(est) - F.col(true)), F.col(true)),
            F.lit(abs(est)),
        )

    return keys.agg(
        F.sum((F.col("h") < 55).cast("long")).alias("na"),
        F.sum((F.col("h") >= 50).cast("long")).alias("nb"),
        F.sum(((F.col("h") >= 50) & (F.col("h") < 55)).cast("long")).alias(
            "ni"
        ),
        F.sum((F.col("h") < 1).cast("long")).alias("ns"),
    ).select(
        law(
            F.lit(bool(sk["a_halves"]["mins"] == sk["a"]["mins"]))
            & (rel(kmv_estimate(sk["a"]), "na") <= 0.10)
            & (rel(kmv_estimate(sk["b"]), "nb") <= 0.10)
            & (rel(kmv_intersect_estimate(sk["a"], sk["b"]), "ni") <= 0.25)
            & (F.lit(kmv_estimate(sk["small"])) == F.col("ns").cast("double"))
        )
    )


# ---------------------------------------------------------------------------
# q151 — Misra-Gries heavy hitters: the no-false-negative law
# ---------------------------------------------------------------------------

_MG_K = 128


@query(
    "qz151_mg_heavy_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("sketch", "heavy-hitters", "law"),
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    """Laws of the Misra-Gries heavy-hitter summary
    (operators/sketches.py::mg_build/mg_merge) over the document token
    stream, verified distributed (the exact counts are a grouped plan;
    the driver only ever holds k counters):

    * accounting — summary n == exact non-null token count;
    * error budget — err <= 2n/(k+1) (per-batch cuts + final compress);
    * COVERAGE (the law that makes MG useful) — every token whose true
      count exceeds err appears in the counters: the candidate set is a
      guaranteed superset of the real heavy hitters;
    * estimate bounds — for every reported item, est <= true and
      true - est <= err (MG only ever undercounts);
    * merge — summaries built over a disjoint 2-way hash split of the
      same rows, combined with mg_merge, satisfy the SAME coverage and
      bound laws with the (larger) merged err, and n adds exactly.

    Each check joins a k-row counter table (broadcast) against the
    exact counts — the corpus is scanned once per summary build
    (map-only mapInPandas, memoized) and once per check for the exact
    side; production keeps only the first."""
    from ..operators.sketches import mg_build, mg_merge

    # laws verify the CONSTRUCTION, so they hold on any row set; a
    # deterministic eighth-sample of documents keeps the artifact's
    # build (3 summary passes + the exact side) at ~1/8 the corpus cost
    # without weakening any check (the q133 quantile-laws precedent)
    d = table(spark, sf, "documents").where(
        F.pmod(F.col("doc_id"), F.lit(8)) == 0
    )
    toks = d.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")

    k = _MG_K

    def _summaries() -> list:
        # disjoint row split on the token hash: shards build
        # independently, mg_merge combines — the nightly-shard contract
        half = F.pmod(F.xxhash64("tok"), F.lit(2))
        merged = mg_merge(
            mg_build(toks.where(half == 0), "tok", k=k),
            mg_build(toks.where(half == 1), "tok", k=k),
        )
        return [
            (
                built(spark.createDataFrame(
                    list(m["counters"].items()), "item string, est long"
                ).persist()),
                m["n"],
                m["err"],
            )
            for m in (mg_build(toks, "tok", k=k), merged)
        ]

    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))

    def check(counters: DataFrame, n: int, err: int) -> DataFrame:
        return (
            exact.join(
                F.broadcast(counters), exact["tok"] == counters["item"], "left"
            )
            .agg(
                F.sum("cnt").alias("n"),
                F.sum(
                    ((F.col("cnt") > err) & F.col("item").isNull()).cast("long")
                ).alias("missed_heavy"),
                F.sum(
                    (
                        F.col("item").isNotNull()
                        & (
                            (F.col("est") > F.col("cnt"))
                            | (F.col("cnt") - F.col("est") > err)
                        )
                    ).cast("long")
                ).alias("bound_viol"),
            )
            .select(
                (
                    (F.col("n") == n)
                    & F.lit(0 <= err)
                    & (F.lit(err) <= 2 * F.col("n") / (k + 1))
                    & (F.col("missed_heavy") == 0)
                    & (F.col("bound_viol") == 0)
                ).alias("ok")
            )
        )

    full, merged = (
        check(*m)
        for m in memo(spark, ("mg_summaries", sf), _summaries, label="mg_summaries")
    )
    return full.crossJoin(merged.withColumnRenamed("ok", "ok_merged")).select(
        law(F.col("ok") & F.col("ok_merged"))
    )


# ---------------------------------------------------------------------------
# q153 — CMS inner product: sketch-estimated join cardinality
# ---------------------------------------------------------------------------


@query(
    "qz153_cms_join_size_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("sketch", "join", "law"),
)
def q153(spark: SparkSession, sf: str) -> DataFrame:
    """Laws of CMS join-cardinality estimation
    (operators/sketches.py::cms_inner_product) — estimating equi-join
    output sizes from 64 KiB summaries instead of running the join:

    * never-underestimates — est >= true for both the orders x customer
      cross inner product and the events.user_id self-join size (F2):
      colliding keys only ever ADD to a cell product;
    * additive bound — est - true <= e * n_a * n_b / w, the Cormode-
      Muthukrishnan guarantee, checked deterministically (xxhash64
      seeds are fixed, so the estimate is a pure function of the data);
    * merge-transparency — sketches built over a disjoint 2-way split
      of orders and cms_merge'd give the IDENTICAL estimate to the
      single-pass build (cells are sums; hashing is deterministic);
    * self-join symmetry — cms_inner_product(a, a) with a == the
      events sketch bounds the skew statistic F2 the same way, the
      input a shuffle planner needs BEFORE choosing salting.

    True values are computed distributed (one aggregate each) and
    compared in the plan against the memoized sketches' estimates."""
    import math

    from ..operators.sketches import cms_build, cms_inner_product, cms_merge

    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer")
    ev = table(spark, sf, "events")

    def _sketches() -> dict:
        # merge-transparency input: disjoint halves of orders
        half = F.pmod(F.col("o_orderkey"), F.lit(2))
        return {
            "a": cms_build(orders, "o_custkey"),
            "b": cms_build(cust, "c_custkey"),
            "a_merged": cms_merge(
                cms_build(orders.where(half == 0), "o_custkey"),
                cms_build(orders.where(half == 1), "o_custkey"),
            ),
            "e": cms_build(ev, "user_id"),
        }

    sk = memo(spark, ("cms_join_sketches", sf), _sketches, label="cms_join_sketches")
    a, b, e_sk = sk["a"], sk["b"], sk["e"]
    est = cms_inner_product(a, b)
    bound = math.e * a["n"] * b["n"] / a["w"]
    # merge-transparency: the cell-sum merge estimates identically
    merge_ok = cms_inner_product(sk["a_merged"], b) == est
    # self-join size (F2) on the event stream's user key
    f2_est = cms_inner_product(e_sk, e_sk)
    f2_bound = math.e * e_sk["n"] * e_sk["n"] / e_sk["w"]

    true = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).agg(
        F.count(F.lit(1)).alias("true")
    )
    f2 = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
    )
    return true.crossJoin(f2).select(
        law(
            (F.col("true") <= est)
            & (F.lit(est) <= F.col("true") + bound)
            & F.lit(bool(merge_ok))
            & (F.col("f2") <= f2_est)
            & (F.lit(f2_est) <= F.col("f2") + f2_bound)
        )
    )


# ---------------------------------------------------------------------------
# q161 — streaming Misra-Gries: stateful sketch maintenance on an ingest
# ---------------------------------------------------------------------------

_SMG_K = 2  # small enough that the 31-token fixture vocabulary forces
#             real decrements in every shard (k >= vocab would be exact)
_SMG_SHARDS = 8

# the per-shard Misra-Gries state contract: shared by q161 and
# tests/test_monitor_recovery.py so a state-schema change that would
# break checkpoint recovery fails CI instead of production
MG_MONITOR_OUT_DDL = (
    "shard int, items array<string>, counts array<long>, "
    "err long, n long, b long"
)
MG_MONITOR_STATE_DDL = (
    "items array<string>, counts array<long>, err long, n long, b long"
)


def mg_state_update(k: int):
    """Builder for q161's applyInPandasWithState updater: per-shard MG
    counters with a never-resetting carry (each decrement of `cut`
    removes >= (k+1)*cut of counter mass, so err <= n_shard/(k+1) over
    the WHOLE stream). Module-level so the checkpoint-recovery contract
    test drives the PRODUCTION updater, not a test double."""
    from ..operators.sketches import _mg_compress

    def upd(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            items, counts, err, n, b = state.get
            d = dict(zip(items, counts))
        else:
            d, err, n, b = {}, 0, 0, 0
        for pdf in pdf_iter:
            vc = pdf["tok"].value_counts()
            for t, c in vc.items():
                d[t] = d.get(t, 0) + int(c)
            n += int(vc.sum())
        d, cut = _mg_compress(d, k)
        err += cut
        b += 1
        state.update((list(d), [int(v) for v in d.values()], err, n, b))
        yield pd.DataFrame(
            {
                "shard": [key[0]],
                "items": [list(d)],
                "counts": [[int(v) for v in d.values()]],
                "err": [err],
                "n": [n],
                "b": [b],
            }
        )

    return upd


@query(
    "qz161_stream_mg_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("streaming", "sketch", "heavy-hitters", "stateful"),
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries heavy hitters maintained ON THE STREAM: tokens of a
    documents replay are hash-sharded and each shard's k counters live
    in applyInPandasWithState state, compressed (the bulk MG decrement)
    once per micro-batch — the shape that watches a 100 TB/day ingest
    for vocabulary drift without ever storing the stream. Because the
    carry never resets, the classic mass argument tightens: every
    decrement of `cut` removes >= (k+1)*cut of counter mass, so a
    shard's total undercount obeys err <= n_shard/(k+1) over the WHOLE
    stream — no per-batch 2x term (contrast mg_build's independent
    batch summaries).

    Laws checked against the exact batch counts (distributed; the
    driver holds shards * k counters):
    * accounting — shard n's sum to the exact non-null token count;
    * error budget — err_shard <= n_shard/(k+1);
    * coverage — every token whose true count exceeds ITS shard's err
      is present (no false negatives among real heavy hitters);
    * bounds — est <= true and true - est <= err_shard for every
      reported token;
    * the stream ran in > 1 micro-batch (state actually carried)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.replay import read_replay_stream, run_to_memory

    k, shards = _SMG_K, _SMG_SHARDS
    shard_of = lambda c: F.pmod(F.xxhash64(c), F.lit(shards)).cast("int")  # noqa: E731

    def _stream() -> tuple:
        replay = _docs_replay_dir(spark, sf)
        docs = read_replay_stream(spark, replay, _DOC_DDL)
        toks = (
            docs.select(F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != "")
            .withColumn("shard", shard_of(F.col("tok")))
        )

        updates = toks.groupBy("shard").applyInPandasWithState(
            mg_state_update(k),
            outputStructType=MG_MONITOR_OUT_DDL,
            stateStructType=MG_MONITOR_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # one state store per shuffle partition per micro-batch; 8 shard
        # groups don't need 32 stores (the qz65 scoping)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            res = run_to_memory(updates, output_mode="update").collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

        # final summary per shard = the row with the largest batch count
        final: dict[int, object] = {}
        for r in res:
            if r.shard not in final or r.b > final[r.shard].b:
                final[r.shard] = r
        shards_df = built(spark.createDataFrame(
            [(s, r.n, r.err) for s, r in final.items()],
            "shard int, n long, err long",
        ).persist())
        counters = built(spark.createDataFrame(
            [
                (s, t, int(c))
                for s, r in final.items()
                for t, c in zip(r.items, r.counts)
            ] or [(0, "", 0)],
            "shard int, item string, est long",
        ).persist())
        return shards_df, counters, max(r.b for r in final.values()) > 1

    shards_df, counters, multi_batch = memo(
        spark, ("stream_mg_summaries", sf), _stream, label="stream_mg_summaries"
    )
    # exact side, distributed, with the same shard assignment
    exact = (
        table(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .withColumn("shard", shard_of(F.col("tok")))
        .groupBy("shard", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # accounting and error budget per shard; a shard missing on either
    # side fails the law
    budget = (
        exact.groupBy("shard").agg(F.sum("cnt").alias("n_exact"))
        .join(shards_df, "shard", "full")
        .agg(
            F.min(
                F.coalesce(
                    (F.col("n") == F.col("n_exact"))
                    & (F.col("err") <= F.col("n_exact") / (k + 1)),
                    F.lit(False),
                )
            ).alias("budget")
        )
    )
    cdf = F.broadcast(counters)
    bounds = (
        exact.join(F.broadcast(shards_df.select("shard", "err")), "shard")
        .join(
            cdf,
            (exact["shard"] == cdf["shard"]) & (exact["tok"] == cdf["item"]),
            "left",
        )
        .agg(
            F.sum(
                ((F.col("cnt") > F.col("err")) & F.col("item").isNull()).cast(
                    "long"
                )
            ).alias("missed"),
            F.sum(
                (
                    F.col("item").isNotNull()
                    & (
                        (F.col("est") > F.col("cnt"))
                        | (F.col("cnt") - F.col("est") > F.col("err"))
                    )
                ).cast("long")
            ).alias("viol"),
        )
    )
    return budget.crossJoin(bounds).select(
        law(
            F.lit(multi_batch)
            & F.col("budget")
            & (F.col("missed") == 0)
            & (F.col("viol") == 0)
        )
    )
