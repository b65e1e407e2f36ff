"""Round-9 corpus/analytics surface: benchmark decontamination, event
sessionization, Zipf power-law fitting, RAG chunking, token-entropy
filtering, exact stratified sampling, bloom-pruned joins, and dedup
survivorship — each a (Spark plan, DuckDB twin) pair whose VALUES
hash-check cross-engine.

No reference analog (the reference is a row-at-a-time Java REST/JDBC
connector, Dao.java / RestClient.java); these are the brief-mandated
training-data-pipeline operators, built on the same artifact and
portable-hash conventions as the earlier rounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from . import memo, query


# ---------------------------------------------------------------------------
# q131 — benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------

_DECON_N = 8  # gram length; GPT-3 appx C uses 13, short synthetic docs -> 8


@query(
    "qz131_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x != '') AS tk
               FROM documents),
    b AS (SELECT array_to_string(tk[6:37], ' ') AS btext
          FROM t WHERE doc_id % 31 = 7),
    bt AS (SELECT string_split(btext, ' ') AS tk FROM b),
    bg AS (SELECT DISTINCT array_to_string(tk[i:i+{_DECON_N - 1}], ' ') AS g
           FROM bt, UNNEST(generate_series(1, len(tk) - {_DECON_N - 1}))
                AS u(i)),
    ct AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    cg AS (SELECT DISTINCT doc_id,
                  array_to_string(tk[i:i+{_DECON_N - 1}], ' ') AS g
           FROM ct, UNNEST(generate_series(1, len(tk) - {_DECON_N - 1}))
                AS u(i))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM cg JOIN bg USING (g)
    GROUP BY doc_id
    """,
    tags=("llm", "curation", "dedup", "eval"),
)
def q131(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 paper appx C / Dodge et al. 2021
    C4 analysis): flag every training document sharing at least one
    verbatim 8-token gram with the evaluation set, reporting the count
    of distinct shared grams. The eval set is derived deterministically
    here (docs with doc_id%31==7 contribute their token span [6, 37] as
    a 'benchmark item', the realistic shape — benchmark questions quote
    source passages), so each item's source doc is a guaranteed planted
    hit and its near-duplicates surface as real contamination.

    Plan shape for 100 TB: the benchmark gram set is EVAL-SUITE-sized
    (thousands of items), never corpus-sized — distinct + broadcast, so
    the corpus-side gram stream (substring.py::token_ngrams, O(n) slices)
    joins map-side with no shuffle of the corpus; the per-doc count is a
    map-side-combined groupBy. Contrast q109/q113 (corpus x corpus
    dedup), which need the fingerprint index; corpus x small-set overlap
    needs only this."""
    from ..operators.substring import token_ngrams

    d = table(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    bench = d.where(F.col("doc_id") % 31 == 7).select(
        F.array_join(F.slice(toks, 6, 32), " ").alias("btext")
    )
    bg = (
        bench.select(
            F.explode(token_ngrams(F.col("btext"), _DECON_N)).alias("g")
        )
        .distinct()
    )
    from . import spread_scan

    # corpus-side gram explosion is the whole cost (measured 2.3 s of
    # the 1-core pass at sf0.1; 0.5 s spread) — parallelize the scan
    # before the per-row n-gram build (no-op at production splits)
    cg = spread_scan(d.select("doc_id", "text")).select(
        "doc_id", F.explode(token_ngrams(F.col("text"), _DECON_N)).alias("g")
    )
    return (
        cg.join(F.broadcast(bg), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# q132 — gap-based sessionization over the event stream
# ---------------------------------------------------------------------------

_GAP_US = 1_800 * 1_000_000  # 30-minute inactivity gap


@query(
    "qz132_sessionize",
    oracle=f"""
    WITH x AS (SELECT user_id, event_id, value,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us,
                      LAG(date_diff('microsecond',
                                    TIMESTAMP '2024-01-01 00:00:00', ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev
               FROM events),
    m AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > {_GAP_US}
                         THEN 1 ELSE 0 END AS brk
          FROM x),
    s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
          FROM m)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
           ROUND(SUM(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_no
    """,
    tags=("events", "window", "analytics"),
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization: a session breaks after 30 minutes of
    per-user inactivity — the classic lag + running-sum-of-breaks
    gaps-and-islands plan over the shared `user_seq` artifact (round
    13: the whole sequence family reads ONE materialized corpus window
    pass; the break flag comes straight off prev_us, leaving only the
    running-sum window here). Timestamps compare as integer
    MICROSECONDS from a fixed anchor (Spark timestampdiff == DuckDB
    date_diff on the NTZ column — never float epochs or TZ-dependent
    conversions, so a hostile session timezone cannot move a session
    boundary). Scale: sessions are the canonical skew case (one bot
    user = one hot partition); the window itself is streamable per
    user and the heavy tail is bounded by per-user event counts, which
    the events fixture keeps Zipf-free — production skew belongs to
    skew.py's salting helpers."""
    from pyspark.sql.window import Window

    x = user_seq(spark, sf)
    brk = F.when(
        F.col("prev_us").isNull()
        | ((F.col("us") - F.col("prev_us")) > _GAP_US),
        1,
    ).otherwise(0)
    s = x.select(
        "user_id",
        "event_id",
        "value",
        "us",
        F.sum(brk)
        .over(Window.partitionBy("user_id").orderBy("us", "event_id"))
        .alias("session_no"),
    )
    return s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q134 — Zipf power-law fit over the token frequency spectrum
# ---------------------------------------------------------------------------

_ZIPF_R = 100  # fit over the top-R ranks


@query(
    "qz134_zipf_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
                                           x -> x != '')) AS t
                 FROM documents),
    c AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    r AS (SELECT ln(ROW_NUMBER() OVER (ORDER BY c DESC, t)) AS x,
                 ln(c) AS y
          FROM c
          ORDER BY c DESC, t LIMIT {_ZIPF_R}),
    s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
          FROM r)
    SELECT ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    tags=("llm", "text", "analytics"),
)
def q134(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf power-law fit: OLS of ln(frequency) on ln(rank) over the
    top-100 token ranks — the standard corpus-health diagnostic (a
    natural-language corpus fits slope ~ -1; scraped boilerplate or
    generator loops bend the curve). Plan: one tokenize+explode with
    map-side combine collapses the corpus to its VOCABULARY (bounded),
    the top-R selection is an orderBy+limit — Spark plans it as
    TakeOrderedAndProject (per-partition top-R heaps, R-row driver
    merge), so NO single task ever sees the whole vocabulary (web-corpus
    vocabularies are corpus-scale once URL-ish tokens creep in; the
    round-9 form ran a global unpartitioned row_number window over all
    of it before the limit) — the rank window then runs over exactly R
    rows; and the five OLS moments fold in ONE deterministic pass —
    sort_array(collect_list) then a JVM aggregate, so double summation
    order is fixed and the rounded coefficients are bit-stable cross-run
    (the same trick as clustering._reduce_partials)."""
    from pyspark.sql.window import Window

    d = table(spark, sf, "documents")
    tok = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("t")
    )
    c = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    top = c.orderBy(F.col("c").desc(), "t").limit(_ZIPF_R)
    w = Window.orderBy(F.col("c").desc(), "t")
    r = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    zero = F.struct(
        F.lit(0.0).alias("n"), F.lit(0.0).alias("sx"), F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxx"), F.lit(0.0).alias("sxy"),
        F.lit(0.0).alias("syy"),
    )
    folded = F.aggregate(
        F.sort_array(F.collect_list(F.struct("x", "y"))),
        zero,
        lambda a, p: F.struct(
            (a["n"] + 1).alias("n"),
            (a["sx"] + p["x"]).alias("sx"),
            (a["sy"] + p["y"]).alias("sy"),
            (a["sxx"] + p["x"] * p["x"]).alias("sxx"),
            (a["sxy"] + p["x"] * p["y"]).alias("sxy"),
            (a["syy"] + p["y"] * p["y"]).alias("syy"),
        ),
    )
    s = r.agg(folded.alias("m")).select("m.*")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2.0))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q136 — RAG chunking: overlapping token windows
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 64, 48


@query(
    "qz136_rag_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x != '') AS tk
               FROM documents),
    c AS (SELECT doc_id, i AS chunk_no,
                 tk[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}] AS ch
          FROM t, UNNEST(generate_series(0,
                   (len(tk) - 1) // {_STRIDE})) AS u(i)
          WHERE len(tk) > 0)
    SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
           CAST(len(ch) AS INT) AS n_tok,
           md5(array_to_string(ch, ' ')) AS digest
    FROM c
    """,
    tags=("llm", "text", "retrieval"),
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    """RAG corpus chunking: overlapping 64-token windows at stride 48
    (the 25%-overlap retrieval-chunk recipe), one row per chunk with its
    md5 digest — the table an embedding stage consumes. Map-only: the
    token array materializes once per doc and each chunk is one O(64)
    slice (never an indexed re-tokenize), the chunk count is
    floor((n-1)/48)+1 so every token lands in >= 1 chunk and the final
    partial window is kept (truncating it would drop document tails —
    the classic silent-coverage bug). Explode output is
    corpus-proportional but each element is one cheap slice — the
    'one-level cheap' exploded-expression shape q92/q113 established."""
    d = table(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    tkd = d.select("doc_id", toks.alias("tk"))
    n_chunks = (F.size("tk") - 1).cast("bigint") / F.lit(_STRIDE)
    chunks = F.transform(
        F.sequence(F.lit(0), F.floor(n_chunks)),
        lambda i: F.struct(
            i.cast("int").alias("chunk_no"),
            F.slice(F.col("tk"), (i * _STRIDE + 1).cast("int"), _CHUNK)
            .alias("ch"),
        ),
    )
    return (
        tkd.where(F.size("tk") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_no").alias("chunk_no"),
            F.size("c.ch").alias("n_tok"),
            F.md5(F.array_join("c.ch", " ")).alias("digest"),
        )
    )


# ---------------------------------------------------------------------------
# q139 — token-entropy quality gate
# ---------------------------------------------------------------------------

_ENT_MIN = 2.5  # nats; uniform-ish natural text over >=13 distinct tokens


@query(
    "qz139_entropy_filter",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                   x -> x != '')) AS t
                 FROM documents),
    c AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
    n AS (SELECT doc_id, t, c, SUM(c) OVER (PARTITION BY doc_id) AS n
          FROM c)
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tok,
           ROUND(-SUM((c * 1.0 / n) * LN(c * 1.0 / n)), 6) AS entropy,
           CAST(ROUND(-SUM((c * 1.0 / n) * LN(c * 1.0 / n)), 6)
                >= {_ENT_MIN} AS INT) AS keep
    FROM n GROUP BY doc_id
    """,
    tags=("llm", "quality", "text"),
)
def q139(spark: SparkSession, sf: str) -> DataFrame:
    """Token-distribution entropy per document — the cheap gibberish /
    generator-loop gate: -sum(p ln p) over the doc's own token
    frequencies. A doc stuck repeating a phrase scores near 0; natural
    text over a few dozen distinct tokens clears 2.5 nats. Entirely
    JVM: tokenize+explode, per-(doc, token) count with map-side combine,
    one doc-partition window for the total, one groupBy for the
    entropy — the gate composes with q124 (Gopher) and q117 (learned)
    as independent map-reduce signals over the same exploded stream.
    The keep flag compares the ROUNDED entropy so the cross-engine
    decision boundary is exact."""
    from pyspark.sql.window import Window

    d = table(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("t"),
    )
    c = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    n = c.withColumn(
        "n", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    p = F.col("c") / F.col("n")
    ent = F.round(-F.sum(p * F.log(p)), 6)
    return n.groupBy("doc_id").agg(
        F.max("n").alias("n_tok"),
        ent.alias("entropy"),
        (ent >= _ENT_MIN).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# q135 — exact stratified sample (per-source quotas)
# ---------------------------------------------------------------------------

_STRAT_P = 0.1  # per-stratum sampling fraction


def _q135_oracle() -> str:
    from ..operators.sampling import mul_hash32_sql

    h = mul_hash32_sql("doc_id + 977")
    return f"""
    WITH r AS (SELECT doc_id, source, {h} AS h,
                      ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY {h}, doc_id) AS rnk,
                      COUNT(*) OVER (PARTITION BY source) AS n
               FROM documents)
    SELECT doc_id, source,
           CAST(rnk <= CAST(ceil({_STRAT_P} * n) AS BIGINT) AS INT)
             AS sampled
    FROM r
    """


@query(
    "qz135_stratified_sample",
    oracle=_q135_oracle(),
    tags=("llm", "sampling", "curation"),
)
def q135(spark: SparkSession, sf: str) -> DataFrame:
    """Exact stratified sampling: EXACTLY ceil(0.1 * N_s) documents from
    every source stratum — the audit/eval-slice contract q119's global
    hash-threshold split cannot give (thresholds land each stratum only
    in expectation; a rare source can miss entirely). Selection ranks
    the stratum by the shared portable hash (sampling.mul_hash32, ties
    to doc_id), so membership is deterministic, engine-portable, and
    stable under corpus append-with-new-sources. Cost is one shuffle on
    source + a per-stratum sort — the price of exact order statistics;
    with FEW strata the sort parallelism is stratum-bounded, so at
    100 TB either accept it (quotas are usually per-domain audits over
    <= thousands of strata) or fall back to q119's threshold form when
    'approximately 10%' suffices. The decision column is computed
    identically in both engines and hash-checked, not just counted.

    Implementation: operators/sampling.py::stratified_sample_exact in
    flag mode with the portable mul_hash32 order (salt 977) — ONE
    sampler implementation serves both the filter (qz66, md5 order) and
    audit-flag (here) shapes; round-9's inline duplicate is gone."""
    from ..operators.sampling import stratified_sample_exact

    d = table(spark, sf, "documents")
    return stratified_sample_exact(
        d,
        ["source"],
        _STRAT_P,
        id_col="doc_id",
        order="mul",
        salt=977,
        flag_col="sampled",
    ).select("doc_id", "source", "sampled")


# ---------------------------------------------------------------------------
# q133 — mergeable quantile summary: the provable-bound laws
# ---------------------------------------------------------------------------


@query(
    "qz133_quantile_summary_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("sketch", "quantile", "law"),
)
def q133(spark: SparkSession, sf: str) -> DataFrame:
    """Laws of the mergeable MRL quantile summary
    (operators/quantiles.py) over lineitem.l_extendedprice, verified
    against EXACT ranks computed in one conditional-aggregate pass:

    * accounting — summary n == exact non-null row count;
    * rank-bound — for every decile answer v: summary_rank_bounds(v)
      brackets the exact rank, and target <= true_rank(v) <=
      target - 1 + slack + max(w) (the corrected bound: cumulative
      weight can overshoot by one batch stride);
    * merge — summaries built over a disjoint 3-way hash split of the
      same rows, merged, satisfy the SAME rank-bound law against the
      full data (n and slack add), and summary_merge is associative
      (exact dict equality — merge is list append, no re-approximation);
    * exact-refine — exact_quantiles_via_summary returns exactly the
      target-th smallest value (checked against one TakeOrdered of the
      whole column at sf-test size, where 'exact' is affordable).

    All passes are map-only with k-row/driver-bounded outputs; the
    summaries memoize per (session, sf) like every law artifact, and the
    rank checks run per evaluation."""
    from ..operators.quantiles import (
        exact_quantiles_via_summary,
        quantile_summary,
        quantile_summary_by,
        summary_merge,
        summary_quantile,
        summary_rank_bounds,
    )
    from . import law

    li = table(spark, sf, "lineitem")
    # laws verify the CONSTRUCTION, so they hold on any row set; a
    # deterministic quarter-sample keeps the summary builds at ~1/4 the
    # passes' cost without weakening any check (the production path's
    # cost is the single map pass, benched via q138's build)
    base = li.where(
        F.pmod(
            F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber")),
            F.lit(4),
        )
        == 0
    )
    v = base.select(F.col("l_extendedprice").alias("v"))
    phis = [i / 10 for i in range(1, 10)]

    def _summaries() -> dict:
        s = quantile_summary(v, "v", eps=0.01)
        # disjoint 3-way split on a row key (orderkey, linenumber):
        # partition-independent, so each shard builds its own summary
        key = F.pmod(
            F.xxhash64(F.col("l_linenumber"), F.col("l_orderkey")), F.lit(3)
        )
        by = quantile_summary_by(
            base.select(
                key.alias("shard"), F.col("l_extendedprice").alias("v")
            ),
            "v",
            "shard",
            eps=0.01,
        )
        return {
            "s": s,
            "shards": [by[str(i)] for i in range(3)],
            "exact": exact_quantiles_via_summary(
                v, "v", [0.25, 0.5, 0.9], eps=0.01, summary=s
            ),
        }

    art = memo(
        spark, ("quantile_summaries", sf), _summaries, label="quantile_summaries"
    )
    s, shards = art["s"], art["shards"]
    qv = {phi: summary_quantile(s, phi) for phi in phis}
    probes = sorted(set(qv.values()))
    pairs = sorted(art["exact"].items())
    merged = summary_merge(summary_merge(shards[0], shards[1]), shards[2])
    assoc = summary_merge(shards[0], summary_merge(shards[1], shards[2]))
    max_w = max(w for _, w in s["points"])

    # exact ranks of every probe, and of every refined answer x (x is the
    # target-th smallest IFF count(v < x) < target <= count(v <= x)), in
    # ONE conditional-aggregate pass — no sort and no big collect
    row = v.agg(
        F.sum(F.col("v").isNotNull().cast("long")).alias("n"),
        *[
            F.sum((F.col("v") <= F.lit(p)).cast("long")).alias(f"r{i}")
            for i, p in enumerate(probes)
        ],
        *[
            a
            for i, (_, x) in enumerate(pairs)
            for a in (
                F.sum((F.col("v") < F.lit(x)).cast("long")).alias(f"lt{i}"),
                F.sum((F.col("v") <= F.lit(x)).cast("long")).alias(f"le{i}"),
            )
        ],
    )
    n = F.col("n")

    def target(phi: float):
        return F.greatest(F.lit(1), F.ceil(F.lit(phi) * n))

    # accounting, then merge: associative, n and slack add
    ok = (
        (F.lit(s["n"]) == n)
        & F.lit(
            merged == assoc
            and merged["slack"] == sum(sh["slack"] for sh in shards)
        )
        & (F.lit(merged["n"]) == n)
    )
    for phi in phis:
        val = qv[phi]
        lo, hi = summary_rank_bounds(s, val)
        mlo, mhi = summary_rank_bounds(merged, val)
        t = F.col(f"r{probes.index(val)}")
        ok = (
            ok
            & t.between(lo, hi)
            & (target(phi) <= t)
            & (t <= target(phi) - 1 + s["slack"] + max_w)
            & t.between(mlo, mhi)
        )
    for i, (phi, _) in enumerate(pairs):
        ok = ok & (F.col(f"lt{i}") < target(phi)) & (target(phi) <= F.col(f"le{i}"))
    return row.select(law(ok))


# ---------------------------------------------------------------------------
# q138 — exact top-decile slice via summary prefilter (no global sort)
# ---------------------------------------------------------------------------

_TOP_PHI = 0.9


@query(
    "qz138_top_decile_events",
    oracle=f"""
    WITH nn AS (SELECT event_type, value FROM events
                WHERE value IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM nn),
    r AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn FROM nn),
    thr AS (SELECT value AS v FROM r, n
            WHERE rn = GREATEST(1, CAST(ceil({_TOP_PHI} * n.n) AS BIGINT)))
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_top,
           ROUND(SUM(e.value), 2) AS sum_value,
           ROUND(MIN(e.value), 6) AS min_value
    FROM nn e, thr WHERE e.value >= thr.v
    GROUP BY e.event_type
    """,
    tags=("events", "quantile", "analytics"),
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type stats of the EXACT global top decile of event values —
    the alerting/sampling slice 'everything at or above the 90th
    percentile'. The threshold is the exact target-th smallest value
    (a pure function of the data), computed WITHOUT a global sort by
    operators/quantiles.py::exact_quantiles_via_summary: one mergeable-
    summary pass prunes the corpus to an O(eps*n + n_batches) refine
    set, TakeOrdered finds the exact threshold inside it, and the final
    filter+groupBy is map-side-combined. A sort-based threshold is the
    classic 100 TB killer (one task sees the whole column); this shape
    never materializes more than the refine window anywhere. The oracle
    recomputes the identical threshold the brute way (ROW_NUMBER), so
    the approximation provably does not leak into the answer."""
    from ..operators.quantiles import exact_quantiles_via_summary

    e = table(spark, sf, "events")
    thr = memo(
        spark,
        ("p90_value", sf),
        lambda: exact_quantiles_via_summary(e, "value", [_TOP_PHI], eps=0.01)[
            _TOP_PHI
        ],
        label="p90_value",
    )
    top = e.where(F.col("value") >= F.lit(thr))
    return top.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_top"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
    )


# ---------------------------------------------------------------------------
# q137 — bloom-pruned join (semi-join pushdown ahead of the shuffle)
# ---------------------------------------------------------------------------

_BLOOM_PRICE = 450_000.0  # ~top decile of orders


@query(
    "qz137_bloom_prune_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_totalprice > {_BLOOM_PRICE}
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "sketch", "tpch"),
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-pruned fact-dimension join: revenue of line items belonging
    to top-decile-value orders. The selective dimension side (filtered
    orders) builds a driver bloom (sketches.build_bloom) and the FACT
    side applies bloom_might_contain as a map-side JVM filter BEFORE
    its shuffle — ~90% of lineitem rows never enter the exchange, which
    at 100 TB is the difference between shuffling the corpus and
    shuffling the survivors (the hand-built form of Spark's runtime
    bloom-join, but with an explicit, reusable, union-able sketch).
    False positives cannot leak: the exact equi-join runs after the
    prune, so the result equals the plain join and the oracle is plain
    SQL. That exactness contract also sets the bloom's SIZE: false
    positives only cost shuffle rows, so k is capped at 2 (realized fpp
    ~4% with the power-of-two-rounded m) — the round-9 k=7 probe paid
    7 bit tests per row for precision the downstream join makes free
    (probe cost is linear in k; see bloom_might_contain's measured cost
    model). At real scale size the bloom with
    bloom_params for the expected key count or swap in the threshold
    form (o_totalprice pushes to the orders scan either way)."""
    from ..operators.sketches import bloom_might_contain, build_bloom

    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").where(
        F.col("o_totalprice") > _BLOOM_PRICE
    )
    bloom = memo(
        spark,
        ("bloom_orders", sf),
        lambda: build_bloom(o, "o_orderkey", fpp=0.05, k_cap=2),
        label="bloom_orders",
    )
    pruned = li.where(bloom_might_contain(bloom, F.col("l_orderkey")))
    return (
        pruned.join(o, pruned.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q141 — ordered conversion funnel (one-shuffle state-machine fold)
# ---------------------------------------------------------------------------

from ..operators.relational import FUNNEL_INF as _FUNNEL_INF


@query(
    "qz141_event_funnel",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    v AS (SELECT user_id, MIN(us) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.us) AS t2
          FROM e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.us) AS t3
          FROM e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY 1),
    u AS (SELECT DISTINCT user_id FROM e)
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS reached,
           t1 AS t1_us, t2 AS t2_us, t3 AS t3_us
    FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
           LEFT JOIN p USING (user_id)
    """,
    tags=("events", "window", "analytics"),
)
def q141(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (view -> click after it -> purchase
    after that): per user, the first time each step completes IN ORDER —
    the product-analytics primitive behind conversion dashboards. Plan:
    ONE shuffle — each user's events collect into a sorted array and a
    JVM ``aggregate`` fold runs the 3-state machine over it (processing
    events in ascending time, each step's earliest qualifying time only
    ever decreases, so the fold's running state is exactly the
    first-qualifying-event semantics the oracle recomputes with 3
    correlated MIN-joins). Contrast the join form (3 shuffled
    aggregations + 3 joins): at 100 TB the fold touches each event once
    and per-user state is 3 longs; per-user event lists are bounded by
    the same skew argument as q132's sessions. Timestamps compare as
    NTZ-safe integer micros (q132's anchor trick). Implementation:
    operators/relational.py::funnel_times (shared with the scale
    probe)."""
    from ..operators.relational import funnel_times

    e = table(spark, sf, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    inf = F.lit(_FUNNEL_INF)
    g = funnel_times(
        e, "user_id", us, "event_type", ["view", "click", "purchase"]
    )
    t1, t2, t3 = F.col("f.t1"), F.col("f.t2"), F.col("f.t3")
    reached = (
        F.when(t3 < inf, 3)
        .when(t2 < inf, 2)
        .when(t1 < inf, 1)
        .otherwise(0)
        .cast("int")
    )
    return g.select(
        "user_id",
        reached.alias("reached"),
        F.when(t1 < inf, t1).alias("t1_us"),
        F.when(t2 < inf, t2).alias("t2_us"),
        F.when(t3 < inf, t3).alias("t3_us"),
    )


# ---------------------------------------------------------------------------
# q142 — PageRank, two unrolled power iterations as join-aggregate matvec
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85


@query(
    "qz142_pagerank",
    oracle=f"""
    WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src,
                                l.l_suppkey * 2 + 1 AS dst
                FROM lineitem l
                JOIN orders o ON o.o_orderkey = l.l_orderkey),
    e AS (SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
    d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM d),
    p0 AS (SELECT src AS node, 1.0 / n.n AS pr FROM d, n),
    p1 AS (SELECT e.dst AS node,
                  ROUND({1 - _PR_DAMP} / MAX(n.n)
                        + {_PR_DAMP} * SUM(p0.pr / d.deg), 12) AS pr
           FROM e JOIN p0 ON p0.node = e.src JOIN d ON d.src = e.src, n
           GROUP BY e.dst),
    p2 AS (SELECT e.dst AS node,
                  ROUND({1 - _PR_DAMP} / MAX(n.n)
                        + {_PR_DAMP} * SUM(p1.pr / d.deg), 12) AS pr
           FROM e JOIN p1 ON p1.node = e.src JOIN d ON d.src = e.src, n
           GROUP BY e.dst)
    SELECT node, ROUND(pr, 9) AS pr FROM p2
    """,
    tags=("graph", "join", "analytics"),
)
def q142(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the customer–supplier trade graph (undirected
    bipartite: an edge per distinct (custkey, suppkey) trading pair,
    node ids disambiguated by parity), two power iterations with
    damping 0.85. Each iteration is the canonical DataFrame sparse
    matvec: rank/degree tables (node-sized) JOIN the edge list on src,
    contributions groupBy dst — exactly how Pregel-style engines lower
    to joins, and the shape AQE handles at 100 TB (edges shuffle on the
    same key both rounds, so the exchange is reused; rank tables stay
    node-sized and broadcastable when the graph is wide). Undirected
    doubling means no dangling nodes, so the (1-d)/N teleport needs no
    separate dangling-mass pass. Intermediate ranks ROUND to 12 dp in
    BOTH engines (each iteration re-bases on bit-identical inputs, so
    cross-engine float drift cannot compound); finals to 9. A fixed
    iteration count keeps the whole thing one declarative plan — the
    convergence-loop form is kmeans_fit's driver-loop pattern."""

    def build_edges():
        from . import built

        li = table(spark, sf, "lineitem")
        o = table(spark, sf, "orders")
        e0 = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        e = e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # the union inherits 2x the join's shuffle partitions — dozens of
        # near-empty tasks per matvec at test SF; coalesce (narrow, no
        # shuffle) sizes the cached edge list so each pass pays a few
        # real tasks, not a hundred empty ones
        return built(e.coalesce(8).persist())

    e = memo(spark, ("pr_edges", sf), build_edges, label="pr_edges")

    def build_deg():
        from . import built

        return built(
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .coalesce(8)
            .persist()
        )

    deg = memo(spark, ("pr_deg", sf), build_deg, label="pr_deg")

    n = memo(spark, ("pr_n", sf), deg.count, label="pr_n")
    # rank/degree tables are NODE-sized (n rows, known exactly): while
    # they fit, broadcast them so the edge list never shuffles for the
    # join — only the map-side-combined contribution partials move. At
    # web-graph scale (n beyond broadcast) drop the hint and AQE plans
    # the co-partitioned shuffle join instead.
    hint = F.broadcast if n <= 2_000_000 else (lambda df: df)
    degj = hint(deg)
    p = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("pr"))
    for _ in range(2):
        p = (
            e.join(hint(p), e.src == p.node)
            .join(degj, "src")
            .groupBy("dst")
            .agg(
                F.round(
                    F.lit((1 - _PR_DAMP) / n)
                    + F.lit(_PR_DAMP)
                    * F.sum(F.col("pr") / F.col("deg")),
                    12,
                ).alias("pr")
            )
            .select(F.col("dst").alias("node"), "pr")
        )
    return p.select("node", F.round("pr", 9).alias("pr"))


# ---------------------------------------------------------------------------
# q143 — daily cohort retention matrix
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def user_seq(spark: SparkSession, sf: str) -> DataFrame:
    """Materialize-once per-user event-sequence table: every event with
    its neighbors under the totally-tiebroken (user, ts, event_id)
    order — prev/next event type, prev/next integer-microsecond
    timestamp, and the 2-ahead type. ONE corpus window shuffle feeds
    the whole sequence family (qz132/q203 sessionization breaks from
    prev_us, qz147/q198 transitions from next_type, qz190 3-paths from
    next_type/next2_type, qz193 last-touch from prev_type, q202 gap
    survival from next_us): before round 13 each of those seven
    queries re-shuffled the corpus for the SAME keyed sort — the
    kw_ranked/ks_pairs rationale applied to event sequences. All
    window expressions share one (user_id, ts, event_id) sort, so
    Catalyst plans exactly one exchange + one sort for the build
    (pinned by tests/test_plan_quality.py).

    Measured trade (10x-inflated sf0.1, 1M rows): seven independent
    NARROW window passes cost 2.5 s cold, the wide build 3.2 s + 0.16 s
    per artifact read — so a one-shot cold sweep LOSES by ~1.8 s and
    the artifact pays for itself from the ~16th ask (~2.3 family
    sweeps; each per-query ask is 0.36 s fresh vs 0.16 s read). That is
    the right side of the trade for this registry — the bench protocol
    alone asks each consumer ~8x per run, and a production monitoring
    suite re-asks the family per snapshot — and at 100 TB it is 7
    corpus shuffles per snapshot -> 1."""
    from . import built

    def _build() -> DataFrame:
        from pyspark.sql import Window

        e = table(spark, sf, "events")
        us = F.expr(
            "timestampdiff(MICROSECOND,"
            " timestamp_ntz'2024-01-01 00:00:00', ts)"
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return built(
            e.select(
                "user_id",
                "event_id",
                "event_type",
                "value",
                us.alias("us"),
                F.lag("event_type").over(w).alias("prev_type"),
                F.lag(us).over(w).alias("prev_us"),
                F.lead("event_type").over(w).alias("next_type"),
                F.lead(us).over(w).alias("next_us"),
                F.lead("event_type", 2).over(w).alias("next2_type"),
            ).persist()
        )

    return memo(spark, ("user_seq", sf), _build, label="user_seq")


def daily_type_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Materialize-once (event_type, day, c) daily count table — shared
    by q163's MAD anomalies and the round-11 trend/autocorrelation
    queries (q172/q173): every robust time-series monitor starts from
    the same types x days collapse, so it is ONE corpus scan per
    session, corpus-size independent after that."""
    from . import built

    def _daily() -> DataFrame:
        e = table(spark, sf, "events")
        us = F.expr(
            "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
        )
        return built(
            e.select("event_type", F.floor(us / _DAY_US).alias("day"))
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("c"))
            .persist()
        )

    return memo(spark, ("daily_type_counts", sf), _daily, label="daily_type_counts")


@query(
    "qz143_retention_cohorts",
    oracle=f"""
    WITH e AS (SELECT user_id,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts)
                        // {_DAY_US} AS day
               FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
    a AS (SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS off
          FROM e JOIN f ON f.user_id = e.user_id)
    SELECT CAST(cohort AS BIGINT) AS cohort_day,
           CAST(off AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a GROUP BY 1, 2
    """,
    tags=("events", "analytics"),
)
def q143(spark: SparkSession, sf: str) -> DataFrame:
    """Daily cohort retention: users grouped by their first-activity day
    (cohort), counted as retained at each later day-offset they were
    active — the triangle matrix behind every retention dashboard. Day
    index is integer-division of NTZ-safe micros (never calendar
    date_diff, whose boundary-crossing semantics differ between
    engines). Plan: min-day per user and the activity join share ONE
    user_id shuffle (exchange reuse), the distinct is per (user,
    cohort, offset) — bounded by user-days, not events — and the final
    aggregate is cohort×offset sized (days², tiny). At 100 TB the only
    corpus-sized structure is the event scan itself."""
    e = table(spark, sf, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    ed = e.select("user_id", F.floor(us / _DAY_US).alias("day"))
    f = ed.groupBy("user_id").agg(F.min("day").alias("cohort"))
    a = (
        ed.join(f, "user_id")
        .select("user_id", "cohort", (F.col("day") - F.col("cohort")).alias("off"))
        .distinct()
    )
    return a.groupBy("cohort", "off").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.col("cohort").cast("bigint").alias("cohort_day"),
        F.col("off").cast("bigint").alias("day_offset"),
        F.col("n_users"),
    )


# ---------------------------------------------------------------------------
# q144 — PMI collocations (top associated bigrams)
# ---------------------------------------------------------------------------

_PMI_MIN_C12 = 5
_PMI_TOP = 20


@query(
    "qz144_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x != '')
                 AS tk FROM documents),
    u AS (SELECT unnest(tk) AS w FROM t),
    uc AS (SELECT w, COUNT(*) AS cu FROM u GROUP BY 1),
    nu AS (SELECT COUNT(*) AS nu FROM u),
    db AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
           FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
           WHERE len(tk) >= 2),
    c AS (SELECT w1, w2, COUNT(*) AS c12 FROM db GROUP BY 1, 2),
    nb AS (SELECT SUM(c12) AS nb FROM c),
    s AS (SELECT c.w1, c.w2, c.c12,
                 ROUND(LN((c.c12 * 1.0 / nb.nb)
                          / ((u1.cu * 1.0 / nu.nu)
                             * (u2.cu * 1.0 / nu.nu))), 6) AS pmi
          FROM c JOIN uc u1 ON u1.w = c.w1
                 JOIN uc u2 ON u2.w = c.w2, nb, nu
          WHERE c.c12 >= {_PMI_MIN_C12})
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi
    FROM s ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP}
    """,
    tags=("llm", "text", "analytics"),
)
def q144(spark: SparkSession, sf: str) -> DataFrame:
    """Top PMI collocations: adjacent token pairs scored by pointwise
    mutual information ln(p(ab) / (p(a)p(b))) with a min-count floor —
    the classic multi-word-expression miner (Church & Hanks 1990), used
    in curation to spot boilerplate phrases and in tokenizer audits to
    find merge candidates BPE missed. Plan: the corpus collapses to its
    bigram and unigram count tables (both vocabulary-bounded) via
    map-side-combined aggregates over scoring.py's O(n) pair arrays;
    the PMI join runs count-table x count-table (never corpus-sized),
    and top-k is TakeOrdered on the ROUNDED score with a total (pmi,
    w1, w2) order so the cut is deterministic cross-engine. Division
    order mirrors the oracle exactly — IEEE doubles agree bit-for-bit,
    ROUND(6) absorbs nothing but summation noise."""
    from ..operators.scoring import bigram_counts

    d = table(spark, sf, "documents")
    c = bigram_counts(d).where(F.col("c12") >= _PMI_MIN_C12)
    toks = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("w")
    )
    uc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    # the two corpus totals are scalars: ONE fused job, memoized so warm
    # re-asks never re-scan the corpus for two numbers
    def _totals() -> tuple[int, int]:
        sz = F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        )
        row = d.agg(
            F.sum(sz.cast("bigint")).alias("nu"),
            F.sum(F.greatest(sz - 1, F.lit(0)).cast("bigint")).alias("nb"),
        ).first()
        return int(row.nu), int(row.nb)

    nu, nb = memo(spark, ("pmi_totals", sf), _totals, label="pmi_totals")
    u1 = uc.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    pmi = F.round(
        F.log(
            (F.col("c12") * F.lit(1.0) / F.lit(nb))
            / (
                (F.col("cu1") * F.lit(1.0) / F.lit(nu))
                * (F.col("cu2") * F.lit(1.0) / F.lit(nu))
            )
        ),
        6,
    )
    return (
        c.join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# q145 — daily event-rate anomalies (z-score per type)
# ---------------------------------------------------------------------------


@query(
    "qz145_rate_anomalies",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts)
                        // {_DAY_US} AS day
               FROM events),
    c AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
    s AS (SELECT event_type, AVG(c * 1.0) AS mu,
                 STDDEV_SAMP(c * 1.0) AS sd
          FROM c GROUP BY 1)
    SELECT c.event_type, CAST(c.day AS BIGINT) AS day,
           CAST(c.c AS BIGINT) AS n_events,
           ROUND((c.c - s.mu) / s.sd, 4) AS z,
           CAST(ABS(ROUND((c.c - s.mu) / s.sd, 4)) > 2.0 AS INT)
             AS anomaly
    FROM c JOIN s ON s.event_type = c.event_type
    """,
    tags=("events", "analytics", "quality"),
)
def q145(spark: SparkSession, sf: str) -> DataFrame:
    """Daily event-rate anomaly flags: each (type, day) count scored as
    a z-score against that type's own daily distribution, |z| > 2
    flagged — the ingest-monitoring primitive that catches a collapsed
    source or a bot flood before it poisons a training snapshot. The
    corpus collapses to type x day counts (map-side combine) and the
    per-type moments table is TYPES-sized, so the join broadcasts; the
    anomaly decision compares the ROUNDED z so the cross-engine boundary
    is exact. Day indexing shares q143's integer-micros convention."""
    e = table(spark, sf, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    c = (
        e.select("event_type", F.floor(us / _DAY_US).alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = c.groupBy("event_type").agg(
        F.avg(F.col("c") * 1.0).alias("mu"),
        F.stddev_samp(F.col("c") * 1.0).alias("sd"),
    )
    z = F.round((F.col("c") - F.col("mu")) / F.col("sd"), 4)
    return c.join(F.broadcast(s), "event_type").select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.col("c").cast("bigint").alias("n_events"),
        z.alias("z"),
        (F.abs(z) > 2.0).cast("int").alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# q146 — quality mixture buckets via EXACT score deciles
# ---------------------------------------------------------------------------


def _q146_oracle() -> str:
    from ..operators.scoring import md5_hash32_sql
    from .scoring_q import _BIAS, _W_SQL

    return f"""
    WITH tq AS (SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x != '')
                         AS tk
                FROM documents),
    sq AS (SELECT doc_id, len(tk) AS n_tok,
                  ROUND(1.0 / (1.0 + exp(-({_BIAS}
                        + list_sum(list_transform(tk,
                            x -> ({_W_SQL})[CAST(({md5_hash32_sql("x")}) % 64
                                                 AS INT) + 1]))
                          / greatest(len(tk), 1)))), 6) AS score
           FROM tq),
    n AS (SELECT COUNT(*) AS n FROM sq),
    r AS (SELECT score, ROW_NUMBER() OVER (ORDER BY score) AS rn FROM sq),
    t AS (SELECT r.score AS t
          FROM r, n, UNNEST(generate_series(1, 9)) AS g(i)
          WHERE r.rn = GREATEST(1, CAST(ceil(g.i * 0.1 * n.n) AS BIGINT))),
    b AS (SELECT sq.doc_id, sq.n_tok,
                 (SELECT COUNT(*) FROM t WHERE t.t <= sq.score) AS bucket
          FROM sq)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tok
    FROM b GROUP BY 1
    """


@query(
    "qz146_mixture_buckets",
    oracle=_q146_oracle(),
    tags=("llm", "curation", "quantile", "scoring"),
)
def q146(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-score decile buckets with per-bucket token budgets — the
    table a mixture-balancing stage consumes (sample bucket 9 at weight
    w9, downweight bucket 0, à la quality-bucketed data mixtures). The
    decile thresholds are EXACT order statistics of the learned score
    (q117's map-only hashed-linear model), computed by
    exact_quantiles_via_summary — no global sort, batching-independent,
    so the bucket edges are engine-portable values and the oracle can
    recompute them with ROW_NUMBER. Bucket assignment is 9 JVM
    comparisons against score literals (counting multiplicity when
    thresholds collide, mirrored by the oracle's COUNT over the
    threshold table); the final aggregate is 10 rows. Alongside q138
    this is the second consumer of the quantile operator: one pays the
    summary on events, this one on a DERIVED score column — the prune +
    refine contract is column-agnostic."""
    from ..operators.quantiles import exact_quantiles_via_summary
    from ..operators.scoring import hashed_linear_score
    from .scoring_q import _BIAS, _W

    d = table(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    scored = d.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        hashed_linear_score(F.col("text"), _W, _BIAS).alias("score"),
    )
    phis = [i / 10 for i in range(1, 10)]

    def _thresholds() -> dict[float, float]:
        # the refine runs 1 summary + 1 count-agg + one TakeOrdered per
        # phi; persist the scored projection so the per-token md5 score
        # is computed once, not once per pass
        sc = scored.persist()
        try:
            return exact_quantiles_via_summary(sc, "score", phis, eps=0.01)
        finally:
            sc.unpersist()

    thr = memo(spark, ("score_deciles", sf), _thresholds, label="score_deciles")
    bucket = sum(
        (F.col("score") >= F.lit(thr[phi])).cast("int") for phi in phis
    )
    return (
        scored.select("n_tok", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("bigint")).alias("n_tok"),
        )
        .select("bucket", "n_docs", "n_tok")
    )


# ---------------------------------------------------------------------------
# q147 — event-type transition matrix (first-order Markov)
# ---------------------------------------------------------------------------


@query(
    "qz147_event_transitions",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    x AS (SELECT event_type AS cur,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS nxt
          FROM e),
    c AS (SELECT cur, nxt, COUNT(*) AS c FROM x
          WHERE nxt IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT cur, SUM(c) AS tot FROM c GROUP BY 1)
    SELECT c.cur, c.nxt, CAST(c.c AS BIGINT) AS n,
           ROUND(c.c * 1.0 / t.tot, 6) AS p
    FROM c JOIN t ON t.cur = c.cur
    """,
    tags=("events", "window", "analytics"),
)
def q147(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next type | current type) — the session-model / anomalous-flow
    baseline (a spike in error->error or signup->purchase shifts the
    row distribution before any single count alarms). Plan: the
    transition pairs read off the shared `user_seq` artifact (one
    materialized corpus window pass for the whole sequence family),
    map-side-combined pair counts, and the row-normalization join runs
    types x types (25 rows). Probabilities ROUND(6) from exact integer
    ratios, so cross-engine equality is exact."""
    x = user_seq(spark, sf).select(
        F.col("event_type").alias("cur"),
        F.col("next_type").alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    c = x.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    t = c.groupBy("cur").agg(F.sum("c").alias("tot"))
    return c.join(F.broadcast(t), "cur").select(
        "cur",
        "nxt",
        F.col("c").alias("n"),
        F.round(F.col("c") * 1.0 / F.col("tot"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# q148 — per-source embedding centroids
# ---------------------------------------------------------------------------


@query(
    "qz148_source_centroids",
    oracle="""
    SELECT d.source, CAST(g.i - 1 AS INT) AS dim,
           ROUND(AVG(e.embedding[g.i]), 6) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM embeddings e
    JOIN documents d ON d.doc_id = e.vec_id,
         UNNEST(generate_series(1, len(e.embedding))) AS g(i)
    GROUP BY 1, 2
    """,
    tags=("llm", "embedding", "analytics"),
)
def q148(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source embedding centroids (mean vector by provenance) — the
    drift monitor a multi-source ingest runs per snapshot: a source
    whose centroid moves is changing content distribution even when its
    volume is flat (cheap input to q126's k-means domain view). Plan:
    the id join picks up source (equi-join, AQE broadcasts the smaller
    side), then posexplode to (source, dim, value) with MAP-SIDE
    combine — partial averages reduce each partition to sources x 64
    rows before the exchange, so the shuffle moves group-sized
    partials, never the corpus; output is sources x dims. The fold
    alternative (collect_list + zip_with) holds whole per-source vector
    lists per task; the explode+partial-agg form is the one that scales
    to billions of vectors."""
    e = table(spark, sf, "embeddings")
    d = table(spark, sf, "documents").select("doc_id", "source")
    j = e.join(d, e.vec_id == d.doc_id).select(
        "source", F.posexplode("embedding").alias("dim", "x")
    )
    return j.groupBy("source", "dim").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    ).select("source", F.col("dim").cast("int").alias("dim"), "mu", "n")


# ---------------------------------------------------------------------------
# q140 — dedup survivorship: keep the best-quality member per cluster
# ---------------------------------------------------------------------------


def _q140_oracle() -> str:
    from .llm import _PAIRS_WITH
    from ..operators.scoring import md5_hash32_sql
    from .scoring_q import _BIAS, _W_SQL

    return f"""
    WITH RECURSIVE {_PAIRS_WITH},
    edges AS (SELECT ida AS src, idb AS dst FROM pairs
              UNION SELECT idb, ida FROM pairs),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach(n, lbl) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.n
    ),
    comp AS (SELECT n AS node, MIN(lbl) AS cluster FROM reach GROUP BY n),
    k AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS key
          FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
    tq AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x != '') AS tk
           FROM documents),
    sq AS (SELECT doc_id,
                 ROUND(1.0 / (1.0 + exp(-({_BIAS}
                       + list_sum(list_transform(tk,
                           x -> ({_W_SQL})[CAST(({md5_hash32_sql("x")}) % 64
                                                AS INT) + 1]))
                         / greatest(len(tk), 1)))), 6) AS score
          FROM tq),
    j AS (SELECT k.key, k.doc_id, sq.score
          FROM k JOIN sq ON sq.doc_id = k.doc_id),
    r AS (SELECT key, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY key
                                    ORDER BY score DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY key) AS n
          FROM j)
    SELECT CAST(key AS BIGINT) AS cluster_key, doc_id AS survivor,
           score, CAST(n AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """


@query(
    "qz140_canonical_pick",
    oracle=_q140_oracle(),
    tags=("llm", "dedup", "scoring", "curation"),
)
def q140(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup survivorship POLICY: within every near-dup cluster keep the
    highest-quality member (q117's learned score, ties to the lower
    doc_id) — q93/q106 answer 'which docs are duplicates', this answers
    'which copy do we keep', the decision an actual curation pipeline
    ships. Reuses the materialize-once cluster map (the SAME artifact
    q93/q120 share — zero marginal build) and scores map-side; the only
    new work is one window over cluster keys. Singletons survive as
    their own cluster of one, so the output is exactly one row per
    retained document and sums(n_members) == corpus size. Hash-checked
    against DuckDB recomputing clusters via recursive CTE and the score
    from the same fixture weights."""
    from pyspark.sql.window import Window

    from . import broadcast_if_small
    from ..operators.scoring import hashed_linear_score
    from .llm import _dup_cluster_map
    from .scoring_q import _BIAS, _W

    clusters = _dup_cluster_map(spark, sf)
    d = table(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        hashed_linear_score(F.col("text"), _W, _BIAS).alias("score"),
    )
    keyed = scored.join(
        broadcast_if_small(clusters),
        scored.doc_id == clusters.node,
        "left",
    ).select(
        "doc_id", "score", F.coalesce("cluster", "doc_id").alias("key")
    )
    w = Window.partitionBy("key")
    r = keyed.select(
        "doc_id",
        "score",
        "key",
        F.row_number()
        .over(w.orderBy(F.col("score").desc(), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return r.where(F.col("rn") == 1).select(
        F.col("key").alias("cluster_key"),
        F.col("doc_id").alias("survivor"),
        "score",
        "n_members",
    )


# ---------------------------------------------------------------------------
# q163 — MAD-robust event-rate anomalies (median / MAD, exact)
# ---------------------------------------------------------------------------


@query(
    "qz163_mad_anomalies",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts)
                        // {_DAY_US} AS day
               FROM events),
    c AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
    g1 AS (SELECT event_type, c AS val, COUNT(*) AS k FROM c GROUP BY 1, 2),
    w1 AS (SELECT event_type, val, k,
                  SUM(k) OVER (PARTITION BY event_type ORDER BY val) AS cum,
                  SUM(k) OVER (PARTITION BY event_type) AS n
           FROM g1),
    med AS (SELECT event_type,
                   MIN(val) FILTER (cum >= (n + 1) // 2) AS med
            FROM w1 GROUP BY event_type),
    d AS (SELECT c.event_type, c.day, c.c, med.med,
                 ABS(c.c - med.med) AS dev
          FROM c JOIN med ON med.event_type = c.event_type),
    g2 AS (SELECT event_type, dev AS val, COUNT(*) AS k FROM d GROUP BY 1, 2),
    w2 AS (SELECT event_type, val, k,
                  SUM(k) OVER (PARTITION BY event_type ORDER BY val) AS cum,
                  SUM(k) OVER (PARTITION BY event_type) AS n
           FROM g2),
    mad AS (SELECT event_type,
                   MIN(val) FILTER (cum >= (n + 1) // 2) AS mad
            FROM w2 GROUP BY event_type)
    SELECT d.event_type, CAST(d.day AS BIGINT) AS day,
           CAST(d.c AS BIGINT) AS n_events,
           CAST(d.med AS BIGINT) AS med,
           CAST(mad.mad AS BIGINT) AS mad,
           CASE WHEN mad.mad > 0
                THEN ROUND(0.6745 * (d.c - d.med) / mad.mad, 4)
                ELSE 0.0 END AS mz,
           CAST(CASE WHEN mad.mad > 0
                     THEN ABS(ROUND(0.6745 * (d.c - d.med) / mad.mad, 4))
                          > 3.5
                     ELSE d.dev > 0 END AS INT) AS anomaly
    FROM d JOIN mad ON mad.event_type = d.event_type
    """,
    tags=("events", "analytics", "quality"),
)
def q163(spark: SparkSession, sf: str) -> DataFrame:
    """MAD-robust daily event-rate anomalies — the median/MAD modified
    z-score (Iglewicz & Hoaglin 1993, |Mz| > 3.5) that q145's
    mean/stddev version cannot give: one bot-flood day inflates the
    mean AND the stddev, masking itself; the median and MAD ignore it.
    Medians are EXACT lower medians (rank (n+1)//2) reconstructed from
    grouped cumulative counts — the q155/q158 machinery — so every
    quantity stays integer until the final division and the flag
    boundary compares the ROUNDED score cross-engine. Degenerate
    MAD == 0 (over half the days identical) falls back to flagging any
    deviation.

    Scale shape: the corpus collapses once to type x day counts
    (map-side combine); everything after — both median extractions,
    the deviation join, the final score — runs on that types x days
    table with types-sized broadcast joins."""
    from pyspark.sql import Window

    # four consumers (both median extractions, the deviation join, the
    # final select) would each re-scan events; the persisted artifact is
    # types x days rows, corpus-size independent
    c = daily_type_counts(spark, sf)

    def lower_median(df: DataFrame, val: str) -> DataFrame:
        """(event_type, med): exact rank-(n+1)//2 value from grouped
        cumulative counts — no per-group sort of raw rows."""
        g = df.groupBy("event_type", F.col(val).alias("val")).agg(
            F.count(F.lit(1)).alias("k")
        )
        cum_w = (
            Window.partitionBy("event_type")
            .orderBy("val")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        n_w = Window.partitionBy("event_type")
        w = g.select(
            "event_type",
            "val",
            F.sum("k").over(cum_w).alias("cum"),
            F.sum("k").over(n_w).alias("n"),
        )
        return w.groupBy("event_type").agg(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("n") + 1) / 2), F.col("val")
                )
            ).alias("med")
        )

    med = lower_median(c, "c")
    d = c.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("c") - F.col("med"))
    )
    mad = lower_median(d.select("event_type", "dev"), "dev").withColumnRenamed(
        "med", "mad"
    )
    mz = F.round(
        F.lit(0.6745) * (F.col("c") - F.col("med")) / F.col("mad"), 4
    )
    out = d.join(F.broadcast(mad), "event_type")
    return out.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        F.col("c").cast("bigint").alias("n_events"),
        F.col("med").cast("bigint").alias("med"),
        F.col("mad").cast("bigint").alias("mad"),
        F.when(F.col("mad") > 0, mz).otherwise(F.lit(0.0)).alias("mz"),
        F.when(F.col("mad") > 0, F.abs(mz) > 3.5)
        .otherwise(F.col("dev") > 0)
        .cast("int")
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# q190 — top event 3-paths (sequential pattern support mining)
# ---------------------------------------------------------------------------


@query(
    "qz190_event_paths",
    oracle="""
    WITH s AS (SELECT user_id, event_type,
                      LEAD(event_type) OVER w AS e2,
                      LEAD(event_type, 2) OVER w AS e3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path,
                 COUNT(*) AS n
          FROM s WHERE e3 IS NOT NULL GROUP BY 1)
    SELECT path, CAST(n AS BIGINT) AS n
    FROM p ORDER BY n DESC, path LIMIT 10
    """,
    tags=("events", "analytics", "sequence"),
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 contiguous 3-step event paths by support — the sequential
    n-gram mining behind 'what do users actually do around a purchase':
    q147's Markov transitions give the 1-step conditional view; path
    support surfaces the multi-step flows a funnel definition (q141)
    should be built from instead of guessed.

    Plan: the successor pair reads off the shared `user_seq` artifact
    (round 13: ONE materialized corpus window pass serves the whole
    sequence family; both engines see identical successor assignments
    under the total (ts, event_id) tiebreak) — then a grouped count
    over the bounded |types|^3 path space and a TakeOrdered top-10
    (ORDER BY n DESC, path: total order under LIMIT, the registry
    rule). The path space is schema-bounded (125 here), so everything
    after the artifact read is constant-sized."""
    s = user_seq(spark, sf).select(
        "event_type",
        F.col("next_type").alias("e2"),
        F.col("next2_type").alias("e3"),
    )
    p = (
        s.where(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        p.select("path", F.col("n").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q191 — source-affinity matrix (cosine between per-source centroids)
# ---------------------------------------------------------------------------


@query(
    "qz191_source_affinity",
    oracle="""
    WITH c AS (SELECT d.source, CAST(g.i - 1 AS INT) AS dim,
                      ROUND(AVG(e.embedding[g.i]), 6) AS mu
               FROM embeddings e
               JOIN documents d ON d.doc_id = e.vec_id,
                    UNNEST(generate_series(1, len(e.embedding))) AS g(i)
               GROUP BY 1, 2),
    p AS (SELECT a.source AS source_a, b.source AS source_b,
                 SUM(a.mu * b.mu) AS dot,
                 SUM(a.mu * a.mu) AS na, SUM(b.mu * b.mu) AS nb
          FROM c a JOIN c b ON b.dim = a.dim AND a.source < b.source
          GROUP BY 1, 2)
    SELECT source_a, source_b,
           ROUND(dot / SQRT(na * nb), 6) AS cos,
           CAST(ROUND(dot / SQRT(na * nb), 6) > 0.99 AS INT) AS redundant
    FROM p
    """,
    tags=("llm", "embedding", "analytics"),
)
def q191(spark: SparkSession, sf: str) -> DataFrame:
    """Source-affinity matrix: cosine similarity between every pair of
    per-source embedding centroids — the feed-redundancy detector a
    mixture planner runs before assigning sampling weights (two feeds
    whose centroids are near-parallel contribute overlapping content;
    q152 catches verbatim overlap, this catches SEMANTIC overlap the
    dup pipeline never sees). Centroids are the qz148 plan shape
    (posexplode + map-side partial averages — the shuffle moves
    sources x dims partials, never the corpus).

    Exactness: the pairwise cosine is computed over centroids ROUNDED
    to 1e-6 FIRST (the q168 fixed-point trick) — both engines then dot
    identical 64-value vectors, so the only float-order freedom left
    is a 64-term sum, ~9 orders below the ROUND grain.

    Scale shape: everything after the centroid aggregate runs on
    sources x dims rows; the pair join is sources^2 x dims — bounded
    by feed count like the q176 matrix (same measured sources^2 law),
    never by the corpus."""
    e = table(spark, sf, "embeddings")
    d = table(spark, sf, "documents").select("doc_id", "source")
    c = (
        e.join(d, e.vec_id == d.doc_id)
        .select("source", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("source", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("mu"))
    )
    a = c.select(
        F.col("source").alias("source_a"),
        F.col("dim").alias("dim"),
        F.col("mu").alias("ma"),
    )
    b = c.select(
        F.col("source").alias("source_b"),
        F.col("dim").alias("dim_b"),
        F.col("mu").alias("mb"),
    )
    p = (
        a.join(
            b,
            (F.col("dim_b") == F.col("dim"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).alias("na"),
            F.sum(F.col("mb") * F.col("mb")).alias("nb"),
        )
    )
    cos = F.round(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6)
    return p.select(
        "source_a",
        "source_b",
        cos.alias("cos"),
        (cos > 0.99).cast("int").alias("redundant"),
    )


# ---------------------------------------------------------------------------
# q193 — last-touch attribution for purchases
# ---------------------------------------------------------------------------


@query(
    "qz193_last_touch",
    oracle="""
    WITH s AS (SELECT event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events)
    SELECT COALESCE(prev, 'none') AS touch, CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY n DESC, touch
    """,
    tags=("events", "analytics", "sequence"),
)
def q193(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: which event type immediately precedes a
    purchase, per user — the simplest attribution model a growth team
    runs before investing in multi-touch (q147's Markov transitions
    give ALL-pairs flow; this isolates the conversion-adjacent step,
    with a purchase that opens a user's history attributed to 'none').

    Plan: the predecessor type reads off the shared `user_seq`
    artifact (round 13: one materialized corpus window pass serves the
    whole sequence family), then a filter to purchases and a
    types-sized grouped count; ORDER BY (n DESC, touch) is total, so
    the full result hash-checks without a LIMIT."""
    s = user_seq(spark, sf).select(
        "event_type", F.col("prev_type").alias("prev")
    )
    return (
        s.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("prev"), F.lit("none")).alias("touch"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "touch")
    )


# ---------------------------------------------------------------------------
# q194 — RFM user segmentation
# ---------------------------------------------------------------------------


@query(
    "qz194_rfm_segments",
    oracle=f"""
    WITH mx AS (SELECT MAX(date_diff('microsecond',
                                     TIMESTAMP '2024-01-01 00:00:00', ts)
                           // {_DAY_US}) AS mxd
                FROM events),
    u AS (SELECT user_id,
                 (SELECT mxd FROM mx)
                   - MAX(date_diff('microsecond',
                                   TIMESTAMP '2024-01-01 00:00:00', ts)
                         // {_DAY_US}) AS recency,
                 COUNT(*) AS f,
                 SUM(value) AS m
          FROM events GROUP BY user_id),
    seg AS (SELECT CASE WHEN f >= 70 AND recency <= 7 THEN 'heavy'
                        WHEN f < 60 OR recency > 7 THEN 'light'
                        ELSE 'mid' END AS segment,
                   recency, f, m
            FROM u)
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(f) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(recency) AS DOUBLE) / COUNT(*), 6)
             AS avg_recency,
           ROUND(SUM(m), 2) AS monetary
    FROM seg GROUP BY segment ORDER BY segment
    """,
    tags=("events", "analytics"),
)
def q194(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: users bucketed by Recency (days since last
    event, against the snapshot's max day) and Frequency, with Monetary
    mass per segment — the classic warehouse cohort cut (heavy = active
    within a week with >= 70 events; light = sparse or stale; mid =
    the rest — thresholds sit inside this dataset's f distribution so
    every SF produces all three buckets).

    Exactness: recency/frequency are integers off epoch-anchored day
    arithmetic (timezone-proof); the one float column (monetary = sum
    of event values) is ROUNDed at 1e-2, ~8 orders above worst-case
    cross-engine summation-order noise at this magnitude.

    Scale shape: one user-keyed aggregate (map-side combinable), the
    global max day as a one-row broadcast cross join, then a
    segments-sized regroup — two shuffles total, output 3 rows."""
    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    e = table(spark, sf, "events").select(
        "user_id", F.floor(us / _DAY_US).alias("day"), "value"
    )
    mx = e.agg(F.max("day").alias("mxd"))
    u = e.groupBy("user_id").agg(
        F.max("day").alias("lastd"),
        F.count(F.lit(1)).alias("f"),
        F.sum("value").alias("m"),
    )
    rec = F.col("mxd") - F.col("lastd")
    seg = u.crossJoin(F.broadcast(mx)).select(
        F.when((F.col("f") >= 70) & (rec <= 7), F.lit("heavy"))
        .when((F.col("f") < 60) | (rec > 7), F.lit("light"))
        .otherwise(F.lit("mid"))
        .alias("segment"),
        rec.alias("recency"),
        "f",
        "m",
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("f").cast("bigint").alias("n_events"),
            F.round(
                F.sum("recency").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_recency"),
            F.round(F.sum("m"), 2).alias("monetary"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q195 — exact daily value bands (p50/p90 per day, no global sort)
# ---------------------------------------------------------------------------


@query(
    "qz195_daily_value_bands",
    oracle=f"""
    WITH e AS (SELECT date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts)
                        // {_DAY_US} AS day,
                      value AS v
               FROM events),
    g AS (SELECT day, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
    w AS (SELECT day, v, c,
                 SUM(c) OVER (PARTITION BY day ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY day) AS n
          FROM g)
    SELECT CAST(day AS BIGINT) AS day, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MIN(CASE WHEN cum >= GREATEST(1, (n + 1) // 2)
                          THEN v END), 6) AS p50,
           ROUND(MIN(CASE WHEN cum >= GREATEST(1, (9 * n + 9) // 10)
                          THEN v END), 6) AS p90
    FROM w GROUP BY day ORDER BY day
    """,
    tags=("events", "stats", "quantile", "analytics"),
)
def q195(spark: SparkSession, sf: str) -> DataFrame:
    """Exact daily p50/p90 bands of the event value — the
    latency-percentile-style daily monitor, computed with NO global
    sort and NO sampling: per (day, value) grouped counts, per-day
    cumulative sums, and the order statistic read off as the least
    value whose cumulative count reaches the integer target rank
    (lower median (n+1)//2; p90 at (9*n+9)//10 = ceil(0.9*n), the
    plain empirical-quantile rank — NOT q189's conformal (n+1) rank,
    which targets coverage on a future draw rather than the batch's
    own order statistic — pure integer rank arithmetic both engines).

    Scale shape: the corpus collapses once to (day, value) counts with
    map-side combine; the cumulative window partitions BY DAY, so work
    parallelizes across the calendar and no partition exceeds one
    day's distinct values; output is days-sized. Measured hot-day law
    (tools/scale_probe.py daily_bands_hot_day, 10x events): ONE day
    owning the entire 1M-row corpus costs 1.15x the evenly-spread
    layout — the window sort is the only per-day serial step — and the
    one-key global prefix sum of q165 is the documented fallback if a
    single day's distinct values ever outgrow a partition."""
    from pyspark.sql import Window

    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    e = table(spark, sf, "events").select(
        F.floor(us / _DAY_US).alias("day"), F.col("value").alias("v")
    )
    g = e.groupBy("day", "v").agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("day")
    w = g.select(
        "day",
        "v",
        F.sum("c")
        .over(wd.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(wd).alias("n"),
    )
    k50 = F.greatest(F.lit(1), F.expr("(n + 1) div 2"))
    k90 = F.greatest(F.lit(1), F.expr("(9 * n + 9) div 10"))
    return (
        w.groupBy("day")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(
                F.min(F.when(F.col("cum") >= k50, F.col("v"))), 6
            ).alias("p50"),
            F.round(
                F.min(F.when(F.col("cum") >= k90, F.col("v"))), 6
            ).alias("p90"),
        )
        .select(F.col("day").cast("bigint").alias("day"), "n", "p50", "p90")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q198 — two-step Markov kernel over event types (fixed-point P^2)
# ---------------------------------------------------------------------------


@query(
    "qz198_markov_two_step",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    x AS (SELECT event_type AS cur,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id) AS nxt
          FROM e),
    c AS (SELECT cur, nxt, COUNT(*) AS c FROM x
          WHERE nxt IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT cur, SUM(c) AS tot FROM c GROUP BY 1),
    q AS (SELECT c.cur, c.nxt,
                 CAST(ROUND(c.c * 1000000.0 / t.tot, 0) AS BIGINT) AS qmu
          FROM c JOIN t ON t.cur = c.cur)
    SELECT a.cur AS cur, b.nxt AS nxt2,
           ROUND(SUM(a.qmu * b.qmu) / 1000000000000.0, 6) AS p2
    FROM q a JOIN q b ON b.cur = a.nxt
    GROUP BY 1, 2 ORDER BY cur, nxt2
    """,
    tags=("events", "analytics", "sequence"),
)
def q198(spark: SparkSession, sf: str) -> DataFrame:
    """Two-step Markov transition kernel P^2 over event types — where a
    user lands TWO events after each state, the first matrix power of
    qz147's one-step chain (the difference between 'errors lead to
    errors' and 'errors lead to churn via one more error' is exactly
    P^2 vs P).

    Hash determinism for a matrix product of rationals: summing
    c_ab*c_bc/(t_a*t_b) as floats is order-sensitive, and clearing all
    five denominators overflows decimal(38) at sf0.1-scale counts —
    so both engines multiply in FIXED POINT (the q168/q191/q191 trick):
    one-step micro-probabilities qmu = ROUND(1e6*c/t) are bit-identical
    BIGINTs on both engines (one IEEE multiply+divide, half-up round),
    and P^2_mu = sum(qmu_ab * qmu_bc) is then an exact INTEGER sum
    (order-free; <= 5e12, no overflow) with one final /1e12 display
    division. The kernel is the fixed-point approximation on BOTH
    sides — identical by construction, within 5e-6 of the real-valued
    product per entry.

    Scale shape: transition pairs off the shared `user_seq` artifact
    (one materialized corpus window pass for the sequence family), a
    types^2-sized count table, and a types^3 join entirely on grouped
    counts — nothing after the artifact read touches the corpus."""
    x = user_seq(spark, sf).select(
        F.col("event_type").alias("cur"),
        F.col("next_type").alias("nxt"),
    )
    c = (
        x.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = c.groupBy("cur").agg(F.sum("c").alias("tot"))
    q = c.join(t, "cur").select(
        "cur",
        "nxt",
        F.round(F.col("c") * 1000000.0 / F.col("tot"), 0)
        .cast("bigint")
        .alias("qmu"),
    )
    a = q.select(
        F.col("cur"), F.col("nxt"), F.col("qmu").alias("qa")
    )
    b = q.select(
        F.col("cur").alias("mid"),
        F.col("nxt").alias("nxt2"),
        F.col("qmu").alias("qb"),
    )
    return (
        a.join(b, F.col("nxt") == F.col("mid"))
        .groupBy("cur", "nxt2")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("s"))
        .select(
            "cur",
            "nxt2",
            F.round(F.col("s") / 1000000000000.0, 6).alias("p2"),
        )
        .orderBy("cur", "nxt2")
    )


# ---------------------------------------------------------------------------
# q201 — daily event-type concentration (HHI) with the dominant type
# ---------------------------------------------------------------------------


@query(
    "qz201_daily_hhi",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts)
                        // {_DAY_US} AS day
               FROM events),
    c AS (SELECT event_type, day, COUNT(*) AS c FROM e GROUP BY 1, 2),
    t AS (SELECT day, SUM(c) AS tot, SUM(c * c) AS sumsq FROM c GROUP BY day),
    r AS (SELECT day, event_type, c,
                 ROW_NUMBER() OVER (PARTITION BY day
                                    ORDER BY c DESC, event_type) AS rk
          FROM c)
    SELECT t.day AS day, CAST(t.tot AS BIGINT) AS n_events,
           ROUND(CAST(t.sumsq AS DOUBLE) / (1.0 * t.tot * t.tot), 6)
             AS hhi,
           r.event_type AS top_type,
           ROUND(r.c * 1.0 / t.tot, 6) AS top_share
    FROM t JOIN r ON r.day = t.day AND r.rk = 1
    ORDER BY day
    """,
    tags=("events", "analytics", "stats"),
)
def q201(spark: SparkSession, sf: str) -> DataFrame:
    """Daily Herfindahl-Hirschman concentration of event-type shares,
    with the dominant type — the mix-shift monitor: a day whose HHI
    spikes is one type flooding the stream (an incident, a bot, a
    replayed feed), visible before any single-type threshold trips.

    Exactness: HHI = sum(c_i^2)/total^2 is integers + ONE float
    division; the dominant type is a deterministic (c DESC, type)
    rank. The c*c square accumulates as decimal(38,0) on the Spark
    side (a 100 TB day's count wraps int64 when squared — the q165
    operand-first rule) while DuckDB sums HUGEINT.

    Scale shape: runs entirely off the memoized types x days artifact
    (daily_type_counts) — days-sized windows, days-sized output."""
    from pyspark.sql import Window

    c = daily_type_counts(spark, sf)
    t = c.groupBy("day").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
            "sumsq"
        ),
    )
    rk = Window.partitionBy("day").orderBy(
        F.col("c").desc(), "event_type"
    )
    r = c.withColumn("rk", F.row_number().over(rk)).where(
        F.col("rk") == 1
    )
    return (
        t.join(r, "day")
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("tot").cast("bigint").alias("n_events"),
            F.round(
                F.col("sumsq").cast("double")
                / (1.0 * F.col("tot") * F.col("tot")),
                6,
            ).alias("hhi"),
            F.col("event_type").alias("top_type"),
            F.round(F.col("c") * 1.0 / F.col("tot"), 6).alias(
                "top_share"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q202 — inter-event gap survival at fixed horizons
# ---------------------------------------------------------------------------

_GAP_HORIZONS_S = (60, 300, 1800, 86400)


@query(
    "qz202_gap_survival",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    g AS (SELECT event_type,
                 LEAD(us) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) - us AS gap
          FROM e),
    v AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL)
    SELECT v.event_type, CAST(h.h AS INT) AS horizon_s,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(CASE WHEN v.gap > CAST(h.h AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exceed,
           ROUND(SUM(CASE WHEN v.gap > CAST(h.h AS BIGINT) * 1000000 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS share
    FROM v, UNNEST([{", ".join(str(h) for h in _GAP_HORIZONS_S)}]) AS h(h)
    GROUP BY 1, 2 ORDER BY event_type, horizon_s
    """,
    tags=("events", "analytics", "stats"),
)
def q202(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-event gap survival S(h) = P(gap > h) at fixed horizons
    (1 min / 5 min / 30 min / 1 day), grouped by the type of the event
    OPENING the gap — the empirical dwell/churn curve behind every
    session-timeout and re-engagement-window choice (qz132 hardcodes a
    30-minute gap; this is the distribution that justifies or indicts
    it — and the per-type split shows purchases close gaps faster than
    errors).

    Exactness: gaps are integer microseconds off the totally-tiebroken
    (user, ts, event_id) window; survival counts are integers with one
    rational division per row.

    Scale shape: gaps off the shared `user_seq` artifact (one
    materialized corpus window pass for the sequence family), then a
    conditional aggregate against a broadcast 4-row horizon table —
    output is types x horizons."""
    g = user_seq(spark, sf).select(
        "event_type",
        (F.col("next_us") - F.col("us")).alias("gap"),
    ).where(F.col("gap").isNotNull())
    hs = spark.createDataFrame(
        [(h,) for h in _GAP_HORIZONS_S], "h int"
    )
    return (
        g.crossJoin(F.broadcast(hs))
        .groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(
                (F.col("gap") > F.col("h").cast("long") * 1000000)
                .cast("long")
            ).alias("n_exceed"),
        )
        .select(
            "event_type",
            F.col("h").cast("int").alias("horizon_s"),
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            F.col("n_exceed").cast("bigint").alias("n_exceed"),
            F.round(
                F.col("n_exceed") * 1.0 / F.col("n_gaps"), 6
            ).alias("share"),
        )
        .orderBy("event_type", "horizon_s")
    )


# ---------------------------------------------------------------------------
# q203 — market-basket lift between event types within sessions
# ---------------------------------------------------------------------------


@query(
    "qz203_session_lift",
    oracle=f"""
    WITH x AS (SELECT user_id, event_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us,
                      LAG(date_diff('microsecond',
                                    TIMESTAMP '2024-01-01 00:00:00', ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev
               FROM events),
    m AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > {_GAP_US}
                         THEN 1 ELSE 0 END AS brk
          FROM x),
    s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM m),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
    tot AS (SELECT COUNT(DISTINCT (user_id, sid)) AS n_sessions FROM s),
    ct AS (SELECT event_type, COUNT(*) AS c FROM st GROUP BY 1),
    co AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS n_co
           FROM st a JOIN st b
             ON b.user_id = a.user_id AND b.sid = a.sid
            AND a.event_type < b.event_type
           GROUP BY 1, 2)
    SELECT co.type_a, co.type_b, CAST(co.n_co AS BIGINT) AS n_co,
           ROUND((1.0 * co.n_co * (SELECT n_sessions FROM tot))
                 / (1.0 * ca.c * cb.c), 6) AS lift,
           ROUND(co.n_co * 1.0 / ca.c, 6) AS conf_a_to_b
    FROM co JOIN ct ca ON ca.event_type = co.type_a
            JOIN ct cb ON cb.event_type = co.type_b
    ORDER BY type_a, type_b
    """,
    tags=("events", "analytics", "sequence"),
)
def q203(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket lift between event types co-occurring in the same
    session — lift(a,b) = P(a,b together) / (P(a)P(b)) over gap-based
    sessions (qz132's 30-minute islands): the association-rule view of
    the stream that qz147's ADJACENT transitions cannot see (a view and
    a purchase forty events apart in one session co-occur here, never
    there).

    Exactness: session membership is integer arithmetic (the qz132
    microsecond window), supports are integer counts over DISTINCT
    (session, type) rows, lift and confidence are single rational
    divisions of integers.

    Scale shape: break flags off the shared `user_seq` artifact (one
    materialized corpus window pass for the sequence family) + the
    session running-sum window; the co-occur self-join runs on the
    (session, type)-DISTINCT table — at most |types| rows per session,
    so the join fan-out is bounded by types^2 per session, never
    events^2; output is types-pairs-sized."""
    from pyspark.sql import Window

    x = user_seq(spark, sf).select(
        "user_id", "event_id", "event_type", "us", "prev_us"
    )
    brk = (
        F.col("prev_us").isNull()
        | ((F.col("us") - F.col("prev_us")) > _GAP_US)
    ).cast("int")
    cum = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = x.select(
        "user_id",
        "event_type",
        F.sum(brk).over(cum).alias("sid"),
    )
    # the (session, type)-DISTINCT table and the session total are
    # per-(session, sf) artifacts (VERDICT r13 watch item): an inline
    # persist + distinct-count re-ran two extra jobs on EVERY warm
    # evaluation and pinned a fresh cache entry per call; memoized,
    # the warm query is the single co-occur join pipeline
    from . import built

    st = memo(
        spark, ("session_types", sf),
        lambda: built(s.distinct().persist()),
        label="session_types",
    )
    n_sessions = memo(
        spark,
        ("n_sessions", sf),
        lambda: st.select("user_id", "sid").distinct().count(),
        label="n_sessions",
    )
    ct = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a, b = st.alias("a"), st.alias("b")
    co = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.sid") == F.col("a.sid"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    ca = ct.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    cb = ct.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        co.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.round(
                (1.0 * F.col("n_co") * float(n_sessions))
                / (1.0 * F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
            F.round(F.col("n_co") * 1.0 / F.col("ca"), 6).alias(
                "conf_a_to_b"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q204 — audience overlap (user Jaccard) between event types
# ---------------------------------------------------------------------------


@query(
    "qz204_audience_jaccard",
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    ct AS (SELECT event_type, COUNT(*) AS c FROM ut GROUP BY 1),
    co AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS n_inter
           FROM ut a JOIN ut b
             ON b.user_id = a.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
    SELECT co.type_a, co.type_b,
           CAST(co.n_inter AS BIGINT) AS n_inter,
           ROUND(co.n_inter * 1.0
                 / (ca.c + cb.c - co.n_inter), 6) AS jaccard
    FROM co JOIN ct ca ON ca.event_type = co.type_a
            JOIN ct cb ON cb.event_type = co.type_b
    ORDER BY type_a, type_b
    """,
    tags=("events", "analytics"),
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    """Audience Jaccard between event types — |users(a) ∩ users(b)| /
    |users(a) ∪ users(b)|: do the same people who click also purchase,
    or are they disjoint populations? The exact-set companion of
    qz105's HLL set-intersection estimate (that one trades exactness
    for mergeable kilobyte sketches; this is the ground-truth join a
    fixture-scale audit runs), and the user-space complement of q191's
    embedding-space source affinity.

    Exactness: distinct (type, user) pairs, integer intersection
    counts, union by inclusion-exclusion, one rational division.

    Scale shape: the self-join runs on the DISTINCT (type, user) table
    keyed by user — at most |types| rows per user, fan-out bounded by
    types^2 per user; counts are types- and type-pairs-sized."""
    ut = table(spark, sf, "events").select("event_type", "user_id").distinct().persist()
    ct = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a, b = ut.alias("a"), ut.alias("b")
    co = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = ct.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    cb = ct.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        co.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.round(
                F.col("n_inter")
                * 1.0
                / (F.col("ca") + F.col("cb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q239 / q240 — survival analysis + multi-touch attribution over user_seq
# ---------------------------------------------------------------------------

_US_SQL = """
    e AS (SELECT user_id, event_id, event_type,
                 date_diff('microsecond',
                           TIMESTAMP '2024-01-01 00:00:00', ts) AS us
          FROM events)
"""


@query(
    "qz239_kaplan_meier",
    oracle=f"""
    WITH {_US_SQL},
    u AS (SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us,
                 MIN(us) FILTER (event_type = 'purchase') AS fp_us
          FROM e GROUP BY 1),
    d AS (SELECT (COALESCE(fp_us, last_us) - first_us)
                   // {_DAY_US} AS day,
                 CAST(fp_us IS NOT NULL AS INT) AS obs
          FROM u),
    g AS (SELECT day, SUM(obs) AS d, COUNT(*) - SUM(obs) AS w
          FROM d GROUP BY day),
    r AS (SELECT day, d,
                 SUM(d + w) OVER (ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) - (d + w)
                   AS removed,
                 SUM(d + w) OVER () AS n
          FROM g),
    k AS (SELECT day, d, n - removed AS at_risk,
                 SUM(CASE WHEN n - removed > d THEN
                       LN(CAST(n - removed - d AS DOUBLE) / (n - removed))
                     ELSE 0.0 END)
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ls
          FROM r WHERE d > 0)
    SELECT CAST(day AS BIGINT) AS day,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN at_risk = d THEN 0.0
                ELSE ROUND(EXP(ls), 6) END AS survival
    FROM k ORDER BY day
    """,
    tags=("events", "stats", "analytics"),
)
def q239(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase, in days
    from each user's first event, with users who never purchase RIGHT-
    CENSORED at their last observed event (Kaplan & Meier 1958) — the
    estimator a naive conversion-time histogram gets wrong: dropping
    never-purchasers biases conversion fast, counting them as
    non-converters biases it slow; KM removes them from the risk set
    at their censoring time and stays unbiased under independent
    censoring. Output: one row per event day — risk-set size, deaths,
    and the survival step S(t) = prod(1 - d_i/n_i).

    Exactness: risk sets and death counts are exact integers from one
    per-user collapse of the user_seq artifact; the product is
    exp(cumulative sum of ln((n_i-d_i)/n_i)) where each ln argument is
    a ratio of exact integers and the cumulative sum runs in the
    deterministic day order — identical doubles cross-engine. An
    exhausted risk set (the last death removes everyone: at_risk = d,
    only ever possible on the final step) is an explicit survival-0
    CASE rather than ln(0) — Spark evaluates ln(0) to -inf but DuckDB
    RAISES on it, so the guard is a cross-engine requirement, not
    style.

    Scale shape: ONE aggregate collapses user_seq to a users-sized
    table (conditional min/max, no join), a second collapses that to
    distinct-duration rows (days-bounded); the two cumulative windows
    run on the days-bounded table — the qz185 rule: a single-partition
    window is correct exactly when the input is bounded by something
    that never grows with the corpus (the observation-window length)."""
    from pyspark.sql import Window

    u = user_seq(spark, sf).groupBy("user_id").agg(
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("fp_us"),
    )
    d = u.select(
        F.floor(
            (F.coalesce(F.col("fp_us"), F.col("last_us"))
             - F.col("first_us"))
            / _DAY_US
        ).alias("day"),
        F.col("fp_us").isNotNull().cast("int").alias("obs"),
    )
    g = d.groupBy("day").agg(
        F.sum("obs").alias("d"),
        (F.count(F.lit(1)) - F.sum("obs")).alias("w"),
    )
    cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    r = g.select(
        "day",
        "d",
        (F.sum(F.col("d") + F.col("w")).over(cum)
         - (F.col("d") + F.col("w"))).alias("removed"),
        F.sum(F.col("d") + F.col("w")).over(tot).alias("n"),
    )
    at_risk = F.col("n") - F.col("removed")
    k = r.where(F.col("d") > 0).select(
        "day",
        "d",
        at_risk.alias("at_risk"),
        F.sum(
            F.when(
                at_risk > F.col("d"),
                F.log(
                    (at_risk - F.col("d")).cast("double") / at_risk
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(cum)
        .alias("ls"),
    )
    return k.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("at_risk") == F.col("d"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("ls")), 6))
        .alias("survival"),
    ).orderBy("day")


@query(
    "qz240_position_attribution",
    oracle=f"""
    WITH {_US_SQL},
    fp AS (SELECT user_id, us, event_id FROM (
             SELECT user_id, us, event_id,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY us, event_id) AS rn
             FROM e WHERE event_type = 'purchase')
           WHERE rn = 1),
    t AS (SELECT e.user_id, e.event_type, e.us, e.event_id
          FROM e JOIN fp ON fp.user_id = e.user_id
          WHERE e.us < fp.us
             OR (e.us = fp.us AND e.event_id < fp.event_id)),
    r AS (SELECT event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS k
          FROM t),
    cr AS (SELECT event_type,
                  CASE WHEN k = 1 THEN 1.0
                       WHEN rn = 1 OR rn = k THEN
                         (CASE WHEN k = 2 THEN 0.5 ELSE 0.4 END)
                       ELSE 0.2 / (k - 2) END AS credit
           FROM r)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(credit), 6) AS credit
    FROM cr GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "analytics"),
)
def q240(spark: SparkSession, sf: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every event
    before a user's FIRST purchase is a touch; the first and last
    touch each earn 40% of the conversion credit and the middle
    touches split the remaining 20% evenly (k=1 -> 100%, k=2 ->
    50/50) — the standard middle ground between qz193's last-touch
    (recency-only) and linear attribution (position-blind), reported
    as total credit per touching event type.

    Correctness detail: "before" is the TOTAL (us, event_id) order —
    the same composite tiebreak as user_seq — so a touch landing on
    the first purchase's exact microsecond attributes
    deterministically on both engines.

    Exactness: positions and touch counts are exact integers; each
    credit is a closed-form rational of k evaluated identically
    cross-engine, and the per-type sums (magnitude ~users) are
    ROUNDed at 1e-6, ~6 orders above float-order noise (qz186 rule).

    Scale shape: first purchases come from one user-partitioned
    window over the user_seq artifact (reusing its hash partitioning,
    no new corpus exchange); the touch filter is a users-sized
    broadcast-gated join; position/count windows run per user on the
    touch subset. No driver loops, no collect."""
    from pyspark.sql import Window

    from . import broadcast_if_small

    seq = user_seq(spark, sf)
    w_user = Window.partitionBy("user_id").orderBy("us", "event_id")
    fp = (
        seq.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "us",
            "event_id",
            F.row_number().over(w_user).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("us").alias("fp_us"),
            F.col("event_id").alias("fp_eid"),
        )
    )
    t = seq.join(broadcast_if_small(fp), "user_id").where(
        (F.col("us") < F.col("fp_us"))
        | (
            (F.col("us") == F.col("fp_us"))
            & (F.col("event_id") < F.col("fp_eid"))
        )
    )
    r = t.select(
        "event_type",
        F.row_number().over(w_user).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("k")),
            F.when(F.col("k") == 2, F.lit(0.5)).otherwise(F.lit(0.4)),
        )
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        r.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum("credit"), 6).alias("credit"),
        )
        .orderBy("event_type")
    )


@query(
    "qz247_repeat_purchase",
    oracle=f"""
    WITH {_US_SQL},
    p AS (SELECT user_id, us,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS rn
          FROM e WHERE event_type = 'purchase'),
    u AS (SELECT user_id,
                 MIN(us) FILTER (rn = 1) AS us1,
                 MIN(us) FILTER (rn = 2) AS us2
          FROM p GROUP BY user_id),
    gaps AS (SELECT (us2 - us1) // {_DAY_US} AS gap
             FROM u WHERE us2 IS NOT NULL),
    gc AS (SELECT gap, COUNT(*) AS k FROM gaps GROUP BY gap),
    w AS (SELECT gap, k,
                 SUM(k) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING)
                   AS cum,
                 SUM(k) OVER () AS nr
          FROM gc),
    med AS (SELECT MIN(gap) AS m FROM w
            WHERE cum >= (nr + 1) // 2),
    agg AS (SELECT COUNT(*) AS n_buyers,
                   COUNT(us2) AS n_repeat
            FROM u)
    SELECT CAST(n_buyers AS BIGINT) AS n_buyers,
           CAST(n_repeat AS BIGINT) AS n_repeat,
           ROUND(CAST(n_repeat AS DOUBLE) / n_buyers, 6)
             AS repeat_rate,
           CAST((SELECT m FROM med) AS BIGINT) AS median_gap_days
    FROM agg
    """,
    tags=("events", "analytics"),
)
def q247(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase report: how many buyers purchase a second time,
    the repeat rate, and the EXACT median days between first and
    second purchase — the retention number behind LTV and win-back
    timing (the median, not the mean: second-purchase gaps are heavy-
    tailed and one 300-day returner should not move the campaign
    window).

    Exactness: purchase ordinals come from one totally-tiebroken
    (us, event_id) window per user; the gap is exact integer days;
    the median is the exact lower-median rank (n+1)//2 reconstructed
    from grouped gap counts (the qz158 convention) — no per-row sort,
    no percentile approximation.

    Scale shape: the purchase filter prunes the user_seq artifact
    scan; one user-partitioned window (reusing user_seq's hash
    partitioning), one users-sized aggregate, and a grouped-count
    median over a gaps-valued table bounded by the observation range
    in days. The one single-partition window runs on that days-
    bounded table (the qz185 rule)."""
    from pyspark.sql import Window

    seq = user_seq(spark, sf)
    w_user = Window.partitionBy("user_id").orderBy("us", "event_id")
    p = (
        seq.where(F.col("event_type") == "purchase")
        .select(
            "user_id", "us", F.row_number().over(w_user).alias("rn")
        )
        .where(F.col("rn") <= 2)
    )
    u = p.groupBy("user_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("us"))).alias("us1"),
        F.min(F.when(F.col("rn") == 2, F.col("us"))).alias("us2"),
    )
    gaps = u.where(F.col("us2").isNotNull()).select(
        F.floor((F.col("us2") - F.col("us1")) / _DAY_US).alias("gap")
    )
    gc = gaps.groupBy("gap").agg(F.count(F.lit(1)).alias("k"))
    cum = Window.orderBy("gap").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    wtab = gc.select(
        "gap",
        F.sum("k").over(cum).alias("cum"),
        F.sum("k").over(tot).alias("nr"),
    )
    med = wtab.where(
        F.col("cum") >= F.floor((F.col("nr") + 1) / 2)
    ).agg(F.min("gap").alias("m"))
    agg = u.agg(
        F.count(F.lit(1)).alias("n_buyers"),
        F.count("us2").alias("n_repeat"),
    )
    return agg.crossJoin(F.broadcast(med)).select(
        F.col("n_buyers").cast("bigint").alias("n_buyers"),
        F.col("n_repeat").cast("bigint").alias("n_repeat"),
        F.round(
            F.col("n_repeat").cast("double") / F.col("n_buyers"), 6
        ).alias("repeat_rate"),
        F.col("m").cast("bigint").alias("median_gap_days"),
    )


# ---------------------------------------------------------------------------
# q264-q266 — round-15 sequence-analytics additions over user_seq / the
# first-touch collapses: exact gap percentiles, Markov transition
# entropy, and view-to-purchase conversion latency.
# ---------------------------------------------------------------------------


@query(
    "q264_interevent_percentiles",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    g AS (SELECT event_type,
                 (LEAD(us) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id) - us)
                   // 1000000 AS gap_s
          FROM e),
    v AS (SELECT event_type, gap_s, COUNT(*) AS k
          FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT event_type, SUM(k) AS n FROM v GROUP BY 1),
    w AS (SELECT v.event_type, v.gap_s, t.n,
                 SUM(v.k) OVER (PARTITION BY v.event_type
                                ORDER BY v.gap_s
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM v JOIN t ON t.event_type = v.event_type)
    SELECT t.event_type, CAST(t.n AS BIGINT) AS n_gaps,
           CAST((SELECT MIN(gap_s) FROM w
                 WHERE w.event_type = t.event_type
                   AND w.cum >= (t.n + 1) // 2) AS BIGINT) AS p50_s,
           CAST((SELECT MIN(gap_s) FROM w
                 WHERE w.event_type = t.event_type
                   AND w.cum >= (9 * t.n + 9) // 10) AS BIGINT) AS p90_s
    FROM t
    """,
    tags=("events", "analytics", "stats"),
)
def q264(spark: SparkSession, sf: str) -> DataFrame:
    """Exact p50/p90 inter-event gap per opening event type, in whole
    seconds — the location summary qz202's fixed-horizon survival
    curve cannot give (S(h) answers 'what share exceeds h'; capacity
    and timeout tuning want 'what h does the median/90th user sit
    at'). Percentiles are EXACT integer order statistics (rank
    (n+1)//2 and ceil(0.9n) over cumulative grouped counts — the
    qz255/q262 convention), never approximate sketches, because this
    is a certification query; the sketch path for the same question
    is qz162's streaming MRL summaries.

    Exactness: gaps are integer microseconds off the shared
    totally-tiebroken user_seq window, floored to whole seconds to
    bound the grouped domain; ranks and counts are exact integers end
    to end — no float appears anywhere.

    Scale shape: gaps from the materialize-once user_seq artifact;
    ONE (type, gap_s) grouped count (bounded by types x distinct
    seconds, not events); a per-type cumulative window over that
    bounded table; then BOTH rank probes fused into one conditional
    aggregate — min(when(cum >= rank, gap_s)) for each rank in a
    single groupBy (the qz195 single-pass pattern, VERDICT r15 #1) —
    so the plan after the artifact is exactly two exchanges
    ((type, gap_s) partial agg + the per-type window; the closing
    groupBy reuses the window's hash partitioning) instead of the
    former two probe-joins. The corpus is never re-sorted.
    Measured (tools/scale_probe.py interevent_percentiles, sf0.1, 10x
    events with DISJOINT users so the gap domain itself grows):
    0.95 -> 1.54 s — 0.16x the linear law (pre-fuse two-probe shape:
    1.24 -> 2.54 s, 0.21x)."""
    from pyspark.sql import Window

    g = (
        user_seq(spark, sf)
        .select(
            "event_type",
            F.expr("(next_us - us) div 1000000").alias("gap_s"),
        )
        .where(F.col("gap_s").isNotNull())
    )
    v = g.groupBy("event_type", "gap_s").agg(
        F.count(F.lit(1)).alias("k")
    )
    by_type = Window.partitionBy("event_type")
    w = v.select(
        "event_type",
        "gap_s",
        F.sum("k").over(by_type).alias("n"),
        F.sum("k")
        .over(
            by_type.orderBy("gap_s")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
    )
    return w.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("gap_s"))
        )
        .cast("bigint")
        .alias("p50_s"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(9 * n + 9) div 10"),
                F.col("gap_s"),
            )
        )
        .cast("bigint")
        .alias("p90_s"),
    )


@query(
    "qz265_transition_entropy",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    tr AS (SELECT event_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY us, event_id) AS nxt
           FROM e),
    c AS (SELECT event_type, nxt, COUNT(*) AS k
          FROM tr WHERE nxt IS NOT NULL GROUP BY 1, 2),
    s AS (SELECT event_type, SUM(k) AS n,
                 SUM(k * LN(CAST(k AS DOUBLE))) AS slk
          FROM c GROUP BY 1),
    tot AS (SELECT SUM(n) AS nt FROM s)
    SELECT s.event_type, CAST(s.n AS BIGINT) AS n_trans,
           ROUND(LN(CAST(s.n AS DOUBLE)) - s.slk / s.n, 6) AS h_next,
           ROUND(CAST(s.n AS DOUBLE) / tot.nt, 6) AS pi,
           ROUND((LN(CAST(s.n AS DOUBLE)) - s.slk / s.n)
                 * s.n / tot.nt, 6) AS rate_term
    FROM s CROSS JOIN tot
    """,
    tags=("events", "analytics", "stats"),
)
def q265(spark: SparkSession, sf: str) -> DataFrame:
    """Per-state Markov transition entropy H(next | state) over the
    user event chain, with the empirical stationary weight pi and the
    per-state term of the chain's entropy rate Sum pi_s * H_s — the
    predictability datasheet for qz147/qz198's transition matrix: a
    state with H near 0 has a deterministic next step (automation or
    forced funnel), one near ln(k) is maximally surprising, and the
    summed rate_term is the compression floor for storing user
    journeys (Shannon 1948's source-coding bound applied to the
    session alphabet).

    Exactness: transition counts come off the shared user_seq
    totally-tiebroken window; the entropy uses the same stable
    ln n - Sum k ln k / n fold as q261 (types^2-bounded float sum);
    ROUND 1e-6 everywhere.

    Scale shape: transitions reduce to a types^2 count table in one
    grouped aggregate over the artifact; everything after is
    types-sized arithmetic plus one 1-row broadcast total."""
    tr = (
        user_seq(spark, sf)
        .select("event_type", F.col("next_type").alias("nxt"))
        .where(F.col("nxt").isNotNull())
    )
    c = tr.groupBy("event_type", "nxt").agg(
        F.count(F.lit(1)).alias("k")
    )
    s = c.groupBy("event_type").agg(
        F.sum("k").alias("n"),
        F.sum(F.col("k") * F.log(F.col("k").cast("double"))).alias(
            "slk"
        ),
    )
    tot = s.agg(F.sum("n").alias("nt"))
    h = F.log(F.col("n").cast("double")) - F.col("slk") / F.col("n")
    return s.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_trans"),
        F.round(h, 6).alias("h_next"),
        F.round(F.col("n").cast("double") / F.col("nt"), 6).alias("pi"),
        F.round(h * F.col("n") / F.col("nt"), 6).alias("rate_term"),
    )


@query(
    "qz266_time_to_convert",
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      date_diff('microsecond',
                                TIMESTAMP '2024-01-01 00:00:00', ts) AS us
               FROM events),
    v AS (SELECT user_id, MIN(us) AS v_us FROM e
          WHERE event_type = 'view' GROUP BY 1),
    p AS (SELECT e.user_id,
                 (MIN(e.us) - v.v_us) // 86400000000 AS lat_d
          FROM e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.us > v.v_us
          GROUP BY e.user_id, v.v_us),
    lc AS (SELECT lat_d, COUNT(*) AS k FROM p GROUP BY 1),
    t AS (SELECT SUM(k) AS nc FROM lc),
    w AS (SELECT lat_d, SUM(k) OVER (ORDER BY lat_d
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM lc)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
           CAST(t.nc AS BIGINT) AS n_converted,
           ROUND(CAST(t.nc AS DOUBLE)
                 / (SELECT COUNT(*) FROM v), 6) AS conv_rate,
           CAST((SELECT MIN(lat_d) FROM w, t
                 WHERE w.cum >= (t.nc + 1) // 2) AS BIGINT)
             AS median_latency_days
    FROM t
    """,
    tags=("events", "analytics"),
)
def q266(spark: SparkSession, sf: str) -> DataFrame:
    """View-to-purchase conversion funnel with latency: of the users
    who ever viewed, how many purchased STRICTLY AFTER their first
    view, and the exact median days from first view to that first
    subsequent purchase — the single number a growth team tracks
    weekly, and the attribution-window justification qz240's U-shaped
    credit model assumes (a median latency of 2 days indicts a
    1-day attribution window). Purchases BEFORE the first view do not
    count as conversions (the strict us > v_us guard), which is what
    separates this from qz141's unordered funnel.

    Exactness: first-touch timestamps are exact integer microseconds
    (MIN over the corpus per user); latency floors to whole days; the
    median is the exact (n+1)//2 integer order statistic over grouped
    day counts (qz247 convention); one float division for the rate.

    Scale shape: two user-keyed grouped aggregates (the corpus
    shuffles on user_id once per side), one users-sized join, then a
    days-bounded grouped count and rank probe. No window over the
    corpus."""
    from pyspark.sql import Window

    us = F.expr(
        "timestampdiff(MICROSECOND,"
        " timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    e = table(spark, sf, "events").select(
        "user_id", "event_type", us.alias("us")
    )
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("us") > F.col("v_us"))
        .groupBy("user_id", "v_us")
        .agg(F.min("us").alias("p_us"))
        .select(
            F.expr("(p_us - v_us) div 86400000000").alias("lat_d")
        )
    )
    lc = p.groupBy("lat_d").agg(F.count(F.lit(1)).alias("k"))
    t = lc.agg(F.sum("k").alias("nc"))
    w = lc.select(
        "lat_d",
        F.sum("k")
        .over(
            Window.orderBy("lat_d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    med = (
        w.crossJoin(F.broadcast(t))
        .where(F.col("cum") >= F.expr("(nc + 1) div 2"))
        .agg(F.min("lat_d").alias("m"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("nvw"))
    return (
        t.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("nvw").cast("bigint").alias("n_viewers"),
            F.col("nc").cast("bigint").alias("n_converted"),
            F.round(
                F.col("nc").cast("double") / F.col("nvw"), 6
            ).alias("conv_rate"),
            F.col("m").cast("bigint").alias("median_latency_days"),
        )
    )
