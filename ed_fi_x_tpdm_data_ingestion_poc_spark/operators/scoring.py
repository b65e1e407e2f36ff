"""Model-based quality scoring for corpus curation — the learned-filter
stage of CCNet/RefinedWeb-style pipelines, distilled to engine-checkable
form:

  * hashed_linear_score — a fastText-shaped linear classifier over
    hashing-trick token features (Weinberger et al., ICML 2009): bucket
    = portable 32-bit hash of the token mod n_buckets, score =
    sigmoid(bias + mean of bucket weights). The weight table is the
    artifact a real pipeline loads from training; scoring is a pure
    map-side JVM expression — no model server, no UDF, no shuffle.
  * bigram_nll — corpus-bigram language-model surprisal per document
    (the KenLM-perplexity quality gate of CCNet, reduced to an add-one
    smoothed bigram LM the oracle can recompute exactly): documents far
    from the corpus distribution score high.

Both use ONLY cross-engine-reproducible primitives (md5-derived hashes,
ln, round), so the declared queries hash-check values, not just flags.

md5_hash32 vs sampling.mul_hash32: mul_hash32 hashes INTEGERS (ids);
this hashes STRINGS. Spark `conv(substr(md5(s),1,8),16,10)` ==
DuckDB `('0x' || substr(md5(s),1,8))::BIGINT` — verified identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_hash32(col: Column) -> Column:
    """Portable 32-bit string hash: first 8 hex chars of md5 as an int.
    Slower than xxhash64 (full md5) but recomputable in any engine with
    md5 — the same portability trade as sampling.mul_hash32. SQL twin:
    md5_hash32_sql."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_hash32_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def fixture_weights(n_buckets: int = 64) -> tuple[list[float], float]:
    """Deterministic stand-in for a trained weight vector (a real
    pipeline loads these from its classifier): w[j] in [-0.48, 0.48],
    fixed arithmetic so Spark literal and oracle SQL embed the SAME
    numbers."""
    w = [((j * 2654435761) % 97 - 48) / 100.0 for j in range(n_buckets)]
    return w, 0.05


def hashed_linear_score(
    text_col: Column,
    weights: list[float],
    bias: float,
) -> Column:
    """sigmoid(bias + mean over tokens of weights[bucket(token)]),
    rounded to 6 dp. One JVM aggregate over the token array against an
    array literal — map-only; 2^20-bucket tables stay a ~8 MB broadcast
    literal at production scale."""
    n = len(weights)
    w_lit = F.expr(
        "CAST(array(" + ",".join(repr(x) for x in weights) + ") AS array<double>)"
    )
    toks = F.filter(F.split(text_col, " "), lambda t: t != "")
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(w_lit, (F.pmod(md5_hash32(t), F.lit(n)) + 1).cast("int")),
    )
    z = F.lit(bias) + total / F.greatest(F.size(toks), F.lit(1))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def _bigram_pairs(text_col: str) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs, built by zipping the
    token array against its shift — two O(n) slices, not an indexed
    transform: element_at(toks, i) inside a lambda re-evaluates the
    outer split() per element under Catalyst's interpreted evaluator,
    O(n^2) per doc (~10x slower on the sf0.1 corpus; same lesson as
    text.py::bigrams, which keeps the string-pair form)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.arrays_zip(
        F.slice(toks, 1, m).alias("w1"), F.slice(toks, 2, m).alias("w2")
    )


# Input-partition threshold below which the window form is used for
# self-scoring NLL. ~200 default-size splits ≈ 25 GB of corpus; past
# that, an unbounded-frame window partitioned by first token shuffles
# the whole occurrence stream by w1 and a stopword context (easily
# several percent of all bigrams) lands on ONE WindowExec task as a
# sort+spill straggler (ADVICE r17). The groupBy-model form never
# shuffles the corpus pre-aggregation (map-side partial agg), at the
# price of one extra tokenize+explode traversal — the right trade at
# scale, the wrong one on small derived streams where the traversal
# dominates (measured r17: window form 1.48 -> 1.09 s on qz121's
# stripped-HTML input).
_WINDOW_FORM_MAX_PARTS = 200


def _window_form_ok(docs: DataFrame) -> bool:
    """True when `docs` is small enough for the window-form fast path
    (scan partition count as the size proxy — a corpus table at
    production scale splits into thousands of tasks on its own, so the
    gate picks the skew-safe groupBy form there with no size job).
    Memoized per (session, canonical plan) like queries.spread_scan."""
    from ..queries import memo_unlocked

    return memo_unlocked(
        docs.sparkSession,
        ("window_form_ok", docs.semanticHash()),
        lambda: docs.rdd.getNumPartitions() <= _WINDOW_FORM_MAX_PARTS,
    )


def bigram_counts(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w1, w2, c12) corpus bigram occurrence counts — the LM 'training'
    aggregate; vocabulary-squared bounded, so it broadcasts at any
    corpus size with a bounded vocabulary."""
    return (
        docs.select(F.explode(_bigram_pairs(text_col)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )


def bigram_nll(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: DataFrame | None = None,
) -> DataFrame:
    """(id, n_bigrams, nll): per-document mean negative log-likelihood
    under the corpus bigram LM with add-one smoothing —
    p(w2|w1) = (c12 + 1) / (c1 + V), c1 = bigram occurrences starting
    with w1, V = distinct w2 across the corpus. High nll = far from the
    corpus distribution (the CCNet perplexity gate, exactly
    recomputable cross-engine; ROUND(.,6) absorbs summation-order
    noise).

    Plan: the self-scoring form (counts=None) is GATED on input size
    (_window_form_ok, ADVICE r18). Small inputs use the round-17
    window form (guide §2.4): the model IS an aggregate of the
    document bigram stream, so c12 and c1 come from two count windows
    over ONE exploded stream instead of a separate counts-aggregate
    subtree joined back — two traversals instead of three, which is
    what matters when `docs` is an expensive derived stream (measured
    on qz121's stripped-HTML input 1.48 -> 1.09 s noop median-of-5,
    value-identical row sets). Large inputs take the skew-safe
    groupBy-model + join-back form below: the window form shuffles
    the WHOLE occurrence stream by w1 and buffers each first-token
    partition in one WindowExec task — a hot stopword context becomes
    a single-task sort+spill straggler at corpus scale — while the
    groupBy model does map-side partial aggregation and never shuffles
    the corpus pre-aggregation. Both forms compute identical values.

    With a FOREIGN `counts` table the fold-then-join shape is always
    used (the model is not derivable from `docs` there)."""
    from pyspark.sql.window import Window

    if counts is None and _window_form_ok(docs):
        db = docs.select(
            F.col(id_col).alias("id"),
            F.explode(_bigram_pairs(text_col)).alias("p"),
        ).select("id", "p.w1", "p.w2")
        v = db.agg(F.count_distinct("w2").alias("v"))
        w1 = Window.partitionBy("w1")
        w12 = Window.partitionBy("w1", "w2")
        scored = (
            db.withColumn("c1", F.count(F.lit(1)).over(w1))
            .withColumn("c12", F.count(F.lit(1)).over(w12))
            .crossJoin(F.broadcast(v))
        )
        return scored.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
                )
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
    if counts is None:
        # large self-scoring input: train the vocab-bounded model via
        # groupBy (map-side partial agg; the corpus never shuffles
        # pre-aggregation) and fall through to the fold-then-join
        # score pass — the inner join is lossless for self-scoring
        # (every doc bigram is in its own corpus counts)
        counts = bigram_counts(docs, text_col=text_col)
    v = counts.select(F.count_distinct("w2").alias("v"))
    c1w = Window.partitionBy("w1")
    model = counts.withColumn(
        "c1", F.sum("c12").over(c1w)
    ).crossJoin(F.broadcast(v))
    doc_bigrams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_bigram_pairs(text_col)).alias("p"),
    ).select("id", "p.w1", "p.w2")
    scored = doc_bigrams.join(model, ["w1", "w2"])
    # every doc bigram IS in the corpus counts (the corpus includes the
    # doc), so an inner join loses nothing
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
                )
                / F.count(F.lit(1)),
                6,
            ).alias("nll"),
        )
    )


def bigram_nll_under(
    docs: DataFrame,
    counts: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, nll) under a FOREIGN bigram model — the `counts`
    table need not come from `docs`, so unseen pairs and unseen
    contexts must survive: add-one smoothing degrades gracefully to
    p = (0+1)/(c1+V) for an unseen pair and 1/(0+V) for an unseen
    context (LEFT joins + coalesce, where bigram_nll's inner join is
    valid only for self-scoring). This is what importance-weighting
    needs: every document scores under BOTH the raw and the target
    model, whichever corpus it came from. Same plan shape as
    bigram_nll: vocabulary-bounded model folds (c1, V) in before the
    single corpus-side join."""
    from pyspark.sql.window import Window

    v = counts.select(F.count_distinct("w2").alias("v"))
    c1w = Window.partitionBy("w1")
    model = counts.withColumn("c1", F.sum("c12").over(c1w))
    c1tab = model.select("w1", "c1").distinct()
    doc_bigrams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_bigram_pairs(text_col)).alias("p"),
    ).select("id", "p.w1", "p.w2")
    scored = (
        doc_bigrams.join(model.select("w1", "w2", "c12"), ["w1", "w2"], "left")
        .join(c1tab, ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "id",
            (
                (F.coalesce(F.col("c12"), F.lit(0)) + 1)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("p"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.sum(F.log("p")) / F.count(F.lit(1)), 6).alias("nll"),
    )


def bigram_nll_dual(
    docs: DataFrame,
    curated: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, nll_raw, nll_tgt): per-document surprisal under BOTH the
    whole-corpus bigram model and the curated-subset model — the two
    quantities DSIR importance weighting subtracts — in ONE fused plan
    instead of two bigram_counts + two bigram_nll_under graphs (which
    cost four corpus tokenize+explode passes and two corpus-side joins).

    Here the corpus explodes twice total (once to train, once to score)
    and the exploded stream joins ONCE: the combined model table carries
    (c12_raw, c12_tgt, c1_raw, c1_tgt) per bigram, where the target
    columns are conditional aggregates of the SAME groupBy — a bigram
    outside the curated subset gets c12_tgt = 0 and c1_tgt = the curated
    mass of its context, which is exactly bigram_nll_under's LEFT-join
    add-one smoothing, now for free on the inner join that is valid
    against the raw model (every corpus bigram is in it). V_raw / V_tgt
    fold to one broadcast scalar row off the vocab-bounded model. At
    scale: model size is vocab^2-bounded (AQE broadcasts it when small),
    the skew-safe groupBy form is chosen by the same _window_form_ok
    gate as bigram_nll (ADVICE r18) so the corpus never shuffles
    pre-aggregation there, and the per-doc reduce is a
    map-side-combined groupBy on id."""
    from pyspark.sql.window import Window

    db = docs.select(
        F.col(id_col).alias("id"),
        curated.cast("int").alias("cur"),
        F.explode(_bigram_pairs(text_col)).alias("p"),
    ).select("id", "cur", "p.w1", "p.w2")
    c1w = Window.partitionBy("w1")
    if _window_form_ok(docs):
        # small input (round 17, the bigram_nll finding, guide §2.4):
        # the combined model is an aggregate of THIS stream, so take
        # all four counts from windows over one exploded pass — c1r/c1t
        # over the w1 partition, c12r/c12t over (w1, w2), which reuses
        # the w1 exchange (subset clustering) with only a sort —
        # instead of a groupBy subtree joined back. Drops one corpus
        # tokenize+explode traversal and the (w1, w2) join exchange; V
        # still folds off a model-shaped aggregate of its own pass.
        c12w = Window.partitionBy("w1", "w2")
        model = (
            db.withColumn("c1r", F.count(F.lit(1)).over(c1w))
            .withColumn("c1t", F.sum("cur").over(c1w))
            .withColumn("c12r", F.count(F.lit(1)).over(c12w))
            .withColumn("c12t", F.sum("cur").over(c12w))
        )
        v = db.agg(
            F.count_distinct("w2").alias("vr"),
            F.count_distinct(
                F.when(F.col("cur") == 1, F.col("w2"))
            ).alias("vt"),
        )
        scored = model.crossJoin(F.broadcast(v))
    else:
        # large input: vocab^2-bounded model via map-side groupBy, one
        # corpus-side join — no corpus-sized window shuffle by w1
        model = (
            db.groupBy("w1", "w2")
            .agg(
                F.count(F.lit(1)).alias("c12r"),
                F.sum("cur").alias("c12t"),
            )
            .withColumn("c1r", F.sum("c12r").over(c1w))
            .withColumn("c1t", F.sum("c12t").over(c1w))
        )
        v = model.agg(
            F.count_distinct("w2").alias("vr"),
            F.count_distinct(
                F.when(F.col("c12t") > 0, F.col("w2"))
            ).alias("vt"),
        )
        scored = (
            db.drop("cur").join(model, ["w1", "w2"])
            .crossJoin(F.broadcast(v))
        )
    return scored.groupBy("id").agg(
        F.round(
            -F.sum(F.log((F.col("c12r") + 1) / (F.col("c1r") + F.col("vr"))))
            / F.count(F.lit(1)),
            6,
        ).alias("nll_raw"),
        F.round(
            -F.sum(F.log((F.col("c12t") + 1) / (F.col("c1t") + F.col("vt"))))
            / F.count(F.lit(1)),
            6,
        ).alias("nll_tgt"),
    )
