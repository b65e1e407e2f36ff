"""Model-based quality scoring and dataset-split queries (round 7,
operators/scoring.py): the learned-filter + split stage between cleaning
and tokenization in a training-data pipeline.

q117: fastText-shaped hashed linear classifier score per doc.
q118: corpus-bigram LM surprisal per doc (the perplexity quality gate).
q119: deterministic engine-portable train/val/test split.
All three hash-check exact VALUES cross-engine (portable md5-derived
hashes, ln, fixed literal weights, ROUND)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scoring import fixture_weights, md5_hash32_sql
from ..tables import table
from . import broadcast_if_small, memo, query
from .curation_q import _UNIFORM_SQL, _uniform01

_W, _BIAS = fixture_weights(64)
_W_SQL = "[" + ",".join(repr(x) for x in _W) + "]"


@query(
    "qz117_quality_model",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x != '') AS tk
               FROM documents),
    s AS (SELECT doc_id,
                 list_sum(list_transform(tk,
                     x -> ({_W_SQL})[CAST(({md5_hash32_sql("x")}) % 64
                                          AS INT) + 1])) AS tot,
                 len(tk) AS n
          FROM t)
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-({_BIAS} + tot / greatest(n, 1)))), 6)
             AS score
    FROM s
    """,
    tags=("llm", "curation", "scoring"),
)
def q117(spark: SparkSession, sf: str) -> DataFrame:
    """Learned quality-filter scoring (operators/scoring.py::
    hashed_linear_score): sigmoid of the mean hashed-bucket weight over
    the doc's tokens — the fastText-classifier gate of RefinedWeb/CCNet
    pipelines as ONE map-side JVM aggregate against a broadcast weight
    literal (no model server, no UDF, no shuffle). The fixture weight
    table stands in for trained weights; the portable md5-derived token
    hash makes every score recomputable in DuckDB — values, not flags,
    are hash-checked."""
    from ..operators.scoring import hashed_linear_score

    d = table(spark, sf, "documents")
    return d.select(
        "doc_id", hashed_linear_score(F.col("text"), _W, _BIAS).alias("score")
    )


@query(
    "qz118_bigram_nll",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x != '') AS tk
               FROM documents),
    db AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
           FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
           WHERE len(tk) >= 2),
    c AS (SELECT w1, w2, COUNT(*) AS c12 FROM db GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w2) AS v FROM c)
    SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(LN((c.c12 + 1.0) / (c1.c1 + v.v))) / COUNT(*), 6)
             AS nll
    FROM db JOIN c USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
    tags=("llm", "curation", "scoring"),
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-LM surprisal per document (operators/scoring.py::
    bigram_nll): mean negative log-likelihood under an add-one-smoothed
    corpus bigram model — the CCNet KenLM-perplexity quality gate,
    reduced to a model the oracle recomputes EXACTLY (no external LM).
    Outlier docs (far from the corpus distribution) score high and get
    filtered. Plan: c1 and V fold into the vocabulary-bounded count
    table before the single corpus-side join."""
    from ..operators.scoring import bigram_nll

    d = table(spark, sf, "documents")
    return bigram_nll(d)


@query(
    "qz119_train_split",
    oracle=f"""
    WITH u AS (SELECT doc_id, lang, {_UNIFORM_SQL.format(salt=271)} AS u
               FROM documents)
    SELECT doc_id, lang,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """,
    tags=("llm", "curation", "sampling"),
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split on the portable id
    hash (shared mul_hash32 implementation — the same uniform that
    drives q78's sampler and q108's reservoir): assignment is a pure
    map-side filterable expression, reproducible across engines, runs
    and cluster sizes — never rand(). The uniform is an exact rational
    (k/2^32) in both engines, so threshold comparisons are exact and the
    full assignment hash-checks."""
    d = table(spark, sf, "documents")
    u = _uniform01("doc_id", salt=271)
    return d.select(
        "doc_id",
        "lang",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
        .alias("split"),
    )


def _q120_oracle() -> str:
    from .llm import _PAIRS_WITH
    from ..operators.sampling import mul_hash32_sql

    u = "(" + mul_hash32_sql("key + 271") + ") / 4294967296.0"
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
    u AS (SELECT doc_id, key, {u} AS u FROM k)
    SELECT doc_id, CAST(key AS BIGINT) AS split_key,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """


@query(
    "qz120_leakage_safe_split",
    oracle=_q120_oracle(),
    tags=("llm", "curation", "sampling", "dedup"),
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe dataset split: q119's deterministic 80/10/10, but
    keyed on the NEAR-DUP CLUSTER representative (min-id of the q93
    cluster map, the doc's own id for singletons) instead of the doc id
    — so near-duplicate documents can never straddle train and test,
    closing the eval-contamination hole a naive per-doc split leaves
    open (a test doc's near-copy in train is leakage exact-dedup never
    caught). Costs one broadcastable join against the
    materialize-once cluster map; the assignment stays a deterministic,
    engine-portable expression, hash-checked against DuckDB recomputing
    the clusters via recursive CTE."""
    from ..operators.sampling import mul_hash32
    from .llm import _dup_cluster_map

    clusters = _dup_cluster_map(spark, sf)
    d = table(spark, sf, "documents").select("doc_id")
    # same size-gated broadcast as q93: the cluster map is usually tiny
    # but can run corpus-proportional on heavy-dup web corpora
    keyed = d.join(
        broadcast_if_small(clusters), d.doc_id == clusters.node, "left"
    ).select(
        "doc_id", F.coalesce("cluster", "doc_id").alias("split_key")
    )
    u = mul_hash32(F.col("split_key") + F.lit(271)) / F.lit(4294967296.0)
    return keyed.select(
        "doc_id",
        "split_key",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
        .alias("split"),
    )


def _q121_oracle() -> str:
    from .curation_q import _HTML_WRAP_SQL, _STRIP_HTML_SQL

    score = (
        f"ROUND(1.0 / (1.0 + exp(-({_BIAS} + "
        f"list_sum(list_transform(tk, x -> ({_W_SQL})"
        f"[CAST(({md5_hash32_sql('x')}) % 64 AS INT) + 1]))"
        f" / greatest(len(tk), 1)))), 6)"
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 11 = 4
    ),
    wrapped AS (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM corpus),
    cleaned AS (SELECT doc_id,
                       {_STRIP_HTML_SQL.format(col="html")} AS clean
                FROM wrapped),
    tok AS (SELECT doc_id, clean,
                   list_filter(string_split(clean, ' '), x -> x != '') AS tk
            FROM cleaned),
    scored AS (SELECT doc_id, clean, tk, {score} AS score FROM tok),
    db AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
           FROM tok, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
           WHERE len(tk) >= 2),
    c AS (SELECT w1, w2, COUNT(*) AS c12 FROM db GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w2) AS v FROM c),
    nll AS (SELECT doc_id,
                   ROUND(-SUM(LN((c.c12 + 1.0) / (c1.c1 + v.v)))
                         / COUNT(*), 6) AS nll
            FROM db JOIN c USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
            GROUP BY doc_id),
    flags AS (SELECT s.doc_id, s.score, n.nll,
                     CAST(s.score >= 0.5 AND n.nll <= 3.6 AS INT)
                       AS keep_quality,
                     CAST(s.doc_id = MIN(s.doc_id)
                          OVER (PARTITION BY md5(s.clean)) AS INT)
                       AS keep_dedup
              FROM scored s JOIN nll n USING (doc_id))
    SELECT doc_id, score, nll, keep_quality, keep_dedup,
           CAST(keep_quality = 1 AND keep_dedup = 1 AS INT) AS kept
    FROM flags
    """


@query(
    "qz121_web_ingest_e2e",
    oracle=_q121_oracle(),
    tags=("llm", "curation", "scoring", "text", "pipeline"),
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    """The modern web-ingest pipeline end to end, one DataFrame graph:
    HTML boilerplate stripped (strip_html over q110's wrapper corpus
    with mirrors), learned quality score (q117's hashed linear model)
    AND corpus-LM surprisal (q118's bigram NLL) gates on the CLEANED
    text, exact-dedup survivorship over the cleaned digest (mirrors
    collapse with originals — the raw-HTML digest never would), final
    kept verdict per doc. Everything stays one JVM plan: map-side strip
    + score, one vocabulary-bounded LM join, one digest window. Per-doc
    score, nll and all three flags hash-check against DuckDB composing
    the same five stages."""
    from pyspark.sql.window import Window

    from ..operators.scoring import bigram_nll, hashed_linear_score
    from ..operators.text import strip_html
    from .curation_q import _html_wrap_expr

    d = table(spark, sf, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 11 == 4).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    cleaned = corpus.select(
        "doc_id", strip_html(_html_wrap_expr()).alias("clean")
    )
    scored = cleaned.select(
        "doc_id",
        "clean",
        hashed_linear_score(F.col("clean"), _W, _BIAS).alias("score"),
    )
    nll = bigram_nll(cleaned, id_col="doc_id", text_col="clean").select(
        F.col("id").alias("doc_id"), "nll"
    )
    w = Window.partitionBy(F.md5("clean"))
    flags = (
        scored.join(nll, "doc_id")
        .select(
            "doc_id",
            "score",
            "nll",
            ((F.col("score") >= 0.5) & (F.col("nll") <= 3.6))
            .cast("int")
            .alias("keep_quality"),
            (F.col("doc_id") == F.min("doc_id").over(w))
            .cast("int")
            .alias("keep_dedup"),
        )
    )
    return flags.withColumn(
        "kept",
        ((F.col("keep_quality") == 1) & (F.col("keep_dedup") == 1))
        .cast("int"),
    )


_DSIR_CURATED = "('src0', 'src1', 'src2')"


@query(
    "qz129_dsir_resample",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      list_filter(string_split(text, ' '), x -> x != '') AS tk
               FROM documents),
    db AS (SELECT doc_id, source, tk[i] AS w1, tk[i + 1] AS w2
           FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
           WHERE len(tk) >= 2),
    cr AS (SELECT w1, w2, COUNT(*) AS c12 FROM db GROUP BY 1, 2),
    cr1 AS (SELECT w1, SUM(c12) AS c1 FROM cr GROUP BY 1),
    vr AS (SELECT COUNT(DISTINCT w2) AS v FROM cr),
    ct AS (SELECT w1, w2, COUNT(*) AS c12 FROM db
           WHERE source IN {_DSIR_CURATED} GROUP BY 1, 2),
    ct1 AS (SELECT w1, SUM(c12) AS c1 FROM ct GROUP BY 1),
    vt AS (SELECT COUNT(DISTINCT w2) AS v FROM ct),
    nr AS (SELECT doc_id,
                  ROUND(-SUM(LN((COALESCE(cr.c12, 0) + 1.0)
                                / (COALESCE(cr1.c1, 0) + vr.v)))
                        / COUNT(*), 6) AS nll
           FROM db LEFT JOIN cr USING (w1, w2) LEFT JOIN cr1 USING (w1)
                CROSS JOIN vr
           GROUP BY doc_id),
    nt AS (SELECT doc_id,
                  ROUND(-SUM(LN((COALESCE(ct.c12, 0) + 1.0)
                                / (COALESCE(ct1.c1, 0) + vt.v)))
                        / COUNT(*), 6) AS nll
           FROM db LEFT JOIN ct USING (w1, w2) LEFT JOIN ct1 USING (w1)
                CROSS JOIN vt
           GROUP BY doc_id),
    s AS (SELECT d.doc_id, d.source,
                 ROUND(nr.nll - nt.nll, 6) AS logw
          FROM documents d JOIN nr ON nr.doc_id = d.doc_id
                           JOIN nt ON nt.doc_id = d.doc_id),
    ranked AS (SELECT doc_id, source, logw,
                      ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS rnk,
                      COUNT(*) OVER () AS tot
               FROM s)
    SELECT doc_id, source, logw FROM ranked
    WHERE rnk <= CAST(ceil(0.25 * tot) AS BIGINT)
    """,
    tags=("llm", "curation", "scoring", "sampling"),
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, reduced to the exactly
    recomputable bigram case): importance log-weight = nll_raw −
    nll_target, where both surprisals come from add-one-smoothed bigram
    models — raw trained on the whole corpus, target on the curated
    sources — and every document is scored under BOTH via
    operators/scoring.py::bigram_nll_dual: ONE combined model table
    carries raw and curated counts as conditional aggregates of the
    same groupBy, so the corpus explodes twice total (train, score) and
    the exploded stream joins once — where the naive composition (two
    bigram_counts + two LEFT-join scorings) costs four tokenize+explode
    passes and two corpus-side joins, and benched ~6x slower. The top
    25% by log-weight are the selected pretraining subset; k comes from
    a lightweight >= 2-token doc count (never a re-execution of the
    scoring graph) and the selection is orderBy+limit — TakeOrdered's
    per-partition top-k, never a global sort. Values (log-weights),
    membership and order all hash-check in DuckDB."""
    import math

    from ..operators.scoring import bigram_nll_dual

    d = table(spark, sf, "documents")
    dual = bigram_nll_dual(
        d, F.col("source").isin("src0", "src1", "src2")
    )
    s = (
        d.select(F.col("doc_id").alias("id"), "source")
        .join(dual, "id")
        .select(
            F.col("id").alias("doc_id"),
            "source",
            F.round(F.col("nll_raw") - F.col("nll_tgt"), 6).alias("logw"),
        )
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n = memo(  # docs that carry bigrams
        spark,
        ("dsir_bigram_docs", sf),
        lambda: d.where(F.size(toks) >= 2).count(),
        label="dsir_bigram_docs",
    )
    return s.orderBy(F.col("logw").desc(), "doc_id").limit(
        math.ceil(0.25 * n)
    )
