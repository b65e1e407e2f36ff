"""Corpus-curation queries: deterministic sampling and the end-to-end
quality-filter + dedup curation pass a training-data pipeline runs before
tokenization (north-star extension; SURVEY.md §2.3 family Q50-Q53).

q66: exact stratified sample (hash-checked — md5-order selection is
     engine-independent).
q67: curation pipeline = language-ID + quality score + token gate + exact-
     dedup survivorship in one pass (hash-checked).
q68: shuffle-free hash sampling (xxhash64 isn't portable to DuckDB, so it
     self-verifies rate + determinism and emits an ok flag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from . import broadcast_if_small, built, law, memo, query, spread_scan

_STOP_SQL = "('the','a','of','and','to','in','is','it')"


@query(
    "qz66_stratified_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT doc_id, lang FROM t WHERE rn <= CEIL(n * 0.1)
    """,
    tags=("llm", "curation", "sampling"),
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 10% stratified sample per language: ceil(0.1*n) docs per
    stratum, selected by md5(id) order — deterministic, engine-independent,
    one window shuffle (operators/sampling.py)."""
    from ..operators.sampling import stratified_sample_exact

    d = table(spark, sf, "documents")
    return (
        stratified_sample_exact(d, ["lang"], 0.1, id_col="doc_id")
        .select("doc_id", "lang")
    )


@query(
    "qz67_curation_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
               FROM documents),
         m AS (SELECT doc_id, text, len(toks) AS n_tok,
                      len(list_filter(toks, x -> x IN {_STOP_SQL})) / len(toks) AS sw,
                      list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                        / len(toks) AS ml,
                      md5(text) AS digest
               FROM t),
         s AS (SELECT doc_id,
                      CASE WHEN regexp_matches(text, '[\\x{{4E00}}-\\x{{9FFF}}]') THEN 'zh'
                           WHEN regexp_matches(text, '[\\x{{0400}}-\\x{{04FF}}]') THEN 'ru'
                           WHEN regexp_matches(text, '[äöüßÄÖÜ]') THEN 'de'
                           WHEN regexp_matches(text, '[ñáéíóú¡¿]') THEN 'es'
                           ELSE 'en' END AS lang_pred,
                      n_tok,
                      ROUND((least(sw * 5, 1.0) +
                             CASE WHEN ml >= 3 AND ml <= 10 THEN 1.0 ELSE 0.5 END) / 2, 6)
                        AS quality,
                      CAST(doc_id = MIN(doc_id) OVER (PARTITION BY digest) AS INT)
                        AS keep
               FROM m)
    SELECT doc_id, lang_pred, CAST(n_tok AS INT) AS n_tok, quality
    FROM s
    WHERE keep = 1 AND quality >= 0.5 AND n_tok BETWEEN 5 AND 10000
    """,
    tags=("llm", "curation"),
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical pre-tokenization curation pass, one DataFrame graph:
    language-ID + quality score (text ops), token-count gate, exact-dedup
    survivorship — emit the curated doc list. All JVM-side expressions;
    survivorship is the digest window computed INLINE on the scored rows
    (one shuffle on the high-cardinality digest, no join-back — the shape
    that survives a 100 B-doc corpus)."""
    from pyspark.sql.window import Window

    from ..operators.text import lang_id, quality_score, token_count

    d = table(spark, sf, "documents")
    w = Window.partitionBy("digest")
    curated = (
        d.select(
            "doc_id",
            lang_id("text").alias("lang_pred"),
            token_count("text").alias("n_tok"),
            quality_score("text").alias("quality"),
            F.md5("text").alias("digest"),
        )
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
        .filter(
            F.col("keep")
            & (F.col("quality") >= 0.5)
            & F.col("n_tok").between(5, 10000)
        )
        .select("doc_id", "lang_pred", "n_tok", "quality")
    )
    return curated


@query(
    "qz68_hash_sample_ok",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("llm", "curation", "sampling", "sketch"),
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-free deterministic sampling (filter on xxhash64 bucket —
    the 100 TB default; no exchange, stable under task retry), self-
    verified in one job: sampled rate within ±50% of the 20% target (the
    xxhash64 outcome is FIXED per corpus, so this flag is deterministic)
    and bucket values in range."""
    from ..operators.sampling import hash_bucket

    d = table(spark, sf, "documents")
    thresh = int(0.2 * 1_000_000)
    return d.select(
        F.count(F.lit(1)).alias("n"),
        F.sum((hash_bucket("doc_id") < thresh).cast("int")).alias("s"),
    ).select(
        F.when((F.col("s") / F.col("n")).between(0.1, 0.3), 1)
        .otherwise(0)
        .cast("int")
        .alias("ok")
    )


@query(
    "qz74_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(
               regexp_replace(text, '([0-9]+|[^a-zA-Z0-9 ])', ' \1 ', 'g'),
               ' +'), x -> x != '')) AS INT) AS n_bpe,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws
    FROM documents
    """,
    tags=("llm", "text"),
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting both ways (SURVEY §2.3 Q52 family): whitespace and
    the BPE-ish regex split (digits + punctuation as separate tokens) —
    the cheap subword proxy when no trained tokenizer ships. Pure JVM
    regexp; the oracle mirrors it with RE2 in DuckDB."""
    from ..operators.text import bpe_ish_tokens, token_count

    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(bpe_ish_tokens("text")).alias("n_bpe"),
        token_count("text").alias("n_ws"),
    )


# One 5-gram shingle index over ALL documents, materialized once per
# (session, sf): eval and corpus sides are row-filters of it (q75, q100's
# pipeline, q90's Bloom check) — re-shingling per run would dominate.
def _shingle_index_k5(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import shingle_index

    d = table(spark, sf, "documents").select("doc_id", "text")
    return memo(
        spark, ("shingle_index_k5", sf),
        lambda: built(shingle_index(spread_scan(d), k=5).persist()),
        label="shingle_index_k5",
    )


@query(
    "qz75_decontamination",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         idx AS (SELECT doc_id, toks,
                        unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i
                 FROM t),
         sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS s
                FROM idx),
         ev AS (SELECT * FROM sh WHERE doc_id < 20),
         corp AS (SELECT * FROM sh WHERE doc_id >= 20),
         esz AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
         common AS (SELECT e.doc_id AS eval_id, c.doc_id AS corpus_id,
                           COUNT(*) AS inter
                    FROM ev e JOIN corp c ON e.s = c.s
                    GROUP BY 1, 2)
    SELECT eval_id, corpus_id,
           ROUND(inter / esz.n, 3) AS containment
    FROM common JOIN esz ON eval_id = esz.doc_id
    WHERE inter / esz.n >= 0.5
    """,
    tags=("llm", "curation", "dedup"),
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination: docs with id < 20 play the benchmark/eval
    set; emit corpus documents whose 5-gram CONTAINMENT of an eval doc is
    >= 0.5 (operators/dedup.py ngram_containment_pairs — inverted-index
    join, eval index broadcast, corpus never shuffles)."""
    from ..operators.dedup import ngram_containment_pairs

    d = table(spark, sf, "documents")
    evalset = d.filter(F.col("doc_id") < 20)
    corpus = d.filter(F.col("doc_id") >= 20)
    full_idx = _shingle_index_k5(spark, sf)
    return ngram_containment_pairs(
        corpus, evalset, k=5, threshold=0.5,
        corpus_index=full_idx.filter(F.col("id") >= 20),
        eval_index=full_idx.filter(F.col("id") < 20),
    )


# ---------------------------------------------------------------------------
# round-5 surface: weighted/mixture sampling, PII scrubbing, bigram LM stats
# ---------------------------------------------------------------------------

# Engine-portable deterministic uniform in [0,1): Knuth multiplicative
# hash of the id. Both engines evaluate arithmetic with identical VALUES
# for every BIGINT id, so the sample is hash-checkable cross-engine — the
# property xxhash64 (q68's shuffle-free sampler) can't give. The hash's
# low bits are weaker than xxhash64's; for adversarial id distributions
# prefer the xxhash64 sampler.


# Canonical implementation lives with the sampling operators; re-exported
# here because every shard/sample call site below (and the property test)
# historically referenced it under this name. One implementation, one SQL
# twin — engine and oracle can never drift.
from ..operators.sampling import mul_hash32 as _mul_hash32  # noqa: E402
from ..operators.sampling import mul_hash32_sql as _mul_hash32_sql  # noqa: E402


def _uniform01(col, salt: int = 0):
    return _mul_hash32(F.col(col) + F.lit(salt)) / F.lit(4294967296.0)


# Overflow-safe oracle twin of _uniform01 — same split-multiply arithmetic
# as the engine (mul_hash32_sql), so the pair agrees for ALL doc_id ranges,
# not just ids below the naive form's ~3.47e9 signed-64 overflow point.
_UNIFORM_SQL = "(" + _mul_hash32_sql("doc_id + {salt}") + ") / 4294967296.0"
_SHARD16_SQL = "(" + _mul_hash32_sql("doc_id") + ") % 16"


@query(
    "qz78_weighted_sample",
    oracle=f"""
    SELECT doc_id, ROUND(LEAST(n_chars / 400.0, 1.0), 6) AS w
    FROM documents
    WHERE {_UNIFORM_SQL.format(salt=0)} < LEAST(n_chars / 400.0, 1.0)
    """,
    tags=("llm", "curation", "sampling"),
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted downsampling: keep each doc with probability equal
    to its weight (here length-derived, capped at 1) by comparing a
    deterministic per-id uniform against the weight. The standard
    mixture-reweighting primitive for training corpora — map-only, zero
    shuffle, stable under task retry; at 100 TB this is a scan+filter
    whose selectivity is the mean weight."""
    d = table(spark, sf, "documents")
    w = F.least(F.col("n_chars") / 400.0, F.lit(1.0))
    return (
        d.withColumn("w", F.round(w, 6))
        .filter(_uniform01("doc_id") < w)
        .select("doc_id", "w")
    )


@query(
    "qz79_pii_scrub",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                  ELSE '' END ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
                  ELSE '' END AS raw
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(raw, '\b555-[0-9]{4}\b')) AS INT) AS n_phone,
           md5(regexp_replace(regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS scrub_md5
    FROM t
    """,
    tags=("llm", "curation", "text"),
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing: redact emails and phone-shaped tokens, count the
    redactions, and hash the scrubbed text (the fixture injects
    deterministic PII derived from doc_id so there is real signal to
    scrub). Pure JVM regexp — map-only, the regex subset (char classes,
    \\b, {m,n}) behaves identically under Java regex and RE2, which the
    cross-engine hash check enforces."""
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\b555-[0-9]{4}\b"
    d = table(spark, sf, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(email_re)).cast("int").alias("n_email"),
        F.regexp_count(raw, F.lit(phone_re)).cast("int").alias("n_phone"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


@query(
    "qz80_source_mixture",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_UNIFORM_SQL.format(salt=7919)} <
          CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0.9
               WHEN source IN ('src3', 'src4') THEN 0.5
               ELSE 0.2 END
    """,
    tags=("llm", "curation", "sampling"),
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-mixture sampling: each source gets a target inclusion rate
    (up-weight curated sources, down-weight bulk crawl) applied as a
    deterministic per-id uniform threshold — how a 100 TB pretraining mix
    is drawn without a shuffle or a count pass. Map-only; the realized
    mix converges to the rates by LLN, and determinism makes the draw
    reproducible across reruns and engines (hash-checked)."""
    d = table(spark, sf, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 0.9)
        .when(F.col("source").isin("src3", "src4"), 0.5)
        .otherwise(0.2)
    )
    return d.filter(_uniform01("doc_id", salt=7919) < rate).select(
        "doc_id", "source"
    )


def _roundtrip_ok(d: DataFrame, back: DataFrame) -> DataFrame:
    """ok iff a written-and-read-back copy of documents keeps every row:
    equal count and order-insensitive digest-sum over all fields."""

    def digest(df: DataFrame, suffix: str) -> DataFrame:
        return df.select(
            F.count(F.lit(1)).alias("n" + suffix),
            F.sum(
                F.xxhash64("doc_id", "text", "lang", "source", "n_chars").cast(
                    "decimal(38,0)"
                )
            ).alias("h" + suffix),
        )

    return digest(d, "").crossJoin(digest(back, "_back")).select(
        law(
            (F.col("n") == F.col("n_back"))
            & F.col("h").eqNullSafe(F.col("h_back"))
        )
    )


@query(
    "qz81_jsonl_roundtrip",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("formats", "sink"),
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL sink/source round-trip (the interchange format of training-
    data pipelines): write documents as line-delimited JSON, read it back
    with an explicit schema (schema inference at 100 TB means reading the
    corpus twice), and self-verify the round-trip preserved every row
    (count + order-insensitive digest-sum over all fields). ok=1 pinned
    by the oracle."""
    import tempfile

    d = table(spark, sf, "documents")

    def _write():
        out = tempfile.mkdtemp(prefix="jsonl_rt_")
        d.coalesce(4).write.mode("overwrite").json(out)
        return out

    path = memo(spark, ("jsonl_dir", sf), _write, label="jsonl_dir")
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(path)
    return _roundtrip_ok(d, back)


@query(
    "qz82_bigram_topk",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
               FROM t)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 50
    """,
    tags=("llm", "text"),
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide top-50 bigrams (n-gram LM statistics; unigram vocab is
    q72). zip_with over two shifted slices builds bigrams without a
    Python round-trip; explode -> partial-agg -> shuffle on the bigram
    key -> global top-k. Same scale shape as vocab counting: the shuffle
    carries one row per DISTINCT bigram per partition (map-side combine),
    not one per occurrence."""
    d = table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(50)
    )


@query(
    "qz91_shard_export",
    oracle=f"""
    WITH s AS (SELECT *, {_SHARD16_SQL} AS shard
               FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY shard ORDER BY shard
    """,
    tags=("llm", "curation"),
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-shard assignment: the engine-portable
    multiplicative hash (same arithmetic as _uniform01) buckets every doc
    into one of 16 shards — the global pseudo-shuffle ahead of a sharded
    training-data export, so shard membership is reproducible across runs
    and engines (vs. repartition(), whose assignment is plan-dependent).
    The query emits the per-shard manifest (doc count, byte mass, source
    spread, id range) that a writer would log; the actual parquet write
    (df.repartition('shard').write.partitionBy('shard') with
    maxRecordsPerFile) is exercised in tests — at 100 TB each shard lands
    as its own partition directory, written in parallel, no driver
    choke point. ORDER BY shard is semantic: the manifest is the output."""
    d = table(spark, sf, "documents")
    shard = F.pmod(_mul_hash32(F.col("doc_id")), F.lit(16))
    return (
        d.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@query(
    "qz101_nightly_rollup",
    oracle=f"""
    WITH s AS (SELECT *, {_SHARD16_SQL} AS shard
               FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(1 AS INT) AS est_ok
    FROM s GROUP BY shard ORDER BY shard
    """,
    tags=("llm", "curation", "sketch", "incremental", "pipeline"),
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    """The nightly shard-summary maintenance pipeline: q91's portable
    shard manifest composed with q96's incremental HLL contract, in one
    declared query. Each night the new batch (here: doc_id above the
    median, the same split rule as q96) must update the per-shard
    distinct-doc summary WITHOUT re-scanning history: sketch ONLY the
    new rows per shard, merge with the stored per-shard sketch table via
    hll_union_agg (hll_rollup), and re-emit the manifest. The exact
    columns (n_docs, sum_chars) are hash-checked against DuckDB; the
    sketch path is verified in-row — est_ok=1 iff the merged estimate is
    within 5% of the shard's exact count (HLL lgk=14 on a few hundred
    ids per shard is sub-1% in practice, so the flag is deterministic).
    At 100 TB the nightly cost is one scan of the NEW partition plus a
    16-row sketch merge — history is never re-read; the oracle pins the
    from-scratch result the incremental path must converge to."""
    from ..operators.sketches import hll_rollup, hll_sketch_table

    d = table(spark, sf, "documents").select(
        "doc_id", "n_chars", F.pmod(_mul_hash32(F.col("doc_id")), F.lit(16)).alias("shard")
    )
    split = d.agg(F.expr("percentile_approx(doc_id, 0.5, 10000)")).scalar()
    old = d.filter(F.col("doc_id") <= split)
    new = d.filter(F.col("doc_id") > split)
    stored = hll_sketch_table(old, ["shard"], "doc_id", lgk=14)
    fresh = hll_sketch_table(new, ["shard"], "doc_id", lgk=14)
    merged = hll_rollup(
        stored.unionByName(fresh), ["shard"], "doc_id_hll", out="est"
    )
    manifest = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return (
        manifest.join(merged, "shard")
        .select(
            "shard",
            "n_docs",
            "sum_chars",
            (
                (F.abs(F.col("est") - F.col("n_docs")) / F.col("n_docs"))
                <= 0.05
            )
            .cast("int")
            .alias("est_ok"),
        )
        .orderBy("shard")
    )


_SEG = 16


@query(
    "qz92_segment_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         w AS (SELECT doc_id, toks,
                      unnest(range(0, len(toks), {_SEG})) AS start FROM t),
         s AS (SELECT doc_id,
                      md5(array_to_string(toks[start+1:start+{_SEG}], ' '))
                        AS seg
               FROM w WHERE len(toks[start+1:start+{_SEG}]) = {_SEG}),
         c AS (SELECT seg, COUNT(*) AS n FROM s GROUP BY seg)
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg,
           CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_seg,
           ROUND(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS dup_frac
    FROM s JOIN c USING (seg)
    GROUP BY s.doc_id
    """,
    tags=("llm", "curation", "dedup"),
)
def q92(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document (segment-level) dedup: CCNet-style granularity one
    level below q50a's whole-document hash. Docs split into non-
    overlapping 16-token segments (full segments only — trailing
    fragments are mostly stopword-heavy noise); a segment occurring under
    more than one (doc, position) anywhere in the corpus is duplicated,
    and each doc reports its duplicated-segment fraction — the signal
    used to strip boilerplate that survives document-level dedup. Plan:
    explode is map-side; ONE shuffle on the segment hash builds the
    occurrence counts; the count joins back on the same key (AQE turns it
    into a co-partitioned join, no third shuffle of the big side); per-doc
    agg shuffles on doc_id. All hashing/slicing is JVM expressions."""
    from ..operators.text import tokens

    d = table(spark, sf, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    w = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)),
                       F.lit(_SEG))
        ).alias("start"),
    )
    seg_col = F.slice("toks", F.col("start") + 1, _SEG)
    s = w.select(
        "doc_id", F.md5(F.concat_ws(" ", seg_col)).alias("seg"),
        F.size(seg_col).alias("n_tok"),
    ).filter(F.col("n_tok") == _SEG).drop("n_tok")
    # occurrence counts via a partition-only window, not groupBy+join-back:
    # ONE scan of the exploded segment stream and one shuffle on the
    # segment hash (the join form scans it twice) — measured 1.5x faster
    # at sf0.1 and strictly fewer passes at any scale
    from pyspark.sql.window import Window

    n = F.count(F.lit(1)).over(Window.partitionBy("seg"))
    return (
        s.withColumn("n", n)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_seg"),
            F.sum((F.col("n") > 1).cast("int")).alias("dup_seg"),
            F.round(
                F.sum((F.col("n") > 1).cast("int")) / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


@query(
    "qz97_orc_roundtrip",
    oracle="SELECT CAST(1 AS INT) AS ok",
    tags=("formats", "sink"),
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink/source round-trip (q81's JSONL twin for the other
    columnar ecosystem): write documents as ORC, read back, self-verify
    count + order-insensitive digest-sum over all fields. Exercises the
    second native columnar format end-to-end — predicate pushdown and
    column pruning ride the same Catalyst scan machinery as parquet."""
    import tempfile

    d = table(spark, sf, "documents")

    def _write():
        out = tempfile.mkdtemp(prefix="orc_rt_")
        d.coalesce(4).write.mode("overwrite").orc(out)
        return out

    path = memo(spark, ("orc_dir", sf), _write, label="orc_dir")
    back = spark.read.orc(path)
    return _roundtrip_ok(d, back)


def _q100_oracle() -> str:
    from .llm import _PAIRS_WITH

    return f"""
    WITH RECURSIVE {_PAIRS_WITH},
    ev AS (SELECT * FROM sh WHERE doc_id < 20),
    corp AS (SELECT * FROM sh WHERE doc_id >= 20),
    esz AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
    commonc AS (SELECT e.doc_id AS eval_id, c.doc_id AS corpus_id,
                       COUNT(*) AS inter
                FROM ev e JOIN corp c ON e.s = c.s GROUP BY 1, 2),
    contaminated AS (SELECT DISTINCT corpus_id AS doc_id
                     FROM commonc JOIN esz ON eval_id = esz.doc_id
                     WHERE inter / esz.n >= 0.5),
    edges AS (SELECT ida AS src, idb AS dst FROM pairs
              UNION SELECT idb, ida FROM pairs),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach(n, lbl) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.n
    ),
    comp AS (SELECT n AS node, MIN(lbl) AS cluster FROM reach GROUP BY n),
    ranked AS (SELECT c.cluster, c.node,
                      ROW_NUMBER() OVER (PARTITION BY c.cluster
                                         ORDER BY d.n_chars DESC, c.node ASC)
                        AS rn
               FROM comp c JOIN documents d ON d.doc_id = c.node
               WHERE c.node >= 20),
    losers AS (SELECT node AS doc_id FROM ranked WHERE rn > 1),
    kept AS (SELECT * FROM documents
             WHERE doc_id >= 20
               AND doc_id NOT IN (SELECT doc_id FROM contaminated)
               AND doc_id NOT IN (SELECT doc_id FROM losers))
    SELECT CAST({_SHARD16_SQL} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM kept GROUP BY 1 ORDER BY 1
    """


@query(
    "qz100_curation_e2e",
    oracle=_q100_oracle(),
    tags=("llm", "curation", "dedup", "pipeline"),
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    """The curation pipeline END TO END, composed from the declared
    operators: eval-set decontamination (q75's 5-gram containment, eval
    index broadcast) -> near-dup survivor selection (q93's keep-longest
    policy over the materialize-once cluster map) -> deterministic shard
    manifest of the KEPT corpus (q91's portable hash). One query a
    training-data owner actually runs nightly; every stage reuses the
    session's shared shingle/cluster artifacts, so the marginal cost is
    two anti-joins (AQE broadcasts them when the runtime sides are
    small; no hard hints — see broadcast_if_small) and the manifest
    aggregate. The oracle
    recomputes all three stages from first principles (containment CTEs +
    recursive-CTE components + window rank + shard rollup)."""
    from pyspark.sql.window import Window

    from ..operators.dedup import ngram_containment_pairs
    from .llm import _dup_cluster_map

    d = table(spark, sf, "documents")
    evalset = d.filter(F.col("doc_id") < 20)
    corpus = d.filter(F.col("doc_id") >= 20)
    full_idx = _shingle_index_k5(spark, sf)
    contaminated = (
        ngram_containment_pairs(
            corpus, evalset, k=5, threshold=0.5,
            corpus_index=full_idx.filter(F.col("id") >= 20),
            eval_index=full_idx.filter(F.col("id") < 20),
        )
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    clusters = _dup_cluster_map(spark, sf)
    memb = d.join(
        broadcast_if_small(clusters).filter(F.col("node") >= 20),
        d.doc_id == F.col("node"),
    ).select("cluster", "node", "n_chars")
    rn = F.row_number().over(
        Window.partitionBy("cluster").orderBy(
            F.desc("n_chars"), F.asc("node")
        )
    )
    losers = (
        memb.withColumn("rn", rn)
        .filter(F.col("rn") > 1)
        .select(F.col("node").alias("doc_id"))
    )
    # contaminated/losers are DERIVED frames (not persisted artifacts):
    # counting them to gate a hint would run their pipelines twice, and a
    # hard broadcast is corpus-proportional in the worst case — leave
    # them unhinted and let AQE pick broadcast from runtime sizes.
    kept = corpus.join(contaminated, "doc_id", "left_anti").join(
        losers, "doc_id", "left_anti"
    )
    shard = F.pmod(_mul_hash32(F.col("doc_id")), F.lit(16))
    return (
        kept.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


# Messy-URL construction shared by qz106's Spark and DuckDB sides: scheme
# casing, default ports, doubled path slashes, utm_* tracking params and a
# fragment, all pure functions of doc_id so both engines build IDENTICAL
# inputs and the normalized output hash-checks.
_URL_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
    || '://WWW.Site' || (doc_id % 3) || '.COM'
    || (CASE WHEN doc_id % 3 = 0 THEN ':80'
             WHEN doc_id % 3 = 1 THEN ':443' ELSE '' END)
    || '/Docs//Item' || (doc_id % 5)
    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed'
             ELSE '?utm_source=feed&id=' || (doc_id % 7) || '&utm_campaign=x'
        END)
    || '#sec' || (doc_id % 3)
"""


@query(
    "qz106_url_canonical",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
    s2 AS (SELECT doc_id,
                  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                    AS scheme,
                  regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
           FROM s1),
    s3 AS (SELECT doc_id, scheme,
                  lower(regexp_extract(rest, '^([^/?]+)', 1)) AS host0,
                  regexp_replace(rest, '^[^/?]+', '') AS pathq
           FROM s2),
    s4 AS (SELECT doc_id, scheme,
                  CASE WHEN scheme = 'http' AND host0 LIKE '%:80'
                       THEN regexp_replace(host0, ':80$', '')
                       WHEN scheme = 'https' AND host0 LIKE '%:443'
                       THEN regexp_replace(host0, ':443$', '')
                       ELSE host0 END AS host,
                  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                 '//+', '/') AS path,
                  COALESCE(array_to_string(
                      list_filter(
                          string_split(regexp_extract(pathq, '\\?(.*)$', 1),
                                       '&'),
                          p -> NOT starts_with(p, 'utm_') AND p <> ''),
                      '&'), '') AS kept
           FROM s3),
    n AS (SELECT doc_id,
                 scheme || '://' || host || path ||
                 CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS url_norm
          FROM s4)
    SELECT doc_id, url_norm,
           CAST(doc_id = MIN(doc_id) OVER (PARTITION BY url_norm) AS INT)
             AS keep
    FROM n
    """,
    tags=("llm", "curation", "text"),
)
def q106(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup keying (operators/text.py::canonical_url): the
    normalization a web-corpus pipeline applies before dedup so mirror
    URLs (scheme/host case, default ports, doubled slashes, utm_*
    tracking params, fragments) collapse to one key, plus the min-id
    survivor flag per canonical key. Map-only JVM string expressions +
    one digest-window shuffle; the messy inputs are pure functions of
    doc_id built identically in both engines, so the normalized output
    and survivor assignment are fully hash-checked (no ok-flag)."""
    from ..operators.text import canonical_url
    from pyspark.sql.window import Window

    d = table(spark, sf, "documents").select("doc_id")
    scheme = F.when(F.col("doc_id") % 2 == 0, "HTTP").otherwise("https")
    port = (
        F.when(F.col("doc_id") % 3 == 0, ":80")
        .when(F.col("doc_id") % 3 == 1, ":443")
        .otherwise("")
    )
    qpart = F.when(
        F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed")
    ).otherwise(
        F.concat(
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&utm_campaign=x"),
        )
    )
    url = F.concat(
        scheme,
        F.lit("://WWW.Site"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".COM"),
        port,
        F.lit("/Docs//Item"),
        (F.col("doc_id") % 5).cast("string"),
        qpart,
        F.lit("#sec"),
        (F.col("doc_id") % 3).cast("string"),
    )
    n = d.select("doc_id", canonical_url(url).alias("url_norm"))
    w = Window.partitionBy("url_norm")
    return n.select(
        "doc_id",
        "url_norm",
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int").alias("keep"),
    )


@query(
    "qz108_weighted_reservoir",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars,
                      ROUND(LN((({_mul_hash32_sql("doc_id + 9")})
                                + 0.5) / 4294967296.0)
                            / n_chars, 9) AS key
               FROM documents)
    SELECT doc_id, n_chars FROM t ORDER BY key DESC, doc_id LIMIT 64
    """,
    tags=("llm", "curation", "sampling"),
)
def q108(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-64 weighted sample without replacement (A-ES reservoir,
    operators/sampling.py::weighted_reservoir_exact): longer documents
    proportionally likelier, sample size FIXED — the knob q78's
    Bernoulli sampler doesn't have (its output size is a random
    variable). Executes as TakeOrdered: per-partition top-64, 64-row
    driver merge, no corpus shuffle. The hash-derived uniform makes the
    draw reproducible AND recomputable in DuckDB, so the selected set is
    fully hash-checked — ORDER BY is semantic under the LIMIT."""
    from ..operators.sampling import weighted_reservoir_exact

    d = table(spark, sf, "documents").select("doc_id", "n_chars")
    return weighted_reservoir_exact(
        d, 64, "n_chars", id_col="doc_id", salt=9
    )


@query(
    "qz109_substring_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000,
             repeat('pad ', CAST(doc_id % 5 + 1 AS INT)) || text
      FROM documents WHERE doc_id % 17 = 3
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+23], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(t) - 23)) AS u(i)
      WHERE len(t) >= 24
    )
    SELECT a.doc_id AS ida, b.doc_id AS idb,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "curation", "dedup"),
)
def q109(spark: SparkSession, sf: str) -> DataFrame:
    """Offset-insensitive exact-substring dedup (round-6 verdict gap #2,
    Lee et al. ACL 2022 shape): pairs of docs sharing a VERBATIM >=24-token
    run at ANY alignment, found via winnowing fingerprints
    (operators/substring.py — k=8 gram hashes, window-min selection,
    inverted-index join, exact string verification; never all-pairs).
    The corpus is documents plus planted SHIFTED copies (doc_id%17==3,
    prefixed by 1-5 pad tokens) — exactly the alignment q92's fixed
    16-token segments cannot see; the law test pins that q92 misses the
    plants while this query finds every one. The oracle recomputes the
    exact semantics brute-force (every 24-gram, string join), so the
    candidate-generation + verify pipeline is fully hash-checked —
    including the natural near-dup pairs already present in testdata."""
    from ..operators.substring import substring_dup_pairs

    d = table(spark, sf, "documents").select("doc_id", "text")
    var = d.where(F.col("doc_id") % 17 == 3).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.expr("repeat('pad ', CAST(doc_id % 5 + 1 AS INT))"),
            F.col("text"),
        ).alias("text"),
    )
    # the verified pair set is a materialize-once corpus artifact (same
    # contract as q50b's exact_pairs): dedup pipelines consume it many
    # times, so repeated runs read the persisted result and the cold
    # build cost lands in bench build_s
    pairs = memo(
        spark, ("substring_pairs", sf),
        lambda: built(substring_dup_pairs(
            d.unionByName(var), min_tokens=24, k=8
        ).persist()),
        label="substring_pairs",
    )
    return pairs.orderBy("ida", "idb")


# HTML wrapper variants shared by q110's Spark and DuckDB sides: tags,
# script/style blocks, comments and whitespace entities only — NO visible
# text — so stripping any variant must recover the original document text
# exactly, and a mirror copy in a DIFFERENT wrapper collapses with its
# original under exact dedup of the CLEANED text (it never would raw).
_HTML_WRAP_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN
        '<html><head><style>p{color:red}</style></head><body>'
        || '<div id="main"><p>' || text || '</p></div><!-- footer '
        || doc_id || ' --></body></html>'
    WHEN doc_id % 3 = 1 THEN
        '<HTML><BODY class="x"><script>track(' || doc_id
        || ' < 99);</script><p>' || text || '</p>&nbsp;</BODY></HTML>'
    ELSE
        '<div><p>' || text || '</p><br/><span>&nbsp;</span></div>'
    END
"""

_STRIP_HTML_SQL = """
trim(regexp_replace(
  replace(replace(replace(replace(replace(replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace({col}, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
        '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
    '<[^>]*>', ' ', 'g'),
  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
'\\s+', ' ', 'g'))
"""


def _html_wrap_expr():
    """Spark twin of _HTML_WRAP_SQL: the doc_id-variant HTML wrapper
    around the `text` column (shared by q110 and q121)."""
    did = F.col("doc_id").cast("string")
    return (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<html><head><style>p{color:red}</style></head>'
                      '<body><div id="main"><p>'),
                F.col("text"),
                F.lit("</p></div><!-- footer "), did,
                F.lit(" --></body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit('<HTML><BODY class="x"><script>track('), did,
                F.lit(" < 99);</script><p>"),
                F.col("text"),
                F.lit("</p>&nbsp;</BODY></HTML>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<div><p>"),
                F.col("text"),
                F.lit("</p><br/><span>&nbsp;</span></div>"),
            )
        )
    )


@query(
    "qz110_html_extract",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 11 = 4
    ),
    wrapped AS (SELECT doc_id, text, {_HTML_WRAP_SQL} AS html FROM corpus),
    cleaned AS (SELECT doc_id, text,
                       {_STRIP_HTML_SQL.format(col="html")} AS clean
                FROM wrapped)
    SELECT doc_id,
           CAST(length(clean) AS BIGINT) AS n_clean,
           CAST(clean = text AS INT) AS clean_ok,
           CAST(doc_id = MIN(doc_id) OVER (PARTITION BY md5(clean)) AS INT)
             AS keep
    FROM cleaned
    """,
    tags=("llm", "curation", "text"),
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    """HTML/boilerplate extraction (round-6 verdict gap #3,
    operators/text.py::strip_html) composed into the web-ingest shape:
    documents plus mirror copies (doc_id%11==4) are wrapped in
    doc_id-dependent HTML boilerplate — three wrapper variants with
    script/style blocks, comments, entities; a mirror lands in a
    DIFFERENT variant than its original (10000000 % 3 != 0). Stripping
    must recover the original text exactly (clean_ok, checked per row
    against the parquet text), and exact dedup over the CLEANED text
    collapses each mirror with its original (keep = min-id survivor) —
    the collapse raw HTML would never find. Map-only JVM regexp chain +
    one digest-window shuffle; the identical RE2-safe chain runs in
    DuckDB, so the extraction itself is hash-checked."""
    from pyspark.sql.window import Window

    from ..operators.text import strip_html

    d = table(spark, sf, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.where(F.col("doc_id") % 11 == 4).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    cleaned = corpus.select(
        "doc_id", "text", strip_html(_html_wrap_expr()).alias("clean")
    )
    w = Window.partitionBy(F.md5("clean"))
    return cleaned.select(
        "doc_id",
        F.length("clean").alias("n_clean"),
        (F.col("clean") == F.col("text")).cast("int").alias("clean_ok"),
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int").alias("keep"),
    )


# q113's cut list, shared with q115's cut-and-stitch.
def _dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.substring import duplicate_spans

    d = table(spark, sf, "documents").select("doc_id", "text")
    return memo(
        spark, ("dup_spans", sf),
        lambda: built(duplicate_spans(d, n=16).persist()),
        label="dup_spans",
    )


@query(
    "qz113_dup_spans",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (SELECT doc_id, i, md5(array_to_string(tk[i:i+15], ' ')) AS g
          FROM t, UNNEST(generate_series(1, len(tk) - 15)) AS u(i)
          WHERE len(tk) >= 16),
    c AS (SELECT g, COUNT(*) AS n FROM g GROUP BY g),
    d AS (SELECT doc_id, i FROM g JOIN c USING (g) WHERE n >= 2),
    isl AS (SELECT doc_id, i,
                   CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                             <= 16 THEN 0 ELSE 1 END AS brk
            FROM d),
    isl2 AS (SELECT doc_id, i,
                    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS UNBOUNDED PRECEDING) AS island
             FROM isl)
    SELECT doc_id AS id, CAST(MIN(i) AS BIGINT) AS s,
           CAST(MAX(i) + 15 AS BIGINT) AS e,
           CAST(MAX(i) + 16 - MIN(i) AS BIGINT) AS n_dup_tokens
    FROM isl2 GROUP BY doc_id, island ORDER BY id, s
    """,
    tags=("llm", "curation", "dedup"),
)
def q113(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-passage cut list (operators/substring.py::
    duplicate_spans): for every document, the maximal token spans whose
    16-grams occur >= 2 times corpus-wide — the remove-the-passage form
    of Lee et al. dedup (q109 answers WHO shares a run; this answers
    WHERE to cut). Digests are md5 of the gram string, so DuckDB
    recomputes the identical cut list and the result is fully
    hash-checked (window gaps-and-islands on both sides)."""
    spans = _dup_spans(spark, sf)
    return spans.orderBy("id", "s")


@query(
    "qz114_cdc_segments",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    tok AS (SELECT doc_id, j, tk[j] AS tok,
                   CASE WHEN j >= 4
                             AND md5(array_to_string(tk[j-3:j], ' '))
                                 LIKE '0%'
                        THEN 1 ELSE 0 END AS flag
            FROM t, UNNEST(generate_series(1, len(tk))) AS u(j)),
    seg AS (SELECT doc_id, j, tok,
                   COALESCE(SUM(flag) OVER (PARTITION BY doc_id ORDER BY j
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS seg_no
            FROM tok),
    segs AS (SELECT doc_id, seg_no,
                    md5(string_agg(tok, ' ' ORDER BY j)) AS dg
             FROM seg GROUP BY doc_id, seg_no),
    c AS (SELECT dg, COUNT(*) AS n FROM segs GROUP BY dg)
    SELECT segs.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_seg,
           CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_seg,
           ROUND(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
                 6) AS dup_frac
    FROM segs JOIN c USING (dg)
    GROUP BY segs.doc_id
    """,
    tags=("llm", "curation", "dedup"),
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined segment dedup (operators/substring.py::
    cdc_segments): q92's per-doc duplicated-segment report with
    CONTENT-DEFINED boundaries (md5-prefix rule on the trailing 4-gram,
    expected segment ~20 tokens) instead of fixed 16-token alignment —
    a passage duplicated at a shifted offset re-synchronizes after its
    first internal boundary, so its segments still collide (the law test
    plants exactly that). Occurrence counts via one window shuffle on
    the segment digest, same measured plan choice as q92; every digest
    is md5 so the whole report hash-checks in DuckDB."""
    from pyspark.sql.window import Window

    from ..operators.substring import cdc_segments

    segs = memo(
        spark, ("cdc_segments", sf),
        lambda: built(cdc_segments(
            table(spark, sf, "documents").select("doc_id", "text"), k=4
        ).persist()),
        label="cdc_segments",
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("seg_digest"))
    return (
        segs.withColumn("n", n)
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_seg"),
            F.sum((F.col("n") > 1).cast("int")).alias("dup_seg"),
            F.round(
                F.sum((F.col("n") > 1).cast("int")) / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
    )


@query(
    "qz115_dedup_clean",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (SELECT doc_id, i, md5(array_to_string(tk[i:i+15], ' ')) AS g
          FROM t, UNNEST(generate_series(1, len(tk) - 15)) AS u(i)
          WHERE len(tk) >= 16),
    c AS (SELECT g, COUNT(*) AS n FROM g GROUP BY g),
    d AS (SELECT doc_id, i FROM g JOIN c USING (g) WHERE n >= 2),
    isl AS (SELECT doc_id, i,
                   CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                             <= 16 THEN 0 ELSE 1 END AS brk
            FROM d),
    isl2 AS (SELECT doc_id, i,
                    SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS UNBOUNDED PRECEDING) AS island
             FROM isl),
    spans AS (SELECT doc_id, MIN(i) AS s, MAX(i) + 15 AS e
              FROM isl2 GROUP BY doc_id, island),
    tok AS (SELECT doc_id, j, tk[j] AS tok
            FROM t, UNNEST(generate_series(1, len(tk))) AS u(j)),
    kept AS (SELECT tok.doc_id, j, tok
             FROM tok
             WHERE NOT EXISTS (SELECT 1 FROM spans sp
                               WHERE sp.doc_id = tok.doc_id
                                 AND j BETWEEN sp.s AND sp.e))
    SELECT doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           md5(string_agg(tok, ' ' ORDER BY j)) AS clean_md5
    FROM kept GROUP BY doc_id
    """,
    tags=("llm", "curation", "dedup"),
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    """Passage-level dedup applied (operators/substring.py::remove_spans
    over q113's cut list): duplicated >= 16-token passages are cut out
    and each document's remainder re-joined in order — documents whose
    entire text is duplicated disappear (every token cut), clean docs
    pass through byte-identical. The md5 of every cleaned text is
    hash-checked against DuckDB recomputing the same cut-and-stitch, so
    reassembly ORDER is pinned, not just counts."""
    from ..operators.substring import remove_spans

    d = table(spark, sf, "documents").select("doc_id", "text")
    spans = _dup_spans(spark, sf)
    return remove_spans(d, spans).select(
        "id", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


@query(
    "qz116_substring_incremental",
    oracle="""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 20
      UNION ALL
      SELECT doc_id + 20000000,
             repeat('pre ', CAST(doc_id % 4 + 1 AS INT)) || text
      FROM documents WHERE doc_id >= 20 AND doc_id % 23 = 1
    ),
    al AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM al),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+23], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(t) - 23)) AS u(i)
      WHERE len(t) >= 24
    )
    SELECT a.doc_id AS ida, b.doc_id AS idb,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    WHERE a.doc_id < 20 OR a.doc_id >= 20000000
       OR b.doc_id < 20 OR b.doc_id >= 20000000
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "curation", "dedup", "incremental"),
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact-substring dedup (operators/substring.py::
    substring_dup_pairs_incremental): a nightly batch (eval-style docs
    < 20 plus SHIFTED copies of corpus docs, the cross-alignment case)
    is winnowed ALONE and joined against the stored corpus fingerprint
    index — the corpus is never re-fingerprinted, completing the
    incremental family (qz101 HLL rollup, minhash incremental, q94
    streaming bloom). Fully hash-checked: the oracle brute-forces every
    24-gram over corpus+batch and keeps pairs touching the batch."""
    from ..operators.substring import (
        substring_dup_pairs_incremental,
        winnow_fingerprint_index,
    )

    d = table(spark, sf, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") >= 20)
    batch = d.where(F.col("doc_id") < 20).unionByName(
        d.where((F.col("doc_id") >= 20) & (F.col("doc_id") % 23 == 1)).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.concat(
                F.expr("repeat('pre ', CAST(doc_id % 4 + 1 AS INT))"),
                F.col("text"),
            ).alias("text"),
        )
    )
    idx = memo(
        spark, ("substring_corpus_index", sf),
        lambda: built(winnow_fingerprint_index(
            corpus, min_tokens=24, k=8, id_col="doc_id", text_col="text"
        ).persist()),
        label="substring_corpus_index",
    )
    pairs = memo(
        spark, ("substring_inc_pairs", sf),
        lambda: built(substring_dup_pairs_incremental(
            batch, corpus, corpus_index=idx, min_tokens=24, k=8
        ).persist()),
        label="substring_inc_pairs",
    )
    return pairs.orderBy("ida", "idb")


@query(
    "qz128_temperature_mixture",
    oracle=f"""
    WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
               FROM documents GROUP BY source),
    w AS (SELECT source, n, pow(n, 0.5) AS wn FROM c),
    t AS (SELECT SUM(n) AS tot, SUM(wn) AS wtot FROM w),
    r AS (SELECT source,
                 ROUND(LEAST(1.0, 0.4 * tot * (wn / wtot) / n), 6) AS rate
          FROM w, t)
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN r USING (source)
    WHERE {_UNIFORM_SQL.format(salt=6101)} < r.rate
    """,
    tags=("llm", "curation", "sampling"),
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual/multi-source
    rebalancing rule of mBERT/XLM-R and pretraining mixes): target share
    of source s is n_s^alpha / sum n_t^alpha with alpha=0.5 — flatter
    than the raw distribution, so small curated sources are up-weighted
    against the bulk crawl WITHOUT hand-set rates (contrast q80, where
    the rates are fixed inputs). Per-source keep rate = min(1,
    T·share/n_s) for a 40% token budget; saturated sources (rate 1)
    simply keep everything — the published rule accepts the budget
    shortfall rather than iterating. Execution: one tiny per-source
    count agg (broadcast back), then the same map-only deterministic
    hash-threshold draw as q80 — no corpus shuffle, reproducible across
    engines (rates rounded to 6 decimals on BOTH sides so the threshold
    compare is engine-exact; hash-checked)."""
    d = table(spark, sf, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = c.select("source", "n", F.pow("n", F.lit(0.5)).alias("wn"))
    t = w.agg(F.sum("n").alias("tot"), F.sum("wn").alias("wtot"))
    r = w.crossJoin(F.broadcast(t)).select(
        "source",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(0.4) * F.col("tot") * (F.col("wn") / F.col("wtot"))
                / F.col("n"),
            ),
            6,
        ).alias("rate"),
    )
    return (
        d.join(F.broadcast(r), "source")
        .filter(_uniform01("doc_id", salt=6101) < F.col("rate"))
        .select("doc_id", "source", "rate")
    )


# ---------------------------------------------------------------------------
# q156 — per-source n-gram diversity (type-token ratios)
# ---------------------------------------------------------------------------


@query(
    "qz156_ngram_diversity",
    oracle="""
    WITH t AS (SELECT source, string_split(text, ' ') AS toks
               FROM documents),
         g AS (SELECT source,
                      unnest(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]
                                  || ' ' || toks[i + 2])) AS tri
               FROM t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(COUNT(DISTINCT tri) AS BIGINT) AS d_tri,
           ROUND(CAST(COUNT(DISTINCT tri) AS DOUBLE) / COUNT(*), 6)
             AS ttr
    FROM g
    GROUP BY source
    """,
    tags=("llm", "text", "analytics"),
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source trigram type-token ratio — the corpus-diversity gauge
    (low TTR = templated/boilerplate-heavy or self-repeating source;
    the aggregate-level cousin of q56's within-doc repetition gates and
    the signal synthetic-data pipelines watch for mode collapse).

    Scale shape: trigrams come from zipping three shifted slices (pure
    JVM, O(n) per doc — the q82/_bigram_pairs lesson); the explode
    feeds a (source, trigram) aggregate with map-side combine, so the
    shuffle carries one row per distinct trigram per partition, never
    per occurrence, and the final per-source reduce is |sources| rows.
    count_distinct over the pre-grouped table is exact — no global
    all-occurrence shuffle."""
    d = table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(toks, 3, m),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    from . import spread_scan

    g = (
        spread_scan(d.select("source", "text"))
        .select("source", F.explode(tri).alias("tri"))
        .groupBy("source", "tri")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return g.groupBy("source").agg(
        F.sum("c").alias("n_tri"),
        F.count(F.lit(1)).alias("d_tri"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# q164 — eval-safe corpus release gate (decontaminate + dedup, one graph)
# ---------------------------------------------------------------------------

_REL_N = 8  # verbatim-gram width, q131's convention


def _q164_oracle() -> str:
    from .llm import _NORM_SQL, _PAIRS_WITH

    norm_body = _NORM_SQL.replace("WITH n AS", "n AS")
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
    losers AS (SELECT n AS doc_id FROM reach GROUP BY n
               HAVING n <> MIN(lbl)),
    et AS (SELECT string_split(text, ' ') AS tk FROM documents
           WHERE doc_id % 50 = 0),
    bg AS (SELECT DISTINCT array_to_string(tk[i:i+{_REL_N - 1}], ' ') AS g
           FROM et, UNNEST(generate_series(1, len(tk) - {_REL_N - 1}))
                AS u(i)),
    ct AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE doc_id % 50 <> 0),
    cg AS (SELECT DISTINCT doc_id,
                  array_to_string(tk[i:i+{_REL_N - 1}], ' ') AS g
           FROM ct, UNNEST(generate_series(1, len(tk) - {_REL_N - 1}))
                AS u(i)),
    ng AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
    {norm_body},
    ev AS (SELECT vec_id AS eid, nv AS evec FROM n WHERE vec_id % 50 = 0),
    cv AS (SELECT vec_id, nv FROM n WHERE vec_id % 50 <> 0),
    sem AS (SELECT DISTINCT cv.vec_id AS doc_id FROM cv, ev
            WHERE ROUND(list_dot_product(cv.nv, ev.evec), 6) >= 0.40)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id % 50 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ngram,
           CAST(SUM(CASE WHEN se.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sem,
           CAST(SUM(CASE WHEN lo.doc_id IS NOT NULL
                          AND d.doc_id % 50 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_lost,
           CAST(SUM(CASE WHEN d.doc_id % 50 <> 0 AND ng.doc_id IS NULL
                          AND se.doc_id IS NULL AND lo.doc_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_released
    FROM documents d
    LEFT JOIN ng ON ng.doc_id = d.doc_id
    LEFT JOIN sem se ON se.doc_id = d.doc_id
    LEFT JOIN losers lo ON lo.doc_id = d.doc_id
    GROUP BY d.source
    """


@query(
    "qz164_release_gate",
    oracle=_q164_oracle(),
    tags=("llm", "curation", "dedup", "eval", "e2e"),
)
def q164(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-safe corpus release gate — the sign-off report a curation
    team ships before a training snapshot: one holdout definition
    (doc_id % 50 == 0, the q157 split; doc_id == vec_id by fixture
    convention) drives BOTH decontamination modalities, and the dedup
    survivorship map removes redundant copies, composed as one
    DataFrame graph:

    * n-gram gate — non-eval docs sharing any verbatim 8-gram with the
      holdout texts (q131's plan: holdout gram set distinct+broadcast,
      corpus gram stream joins map-side, corpus never shuffles);
    * semantic gate — q157's flags verbatim (holdout embeddings as a
      broadcast matrix, corpus GEMM'd map-only): paraphrased leakage
      the verbatim grams miss;
    * dedup gate — non-survivors of the materialize-once near-dup
      cluster map (the SAME artifact q70/q93/q120/q140 share, min-id
      survivorship);
    * released = none of the above and not holdout, reported per source
      so mixture shift from the gate is visible before committing.

    Every flag side is eval-suite- or cluster-map-sized; the corpus
    rides one gram stream and one GEMM pass, and the final aggregate is
    sources-sized with three broadcast left joins."""
    from ..operators.substring import token_ngrams
    from .llm import _dup_cluster_map
    from .llm import q157 as _sem_flags

    d = table(spark, sf, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(50)) == 0

    # Both gate flag sets are materialize-once artifacts (the q115/q163
    # contract — production writes them with the snapshot): without the
    # persist, broadcast_if_small's size probe COUNTS the flag plan and
    # the final aggregate then recomputes it, so every warm call paid
    # the corpus gram stream and the GEMM twice (measured 4.1 s warm at
    # sf0.1; ~0.5 s with the artifacts).
    def _ng_flags() -> DataFrame:
        bg = (
            d.where(is_eval)
            .select(
                F.explode(token_ngrams(F.col("text"), _REL_N)).alias("g")
            )
            .distinct()
        )
        cg = d.where(~is_eval).select(
            "doc_id",
            F.explode(token_ngrams(F.col("text"), _REL_N)).alias("g"),
        )
        return built(
            cg.join(F.broadcast(bg), "g")
            .select("doc_id")
            .distinct()
            .withColumn("__ng", F.lit(1))
            .persist()
        )

    ng = memo(spark, ("release_ng_flags", sf), _ng_flags, label="release_ng_flags")

    def _sem() -> DataFrame:
        return built(
            _sem_flags(spark, sf)
            .select(F.col("vec_id").alias("doc_id"))
            .withColumn("__sem", F.lit(1))
            .persist()
        )

    sem = memo(spark, ("release_sem_flags", sf), _sem, label="release_sem_flags")

    clusters = _dup_cluster_map(spark, sf)
    losers = (
        clusters.where(F.col("node") != F.col("cluster"))
        .select(F.col("node").alias("doc_id"))
        .withColumn("__lost", F.lit(1))
    )

    flags = (
        d.select("doc_id", "source", is_eval.cast("int").alias("ev"))
        .join(broadcast_if_small(ng), "doc_id", "left")
        .join(broadcast_if_small(sem), "doc_id", "left")
        .join(broadcast_if_small(losers), "doc_id", "left")
    )
    non_eval = F.col("ev") == 0
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ev").cast("bigint").alias("n_eval"),
        F.sum(F.col("__ng").isNotNull().cast("long")).alias("n_ngram"),
        F.sum(F.col("__sem").isNotNull().cast("long")).alias("n_sem"),
        F.sum(
            (F.col("__lost").isNotNull() & non_eval).cast("long")
        ).alias("n_dup_lost"),
        F.sum(
            (
                non_eval
                & F.col("__ng").isNull()
                & F.col("__sem").isNull()
                & F.col("__lost").isNull()
            ).cast("long")
        ).alias("n_released"),
    )
