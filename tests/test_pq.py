"""Product-quantization ANN (operators/similarity.py PQ family): laws the
compressed path must satisfy regardless of data distribution, the
encoders' loud failure on null and zero vectors, and the guard that every
ANN search only reads the artifacts it is handed."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
    cosine_topk,
    pq_encode,
    pq_query_luts,
    pq_topk,
    recall_at_k,
    train_pq_codebooks,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


def test_pq_full_shortlist_equals_exact(spark, emb):
    """With the shortlist covering the whole corpus, the ADC scan is only
    a candidate generator and the exact re-rank must reproduce
    cosine_topk EXACTLY — precision is exact by construction; only
    recall depends on quantization."""
    qs = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    books = train_pq_codebooks(emb, m=8, k=16)
    approx = pq_topk(
        emb, pq_encode(emb, books), pq_query_luts(qs, books),
        book_size=books.shape[1], k=5, shortlist=(n // 5) + 1,
    )
    exact = cosine_topk(emb, qs, k=5)
    a = sorted(map(tuple, approx.collect()))
    e = sorted(map(tuple, exact.collect()))
    assert a == e


def test_pq_codes_shape_and_determinism(spark, emb):
    """Codes are m small ints in [0, k); training + encoding are seeded
    and order-stable, so two independent builds agree bit-for-bit."""
    b1 = train_pq_codebooks(emb, m=8, k=16)
    b2 = train_pq_codebooks(emb, m=8, k=16)
    assert np.array_equal(b1, b2)
    c1 = {r.id: list(r.codes) for r in pq_encode(emb, b1).collect()}
    c2 = {r.id: list(r.codes) for r in pq_encode(emb, b2).collect()}
    assert c1 == c2
    assert all(len(v) == 8 and all(0 <= x < 16 for x in v) for v in c1.values())


def test_pq_lut_gather_matches_numpy_adc(spark, emb):
    """The JVM transform/element_at gather must equal the numpy ADC
    score: sum over subspaces of lut[s*k + code_s]."""
    qs = emb.filter(F.col("vec_id") < 2)
    books = train_pq_codebooks(emb, m=4, k=16)
    codes = pq_encode(emb, books)
    luts = pq_query_luts(qs, books)
    kk = books.shape[1]
    got = (
        codes.limit(50)
        .crossJoin(F.broadcast(luts.select("qid", "lut")))
        .select(
            "id",
            "qid",
            F.aggregate(
                F.transform(
                    F.col("codes"),
                    lambda c, i: F.element_at(F.col("lut"), i * kk + c + 1),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("adc"),
        )
        .collect()
    )
    code_map = {r.id: r.codes for r in codes.collect()}
    lut_map = {r.qid: np.asarray(r.lut) for r in luts.collect()}
    for r in got:
        want = sum(
            lut_map[r.qid][s * kk + code_map[r.id][s]]
            for s in range(books.shape[0])
        )
        assert abs(r.adc - want) < 1e-9


def test_pq_dim_not_divisible_raises(spark, emb):
    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(emb, m=7, k=16)


def test_ivfpq_full_probe_and_shortlist_equals_exact(spark, emb):
    """Probing every cell with a corpus-covering shortlist degenerates
    IVF+PQ to a candidate generator over the whole corpus — the exact
    re-rank must then reproduce cosine_topk exactly."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
        build_ivfpq_index,
        build_ivfpq_queries,
        ivfpq_topk,
        train_ivfpq,
    )

    qs = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    coarse, books = train_ivfpq(emb, n_centroids=4, m=8, k=16)
    approx = ivfpq_topk(
        emb,
        build_ivfpq_index(emb, coarse, books, n_assign=1),
        build_ivfpq_queries(qs, coarse, books, n_probe=4),
        book_size=books.shape[1], k=5, shortlist=(n // 5) + 1,
    )
    exact = cosine_topk(emb, qs, k=5)
    assert sorted(map(tuple, approx.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_pq_incremental_encode_equals_full(spark, emb):
    """Nightly-maintenance contract for the compressed index: encoding is
    stateless given frozen codebooks, so encoding only the NEW batch and
    unioning with the stored codes must equal a from-scratch encode of
    the full corpus — history is never re-read (the q96/qz101 contract,
    applied to the ANN index)."""
    books = train_pq_codebooks(emb, m=8, k=16)
    split = 10
    old = emb.filter(F.col("vec_id") < split)
    new = emb.filter(F.col("vec_id") >= split)
    stored = pq_encode(old, books)
    fresh = pq_encode(new, books)
    merged = {
        r.id: list(r.codes) for r in stored.unionByName(fresh).collect()
    }
    full = {r.id: list(r.codes) for r in pq_encode(emb, books).collect()}
    assert merged == full


_PAIR_DDL = "ida long, idb long"


def test_recall_at_k_pairs(spark):
    """recall_at_k is one plan over the given key columns: 9 of 10 exact
    (ida, idb) pairs found gives 0.9, and extra or duplicated approximate
    pairs add nothing."""
    exact = spark.createDataFrame([(i, i + 1) for i in range(10)], _PAIR_DDL)
    approx = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(0, 1), (50, 60)], _PAIR_DDL
    )
    r = recall_at_k(approx, exact, ("ida", "idb")).collect()
    assert len(r) == 1 and r[0]["recall"] == pytest.approx(0.9)


def test_recall_at_k_empty_exact_side_is_one(spark):
    exact = spark.createDataFrame([], _PAIR_DDL)
    approx = spark.createDataFrame([(1, 2)], _PAIR_DDL)
    assert recall_at_k(approx, exact, ("ida", "idb")).first()["recall"] == 1.0


def test_recall_law_tail_fails_below_threshold(spark):
    """The law tail the ANN queries end in yields ok=0 when recall falls
    below its 0.9 threshold — the failure the oracle's constant ok=1
    cannot catch, since the plan itself must compute it."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import law

    exact = spark.createDataFrame([(i, i + 1) for i in range(10)], _PAIR_DDL)
    approx = spark.createDataFrame([(i, i + 1) for i in range(8)], _PAIR_DDL)
    tail = recall_at_k(approx, exact, ("ida", "idb")).select(
        law(F.col("recall") >= 0.9)
    )
    assert tail.columns == ["ok"]
    assert tail.collect()[0]["ok"] == 0
    full = recall_at_k(exact, exact, ("ida", "idb")).select(
        law(F.col("recall") >= 0.9)
    )
    assert full.collect()[0]["ok"] == 1


def _bad_row_frames(spark):
    """16 clean 8-dim rows, plus the same with a null (id 16) or an
    all-zero (id 17) vector appended."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(16)]
    ddl = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, ddl)
    null = spark.createDataFrame(rows + [(16, None)], ddl)
    zero = spark.createDataFrame(rows + [(17, [0.0] * 8)], ddl)
    return clean, {"null": (null, "id 16 is null"), "zero": (zero, "id 17 has zero norm")}


@pytest.mark.parametrize("bad", ["null", "zero"])
def test_encoders_reject_null_and_zero_vectors(spark, bad):
    """A null vector has no codes and a zero vector has no direction: the
    encoders fail naming the row's id instead of numpy's shape error or
    a silent all-zero code (NaN distances make argmin return 0)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
        build_ivfpq_index,
        train_ivfpq,
    )

    clean, frames = _bad_row_frames(spark)
    df, msg = frames[bad]
    books = train_pq_codebooks(clean, m=2, k=4)
    coarse, residual_books = train_ivfpq(clean, n_centroids=2, m=2, k=4)
    with pytest.raises(Exception, match=msg):
        pq_encode(df, books).collect()
    with pytest.raises(Exception, match=msg):
        build_ivfpq_index(df, coarse, residual_books).collect()


def test_searches_read_artifacts_only():
    """Every *_topk search and semantic_dup_pairs is a pure search over
    the artifacts it is handed: neither it nor a private helper it calls
    trains, builds or encodes, and no parameter defaults to None (the
    shape of an 'or build it inline' fork)."""
    import ast
    import inspect

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import similarity

    funcs = {
        f.name: f
        for f in ast.parse(inspect.getsource(similarity)).body
        if isinstance(f, ast.FunctionDef)
    }

    def calls(fn, seen):
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                name = node.func.id
                if name not in seen:
                    seen.add(name)
                    if name.startswith("_") and name in funcs:
                        calls(funcs[name], seen)
        return seen

    searches = [n for n in funcs if n.endswith("_topk") or n == "semantic_dup_pairs"]
    assert {"hyperplane_lsh_topk", "ivf_topk", "pq_topk", "ivfpq_topk"} <= set(searches)
    for name in searches:
        builders = sorted(
            c for c in calls(funcs[name], set())
            if c.startswith(("train_", "build_")) or c in ("pq_encode", "pq_query_luts")
        )
        assert not builders, (name, builders)
        args = funcs[name].args
        none_defaults = [
            d for d in args.defaults + args.kw_defaults
            if isinstance(d, ast.Constant) and d.value is None
        ]
        assert not none_defaults, name
