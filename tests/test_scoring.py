"""Model-based scoring operators (operators/scoring.py): portable string
hash, hashed linear classifier, bigram-LM surprisal."""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.scoring import (
    bigram_nll,
    fixture_weights,
    hashed_linear_score,
    md5_hash32,
    md5_hash32_sql,
)


def _py_hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_md5_hash32_portable_three_ways(spark):
    """Spark expression == DuckDB twin == Python md5 for arbitrary
    strings (incl. unicode and empties-adjacent shapes)."""
    import duckdb

    vals = ["hello", "a", "Zz9", "token-with-dash", "ümlaut", "0", " x"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got_spark = {
        r.s: r.h for r in df.select("s", md5_hash32(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for v in vals:
        got_duck = con.execute(
            f"SELECT {md5_hash32_sql('?')}", [v]
        ).fetchone()[0]
        assert got_spark[v] == got_duck == _py_hash32(v), v


def test_hashed_linear_score_matches_python_replay(spark):
    w, bias = fixture_weights(64)
    texts = ["alpha beta gamma", "one", "x y z x y z", "a b c d e f g h"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got = {
        r.i: r.s
        for r in df.select(
            "i", hashed_linear_score(F.col("t"), w, bias).alias("s")
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = [x for x in t.split(" ") if x]
        z = bias + sum(w[_py_hash32(x) % 64] for x in toks) / max(len(toks), 1)
        assert got[i] == round(1.0 / (1.0 + math.exp(-z)), 6), i


def test_bigram_nll_matches_python_replay_and_flags_outliers(spark):
    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the rug"),
        (2, "the dog sat on the mat"),
        (3, "zq xw vv qq zz pp"),  # out-of-distribution gibberish
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.id: (r.n_bigrams, r.nll) for r in bigram_nll(df).collect()}

    # python replay of the add-one bigram model
    from collections import Counter

    all_bg = []
    for _, t in corpus:
        toks = t.split(" ")
        all_bg += list(zip(toks, toks[1:]))
    c12 = Counter(all_bg)
    c1 = Counter(a for a, _ in all_bg)
    v = len({b for _, b in all_bg})
    for i, t in corpus:
        toks = t.split(" ")
        bg = list(zip(toks, toks[1:]))
        nll = -sum(
            math.log((c12[p] + 1) / (c1[p[0]] + v)) for p in bg
        ) / len(bg)
        assert got[i][0] == len(bg)
        assert abs(got[i][1] - round(nll, 6)) <= 1e-6, i
    # the gibberish doc is the far-from-corpus outlier
    assert got[3][1] == max(nll for _, nll in got.values())


def test_bigram_nll_forms_agree(spark):
    """The size-gated forms (window fast path for small inputs,
    skew-safe groupBy-model + join-back past _WINDOW_FORM_MAX_PARTS
    input partitions) compute IDENTICAL values — forcing the gate by
    over-partitioning the same tiny corpus must not change a row."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import scoring
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.scoring import (
        bigram_nll_dual,
    )

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the rug"),
        (2, "the dog sat on the mat"),
        (3, "zq xw vv qq zz pp"),
    ]
    small = spark.createDataFrame(corpus, "doc_id long, text string")
    wide = small.repartition(scoring._WINDOW_FORM_MAX_PARTS + 8)
    assert scoring._window_form_ok(small)
    assert not scoring._window_form_ok(wide)

    a = {r.id: (r.n_bigrams, r.nll) for r in bigram_nll(small).collect()}
    b = {r.id: (r.n_bigrams, r.nll) for r in bigram_nll(wide).collect()}
    assert a == b

    cur = F.col("doc_id") < 2
    da = {r.id: (r.nll_raw, r.nll_tgt)
          for r in bigram_nll_dual(small, cur).collect()}
    db = {r.id: (r.nll_raw, r.nll_tgt)
          for r in bigram_nll_dual(wide, cur).collect()}
    assert da == db


def test_window_form_byte_gate(spark, monkeypatch):
    """Few partitions are not enough: an input whose estimated bytes
    exceed _WINDOW_FORM_MAX_BYTES takes the groupBy form even at one
    partition, and computes the same values as the window form."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import scoring
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import _est_row_bytes

    corpus = [
        (0, "a b a c b a"),
        (1, "b a c c a b"),
        (2, "c c c b a a"),
    ]
    small = spark.createDataFrame(corpus, "doc_id long, text string")
    assert small.rdd.getNumPartitions() <= scoring._WINDOW_FORM_MAX_PARTS
    assert scoring._window_form_ok(small)
    window = {r.id: (r.n_bigrams, r.nll) for r in bigram_nll(small).collect()}

    nbytes = len(corpus) * _est_row_bytes(small.schema)
    monkeypatch.setattr(scoring, "_WINDOW_FORM_MAX_BYTES", nbytes - 1)
    assert not scoring._window_form_ok(small)
    grouped = {r.id: (r.n_bigrams, r.nll) for r in bigram_nll(small).collect()}
    assert grouped == window

    monkeypatch.setattr(scoring, "_WINDOW_FORM_MAX_BYTES", nbytes)
    assert scoring._window_form_ok(small)


def test_score_plan_is_map_only_jvm(spark):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import audit

    w, bias = fixture_weights(64)
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    f = audit(df.select("doc_id", hashed_linear_score(F.col("text"), w, bias)))
    assert f.joins == 0 and f.exchanges == 0
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """The law q119 cannot give: every near-dup cluster lands entirely
    in ONE split, and the split distribution is still roughly 80/10/10
    over split KEYS."""
    from collections import Counter

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    rows = all_queries()["qz120_leakage_safe_split"].build(
        spark, sf_dir
    ).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.split_key, set()).add(r.split)
    # all members of a key (cluster) share one split
    assert all(len(s) == 1 for s in by_key.values())
    # some clusters are real (multi-doc) at this sf
    sizes = Counter(r.split_key for r in rows)
    assert any(n > 1 for n in sizes.values())
    # key-level distribution near 80/10/10
    splits = Counter(next(iter(by_key[k])) for k in by_key)
    total = sum(splits.values())
    assert 0.6 < splits["train"] / total < 0.95
