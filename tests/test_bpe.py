"""Real-BPE operator laws (operators/bpe.py): training determinism,
reference-encoder greedy semantics, JVM fold chain == reference, and the
no-Python hot path of the distributed plan."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.bpe import (
    bpe_encode_py,
    bpe_token_counts,
    bpe_tokens_expr,
    merge_ranks,
    train_bpe,
)


def test_train_bpe_known_example():
    """Hand-checkable corpus: 'ab' dominates, then cascades."""
    merges = train_bpe(["ab ab ab abc", "ab abd"], 3)
    assert merges[0] == ("a", "b")
    # after (a,b): words are [ab]x5, [ab,c], [ab,d] -> next best pairs
    # (ab,c) and (ab,d) tie at 1; lexicographic tie-break picks (ab,c)
    assert merges[1] == ("ab", "c")
    assert merges[2] == ("ab", "d")


def test_train_bpe_deterministic():
    texts = ["low lower lowest", "new newer newest", "low low new"]
    assert train_bpe(texts, 10) == train_bpe(texts, 10)


def test_encode_rank_priority_beats_position():
    """Rank-greedy: the LOWEST-rank pair merges first even when a
    higher-rank pair occurs earlier in the word."""
    ranks = merge_ranks([("b", "c"), ("a", "b")])
    # 'abc': (a,b) at pos0 has rank 1, (b,c) at pos1 has rank 0 ->
    # (b,c) merges first, leaving a + bc (no (a,bc) rule)
    assert bpe_encode_py("abc", ranks) == ["a", "bc"]


def test_encode_cascade_and_overlap():
    ranks = merge_ranks([("a", "a"), ("aa", "aa")])
    assert bpe_encode_py("aaaa", ranks) == ["aaaa"]
    assert bpe_encode_py("aaa", ranks) == ["aa", "a"]  # leftmost-first
    assert bpe_encode_py("aaaaa", ranks) == ["aaaa", "a"]


@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=12),
        min_size=1,
        max_size=20,
    ),
    seed=st.integers(0, 5),
)
@settings(max_examples=12, deadline=None)
def test_jvm_fold_chain_equals_reference(spark, words, seed):
    """The equivalence claim, pinned by property test: the rank-ordered
    exhaustive fold chain tokenizes EVERY word exactly like the standard
    rank-greedy reference encoder, for merges trained on arbitrary
    corpora over the same alphabet."""
    rng = random.Random(seed)
    corpus = [
        " ".join(rng.choice(words) for _ in range(8)) for _ in range(4)
    ]
    merges = train_bpe(corpus, 12)
    ranks = merge_ranks(merges)
    df = spark.createDataFrame([(w,) for w in set(words)], "word string")
    got = {
        r.word: list(r.toks)
        for r in df.select(
            "word", bpe_tokens_expr(F.col("word"), merges).alias("toks")
        ).collect()
    }
    for w in set(words):
        assert got[w] == bpe_encode_py(w, ranks), (w, merges)


def test_distributed_counts_and_no_python_in_jvm_path(spark):
    docs = [
        (0, "low lower lowest"),
        (1, "new newest  low"),  # double space -> empty word filtered
        (2, ""),
    ]
    merges = train_bpe([t for _, t in docs], 8)
    ranks = merge_ranks(merges)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = bpe_token_counts(df, merges)
    got = {r.id: r.n_bpe for r in out.collect()}
    for i, t in docs:
        want = sum(len(bpe_encode_py(w, ranks)) for w in t.split(" ") if w)
        if want:
            assert got[i] == want
        else:
            assert i not in got  # empty doc has no words
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_merges_txt_roundtrip():
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.bpe import (
        dump_merges_txt,
        load_merges_txt,
    )

    merges = train_bpe(["low lower lowest", "low low new"], 6)
    assert load_merges_txt(dump_merges_txt(merges)) == merges
    assert load_merges_txt("#version: 0.2\n\na b\nab c\n") == [
        ("a", "b"), ("ab", "c")
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="malformed"):
        load_merges_txt("a b c\n")


def test_large_merges_table_switches_to_arrow_vocab_encoder(spark):
    """Past jvm_max_merges the vocab encodes via the Arrow reference
    encoder (a 32k-merge tokenizer cannot be a 32k-deep fold chain);
    both paths must produce identical counts."""
    import random

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.bpe import (
        encode_vocab,
    )

    rng = random.Random(17)
    corpus = [
        " ".join(
            "".join(rng.choice("abcdef") for _ in range(rng.randint(2, 10)))
            for _ in range(30)
        )
        for _ in range(8)
    ]
    merges = train_bpe(corpus, 40)
    assert len(merges) > 20
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    jvm = {
        r.word: r.n_tok
        for r in encode_vocab(df, merges, jvm_max_merges=1000).collect()
    }
    arrow_df = encode_vocab(df, merges, jvm_max_merges=8)
    arrow = {r.word: r.n_tok for r in arrow_df.collect()}
    assert jvm == arrow
    plan = arrow_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # the fallback actually engaged


def test_fixture_merges_are_trained_once(monkeypatch):
    """qz111's fixture merges table is trained once per process, not on
    every evaluation: two calls run train_bpe once."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import bpe
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import training_q

    calls = []

    def counting_train(texts, n_merges):
        calls.append(n_merges)
        return train_bpe(texts, n_merges)

    monkeypatch.setattr(bpe, "train_bpe", counting_train)
    training_q._bpe_merges.cache_clear()
    try:
        first = training_q._bpe_merges()
        assert training_q._bpe_merges() == first
        assert len(calls) == 1
    finally:
        training_q._bpe_merges.cache_clear()
