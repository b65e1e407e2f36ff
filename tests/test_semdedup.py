"""SemDeDup-shape semantic dedup (operators/similarity.py):
within-cell pair generation, exactness of emitted scores, transitive
survivor clustering."""

from __future__ import annotations

import math
import random

import numpy as np
import pyspark.sql.functions as F

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
    build_ivf_index,
    semantic_dedup_survivors,
    semantic_dup_pairs,
    train_ivf_codebook,
)


def _mk_embeddings(seed=3, dim=8):
    """Three tight semantic groups + isolated noise vectors."""
    rng = random.Random(seed)

    def jitter(base, eps):
        v = [x + rng.uniform(-eps, eps) for x in base]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    bases = []
    for g in range(3):
        b = [rng.uniform(-1, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in b))
        bases.append([x / n for x in b])
    rows = []
    vid = 0
    groups = {}
    for g, b in enumerate(bases):
        for _ in range(4):  # 4 near-identical members per group
            rows.append((vid, jitter(b, 0.02)))
            groups[vid] = g
            vid += 1
    for _ in range(8):  # noise
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((vid, [x / n for x in v]))
        groups[vid] = None
        vid += 1
    return rows, groups


def _index(df):
    """A persisted soft-assigned IVF index, as q112 uses: 4 cells, 2 per
    vector."""
    cb = train_ivf_codebook(df, n_centroids=4, train_sample=64)
    return build_ivf_index(df, cb, n_assign=2).persist()


def _exact_pairs(rows, threshold):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, va), (ib, vb) = rows[i], rows[j]
            va, vb = np.asarray(va), np.asarray(vb)
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if round(c, 6) >= threshold:
                out.add((min(ia, ib), max(ia, ib)))
    return out


def test_semantic_pairs_precision_exact_and_high_recall(spark):
    rows, _ = _mk_embeddings()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.ida, r.idb): r.cosine
        for r in semantic_dup_pairs(_index(df), threshold=0.9).collect()
    }
    want = _exact_pairs(rows, 0.9)
    # precision is exact by construction (true cosines thresholded)
    assert set(got) <= want
    # with tight groups and soft assignment recall is total here
    assert set(got) == want
    for (_, _), c in got.items():
        assert c >= 0.9


def test_survivors_one_keep_per_group_and_singletons(spark):
    rows, groups = _mk_embeddings()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dup_pairs(_index(df), threshold=0.9)
    surv = {
        r.id: (r.cluster, r.keep)
        for r in semantic_dedup_survivors(df, pairs).collect()
    }
    assert len(surv) == len(rows)
    # each tight group keeps exactly its min id; noise keeps itself
    for g in range(3):
        members = [i for i, gg in groups.items() if gg == g]
        keeps = [i for i in members if surv[i][1] == 1]
        assert keeps == [min(members)]
        assert len({surv[i][0] for i in members}) == 1
    for i, gg in groups.items():
        if gg is None:
            assert surv[i] == (i, 1)


def test_reuses_prebuilt_index_without_retraining(spark):
    """The pairs depend only on the index: a lazy index and a persisted
    rebuild from the same codebook give the same pairs."""
    rows, _ = _mk_embeddings(seed=9)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = train_ivf_codebook(
        df, n_centroids=4, train_sample=64
    )
    idx = build_ivf_index(df, cb, n_assign=2)
    a = {
        (r.ida, r.idb)
        for r in semantic_dup_pairs(idx, threshold=0.9).collect()
    }
    b = {
        (r.ida, r.idb)
        for r in semantic_dup_pairs(
            build_ivf_index(df, cb, n_assign=2).persist(), threshold=0.9
        ).collect()
    }
    assert a == b
