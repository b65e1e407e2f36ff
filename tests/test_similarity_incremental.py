"""Incremental ANN index maintenance laws (VERDICT r16 #4).

The law set mirrors tests/test_incremental_dedup.py's treatment of
minhash_lsh_pairs_incremental, transplanted to the IVF+PQ index:

1. EQUIVALENCE — the nightly update build(corpus) ∪ build(batch) ==
   build(corpus ∪ batch) under frozen codebooks, as exact (id, cell,
   codes) row-set equality.
2. DRIFT GATE, negative — an unbiased corpus slice must NOT trip the
   variance-share retrain trigger.
3. DRIFT GATE, positive — a feature-scaled batch (one dimension blown
   up 10x, the rogue-scaling failure qz286 screens for) MUST trip it.
4. SCALE SHAPE — the update path's plan contains exactly ONE Arrow
   encoder node when the stored index is a materialized table: only the
   batch is encoded; the corpus is read, never re-encoded.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
    build_ivfpq_index,
    dim_variance_profile,
    maintain_ivfpq_index,
    train_ivfpq,
    variance_drift,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.plans.audit import audit
from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table


@pytest.fixture(scope="module")
def split(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(F.col("vec_id") % 5 == 0)
    model = train_ivfpq(corpus, n_centroids=4, m=8, k=16, train_sample=512)
    return e, corpus, batch, model


def _rows(df):
    return sorted(
        (r["id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )


def test_update_equals_full_rebuild(spark, split):
    """Law 1: exact row-set equality, different params than q295 (4
    cells, 16 codes, mod-5 split) so the law holds beyond one config."""
    e, corpus, batch, (coarse, books) = split
    stored = build_ivfpq_index(corpus, coarse, books, n_assign=2)
    updated = stored.unionByName(
        build_ivfpq_index(batch, coarse, books, n_assign=2)
    )
    full = build_ivfpq_index(e, coarse, books, n_assign=2)
    assert _rows(updated) == _rows(full)


def test_unbiased_batch_does_not_trip_drift(spark, split):
    e, corpus, batch, (coarse, books) = split
    baseline = dim_variance_profile(corpus)
    _, retrain, drift = maintain_ivfpq_index(
        build_ivfpq_index(corpus, coarse, books, n_assign=2),
        batch, coarse, books, baseline,
        n_assign=2, drift_threshold=0.10,
    )
    assert not retrain, drift
    assert 0.0 <= drift < 0.10


def test_scaled_batch_trips_drift(spark, split):
    """A 10x blow-up of dimension 0 concentrates variance share there —
    exactly the rogue-feature-scaling / collapsed-encoder shift the
    qz286 screen exists to catch — and must demand a retrain."""
    _, corpus, batch, (coarse, books) = split
    skewed = batch.withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda v, i: F.when(i == 0, v * 10.0).otherwise(v),
        ),
    )
    baseline = dim_variance_profile(corpus)
    _, retrain, drift = maintain_ivfpq_index(
        build_ivfpq_index(corpus, coarse, books, n_assign=2),
        skewed, coarse, books, baseline,
        n_assign=2, drift_threshold=0.10,
    )
    assert retrain, drift
    assert drift > 0.10


def test_drift_is_symmetric_zero_on_self(spark, split):
    _, corpus, _, _ = split
    p = dim_variance_profile(corpus)
    assert variance_drift(p, p) == pytest.approx(0.0, abs=1e-12)


def test_update_encodes_only_the_batch(spark, split, tmp_path):
    """Law 4: with the stored index materialized (parquet, as a real
    deployment would hold it), the update plan has exactly one Arrow
    encoder node — the batch's — and scans the stored index as data."""
    _, corpus, batch, (coarse, books) = split
    p = str(tmp_path / "stored_index")
    build_ivfpq_index(corpus, coarse, books, n_assign=2).write.parquet(p)
    stored = spark.read.parquet(p)
    updated = stored.unionByName(
        build_ivfpq_index(batch, coarse, books, n_assign=2)
    )
    # count unique Arrow-encoder NODE IDs (formatted explain lists each
    # node in the tree and again in the details section)
    import re

    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    text = plan_string(updated)
    encoder_ids = set(re.findall(r"\((\d+)\) MapInPandas", text))
    assert len(encoder_ids) == 1, text
    assert audit(updated).python_evals == 0


def test_hyperplane_and_ivf_updates_equal_full_rebuild(spark, sf_dir):
    """The equivalence law holds for the whole index family: hyperplane
    LSH (data-oblivious planes — no drift gate exists or is needed) and
    plain IVF (stored codebook) behave exactly like the IVF+PQ path."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
        build_hyperplane_index,
        build_ivf_index,
        train_ivf_codebook,
    )

    e = table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(F.col("vec_id") % 5 == 0)

    def rows(df, key_cols):
        return sorted(tuple(r[c] for c in key_cols) for r in df.collect())

    h_stored = build_hyperplane_index(corpus, tables=4, bits=4)
    h_upd = h_stored.unionByName(build_hyperplane_index(batch, tables=4, bits=4))
    h_full = build_hyperplane_index(e, tables=4, bits=4)
    assert rows(h_upd, ["id", "bk"]) == rows(h_full, ["id", "bk"])

    cb = train_ivf_codebook(corpus, n_centroids=4, train_sample=512)
    i_stored = build_ivf_index(corpus, cb, n_assign=2)
    i_upd = i_stored.unionByName(build_ivf_index(batch, cb, n_assign=2))
    i_full = build_ivf_index(e, cb, n_assign=2)
    assert rows(i_upd, ["id", "cell"]) == rows(i_full, ["id", "cell"])


def test_reconcile_equals_rebuild_of_reconciled_corpus(spark, split):
    """Upsert + delete law: reconcile(build(C), U, D) equals
    build((C \\ ids(U) \\ D) ∪ U) — U re-encodes vectors already in C
    (with changed values) plus brand-new ids, D deletes others."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
        ivfpq_index_reconcile,
    )

    e, corpus, batch, (coarse, books) = split
    # upserts: mod-5 batch vectors, PERTURBED (so stale stored rows for
    # overlapping ids would be detectably wrong) ... plus they are new
    # ids relative to corpus; also re-submit 10 corpus ids with changed
    # vectors to exercise the replace path.
    resubmit = corpus.filter(F.col("vec_id") < 60).withColumn(
        "embedding", F.transform("embedding", lambda v: v * 2.0 + 0.1)
    )
    upserts = batch.unionByName(resubmit)
    deletes = corpus.filter(
        (F.col("vec_id") >= 60) & (F.col("vec_id") < 80)
    ).select("vec_id")

    stored = build_ivfpq_index(corpus, coarse, books, n_assign=2)
    rec = ivfpq_index_reconcile(
        stored, upserts, deletes, coarse, books, n_assign=2
    )

    surviving = corpus.join(
        upserts.select("vec_id"), "vec_id", "left_anti"
    ).join(deletes, "vec_id", "left_anti")
    target = surviving.unionByName(upserts)
    full = build_ivfpq_index(target, coarse, books, n_assign=2)
    assert _rows(rec) == _rows(full)
    # the replace path really replaced: no stale codes for resubmitted
    # ids (stale == codes of the unperturbed vectors)
    stale = build_ivfpq_index(
        corpus.filter(F.col("vec_id") < 60), coarse, books, n_assign=2
    )
    rec_sub = rec.join(
        resubmit.select(F.col("vec_id").alias("id")), "id"
    )
    both = rec_sub.join(stale, ["id", "cell", "codes"], "inner").count()
    assert both < stale.count()  # perturbation moved codes for some rows


def test_empty_batch_is_zero_drift_no_retrain(spark, split):
    """A night with zero new vectors is a no-op, not a retrain: the
    empty profile must read as drift 0.0 (no evidence), never as the
    raw TV distance 0.5 of an all-unmatched join."""
    _, corpus, batch, (coarse, books) = split
    empty = batch.limit(0)
    baseline = dim_variance_profile(corpus)
    assert variance_drift(baseline, dim_variance_profile(empty)) == 0.0
    updated, retrain, drift = maintain_ivfpq_index(
        build_ivfpq_index(corpus, coarse, books, n_assign=2),
        empty, coarse, books, baseline,
        n_assign=2, drift_threshold=0.10,
    )
    assert not retrain and drift == 0.0
    # and the update itself is the identity on the stored index
    assert updated.count() == build_ivfpq_index(
        corpus, coarse, books, n_assign=2
    ).count()
