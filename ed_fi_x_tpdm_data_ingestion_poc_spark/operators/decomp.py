"""Distributed PCA over an embedding column.

The 100 TB shape: the corpus is reduced to its SECOND-MOMENT summary —
(count, d-vector sum, d×d gram matrix) — in one Arrow-batched map pass
with per-batch numpy partials, folded by a tiny JVM reduce (the same
collect_list + zip_with element-wise fold clustering.py uses). At d=64
the whole summary is 33 KB regardless of corpus size; the eigendecomposition
runs on the driver against the d×d covariance, and the projection back
over the corpus is a second map-only pass with the (k,d) component matrix
broadcast. Nothing corpus-sized ever shuffles or reaches the driver.

This is the standard preprocessing dial in embedding pipelines —
whitening/reducing vectors before ANN indexing (OPQ-style), before
SemDeDup-style semantic dedup, or for visualization sampling. The PQ
codebooks (similarity.py) quantize residuals in the ORIGINAL basis; PCA
supplies the rotated/truncated basis when index memory, not recall, is
the binding constraint.

No analog in the reference (no numeric compute in the Java connector);
brief-mandated LLM-pipeline surface.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def second_moments(
    emb: DataFrame, *, vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, sum_x (d,), gram (d,d)) in one distributed pass: per-batch
    numpy partials (cnt, x.sum(0), x.T @ x flattened), reduced by a JVM
    element-wise fold to ONE row."""

    def gen(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["v"]]
            )
            yield pd.DataFrame(
                {
                    "cnt": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    partials = emb.select(F.col(vec_col).alias("v")).mapInPandas(
        gen, "cnt long, s array<double>, g array<double>"
    )
    # array_repeat needs a literal size: probe d once (metadata-cheap)
    d = emb.select(F.size(vec_col).alias("d")).limit(1).collect()[0].d
    row = partials.groupBy().agg(
        F.sum("cnt").alias("n"),
        F.aggregate(
            F.collect_list("s"),
            F.array_repeat(F.lit(0.0), d),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("s"),
        F.aggregate(
            F.collect_list("g"),
            F.array_repeat(F.lit(0.0), d * d),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("g"),
    ).collect()[0]
    s = np.asarray(row.s)
    return int(row.n), s, np.asarray(row.g).reshape(d, d)


def pca_fit(
    emb: DataFrame, *, vec_col: str = "embedding", n_components: int = 8
) -> dict:
    """Fit from the second-moment summary: population covariance
    cov = gram/n − mean⊗mean, symmetric eigendecomposition, top
    components by eigenvalue. Returns {"mean" (d,), "components" (k,d)
    orthonormal rows, "eigvals" (d,) descending, "n"}. Deterministic up
    to sign; rows are sign-fixed so the largest-|coeff| entry is
    positive."""
    n, s, gram = second_moments(emb, vec_col=vec_col)
    if n < 2:
        raise ValueError(f"pca needs >= 2 rows, got {n}")
    mean = s / n
    cov = gram / n - np.outer(mean, mean)
    w, v = np.linalg.eigh((cov + cov.T) / 2.0)  # ascending
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    comps = v[:, :n_components].T.copy()
    for r in comps:  # sign convention: dominant coefficient positive
        if r[np.argmax(np.abs(r))] < 0:
            r *= -1.0
    return {"mean": mean, "components": comps, "eigvals": w, "n": n}


def pca_transform(
    emb: DataFrame,
    model: dict,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, proj array<double>) — map-only Arrow pass, components
    broadcast; the corpus-side projection after a fit."""
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((model["mean"], model["components"]))

    def gen(it):
        import numpy as np
        import pandas as pd

        mean, comps = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["v"]]
            )
            p = (x - mean) @ comps.T
            yield pd.DataFrame(
                {"id": pdf["id"], "proj": [r.tolist() for r in p]}
            )

    return emb.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(gen, "id long, proj array<double>")


def reconstruction_sse_plan(
    emb: DataFrame, model: dict, *, vec_col: str = "embedding"
) -> DataFrame:
    """One-row `sse` plan: the total squared reconstruction error
    sum ||x − mean − VᵀV(x−mean)||² in one map pass with a
    scalar-per-batch reduce. The Eckart–Young check: equals n · sum of
    the residual eigenvalues (a law the tests pin) — no basis can do
    better."""
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((model["mean"], model["components"]))

    def gen(it):
        import numpy as np
        import pandas as pd

        mean, comps = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            x = (
                np.asarray(
                    [np.asarray(v, dtype="float64") for v in pdf["v"]]
                )
                - mean
            )
            r = x - (x @ comps.T) @ comps
            yield pd.DataFrame({"sse": [float((r * r).sum())]})

    return (
        emb.select(F.col(vec_col).alias("v"))
        .mapInPandas(gen, "sse double")
        .agg(F.sum("sse").alias("sse"))
    )


def reconstruction_sse(
    emb: DataFrame, model: dict, *, vec_col: str = "embedding"
) -> float:
    """reconstruction_sse_plan's error, evaluated on the driver."""
    return reconstruction_sse_plan(emb, model, vec_col=vec_col).first().sse
