"""Property tests (hypothesis) for the integer-algebra identities the
round-11 statistics queries rely on. Each query reduces a float-valued
statistic to bigint arithmetic over grouped counts + one final
division; these properties pin the ALGEBRA against brute-force float
references on arbitrary inputs — edge cases (all ties, single group,
constant series) included — without touching Spark or DuckDB.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
from hypothesis import given, settings, strategies as st

_vals = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=2, max_size=200
)
_labels = st.lists(st.booleans(), min_size=2, max_size=200)


@settings(max_examples=200, deadline=None)
@given(v=_vals, y=_labels)
def test_grouped_midrank_auc_identity(v, y):
    """2S = sum p*(2*cum_before + t + 1) over grouped values equals the
    doubled midrank mass of the positives, for ANY tie structure."""
    n = min(len(v), len(y))
    v, y = v[:n], y[:n]
    if not any(y) or all(y):
        return  # AUC undefined without both classes
    # grouped-count form (the q165 plan)
    groups = sorted(Counter(zip(v, y)).items())
    per_v: dict[int, list[int]] = {}
    for (val, lab), k in groups:
        p, q = per_v.setdefault(val, [0, 0])
        per_v[val] = [p + (k if lab else 0), q + (0 if lab else k)]
    s2 = 0
    cum = 0
    for val in sorted(per_v):
        p, q = per_v[val]
        t = p + q
        s2 += p * (2 * cum + t + 1)
        cum += t
    np_, nq = sum(y), n - sum(y)
    auc_grouped = (s2 - np_ * (np_ + 1)) / (2.0 * np_ * nq)

    # direct midrank reference
    order = np.argsort(np.array(v), kind="mergesort")
    ranks = np.empty(n)
    sv = np.array(v)[order]
    i = 0
    while i < n:
        j = i
        while j + 1 < n and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j + 2) / 2.0
        i = j + 1
    r_pos = ranks[np.array(y, dtype=bool)].sum()
    auc_ref = (r_pos - np_ * (np_ + 1) / 2) / (np_ * nq)
    assert abs(auc_grouped - auc_ref) < 1e-12


@settings(max_examples=200, deadline=None)
@given(a=_vals, b=_vals)
def test_crossmultiplied_ks_and_w1_identities(a, b):
    """max/sum of |cum1*n2 - cum2*n1| over merged distinct values equal
    n1*n2 times the float KS / W1 of the empirical CDFs."""
    n1, n2 = len(a), len(b)
    xs = sorted(set(a) | set(b))
    ca = cb = 0
    cnt_a, cnt_b = Counter(a), Counter(b)
    dmax = 0
    wsum = 0
    prev_gaps = []
    for i, x in enumerate(xs):
        ca += cnt_a[x]
        cb += cnt_b[x]
        gap = abs(ca * n2 - cb * n1)
        dmax = max(dmax, gap)
        if i + 1 < len(xs):
            wsum += gap * (xs[i + 1] - x)
    sa, sb = np.sort(a), np.sort(b)
    grid = np.array(xs, dtype=float)
    fa = np.searchsorted(sa, grid, side="right") / n1
    fb = np.searchsorted(sb, grid, side="right") / n2
    d_ref = np.max(np.abs(fa - fb))
    w1_ref = float(np.sum(np.abs(fa - fb)[:-1] * np.diff(grid)))
    assert abs(dmax / (n1 * n2) - d_ref) < 1e-12
    assert abs(wsum / (n1 * n2) - w1_ref) < 1e-9


@settings(max_examples=200, deadline=None)
@given(w=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=80))
def test_rank_weighted_gini_identity(w):
    """(2*sum(r*w) - (n+1)*W)/(n*W) over ascending-sorted weights equals
    the mean-absolute-difference Gini definition."""
    w = sorted(w)
    n, W = len(w), sum(w)
    g_rank = (2 * sum((i + 1) * x for i, x in enumerate(w)) - (n + 1) * W) / (
        n * W
    )
    # reference: G = sum_ij |w_i - w_j| / (2 n^2 mean)
    arr = np.array(w, dtype=float)
    mad = np.abs(arr[:, None] - arr[None, :]).sum()
    g_ref = mad / (2 * n * n * arr.mean())
    assert abs(g_rank - g_ref) < 1e-12


@settings(max_examples=200, deadline=None)
@given(obs=st.lists(st.integers(min_value=0, max_value=100), min_size=7, max_size=7))
def test_cleared_fraction_chi2_identity(obs):
    """(7*sum(obs^2) - tot^2)/tot equals the textbook chi-square against
    the uniform expectation tot/7."""
    tot = sum(obs)
    if tot == 0:
        return
    chi2_int = (7 * sum(o * o for o in obs) - tot * tot) / tot
    exp = tot / 7.0
    chi2_ref = sum((o - exp) ** 2 / exp for o in obs)
    assert math.isclose(chi2_int, chi2_ref, rel_tol=0, abs_tol=1e-9)


@settings(max_examples=200, deadline=None)
@given(c=st.lists(st.integers(min_value=0, max_value=100), min_size=2, max_size=60))
def test_cusum_crossmultiplied_identity(c):
    """argmax and max of |n*cum_k - k*tot| match the float CUSUM
    |cum_k - (k/n)*tot| scan."""
    n, tot = len(c), sum(c)
    if tot == 0:
        return
    cum = np.cumsum(c)
    k = np.arange(1, n + 1)
    dnum = np.abs(n * cum - k * tot)
    s_float = np.abs(cum - k * tot / n)
    assert int(np.argmax(dnum)) == int(np.argmax(np.round(s_float * n)))
    assert abs(dnum.max() / (n * tot) - s_float.max() / tot) < 1e-12


# --------------------------------------------------------------------------
# KS sketch-screen decision-safety: a PROPERTY of the margin algebra, so it
# gets a hypothesis sweep over arbitrary two-sample data and batchings —
# summaries built with the same batch_points kernel the distributed passes
# use; the screen's rows are a local frame, so collecting them runs no job.
# --------------------------------------------------------------------------

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.quantiles import (
    batch_points,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.stats_q import (
    _ks_screen_driver,
    _ks_sketch_pairs,
)


def _summary_of(values: list[float], n_batches: int, eps: float) -> dict:
    """Build a summary exactly as quantile_summary_by would: the values
    split into n_batches arbitrary slices, each compressed by
    batch_points, kept points concatenated."""
    arr = np.asarray(values, dtype="float64")
    chunks = np.array_split(arr, n_batches)
    pts, slack = [], 0
    for c in chunks:
        if not len(c):
            continue
        v, w, s = batch_points(c, eps)
        pts += list(zip(v.tolist(), w.tolist()))
        slack += s
    pts.sort()
    return {"points": pts, "n": int(len(arr)), "slack": int(slack)}


def _exact_ks(a: list[float], b: list[float]) -> float:
    xa, xb = np.sort(np.asarray(a)), np.sort(np.asarray(b))
    xs = np.unique(np.concatenate([xa, xb]))
    fa = np.searchsorted(xa, xs, side="right") / len(xa)
    fb = np.searchsorted(xb, xs, side="right") / len(xb)
    return float(np.max(np.abs(fa - fb)))


@settings(max_examples=60, deadline=None)
@given(
    a=st.lists(
        st.integers(min_value=0, max_value=40).map(float),
        min_size=4,
        max_size=120,
    ),
    b=st.lists(
        st.integers(min_value=20, max_value=80).map(float),
        min_size=4,
        max_size=120,
    ),
    na_batches=st.integers(min_value=1, max_value=5),
    nb_batches=st.integers(min_value=1, max_value=5),
    eps=st.sampled_from([0.02, 0.1, 0.3]),
    crit=st.floats(min_value=0.01, max_value=1.0),
)
def test_screen_decision_safety_property(
    spark, a, b, na_batches, nb_batches, eps, crit
):
    """For ARBITRARY two-sample data, batching, compression rate, and
    critical value: (1) the sketch interval brackets the exact D;
    (2) any DECIDED pair's decision equals the exact rounded decision —
    the margin algebra's whole contract, independent of the fixtures.
    The screen takes the Bonferroni constant c and compares against
    c * sqrt((na + nb)/(na * nb)), so c is chosen to put that critical
    value at `crit`, and the decision is checked against the value the
    plan computes."""
    from decimal import ROUND_HALF_UP, Decimal

    summ = {
        "sa": _summary_of(a, na_batches, eps),
        "sb": _summary_of(b, nb_batches, eps),
    }
    scale = math.sqrt((len(a) + len(b)) / (1.0 * len(a) * len(b)))
    c = crit / scale
    crit_plan = c * scale
    sketch = _ks_sketch_pairs(spark, summ)
    (row,) = sketch.collect()
    (screen,) = _ks_screen_driver(sketch, c).collect()
    d_exact = _exact_ks(a, b)
    assert abs(row.d_sketch - d_exact) <= row.bound + 1e-12

    def r6(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    if screen.decision >= 0:
        assert screen.decision == int(r6(d_exact) > r6(crit_plan))
