"""Mergeable distributed quantile summary with a PROVABLE rank-error
bound — the percentile/median layer of a stats stage (length filters,
winsorization thresholds, latency dashboards) when an exact global sort
is off the table.

Design (the Manku–Rajagopalan–Lindsay collapse, kept deterministic):

  * each Arrow batch sorts ITS OWN values and keeps every s-th order
    statistic (s = max(1, floor(n_b * eps)), always including the batch
    max), recording each kept value's EXACT local rank as a weight gap —
    a batch of n_b rows compresses to ~1/eps (value, gap) pairs with
    zero rank uncertainty AT the kept points and at most s between them;
  * summaries concatenate (merge = list append + sort at query time):
    the estimated global rank of v is the sum over batches of the exact
    local rank of the largest kept value <= v, so the absolute rank
    error is bounded by sum_b(s_b) <= n_batches + eps * N — the summary
    CARRIES its own bound (`slack`), no distributional assumption;
  * queries walk the cumulative weights: quantile(phi) returns the
    smallest kept value whose merged cumulative weight reaches
    ceil(phi * N).

Everything upstream of the driver is one map-only pass (numpy sort per
Arrow batch); the driver holds n_batches/eps rows, never the corpus.
quantile_summary_by amortizes bounded-cardinality group tables into the
same single pass, and exact_quantiles_via_summary upgrades the summary
to an EXACT, engine-portable order statistic (prune + bounded refine —
approximation never leaks into the answer).
Spark's own approx_percentile gives no merge handle and its
Greenwald-Khanna state is opaque; this summary is a first-class
DataFrame + dict artifact that shards can build independently and a
coordinator can union — the same contract as sketches.py (HLL/KMV/CMS).

No reference analog (the Java connector aggregates nothing); part of
the brief-mandated large-scale pipeline surface.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA = "value double, w long, slack long"


def batch_points(v: "np.ndarray", eps: float):
    """Collapse one batch of raw values to the kept (values, weights)
    order statistics plus that batch's slack contribution — the shared
    kernel of quantile_summary / quantile_summary_by and of streaming
    state updates (a micro-batch is just another batch): sort, keep
    every s-th order statistic (s = max(1, floor(n*eps))) plus the max,
    weight each kept point by the count of rows it absorbs. NaNs are
    dropped (the SQL null convention)."""
    v = np.sort(v[~np.isnan(v)])
    n = len(v)
    if not n:
        return v[:0], np.zeros(0, dtype="int64"), 0
    s = max(1, int(n * eps))
    idx = np.arange(s - 1, n, s)
    if idx[-1] != n - 1:
        idx = np.append(idx, n - 1)
    ranks = idx + 1
    w = np.diff(np.concatenate(([0], ranks)))
    return v[idx], w, s


def quantile_summary(df: DataFrame, col: str, eps: float = 0.01) -> dict:
    """One distributed pass -> {"points": [(value, weight)...] sorted,
    "n": total rows, "slack": worst-case absolute rank error}. Nulls are
    excluded (SQL aggregate convention). Deterministic: batch content is
    sorted before selection and the merged list is value-sorted with
    stable tie order."""
    if not (0 < eps < 1):
        raise ValueError(f"eps must be in (0,1), got {eps}")

    def gen(it):
        import pandas as pd

        for pdf in it:
            v = pdf[col].to_numpy(dtype="float64")
            vals, w, slack = batch_points(v, eps)
            if not len(vals):
                continue
            sl = np.zeros(len(vals), dtype="int64")
            sl[0] = slack
            yield pd.DataFrame({"value": vals, "w": w, "slack": sl})

    rows = (
        df.select(F.col(col).alias(col))
        .where(F.col(col).isNotNull())
        .mapInPandas(gen, _SCHEMA)
        .collect()
    )
    pts = sorted((r.value, r.w) for r in rows)
    return {
        "points": pts,
        "n": int(sum(w for _, w in pts)),
        "slack": int(sum(r.slack for r in rows)),
    }


def quantile_summary_by(
    df: DataFrame, col: str, group_col: str, eps: float = 0.01
) -> dict[str, dict]:
    """Per-group summaries in ONE distributed pass: each Arrow batch
    splits by group (key compared as its string form) and compresses
    each slice with the same exact-local-rank selection as
    quantile_summary. Returns {group: summary}. The driver holds
    n_groups * n_batches / eps rows — the per-source/per-type quantile
    table shape (bounded group cardinality), built without one job per
    group. Each group's summary satisfies the identical rank-error
    bound (its slack is computed from its own batch slices)."""
    if not (0 < eps < 1):
        raise ValueError(f"eps must be in (0,1), got {eps}")

    def gen(it):
        import pandas as pd

        for pdf in it:
            out_g, out_v, out_w, out_s = [], [], [], []
            for g, sub in pdf.groupby("g", sort=True, dropna=False):
                vals, w, s = batch_points(
                    sub["v"].to_numpy(dtype="float64"), eps
                )
                if not len(vals):
                    continue
                out_g += [g] * len(vals)
                out_v += list(vals)
                out_w += list(w)
                out_s += [s] + [0] * (len(vals) - 1)
            yield pd.DataFrame(
                {"g": out_g, "value": out_v, "w": out_w, "slack": out_s}
            )

    rows = (
        df.select(
            F.col(group_col).cast("string").alias("g"),
            F.col(col).alias("v"),
        )
        .where(F.col(col).isNotNull())
        .mapInPandas(gen, "g string, value double, w long, slack long")
        .collect()
    )
    groups: dict[str, dict] = {}
    for r in rows:
        d = groups.setdefault(r.g, {"points": [], "n": 0, "slack": 0})
        d["points"].append((r.value, r.w))
        d["slack"] += r.slack
    for d in groups.values():
        d["points"].sort()
        d["n"] = int(sum(w for _, w in d["points"]))
    return groups


def summary_merge(a: dict, b: dict) -> dict:
    """Union two summaries built over DISJOINT row sets: ranks add, so
    bounds add — merge is list concatenation, exact and associative
    (the property GK/approx_percentile state does not expose)."""
    pts = sorted(a["points"] + b["points"])
    return {
        "points": pts,
        "n": a["n"] + b["n"],
        "slack": a["slack"] + b["slack"],
    }


def summary_quantile(summary: dict, phi: float) -> float:
    """Smallest kept value whose cumulative merged weight reaches
    target = max(1, ceil(phi * n)).

    Bound: target <= true_rank(result) <= target - 1 + slack + w_cross,
    where w_cross is the crossing point's own weight (cumulative weight
    can overshoot the target by up to one batch stride), so the
    worst-case absolute rank error is slack + max(w) - 1, NOT slack
    alone. Which points are kept — and therefore slack and the returned
    value — is a function of the input's partitioning/Arrow batching;
    the BOUND holds for every batching, the value is only stable for a
    fixed one. For an exact, batching-independent order statistic use
    exact_quantiles_via_summary."""
    if not summary["points"]:
        raise ValueError("empty summary")
    if not (0 <= phi <= 1):
        raise ValueError(f"phi must be in [0,1], got {phi}")
    target = max(1, int(np.ceil(phi * summary["n"])))
    acc = 0
    for value, w in summary["points"]:
        acc += w
        if acc >= target:
            return float(value)
    return float(summary["points"][-1][0])


def summary_rank_bounds(summary: dict, value: float) -> tuple[int, int]:
    """[lo, hi] bracket on the true rank of `value` (rows <= value):
    lo = sum of weights of kept points <= value (every one of those
    rows is truly <= value), hi = lo + slack."""
    lo = sum(w for v, w in summary["points"] if v <= value)
    return lo, min(lo + summary["slack"], summary["n"])


def summary_cdf(summary: dict, xs: "np.ndarray") -> tuple["np.ndarray", float]:
    """(lo(x)/n at each of the sorted points `xs`, (slack + max w)/n): the
    summary's lower-rank CDF and its error bound. Between consecutive
    kept points the true CDF rises by at most one batch stride, so the
    true CDF lies within the bound of lo/n everywhere, and two summaries'
    max CDF gap is within the sum of their bounds of the exact
    two-sample Kolmogorov-Smirnov D, for every batching."""
    pts = summary["points"]
    vals = np.fromiter((v for v, _ in pts), dtype="float64", count=len(pts))
    w = np.fromiter((w for _, w in pts), dtype="int64", count=len(pts))
    cums = np.cumsum(w)
    idx = np.searchsorted(vals, xs, side="right")
    lo = np.where(idx > 0, cums[np.maximum(idx - 1, 0)], 0)
    n = summary["n"]
    return lo / n, (summary["slack"] + int(w.max())) / n


def exact_quantiles_via_summary(
    df: DataFrame,
    col: str,
    phis: list[float],
    eps: float = 0.01,
    summary: dict | None = None,
    rank_den: int | None = None,
    rank_fn=None,
) -> dict[float, float]:
    """EXACT order statistics with no global sort — the summary is the
    PRUNE, an exact pass is the REFINE (the same approximate-prune /
    exact-verify contract as q137's bloom join: approximation never
    leaks into the answer).

    For each phi the answer is the target-th smallest non-null value,
    target = max(1, ceil(phi * n)) — a pure function of the DATA, not
    of batching, so it is engine-portable and SQL-twinnable (DuckDB:
    the ROW_NUMBER()-th value ordered ascending), unlike the summary's
    own batch-dependent kept points.

    Plan (3 extra jobs after the summary, all bounded):
      1. from the summary pick t_phi = the largest kept value whose
         hi rank bound (lo + slack) is still below target — then
         t_phi's TRUE rank is provably < target, so the answer lies
         strictly above t_phi;
      2. ONE conditional aggregate computes the exact count <= t_phi
         for all phis (map-side combine, one row out);
      3. the answer is the (target - count)-th smallest value above
         t_phi: TakeOrdered over the pruned side, where the fetch size
         target - count <= slack + max(w) = O(eps*n + n_batches) rows
         by the rank-bound law — driver-bounded by construction, with
         eps the knob that trades summary size against refine size.
    """
    if summary is None:
        summary = quantile_summary(df, col, eps)
    n = summary["n"]
    if n == 0:
        raise ValueError("exact_quantiles_via_summary: no non-null rows")
    slack = summary["slack"]
    # collapse equal kept values first: with ties, the running cumulative
    # weight at a point UNDERCOUNTS lo(v) (later points may carry the
    # same value), and the prune guarantee needs the full lo(t)
    from itertools import groupby

    pts = [
        (v, sum(w for _, w in grp))
        for v, grp in groupby(summary["points"], key=lambda p: p[0])
    ]
    targets: dict[float, int] = {}
    prunes: dict[float, float | None] = {}
    for phi in phis:
        if not (0 <= phi <= 1):
            raise ValueError(f"phi must be in [0,1], got {phi}")
        if rank_fn is not None:
            # caller-supplied integer rank (phi, n) -> target: conformal
            # bounds need ceil(phi*(n+1)) capped at n, which no rational
            # phi*n form expresses; the callback must return 1..n and be
            # mirrored exactly by the SQL twin
            target = rank_fn(phi, n)
            if not (1 <= target <= n):
                raise ValueError(
                    f"rank_fn returned {target}, outside 1..{n}"
                )
        elif rank_den is not None:
            # integer ceiling of (phi*rank_den)/rank_den * n: when phi is
            # an exact rational i/den (deciles, percentiles) the float
            # expression ceil(phi*n) differs between engines for some
            # (i, n) — e.g. DuckDB's ceil(3*0.1*10)=4 vs ceil(0.3*10)=3 —
            # so SQL-twinned callers pass the denominator and both sides
            # compute GREATEST(1, (i*n + den-1) // den) in exact integers.
            num = round(phi * rank_den)
            target = max(1, (num * n + rank_den - 1) // rank_den)
        else:
            target = max(1, int(np.ceil(phi * n)))
        t, acc = None, 0
        for v, w in pts:
            acc += w
            if acc + slack < target:
                t = v
            else:
                break
        targets[phi], prunes[phi] = target, t
    c = F.col(col)
    nn = c.isNotNull()
    thresholds = sorted({t for t in prunes.values() if t is not None})
    counts: dict[float, int] = {}
    if thresholds:
        row = df.agg(
            *[
                F.sum((nn & (c <= F.lit(t))).cast("long")).alias(f"c{i}")
                for i, t in enumerate(thresholds)
            ]
        ).first()
        counts = {t: int(row[f"c{i}"] or 0) for i, t in enumerate(thresholds)}
    out: dict[float, float] = {}
    for phi in phis:
        t = prunes[phi]
        below = counts[t] if t is not None else 0
        k = targets[phi] - below
        survivors = df.where(nn & (c > F.lit(t)) if t is not None else nn)
        vals = survivors.select(c.alias("v")).orderBy("v").limit(k).collect()
        out[phi] = float(vals[-1].v)
    return out
