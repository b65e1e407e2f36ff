"""Third-engine differential tests for the round-11 statistics family
(queries/stats_q.py): independent numpy reference implementations of
each statistic, computed straight from the parquet fixtures, compared
against the Spark query outputs. The DuckDB oracles already pin
cross-SQL-engine agreement; these pin the MATH — a shared SQL
misconception (wrong midrank algebra, off-by-one median rank, a Gini
formula that assumes unit weights) would pass the oracle twin and fail
here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

_SPECS = all_queries()


def _events(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/events.parquet")


def _docs(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def _run(name: str, spark, sf_dir: str) -> pd.DataFrame:
    return _SPECS[name].build(spark, sf_dir).toPandas()


def test_auc_matches_midrank_reference(spark, sf_dir):
    ev = _events(sf_dir)
    y = (ev["event_type"] == "purchase").to_numpy()
    v = ev["value"].to_numpy()
    # independent method: scipy-style midranks via argsort, not grouped
    # counts — ranks of sorted order with ties averaged
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v), dtype=float)
    sv = v[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j + 2) / 2.0  # 1-based midrank
        i = j + 1
    n_pos, n_neg = int(y.sum()), int((~y).sum())
    auc_ref = (ranks[y].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)

    out = _run("qz165_exact_auc", spark, sf_dir).iloc[0]
    assert out["n_pos"] == n_pos and out["n_neg"] == n_neg
    assert abs(out["auc"] - auc_ref) < 1e-6


def test_ks_and_w1_match_cdf_reference(spark, sf_dir):
    d = _docs(sf_dir)
    a = np.sort(d.loc[d["source"] == "src0", "n_chars"].to_numpy())
    b = np.sort(d.loc[d["source"] == "src1", "n_chars"].to_numpy())
    xs = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, xs, side="right") / len(a)
    fb = np.searchsorted(b, xs, side="right") / len(b)
    d_ref = float(np.max(np.abs(fa - fb)))
    w1_ref = float(np.sum(np.abs(fa - fb)[:-1] * np.diff(xs)))

    ks = _run("qz166_ks_drift", spark, sf_dir).iloc[0]
    assert ks["n1"] == len(a) and ks["n2"] == len(b)
    assert abs(ks["d"] - d_ref) < 1e-6
    crit = 1.3581 * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))
    assert ks["reject"] == int(round(d_ref, 6) > round(crit, 6))

    w1 = _run("qz171_wasserstein_drift", spark, sf_dir).iloc[0]
    assert abs(w1["w1"] - w1_ref) < 1e-6


def test_gini_matches_sorted_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz167_token_gini", spark, sf_dir).set_index("source")
    for source, grp in d.groupby("source"):
        toks = [
            t
            for text in grp["text"]
            for t in str(text).split(" ")
            if t != ""
        ]
        w = np.sort(pd.Series(toks).value_counts().to_numpy())
        n = len(w)
        # canonical sorted-array Gini
        g_ref = (2 * np.sum(np.arange(1, n + 1) * w) - (n + 1) * w.sum()) / (
            n * w.sum()
        )
        row = out.loc[source]
        assert row["n_types"] == n
        assert row["n_tokens"] == w.sum()
        assert abs(row["gini"] - g_ref) < 1e-6


def test_mmd_matches_centroid_reference(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    mus = {
        lbl: np.round(
            np.mean(np.stack(grp["embedding"].to_numpy()), axis=0) * 1e6
        ).astype("int64")
        for lbl, grp in emb.groupby("label")
    }
    out = _run("qz168_label_mmd", spark, sf_dir)
    assert len(out) == len(mus) * (len(mus) - 1) // 2
    for _, r in out.iterrows():
        gap = mus[r["label_a"]] - mus[r["label_b"]]
        ref = float(np.sum(gap * gap)) / 1e12
        assert abs(r["mmd2"] - ref) < 1e-6


def _daily(sf_dir: str) -> pd.DataFrame:
    ev = _events(sf_dir)
    epoch = pd.Timestamp("2024-01-01 00:00:00")
    day = ((ev["ts"] - epoch).dt.total_seconds() * 1e6 // 86_400_000_000)
    return (
        ev.assign(day=day.astype("int64"))
        .groupby(["event_type", "day"])
        .size()
        .rename("c")
        .reset_index()
    )


def test_theil_sen_matches_pairwise_reference(spark, sf_dir):
    daily = _daily(sf_dir)
    out = _run("qz172_theil_sen_trend", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day")
        days = g["day"].to_numpy()
        c = g["c"].to_numpy(dtype=float)
        ii, jj = np.triu_indices(len(days), k=1)
        slopes = np.sort((c[jj] - c[ii]) / (days[jj] - days[ii]))
        med = slopes[(len(slopes) + 1) // 2 - 1]  # lower median
        row = out.loc[et]
        assert row["n_pairs"] == len(slopes)
        assert abs(row["slope"] - med) < 1e-6


def test_autocorr_matches_pearson_reference(spark, sf_dir):
    daily = _daily(sf_dir)
    out = _run("qz173_daily_autocorr", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day")
        days = g["day"].to_numpy()
        c = g["c"].to_numpy(dtype=float)
        keep = np.diff(days) == 1
        x, y = c[:-1][keep], c[1:][keep]
        row = out.loc[et]
        assert row["n_pairs"] == keep.sum()
        if np.var(x) > 0 and np.var(y) > 0:
            ref = np.corrcoef(x, y)[0, 1]
            assert abs(row["r1"] - ref) < 1e-6
        else:
            assert row["r1"] == 0.0


def test_cusum_matches_scan_reference(spark, sf_dir):
    daily = _daily(sf_dir)
    out = _run("qz174_cusum_changepoint", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day")
        c = g["c"].to_numpy(dtype="int64")
        n, tot = len(c), int(c.sum())
        cum = np.cumsum(c)
        dnum = np.abs(n * cum - np.arange(1, n + 1) * tot)
        k = int(np.argmax(dnum))  # numpy argmax = first max = earliest day
        row = out.loc[et]
        assert row["n_days"] == n
        assert row["cp_day"] == g["day"].to_numpy()[k]
        assert abs(row["stat"] - dnum.max() / (n * tot)) < 1e-6


def test_weekday_chi2_matches_reference(spark, sf_dir):
    daily = _daily(sf_dir)
    out = _run("qz175_weekday_uniformity", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in daily.groupby("event_type"):
        obs = (
            grp.assign(wd=grp["day"] % 7).groupby("wd")["c"].sum().to_numpy()
        )
        tot = obs.sum()
        exp = tot / 7.0
        # textbook form, fractions and all — independent of the
        # cleared-fraction algebra the query uses
        chi2_ref = float(np.sum((obs - exp) ** 2 / exp))
        row = out.loc[et]
        assert row["n_events"] == tot
        assert abs(row["chi2"] - chi2_ref) < 1e-4


def test_datasheet_internal_consistency(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz169_corpus_datasheet", spark, sf_dir).set_index("source")
    by = d.groupby("source")
    for source, grp in by:
        row = out.loc[source]
        assert row["n_docs"] == len(grp)
        toks = grp["text"].map(
            lambda t: len([x for x in str(t).split(" ") if x != ""])
        )
        assert row["n_tokens"] == toks.sum()
        lens = np.sort(grp["n_chars"].to_numpy())
        assert row["med_chars"] == lens[(len(lens) + 1) // 2 - 1]
    # duplicate counts sum to the number of docs whose md5 repeats
    import hashlib

    h = d["text"].map(lambda t: hashlib.md5(str(t).encode()).hexdigest())
    dup_total = int(h.map(h.value_counts()).gt(1).sum())
    assert out["dup_docs"].sum() == dup_total


def test_sketch_ks_law_flag_is_green(spark, sf_dir):
    out = _run("qz170_sketch_ks_ok", spark, sf_dir).iloc[0]
    assert out["ok"] == 1
    # and the exact D agrees with a direct two-sample computation
    ev = _events(sf_dir)
    a = np.sort(
        ev.loc[ev["event_type"] == "view", "value"].to_numpy()
    )
    b = np.sort(
        ev.loc[ev["event_type"] == "purchase", "value"].to_numpy()
    )
    xs = np.unique(np.concatenate([a, b]))
    d_ref = np.max(
        np.abs(
            np.searchsorted(a, xs, side="right") / len(a)
            - np.searchsorted(b, xs, side="right") / len(b)
        )
    )
    assert abs(out["d_exact"] - d_ref) < 1e-6


def test_ks_matrix_matches_pairwise_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz176_ks_matrix", spark, sf_dir).set_index(
        ["source_a", "source_b"]
    )
    sources = sorted(d["source"].unique())
    assert len(out) == len(sources) * (len(sources) - 1) // 2
    import itertools

    # spot-check 10 pairs (full 190 would re-derive the same code path)
    for sa, sb in itertools.islice(
        itertools.combinations(sources, 2), 0, 50, 5
    ):
        a = np.sort(d.loc[d["source"] == sa, "n_chars"].to_numpy())
        b = np.sort(d.loc[d["source"] == sb, "n_chars"].to_numpy())
        xs = np.unique(np.concatenate([a, b]))
        d_ref = float(
            np.max(
                np.abs(
                    np.searchsorted(a, xs, side="right") / len(a)
                    - np.searchsorted(b, xs, side="right") / len(b)
                )
            )
        )
        assert abs(out.loc[(sa, sb)]["d"] - d_ref) < 1e-6


def test_psi_matches_binned_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz177_psi_drift", spark, sf_dir).set_index("source")
    ref = np.sort(d.loc[d["source"] == "src0", "n_chars"].to_numpy())
    n = len(ref)
    edges = [
        ref[max(1, int(np.ceil(i / 10 * n))) - 1] for i in range(1, 10)
    ]
    for source, grp in d.groupby("source"):
        if source == "src0":
            assert source not in out.index
            continue
        lens = grp["n_chars"].to_numpy()
        b = np.sum(np.asarray(edges)[None, :] <= lens[:, None], axis=1)
        cnt = np.bincount(b, minlength=10)[:10]
        rb = np.sum(
            np.asarray(edges)[None, :] <= ref[:, None], axis=1
        )
        rcnt = np.bincount(rb, minlength=10)[:10]
        pb = (cnt + 0.5) / (len(lens) + 5.0)
        pa = (rcnt + 0.5) / (n + 5.0)
        psi_ref = float(np.sum((pb - pa) * np.log(pb / pa)))
        assert abs(out.loc[source]["psi"] - psi_ref) < 1e-6


def _midranks(v: np.ndarray) -> np.ndarray:
    """1-based midranks with ties averaged (scipy-style, via argsort)."""
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v), dtype=float)
    sv = v[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j + 2) / 2.0
        i = j + 1
    return ranks


def test_kruskal_wallis_matches_rank_reference(spark, sf_dir):
    ev = _events(sf_dir)
    v = ev["value"].to_numpy()
    g = ev["event_type"].to_numpy()
    ranks = _midranks(v)
    n = len(v)
    groups = sorted(set(g))
    q = sum(ranks[g == t].sum() ** 2 / (g == t).sum() for t in groups)
    h = 12.0 / (n * (n + 1)) * q - 3.0 * (n + 1)
    _, t_counts = np.unique(v, return_counts=True)
    tie = (t_counts.astype(float) ** 3 - t_counts).sum()
    h /= 1.0 - tie / (float(n) ** 3 - n)

    out = _run("qz183_kruskal_wallis", spark, sf_dir).iloc[0]
    assert out["df"] == len(groups) - 1
    assert abs(out["h"] - h) < 1e-5


def test_kendall_matches_bruteforce_reference(spark, sf_dir):
    d = _daily(sf_dir)
    wide = d.pivot(index="day", columns="event_type", values="c").dropna()
    types = sorted(wide.columns)
    out = _run("qz184_kendall_daily", spark, sf_dir)
    got = {
        (r.type_a, r.type_b): (r.tau_b, r.n_pairs)
        for r in out.itertuples()
    }
    for ia, ta in enumerate(types):
        for tb in types[ia + 1 :]:
            # per-pair common days: q184 joins on day per pair, so use
            # days where BOTH series have counts
            sub = d[d.event_type.isin([ta, tb])]
            w = sub.pivot(index="day", columns="event_type", values="c")
            w = w.dropna()
            x, y = w[ta].to_numpy(), w[tb].to_numpy()
            m = len(x)
            conc = disc = tx = ty = 0
            for i in range(m):
                for j in range(i + 1, m):
                    dx, dy = x[i] - x[j], y[i] - y[j]
                    if dx * dy > 0:
                        conc += 1
                    elif dx * dy < 0:
                        disc += 1
                    if dx == 0:
                        tx += 1
                    if dy == 0:
                        ty += 1
            n0 = m * (m - 1) // 2
            denom = (n0 - tx) * (n0 - ty)
            tau = (conc - disc) / np.sqrt(denom) if denom > 0 else 0.0
            assert got[(ta, tb)][1] == n0
            assert abs(got[(ta, tb)][0] - tau) < 1e-5


def test_bh_fdr_matches_local_procedure(spark, sf_dir):
    d = _docs(sf_dir)
    srcs = sorted(d["source"].unique())
    pvals = {}
    for ia, sa in enumerate(srcs):
        for sb in srcs[ia + 1 :]:
            a = np.sort(d.loc[d.source == sa, "n_chars"].to_numpy())
            b = np.sort(d.loc[d.source == sb, "n_chars"].to_numpy())
            grid = np.union1d(a, b)
            ca = np.searchsorted(a, grid, side="right")
            cb = np.searchsorted(b, grid, side="right")
            na, nb = len(a), len(b)
            dstat = np.max(np.abs(ca / na - cb / nb))
            p = min(1.0, 2.0 * np.exp(-2.0 * dstat**2 * na * nb / (na + nb)))
            pvals[(sa, sb)] = round(p, 6)
    items = sorted(pvals.items(), key=lambda kv: (kv[1], kv[0]))
    m = len(items)
    kstar = max(
        (i + 1 for i, (_, p) in enumerate(items) if p <= (i + 1) * 0.05 / m),
        default=0,
    )
    expect = {k: int(i + 1 <= kstar) for i, (k, _) in enumerate(items)}

    out = _run("qz185_ks_matrix_fdr", spark, sf_dir)
    got = {(r.source_a, r.source_b): int(r.reject_bh) for r in out.itertuples()}
    assert got == expect


def test_jsd_matches_local_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz186_js_divergence", spark, sf_dir)
    lens = np.sort(d["n_chars"].unique())
    tot = d.groupby("n_chars").size().reindex(lens, fill_value=0).to_numpy()
    n = len(d)
    for r in out.itertuples():
        k = (
            d[d.source == r.source]
            .groupby("n_chars")
            .size()
            .reindex(lens, fill_value=0)
            .to_numpy()
        )
        ns = k.sum()
        p = k / ns
        q = (tot - k) / (n - ns)
        mmix = 0.5 * (p + q)
        with np.errstate(divide="ignore", invalid="ignore"):
            jsd = 0.5 * np.where(p > 0, p * np.log(p / mmix), 0.0).sum() + (
                0.5 * np.where(q > 0, q * np.log(q / mmix), 0.0).sum()
            )
        assert abs(r.jsd - jsd) < 1e-5


def test_bernstein_matches_local_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz187_bernstein_bounds", spark, sf_dir)
    ln_d = np.log(2.0 / 0.05)
    for r in out.itertuples():
        x = d.loc[d.source == r.source, "n_chars"].to_numpy(dtype=float)
        n = len(x)
        mean = x.mean()
        var = x.var(ddof=1)
        eps = np.sqrt(2.0 * var * ln_d / n) + 7.0 * (
            x.max() - x.min()
        ) * ln_d / (3.0 * (n - 1))
        assert r.n == n
        assert abs(r.mean - mean) < 1e-5
        assert abs(r.lo - (mean - eps)) < 1e-5
        assert abs(r.hi - (mean + eps)) < 1e-5


def test_mi_matches_contingency_reference(spark, sf_dir):
    d = _daily(sf_dir)
    d["weekday"] = d["day"] % 7
    ct = d.groupby(["event_type", "weekday"])["c"].sum().reset_index()
    n = ct["c"].sum()
    rt = ct.groupby("event_type")["c"].sum()
    cl = ct.groupby("weekday")["c"].sum()
    mi = sum(
        (row.c / n) * np.log(row.c * n / (rt[row.event_type] * cl[row.weekday]))
        for row in ct.itertuples()
    )
    out = _run("qz188_type_weekday_mi", spark, sf_dir).iloc[0]
    assert abs(out["mi"] - mi) < 1e-5


def test_stream_psi_monitor_matches_batch_reference(spark, sf_dir):
    ev = _events(sf_dir)
    ref = np.sort(ev.loc[ev.event_type == "view", "value"].to_numpy())
    n_ref = len(ref)
    edges = [
        ref[max(1, (i * n_ref + 9) // 10) - 1] for i in range(1, 10)
    ]
    types = sorted(ev["event_type"].unique())
    counts = {}
    for t in types:
        vals = ev.loc[ev.event_type == t, "value"].to_numpy()
        b = np.zeros(10, dtype=int)
        for v in vals:
            b[sum(v >= e for e in edges)] += 1
        counts[t] = b
    pa = (counts["view"] + 0.5) / (counts["view"].sum() + 5.0)
    out = _run("qz182_stream_psi_monitor", spark, sf_dir)
    assert set(out["batches"]) == {3}
    for r in out.itertuples():
        pb = (counts[r.event_type] + 0.5) / (counts[r.event_type].sum() + 5.0)
        psi = ((pb - pa) * np.log(pb / pa)).sum()
        assert abs(r.psi - psi) < 1e-5


def test_conformal_bound_matches_order_stats(spark, sf_dir):
    ev = _events(sf_dir)
    out = _run("qz189_conformal_bound", spark, sf_dir)
    for r in out.itertuples():
        x = np.sort(ev.loc[ev.event_type == r.event_type, "value"].to_numpy())
        n = len(x)
        med = x[max(1, (n + 1) // 2) - 1]
        res = np.sort(np.abs(ev.loc[ev.event_type == r.event_type, "value"].to_numpy() - med))
        qhat = res[min(n, (9 * (n + 1) + 9) // 10) - 1]
        assert r.n == n
        assert abs(r.med - med) < 1e-6
        assert abs(r.qhat - qhat) < 1e-6


def test_event_paths_match_pandas_reference(spark, sf_dir):
    ev = _events(sf_dir).sort_values(["user_id", "ts", "event_id"])
    paths = {}
    for _, g in ev.groupby("user_id"):
        t = g["event_type"].tolist()
        for i in range(len(t) - 2):
            p = ">".join(t[i : i + 3])
            paths[p] = paths.get(p, 0) + 1
    top = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    out = _run("qz190_event_paths", spark, sf_dir)
    got = [(r.path, r.n) for r in out.itertuples()]
    assert got == top


def test_source_affinity_matches_centroid_reference(spark, sf_dir):
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    docs = _docs(sf_dir)[["doc_id", "source"]]
    j = emb.merge(docs, left_on="vec_id", right_on="doc_id")
    cents = {}
    for s, g in j.groupby("source"):
        m = np.stack(g["embedding"].to_numpy()).astype(float).mean(axis=0)
        cents[s] = np.round(m, 6)
    out = _run("qz191_source_affinity", spark, sf_dir)
    for r in out.itertuples():
        a, b = cents[r.source_a], cents[r.source_b]
        cos = float(a @ b / np.sqrt((a @ a) * (b @ b)))
        assert abs(r.cos - cos) < 1e-5


def test_stream_sketch_ks_matches_exact_reference(spark, sf_dir):
    ev = _events(sf_dir)
    a = np.sort(ev.loc[ev.event_type == "purchase", "value"].to_numpy())
    b = np.sort(ev.loc[ev.event_type == "view", "value"].to_numpy())
    grid = np.union1d(a, b)
    d_ref = np.max(
        np.abs(
            np.searchsorted(a, grid, side="right") / len(a)
            - np.searchsorted(b, grid, side="right") / len(b)
        )
    )
    out = _run("qz192_stream_sketch_ks", spark, sf_dir).iloc[0]
    assert out["ok"] == 1
    assert out["n_mon"] == len(a) and out["n_ref"] == len(b)
    assert abs(out["d_exact"] - d_ref) < 1e-5


def test_last_touch_matches_pandas_reference(spark, sf_dir):
    ev = _events(sf_dir).sort_values(["user_id", "ts", "event_id"])
    counts = {}
    for _, g in ev.groupby("user_id"):
        t = g["event_type"].tolist()
        for i, x in enumerate(t):
            if x == "purchase":
                prev = t[i - 1] if i > 0 else "none"
                counts[prev] = counts.get(prev, 0) + 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    out = _run("qz193_last_touch", spark, sf_dir)
    assert [(r.touch, r.n) for r in out.itertuples()] == expect


def test_daily_bands_match_order_stats(spark, sf_dir):
    ev = _events(sf_dir)
    day = (
        (ev["ts"] - pd.Timestamp("2024-01-01")).dt.total_seconds() // 86400
    ).astype(int)
    out = _run("qz195_daily_value_bands", spark, sf_dir)
    for r in out.itertuples():
        x = np.sort(ev.loc[day == r.day, "value"].to_numpy())
        n = len(x)
        assert r.n == n
        assert abs(r.p50 - x[max(1, (n + 1) // 2) - 1]) < 1e-6
        assert abs(r.p90 - x[max(1, (9 * n + 9) // 10) - 1]) < 1e-6


def _ks_exact_ref(docs: pd.DataFrame) -> dict:
    """Exact per-pair two-sample KS D via numpy CDFs (independent of the
    grid machinery): {(a, b): (d, na, nb)} for a < b."""
    arrs = {
        s: np.sort(g["n_chars"].to_numpy())
        for s, g in docs.groupby("source")
    }
    srcs = sorted(arrs)
    out = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            xa, xb = arrs[a], arrs[b]
            xs = np.unique(np.concatenate([xa, xb]))
            fa = np.searchsorted(xa, xs, side="right") / len(xa)
            fb = np.searchsorted(xb, xs, side="right") / len(xb)
            out[(a, b)] = (float(np.max(np.abs(fa - fb))), len(xa), len(xb))
    return out


def _ks_crit_of(c: float):
    """The critical D the plans compute, c * sqrt((na + nb)/(na * nb)),
    as a Python closure over (na, nb)."""
    import math

    return lambda na, nb: c * math.sqrt((na + nb) / (1.0 * na * nb))


def _r6(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def test_ks_screen_law_and_decision_safety(spark, sf_dir):
    """q170's error law on the per-source summaries, and the screen's
    core contract: every DECIDED pair's decision equals the exact
    rounded Bonferroni decision (the margins absorb both roundings)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.quantiles import (
        quantile_summary_by,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.stats_q import (
        _ks_c,
        _ks_screen_driver,
        _ks_sketch_pairs,
    )

    docs = _docs(sf_dir)
    exact = _ks_exact_ref(docs)
    summ = quantile_summary_by(
        spark.createDataFrame(docs[["source", "n_chars"]]),
        "n_chars",
        "source",
        eps=0.02,
    )
    c = _ks_c(docs["source"].nunique())
    crit_of = _ks_crit_of(c)
    sketch = _ks_sketch_pairs(spark, summ)
    info = {
        (r.source_a, r.source_b): (r.d_sketch, r.bound)
        for r in sketch.collect()
    }
    screen = _ks_screen_driver(sketch, c).collect()
    assert len(screen) == len(exact)

    for (a, b), (d_exact, na, nb) in exact.items():
        d_sketch, bound = info[(a, b)]
        assert abs(d_sketch - d_exact) <= bound + 1e-12, (a, b)
    for r in screen:
        if r.decision >= 0:
            d_exact, na, nb = exact[(r.source_a, r.source_b)]
            assert r.decision == int(
                _r6(d_exact) > _r6(crit_of(na, nb))
            ), (r.source_a, r.source_b)


def test_ks_restricted_grid_equals_full(spark, sf_dir):
    """_ks_grid_pairs(pairs=...) must return EXACTLY the full grid's rows
    for the requested pairs — the cutover's exact fallback computes the
    same dnum/na/nb the all-pairs grid would."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.stats_q import (
        _ks_grid_pairs,
    )

    docs_df = spark.createDataFrame(
        _docs(sf_dir)[["source", "n_chars"]]
    )
    full = {
        (r.source_a, r.source_b): (int(r.dnum), r.na, r.nb)
        for r in _ks_grid_pairs(docs_df).collect()
    }
    want = [("src0", "src3"), ("src11", "src7"), ("src1", "src19")]
    pairs = spark.createDataFrame(
        want, "source_a string, source_b string"
    )
    got = {
        (r.source_a, r.source_b): (int(r.dnum), r.na, r.nb)
        for r in _ks_grid_pairs(docs_df, pairs=pairs).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == full[k], k


def test_rfm_segments_all_populated_at_every_shipped_sf(spark):
    """q194's heavy/light cut points (f >= 70, recency <= 7) are
    data-coupled constants: this pins the docstring's claim that they
    sit INSIDE the f distribution at every shipped SF (all three
    segments non-empty), plus the partition laws (users and events are
    partitioned exactly once across segments)."""
    for sfd in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        out = _run("qz194_rfm_segments", spark, sfd)
        assert sorted(out["segment"]) == ["heavy", "light", "mid"], sfd
        assert (out["n_users"] > 0).all(), sfd
        ev = _events(sfd)
        assert out["n_events"].sum() == len(ev), sfd
        assert out["n_users"].sum() == ev["user_id"].nunique(), sfd


def test_benford_digits_match_string_reference(spark, sf_dir):
    ev = _events(sf_dir)
    v = ev.loc[ev["value"] > 0]
    iv = (v["value"] * 1e6).round().astype("int64")
    digit = iv.astype(str).str[0].astype(int)
    ref = (
        pd.DataFrame({"event_type": v["event_type"], "digit": digit})
        .groupby(["event_type", "digit"])
        .size()
        .rename("n")
        .reset_index()
    )
    tot = ref.groupby("event_type")["n"].transform("sum")
    ref["share"] = ref["n"] / tot
    out = _run("qz197_benford_digits", spark, sf_dir)
    assert len(out) == len(ref)
    m = out.merge(ref, on=["event_type", "digit"], suffixes=("", "_ref"))
    assert (m["n"] == m["n_ref"]).all()
    assert (m["share"] - m["share_ref"]).abs().max() < 1e-6
    # excess vs the Benford reference
    benford = np.log10(1 + 1 / m["digit"].to_numpy())
    assert (m["excess"] - (m["share_ref"] - benford)).abs().max() < 1e-5


def test_markov_two_step_matches_matrix_power(spark, sf_dir):
    ev = _events(sf_dir).sort_values(["user_id", "ts", "event_id"])
    pairs = []
    for _, g in ev.groupby("user_id"):
        t = g["event_type"].tolist()
        pairs += list(zip(t, t[1:]))
    c = pd.Series(pairs).value_counts()
    types = sorted({a for a, _ in c.index} | {b for _, b in c.index})
    ix = {t: i for i, t in enumerate(types)}
    q = np.zeros((len(types), len(types)), dtype="int64")
    tot = np.zeros(len(types), dtype="int64")
    for (a, b), n in c.items():
        tot[ix[a]] += n
    from decimal import ROUND_HALF_UP, Decimal

    for (a, b), n in c.items():
        q[ix[a], ix[b]] = int(
            Decimal(repr(n * 1000000.0 / tot[ix[a]])).quantize(
                Decimal("1"), ROUND_HALF_UP
            )
        )
    p2 = q @ q  # integer fixed-point product
    out = _run("qz198_markov_two_step", spark, sf_dir)
    for r in out.itertuples():
        ref = p2[ix[r.cur], ix[r.nxt2]] / 1e12
        assert abs(r.p2 - ref) < 1e-6, (r.cur, r.nxt2)
    # full real-valued kernel within fixed-point tolerance (9 terms x 5e-7)
    p = q / 1e6
    for r in out.itertuples():
        assert abs(r.p2 - (p @ p)[ix[r.cur], ix[r.nxt2]]) < 1e-5


def test_qq_deciles_match_order_stats(spark, sf_dir):
    d = _docs(sf_dir)
    a = np.sort(d.loc[d["source"] == "src0", "n_chars"].to_numpy())
    b = np.sort(d.loc[d["source"] == "src1", "n_chars"].to_numpy())
    out = _run("qz199_qq_deciles", spark, sf_dir).set_index("decile")
    for i in range(1, 10):
        qa = a[max(1, -(-i * len(a) // 10)) - 1]
        qb = b[max(1, -(-i * len(b) // 10)) - 1]
        row = out.loc[i]
        assert row["q_a"] == qa and row["q_b"] == qb
        assert row["gap"] == abs(int(qa) - int(qb))


def test_pmi_matches_pandas_reference(spark, sf_dir):
    d = _docs(sf_dir)
    uni: dict = {}
    big: dict = {}
    for text in d["text"]:
        toks = str(text).split(" ")
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for w1, w2 in zip(toks, toks[1:]):
            big[(w1, w2)] = big.get((w1, w2), 0) + 1
    M = sum(uni.values())
    N = sum(big.values())
    scored = [
        (1.0 * c * M * M / ((1.0 * N) * uni[w1] * uni[w2]), w1, w2, c)
        for (w1, w2), c in big.items()
        if c >= 5
    ]
    scored.sort(key=lambda x: (-x[0], x[1], x[2]))
    out = _run("qz200_pmi_collocations", spark, sf_dir)
    assert len(out) == 20
    for row, (ratio, w1, w2, c) in zip(out.itertuples(), scored[:20]):
        assert (row.w1, row.w2, row.n_pair) == (w1, w2, c)
        assert abs(row.pmi - np.log(ratio)) < 1e-5


def test_daily_hhi_matches_reference(spark, sf_dir):
    daily = _daily(sf_dir)
    out = _run("qz201_daily_hhi", spark, sf_dir).set_index("day")
    for day, g in daily.groupby("day"):
        tot = g["c"].sum()
        hhi = float((g["c"] ** 2).sum()) / tot**2
        top = g.sort_values(["c", "event_type"],
                            ascending=[False, True]).iloc[0]
        row = out.loc[day]
        assert row["n_events"] == tot
        assert abs(row["hhi"] - hhi) < 1e-6
        assert row["top_type"] == top["event_type"]
        assert abs(row["top_share"] - top["c"] / tot) < 1e-6


def test_gap_survival_matches_reference(spark, sf_dir):
    ev = _events(sf_dir).sort_values(["user_id", "ts", "event_id"])
    rows = []
    for _, g in ev.groupby("user_id"):
        us = (
            (g["ts"] - pd.Timestamp("2024-01-01")).dt.total_seconds() * 1e6
        ).round().astype("int64").to_numpy()
        t = g["event_type"].to_numpy()
        for i in range(len(us) - 1):
            rows.append((t[i], us[i + 1] - us[i]))
    gaps = pd.DataFrame(rows, columns=["event_type", "gap"])
    out = _run("qz202_gap_survival", spark, sf_dir)
    for r in out.itertuples():
        g = gaps.loc[gaps["event_type"] == r.event_type, "gap"]
        assert r.n_gaps == len(g)
        exceed = int((g > r.horizon_s * 1_000_000).sum())
        assert r.n_exceed == exceed
        assert abs(r.share - exceed / len(g)) < 1e-6


def test_session_lift_matches_reference(spark, sf_dir):
    ev = _events(sf_dir).sort_values(["user_id", "ts", "event_id"])
    sess_types: dict = {}
    for uid, g in ev.groupby("user_id"):
        us = (
            (g["ts"] - pd.Timestamp("2024-01-01")).dt.total_seconds() * 1e6
        ).round().astype("int64").to_numpy()
        sid = 0
        for i, t in enumerate(g["event_type"].to_numpy()):
            if i > 0 and us[i] - us[i - 1] > 1_800_000_000:
                sid += 1
            sess_types.setdefault((uid, sid), set()).add(t)
    S = len(sess_types)
    ct: dict = {}
    co: dict = {}
    for types in sess_types.values():
        ts_sorted = sorted(types)
        for t in ts_sorted:
            ct[t] = ct.get(t, 0) + 1
        for i, ta in enumerate(ts_sorted):
            for tb in ts_sorted[i + 1:]:
                co[(ta, tb)] = co.get((ta, tb), 0) + 1
    out = _run("qz203_session_lift", spark, sf_dir)
    assert len(out) == len(co)
    for r in out.itertuples():
        n_co = co[(r.type_a, r.type_b)]
        assert r.n_co == n_co
        assert abs(r.lift - n_co * S / (ct[r.type_a] * ct[r.type_b])) < 1e-6
        assert abs(r.conf_a_to_b - n_co / ct[r.type_a]) < 1e-6


def test_audience_jaccard_matches_reference(spark, sf_dir):
    ev = _events(sf_dir)
    users = {
        t: set(g["user_id"]) for t, g in ev.groupby("event_type")
    }
    out = _run("qz204_audience_jaccard", spark, sf_dir)
    types = sorted(users)
    expect_pairs = [
        (a, b) for i, a in enumerate(types) for b in types[i + 1:]
        if users[a] & users[b]
    ]
    assert len(out) == len(expect_pairs)
    for r in out.itertuples():
        inter = len(users[r.type_a] & users[r.type_b])
        union = len(users[r.type_a] | users[r.type_b])
        assert r.n_inter == inter
        assert abs(r.jaccard - inter / union) < 1e-6


def test_token_coverage_matches_reference(spark, sf_dir):
    d = _docs(sf_dir)
    cnt: dict = {}
    for text in d["text"]:
        for w in str(text).split(" "):
            cnt[w] = cnt.get(w, 0) + 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(cnt.values())
    out = _run("qz205_token_coverage", spark, sf_dir).set_index("k")
    for k in (10, 100, 1000):
        covered = sum(c for _, c in ranked[:k])
        row = out.loc[k]
        assert row["covered"] == covered and row["total"] == tot
        assert abs(row["share"] - covered / tot) < 1e-6


def test_ks_distributed_screen_brackets_and_decision_safety(
    spark, sf_dir, monkeypatch
):
    """The distributed grid-CDF screen's two-sided interval must bracket
    the exact D for every pair (q170 slack + fixed-grid interpolation
    term), and every DECIDED pair must match the exact rounded
    Bonferroni decision — including under an adversarially COARSE grid,
    which may only widen the undecided band, never flip a decision."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.quantiles import (
        quantile_summary_by,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import stats_q

    docs = _docs(sf_dir)
    exact = _ks_exact_ref(docs)
    summ = quantile_summary_by(
        spark.createDataFrame(docs[["source", "n_chars"]]),
        "n_chars",
        "source",
        eps=0.02,
    )
    c = stats_q._ks_c(docs["source"].nunique())
    crit_of = _ks_crit_of(c)

    for grid_size in (128, 8):  # production grid and an adversarial one
        monkeypatch.setattr(stats_q, "_KS_GRID_SIZE", grid_size)
        rows = stats_q._ks_screen_distributed(spark, summ, c).collect()
        assert len(rows) == len(exact)
        for r in rows:
            d_exact, na, nb = exact[(r.source_a, r.source_b)]
            assert r.lo_bound - 1e-12 <= d_exact <= r.up_bound + 1e-12
            if r.decision >= 0:
                assert r.decision == int(
                    _r6(d_exact) > _r6(crit_of(na, nb))
                ), (r.source_a, r.source_b, grid_size)


def test_ks_matrix_decisions_degenerate_sources(spark, sf_dir, tmp_path):
    """ADVICE r13: with fewer than 2 sources there are no pairs — m = 0
    used to divide alpha by zero (and the driver-screen path indexed an
    empty parts list). The correct answer is an EMPTY decision table
    with the production schema, on both the single-source and the
    zero-row feed. On the fixture's 20-source feed the selector's
    decisions are q176's reject_bonf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.stats_q import (
        ks_matrix_decisions,
    )

    for label, sources, chars in (
        ("one_source", ["solo"] * 40, list(range(40))),
        ("empty", [], []),
    ):
        d = tmp_path / label
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        range(len(sources)), type=pa.int64()
                    ),
                    "source": pa.array(sources, type=pa.string()),
                    "n_chars": pa.array(chars, type=pa.int64()),
                }
            ),
            str(d / "documents.parquet"),
        )
        out = ks_matrix_decisions(spark, str(d))
        assert out.columns == ["source_a", "source_b", "reject_bonf"]
        assert out.count() == 0, label

    got = sorted(tuple(r) for r in ks_matrix_decisions(spark, sf_dir).collect())
    want = sorted(
        tuple(r)
        for r in _SPECS["qz176_ks_matrix"]
        .build(spark, sf_dir)
        .select("source_a", "source_b", "reject_bonf")
        .collect()
    )
    assert len(got) == 190
    assert got == want


def test_benford_filters_subresolution_values(spark, tmp_path):
    """ADVICE r13: a value in (0, 5e-7) rounds to iv = 0 — leading digit
    '0' is not a Benford digit and the excess term would divide by
    zero (Spark Infinity vs DuckDB error: a cross-engine hash break).
    Both the Spark plan and the oracle must drop those rows; the rest
    of the profile is unaffected."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries
    from tools.oracle_check import duck_result, frame_digest

    vals = [1e-9, 4.9e-7, 0.25, 3.5, 17.0, 0.0, -1.0, 9.1e-7]
    types = ["click", "click", "click", "view", "view", "view", "view", "view"]
    d = tmp_path / "tiny"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(vals)), type=pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000_000 + i for i in range(len(vals))],
                    type=pa.timestamp("ns"),
                ),
                "user_id": pa.array([1] * len(vals), type=pa.int64()),
                "event_type": pa.array(types, type=pa.string()),
                "value": pa.array(vals, type=pa.float64()),
                "props": pa.array(["{}"] * len(vals), type=pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    spec = all_queries()["qz197_benford_digits"]
    df = spec.build(spark, str(d))
    rows = [tuple(r) for r in df.collect()]
    digits = {r[1] for r in rows}
    assert 0 not in digits, rows
    # the two sub-5e-7 positives and the non-positives are gone; the
    # remaining 4 values keep their exact first significant digit
    assert sorted(rows)[0][2] >= 1
    assert frame_digest(list(df.columns), rows) == duck_result(
        spec.oracle, str(d)
    )


# ---------------------------------------------------------------------------
# round-14 classical-inference layer (q233-q242)
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def _day_counts(ev: pd.DataFrame) -> pd.DataFrame:
    us = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    out = ev.assign(day=us // _DAY_US)
    return (
        out.groupby(["event_type", "day"]).size().rename("c").reset_index()
    )


def test_chi_square_matches_contingency_reference(spark, sf_dir):
    ev = _events(sf_dir)
    c = _day_counts(ev).assign(dow=lambda d: d["day"] % 7)
    tab = c.pivot_table(
        index="event_type", columns="dow", values="c", aggfunc="sum",
        fill_value=0,
    ).to_numpy(dtype=float)
    n = tab.sum()
    exp = np.outer(tab.sum(axis=1), tab.sum(axis=0)) / n
    chi2_ref = float(((tab - exp) ** 2 / exp).sum())
    r, cc = tab.shape
    v_ref = float(np.sqrt(chi2_ref / (n * min(r - 1, cc - 1))))

    out = _run("qz233_chi_square_independence", spark, sf_dir).iloc[0]
    assert out["n_events"] == int(n)
    assert out["df"] == (r - 1) * (cc - 1)
    assert abs(out["chi2"] - chi2_ref) < 1e-4
    assert abs(out["cramers_v"] - v_ref) < 1e-6


def test_anova_f_matches_groupwise_reference(spark, sf_dir):
    ev = _events(sf_dir)
    # the query's fixed-point contract: micro-unit ints, then exact sums
    iv = (ev["value"] * 1_000_000).round()
    g = iv.groupby(ev["event_type"])
    nn, k = len(iv), g.ngroups
    sb = sum(s.sum() ** 2 / len(s) for _, s in g)
    st, sst = iv.sum(), (iv**2).sum()
    ssb = sb - st**2 / nn
    ssw = sst - sb
    f_ref = (ssb / (k - 1)) / (ssw / (nn - k))
    eta_ref = ssb / (sst - st**2 / nn)

    out = _run("qz234_anova_f", spark, sf_dir).iloc[0]
    assert out["n_events"] == nn and out["k_groups"] == k
    assert abs(out["f_stat"] - f_ref) < 1e-4
    assert abs(out["eta_sq"] - eta_ref) < 1e-6


def test_welch_t_matches_two_sample_reference(spark, sf_dir):
    ev = _events(sf_dir)
    a = (ev.loc[ev["event_type"] == "purchase", "value"] * 1e6).round()
    b = (ev.loc[ev["event_type"] == "click", "value"] * 1e6).round()
    ma, mb = a.mean(), b.mean()
    qa, qb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t_ref = (ma - mb) / np.sqrt(qa + qb)
    df_ref = (qa + qb) ** 2 / (
        qa**2 / (len(a) - 1) + qb**2 / (len(b) - 1)
    )

    out = _run("qz235_welch_ttest", spark, sf_dir).iloc[0]
    assert out["n_a"] == len(a) and out["n_b"] == len(b)
    assert abs(out["mean_diff"] - (ma - mb) / 1e6) < 1e-6
    assert abs(out["t_stat"] - t_ref) < 1e-4
    assert abs(out["welch_df"] - df_ref) < 1e-2


def test_cohens_kappa_matches_confusion_reference(spark, sf_dir):
    d = _docs(sf_dir)
    a = (d["n_chars"] >= 300).to_numpy()
    b = (d["text"].str.split(" ").str.len() >= 50).to_numpy()
    n = len(d)
    po = float((a == b).mean())
    pe = float(
        (a.sum() * b.sum() + (~a).sum() * (~b).sum()) / (n * n)
    )
    kappa_ref = (po - pe) / (1 - pe)

    out = _run("qz236_cohens_kappa", spark, sf_dir).iloc[0]
    assert out["n_docs"] == n
    assert abs(out["po"] - po) < 1e-6
    assert abs(out["pe"] - pe) < 1e-6
    assert abs(out["kappa"] - kappa_ref) < 1e-6


def test_ols_matches_polyfit_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz237_ols_trend", spark, sf_dir).set_index("event_type")
    for et, grp in c.groupby("event_type"):
        x = grp["day"].to_numpy(dtype=float)
        y = grp["c"].to_numpy(dtype=float)
        row = out.loc[et]
        assert row["n_days"] == len(x)
        if len(x) < 2 or np.ptp(x) == 0:
            assert row["slope"] == 0.0
            continue
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        assert abs(row["slope"] - slope) < 1e-4
        assert abs(row["intercept"] - intercept) < 1e-3
        assert abs(row["r2"] - r * r) < 1e-6


def test_cross_correlation_matches_shifted_pearson(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    a = c[c["event_type"] == "click"].set_index("day")["c"]
    b = c[c["event_type"] == "purchase"].set_index("day")["c"]
    out = _run("qz238_cross_correlation", spark, sf_dir).set_index("lag")
    for lag in range(4):
        shifted = pd.DataFrame(
            {"x": a, "y": b.rename(lambda d: d - lag)}
        ).dropna()
        row = out.loc[lag]
        assert row["n_days"] == len(shifted)
        if len(shifted) > 1 and shifted["x"].std() > 0:
            r_ref = shifted["x"].corr(shifted["y"])
            assert abs(row["r"] - r_ref) < 1e-6


def test_kaplan_meier_matches_product_limit_reference(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    per_user = ev.groupby("user_id").agg(
        first_us=("us", "min"), last_us=("us", "max")
    )
    fp = (
        ev[ev["event_type"] == "purchase"]
        .groupby("user_id")["us"]
        .min()
        .rename("fp_us")
    )
    u = per_user.join(fp)
    dur = (
        (u["fp_us"].fillna(u["last_us"]) - u["first_us"]) // _DAY_US
    ).astype(int)
    obs = u["fp_us"].notna().to_numpy()

    out = _run("qz239_kaplan_meier", spark, sf_dir).set_index("day")
    # product-limit over distinct death days
    n_at_risk = len(u)
    surv = 1.0
    for day in sorted(dur.unique()):
        at_day = dur == day
        deaths = int((at_day & obs).sum())
        if deaths > 0:
            row = out.loc[day]
            assert row["at_risk"] == n_at_risk
            assert row["n_events"] == deaths
            surv *= (n_at_risk - deaths) / n_at_risk
            assert abs(row["survival"] - surv) < 1e-6
        n_at_risk -= int(at_day.sum())
    assert set(out.index) == {
        int(d) for d in dur.unique() if ((dur == d) & obs).sum() > 0
    }


def test_position_attribution_credit_conserved(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    p = ev[ev["event_type"] == "purchase"]
    fp = p.sort_values(["us", "event_id"]).groupby("user_id").first()
    merged = ev.merge(
        fp[["us", "event_id"]].rename(
            columns={"us": "fp_us", "event_id": "fp_eid"}
        ),
        on="user_id",
    )
    touches = merged[
        (merged["us"] < merged["fp_us"])
        | (
            (merged["us"] == merged["fp_us"])
            & (merged["event_id"] < merged["fp_eid"])
        )
    ]
    n_converting_users_with_touches = (
        touches.groupby("user_id").size().shape[0]
    )

    out = _run("qz240_position_attribution", spark, sf_dir)
    # credit is conserved: one unit per converting user that HAS touches
    assert out["n_touches"].sum() == len(touches)
    assert (
        abs(out["credit"].sum() - n_converting_users_with_touches) < 1e-3
    )
    # independent per-type credit reference
    ref: dict[str, float] = {}
    for _, grp in touches.groupby("user_id"):
        g = grp.sort_values(["us", "event_id"]).reset_index()
        k = len(g)
        for i, et in enumerate(g["event_type"]):
            if k == 1:
                cr = 1.0
            elif i in (0, k - 1):
                cr = 0.5 if k == 2 else 0.4
            else:
                cr = 0.2 / (k - 2)
            ref[et] = ref.get(et, 0.0) + cr
    for _, row in out.iterrows():
        assert abs(row["credit"] - ref[row["event_type"]]) < 1e-4


def test_pareto_share_matches_sorted_reference(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    cents = (
        (li["l_extendedprice"] * (1 - li["l_discount"]) * 100.0)
        .round()
        .astype("int64")
    )
    rev = cents.groupby(li["l_partkey"]).sum().sort_values(
        ascending=False, kind="mergesort"
    )
    n = len(rev)
    top_n = int(np.ceil(0.2 * n))
    share_ref = rev.iloc[:top_n].sum() / rev.sum()

    out = _run("qz241_pareto_share", spark, sf_dir).iloc[0]
    assert out["n_parts"] == n and out["top_n"] == top_n
    assert abs(out["top_share"] - share_ref) < 1e-6


def test_ewma_matches_weighted_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz242_ewma_smoothing", spark, sf_dir)
    # spot-check every row of one type plus global term-count sanity
    one = c[c["event_type"] == "click"].set_index("day")["c"]
    got = out[out["event_type"] == "click"].set_index("day")
    for day, row in got.iterrows():
        window = one[(one.index >= day - 13) & (one.index <= day)]
        w = 0.7 ** (day - window.index.to_numpy(dtype=float))
        assert row["n_terms"] == len(window)
        assert abs(row["ewma"] - (window * w).sum() / w.sum()) < 1e-6
    assert len(out) == len(c)


def test_partial_correlation_matches_formula(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    piv = c.pivot(index="day", columns="event_type", values="c").dropna(
        subset=["click", "purchase", "view"]
    )
    x, y, z = piv["click"], piv["purchase"], piv["view"]
    rxy, rxz, ryz = x.corr(y), x.corr(z), y.corr(z)
    pr_ref = (rxy - rxz * ryz) / np.sqrt((1 - rxz**2) * (1 - ryz**2))

    out = _run("qz243_partial_correlation", spark, sf_dir).iloc[0]
    assert out["n_days"] == len(piv)
    assert abs(out["r_xy"] - rxy) < 1e-6
    assert abs(out["partial_r"] - pr_ref) < 1e-6


def test_durbin_watson_matches_residual_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz244_durbin_watson", spark, sf_dir).set_index("event_type")
    for et, grp in c.groupby("event_type"):
        x = grp["day"].to_numpy(dtype=float)
        y = grp["c"].to_numpy(dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        e = y - (slope * x + intercept)
        consec = np.diff(x) == 1
        dw_ref = float((np.diff(e)[consec] ** 2).sum() / (e**2).sum())
        assert abs(out.loc[et, "dw"] - dw_ref) < 1e-6


def test_runs_test_matches_sign_sequence_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz245_runs_test", spark, sf_dir).set_index("event_type")
    for et, grp in c.groupby("event_type"):
        g = grp.sort_values("day")
        diffs = g["c"].diff().dropna()
        signs = np.sign(diffs[diffs != 0].to_numpy())
        npos, nneg = int((signs > 0).sum()), int((signs < 0).sum())
        if npos == 0 or nneg == 0 or npos + nneg < 2:
            assert et not in out.index
            continue
        runs = 1 + int((signs[1:] != signs[:-1]).sum())
        mu = 1 + 2 * npos * nneg / (npos + nneg)
        sig = np.sqrt((mu - 1) * (mu - 2) / (npos + nneg - 1))
        row = out.loc[et]
        assert row["n_up"] == npos and row["n_down"] == nneg
        assert row["runs"] == runs
        assert abs(row["z"] - (runs - mu) / sig) < 1e-6


def test_mann_kendall_matches_pairwise_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz246_mann_kendall", spark, sf_dir).set_index("event_type")
    for et, grp in c.groupby("event_type"):
        y = grp.sort_values("day")["c"].to_numpy()
        n = len(y)
        s = int(
            sum(
                np.sign(y[j] - y[i])
                for i in range(n - 1)
                for j in range(i + 1, n)
            )
        )
        _, counts = np.unique(y, return_counts=True)
        tie = sum(int(t) * (t - 1) * (2 * t + 5) for t in counts if t > 1)
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        if var > 0 and s > 0:
            z_ref = (s - 1) / np.sqrt(var)
        elif var > 0 and s < 0:
            z_ref = (s + 1) / np.sqrt(var)
        else:
            z_ref = 0.0
        row = out.loc[et]
        assert row["n_days"] == n and row["s"] == s
        assert abs(row["z"] - z_ref) < 1e-6


def test_repeat_purchase_matches_reference(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    p = (
        ev[ev["event_type"] == "purchase"]
        .sort_values(["us", "event_id"])
        .groupby("user_id")["us"]
        .agg(["count", lambda s: s.iloc[0], lambda s: s.iloc[1] if len(s) > 1 else np.nan])
    )
    p.columns = ["n", "us1", "us2"]
    n_buyers = len(p)
    rep = p[p["n"] >= 2]
    gaps = ((rep["us2"] - rep["us1"]) // _DAY_US).astype(int).sort_values()
    median_ref = int(gaps.iloc[(len(gaps) + 1) // 2 - 1])

    out = _run("qz247_repeat_purchase", spark, sf_dir).iloc[0]
    assert out["n_buyers"] == n_buyers
    assert out["n_repeat"] == len(rep)
    assert abs(out["repeat_rate"] - len(rep) / n_buyers) < 1e-6
    assert out["median_gap_days"] == median_ref


def test_heaps_law_matches_loglog_fit(spark, sf_dir):
    d = _docs(sf_dir)
    words = d["text"].str.split(" ")
    g = pd.DataFrame(
        {
            "tokens": words.str.len().groupby(d["source"]).sum(),
            "types": words.groupby(d["source"]).apply(
                lambda ws: len(set(w for row in ws for w in row))
            ),
        }
    )
    x, y = np.log(g["tokens"].to_numpy()), np.log(g["types"].to_numpy())
    beta, lnk = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]

    out = _run("qz248_heaps_law", spark, sf_dir).iloc[0]
    assert out["n_sources"] == len(g)
    assert abs(out["beta"] - beta) < 1e-4
    assert abs(out["k"] - np.exp(lnk)) < 1e-3
    assert abs(out["r2"] - r * r) < 1e-6


def test_label_separation_matches_centroid_reference(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    labels = emb["label"].to_numpy()
    gcent = M.mean(axis=0)

    out = _run("qz249_label_separation", spark, sf_dir).set_index("label")
    for lab in np.unique(labels):
        rows = M[labels == lab]
        cent = rows.mean(axis=0)
        cos_own = (rows @ cent) / (
            np.linalg.norm(rows, axis=1) * np.linalg.norm(cent)
        )
        cos_glob = (rows @ gcent) / (
            np.linalg.norm(rows, axis=1) * np.linalg.norm(gcent)
        )
        r = out.loc[lab]
        assert r["n_vecs"] == len(rows)
        assert abs(r["mean_cos_own"] - cos_own.mean()) < 1e-5
        assert abs(r["mean_cos_global"] - cos_glob.mean()) < 1e-5
        assert (
            abs(r["separation"] - (cos_own.mean() - cos_glob.mean())) < 1e-5
        )


def test_mcnemar_matches_discordant_reference(spark, sf_dir):
    d = _docs(sf_dir)
    a = (d["n_chars"] >= 300).to_numpy()
    b = (d["text"].str.split(" ").str.len() >= 50).to_numpy()
    n10 = int((a & ~b).sum())
    n01 = int((~a & b).sum())

    out = _run("qz250_mcnemar_gates", spark, sf_dir).iloc[0]
    assert out["n10"] == n10 and out["n01"] == n01
    assert abs(out["chi2_mcnemar"] - (n10 - n01) ** 2 / (n10 + n01)) < 1e-6
    assert (
        abs(out["chi2_cc"] - (abs(n10 - n01) - 1) ** 2 / (n10 + n01))
        < 1e-6
    )


def test_friedman_matches_rank_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir)).assign(dow=lambda d: d["day"] % 7)
    o = (
        c.groupby(["event_type", "dow"])["c"].sum().unstack(fill_value=0)
    )
    # midranks of each type within each dow column
    ranks = o.rank(axis=0, method="average")
    rj = ranks.sum(axis=1)
    k, b = o.shape
    chi2_ref = float(12.0 / (b * k * (k + 1)) * (rj**2).sum() - 3 * b * (k + 1))

    out = _run("qz251_friedman_ranks", spark, sf_dir).iloc[0]
    assert out["k_types"] == k and out["b_blocks"] == b
    assert abs(out["friedman_chi2"] - chi2_ref) < 1e-6


def test_weekday_seasonality_matches_anova_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir)).assign(dow=lambda d: d["day"] % 7)
    out = _run("qz252_weekday_seasonality", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in c.groupby("event_type"):
        y = grp["c"].to_numpy(dtype=float)
        grand = y.mean()
        ssb = sum(
            len(g) * (g["c"].mean() - grand) ** 2
            for _, g in grp.groupby("dow")
        )
        sst = ((y - grand) ** 2).sum()
        row = out.loc[et]
        assert row["n_days"] == len(y)
        assert abs(row["seasonal_eta_sq"] - ssb / sst) < 1e-6


def test_burstiness_matches_gap_reference(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    ev = ev.sort_values(["user_id", "us", "event_id"])
    ev["nxt"] = ev.groupby("user_id")["us"].shift(-1)
    g = ev.dropna(subset=["nxt"]).assign(gap=lambda d: d["nxt"] - d["us"])

    out = _run("qz253_burstiness", spark, sf_dir).set_index("event_type")
    for et, grp in g.groupby("event_type"):
        gap = grp["gap"].to_numpy(dtype=float)
        mu, sigma = gap.mean(), gap.std(ddof=0)
        row = out.loc[et]
        assert row["n_gaps"] == len(gap)
        assert abs(row["mean_gap_s"] - mu / 1e6) < 1e-4
        assert abs(row["cv"] - sigma / mu) < 1e-6
        assert abs(row["burstiness"] - (sigma - mu) / (sigma + mu)) < 1e-6


def test_stickiness_matches_distinct_reference(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["day"] = (
        (ev["ts"] - pd.Timestamp("2024-01-01"))
        // pd.Timedelta(microseconds=1)
    ) // _DAY_US
    pairs = ev[["day", "user_id"]].drop_duplicates()
    dau = pairs.groupby("day").size()
    mau = pairs["user_id"].nunique()

    out = _run("qz254_stickiness", spark, sf_dir).iloc[0]
    assert out["n_days"] == len(dau)
    assert abs(out["avg_dau"] - dau.mean()) < 1e-6
    assert out["mau"] == mau
    assert abs(out["stickiness"] - dau.mean() / mau) < 1e-6


def test_fulfillment_latency_matches_order_stats(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    fs = li.groupby("l_orderkey")["l_shipdate"].min()
    j = o.join(fs, on="o_orderkey", how="inner")
    days = (
        j["l_shipdate"].dt.normalize() - j["o_orderdate"].dt.normalize()
    ).dt.days

    out = _run("qz255_fulfillment_latency", spark, sf_dir).set_index(
        "priority"
    )
    for pr, grp in days.groupby(j["o_orderpriority"]):
        v = np.sort(grp.to_numpy())
        n = len(v)
        row = out.loc[pr]
        assert row["n_orders"] == n
        assert row["p50_days"] == v[(n + 1) // 2 - 1]
        assert row["p90_days"] == v[int(np.ceil(0.9 * n)) - 1]


# ---------------------------------------------------------------------------
# round-15 degenerate-input guards (ADVICE r14): q244 / q248 / q251
# ---------------------------------------------------------------------------


def _write_events(d, days_by_type: dict[str, list[int]]) -> str:
    """Tiny events fixture: one event per (type, day) entry, ts at the
    given day offset from 2024-01-01."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01")
    types, ts = [], []
    for et, days in days_by_type.items():
        for day in days:
            types.append(et)
            ts.append(base + pd.Timedelta(days=day, minutes=1))
    n = len(types)
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array([1] * n, type=pa.int64()),
                "event_type": pa.array(types, type=pa.string()),
                "value": pa.array([1.0] * n, type=pa.float64()),
                "props": pa.array(["{}"] * n, type=pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


def _hash_pair(name: str, spark, sf_dir: str):
    from tools.oracle_check import duck_result, spark_result

    spec = _SPECS[name]
    return spark_result(spec, spark, sf_dir), duck_result(
        spec.oracle, sf_dir
    )


def test_durbin_watson_degenerate_single_day(spark, tmp_path):
    """ADVICE r14: a type observed on a SINGLE day has x-variance 0 —
    the OLS slope's denominator is exactly 0 and unguarded 0/0 NaN
    diverges cross-engine (Spark NULL-on-zero-divisor vs DuckDB IEEE).
    The guard emits slope 0 (flat fit), residual 0, dw 0 for that
    type, and must leave multi-day types untouched."""
    sf = _write_events(
        tmp_path / "dw",
        {"solo": [5, 5, 5], "multi": [0, 1, 2, 3, 4, 5]},
    )
    got, want = _hash_pair("qz244_durbin_watson", spark, sf)
    assert got == want
    out = _run("qz244_durbin_watson", spark, sf).set_index("event_type")
    assert out.loc["solo", "dw"] == 0.0
    assert out.loc["solo", "n_days"] == 1
    # the multi-day series still gets a real DW (perfect-fit flat
    # series -> residuals 0 -> guarded 0 as well; constant counts of 1
    # per day means e == 0 everywhere, so dw is the guarded 0)
    assert out.loc["multi", "n_days"] == 6


def test_durbin_watson_two_point_perfect_fit(spark, tmp_path):
    """A 2-day series fits the OLS line EXACTLY: see = 0 and the dw
    ratio is 0/0 without the see > 0 guard. Both engines must emit
    dw = 0."""
    sf = _write_events(tmp_path / "dw2", {"duo": [0, 3]})
    got, want = _hash_pair("qz244_durbin_watson", spark, sf)
    assert got == want
    out = _run("qz244_durbin_watson", spark, sf).iloc[0]
    assert out["dw"] == 0.0 and out["n_days"] == 2


def test_heaps_single_source_guard(spark, tmp_path):
    """ADVICE r14: one source gives a single regression point — vx = 0
    and beta/k/r2 are undefined. The den > 0 convention reports all
    three as 0 in BOTH engines instead of engine-specific 0-division
    artifacts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "heaps"
    d.mkdir()
    texts = ["alpha beta gamma", "alpha beta", "delta epsilon zeta"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(3), type=pa.int64()),
                "text": pa.array(texts, type=pa.string()),
                "lang": pa.array(["en"] * 3, type=pa.string()),
                "source": pa.array(["only"] * 3, type=pa.string()),
                "n_chars": pa.array(
                    [len(t) for t in texts], type=pa.int64()
                ),
            }
        ),
        str(d / "documents.parquet"),
    )
    got, want = _hash_pair("qz248_heaps_law", spark, str(d))
    assert got == want
    out = _run("qz248_heaps_law", spark, str(d)).iloc[0]
    assert out["n_sources"] == 1
    assert out["beta"] == 0.0 and out["k"] == 0.0 and out["r2"] == 0.0


def test_friedman_incomplete_grid_zero_fills(spark, tmp_path):
    """ADVICE r14: a missing (event_type, dow) cell used to shrink that
    block's rank range while the statistic still used the global k —
    a silent bias BOTH engines shared, invisible to the hash gate.
    After the q233-style zero-fill the design is complete by
    construction; the numpy reference ranks the zero-filled grid
    (unstack(fill_value=0)) and must agree exactly."""
    # 3 types x 3 observed dows, with ("c", dow 2) ABSENT
    sf = _write_events(
        tmp_path / "fried",
        {
            "a": [0, 1, 2, 0, 1, 2],   # dows 0,1,2 (doubled volume)
            "b": [0, 1, 2],
            "c": [0, 1],               # missing dow 2
        },
    )
    got, want = _hash_pair("qz251_friedman_ranks", spark, sf)
    assert got == want
    out = _run("qz251_friedman_ranks", spark, sf).iloc[0]
    assert out["k_types"] == 3 and out["b_blocks"] == 3

    ev = pd.read_parquet(f"{sf}/events.parquet")
    day = (
        (ev["ts"] - pd.Timestamp("2024-01-01"))
        // pd.Timedelta(microseconds=1)
    ) // _DAY_US
    grid = (
        ev.assign(dow=day % 7)
        .groupby(["event_type", "dow"])
        .size()
        .unstack(fill_value=0)
    )
    ranks = grid.rank(axis=0, method="average")
    rj = ranks.sum(axis=1)
    k, b = grid.shape
    chi2_ref = float(
        12.0 / (b * k * (k + 1)) * (rj**2).sum() - 3 * b * (k + 1)
    )
    assert abs(out["friedman_chi2"] - chi2_ref) < 1e-6


# ---------------------------------------------------------------------------
# round-15: third-engine numpy references for the STREAMING monitors
# (VERDICT r14 #5 — the one family previously certified only
# stream-equals-batch + DuckDB; the Friedman midrank catch showed a
# shared-SQL-misconception can pass both engines)
# ---------------------------------------------------------------------------


def _psi_numpy_reference(ev: pd.DataFrame) -> dict[str, float]:
    """Independent PSI computation straight off the events parquet:
    exact 'view' decile edges by integer rank (rn = max(1,(i*n+9)//10),
    1-indexed into the ascending sort — the same integer-rank
    convention both engines use), map-side bucketing as
    count(edges <= value), Jeffreys-smoothed (c+0.5)/(n+5) decile
    vectors, PSI per non-reference type."""
    view = np.sort(ev.loc[ev["event_type"] == "view", "value"].to_numpy())
    n = len(view)
    edges = np.array(
        [view[max(1, (i * n + 9) // 10) - 1] for i in range(1, 10)]
    )
    bucket = (ev["value"].to_numpy()[:, None] >= edges[None, :]).sum(axis=1)
    out = {}
    counts = {}
    for et, grp in pd.DataFrame(
        {"et": ev["event_type"], "b": bucket}
    ).groupby("et"):
        c = np.bincount(grp["b"].to_numpy(), minlength=10).astype(float)
        counts[et] = (c + 0.5) / (c.sum() + 5.0)
    pa = counts["view"]
    for et, pb in counts.items():
        if et != "view":
            out[et] = float(((pb - pa) * np.log(pb / pa)).sum())
    return out


def test_psi_monitor_final_emission_matches_numpy(spark, sf_dir):
    """q218 (and qz182, consolidated onto the same production updater)
    must reproduce the numpy PSI reference exactly at the final
    emission — independent of BOTH SQL engines and of the streaming
    machinery."""
    ref = _psi_numpy_reference(_events(sf_dir))
    for name in (
        "qz218_stream_psi_recoverable",
        "qz182_stream_psi_monitor",
    ):
        out = _run(name, spark, sf_dir).set_index("event_type")
        assert set(out.index) == set(ref), name
        for et, psi in ref.items():
            row = out.loc[et]
            assert abs(row["psi"] - psi) < 1e-6, (name, et)
            assert row["drift"] == int(round(psi, 6) > 0.2), (name, et)
            assert row["batches"] == 3, name


def test_sketch_ks_monitor_emission_matches_numpy(spark, sf_dir):
    """qz192's hash-checked emission (exact two-sample KS D between the
    monitored 'purchase' and reference 'view' feeds, plus the two
    counts and the law flag) recomputed in numpy via pooled distinct
    values and integer cumulative counts — the tie-correct D both
    engines are supposed to agree on."""
    ev = _events(sf_dir)
    mon = ev.loc[ev["event_type"] == "purchase", "value"].to_numpy()
    refv = ev.loc[ev["event_type"] == "view", "value"].to_numpy()
    pool = np.unique(np.concatenate([mon, refv]))
    c1 = np.searchsorted(np.sort(mon), pool, side="right")
    c2 = np.searchsorted(np.sort(refv), pool, side="right")
    n1, n2 = len(mon), len(refv)
    dnum = np.abs(c1.astype(object) * n2 - c2.astype(object) * n1).max()
    d_exact = float(dnum) / (n1 * n2)

    out = _run("qz192_stream_sketch_ks", spark, sf_dir).iloc[0]
    assert out["n_mon"] == n1 and out["n_ref"] == n2
    assert abs(out["d_exact"] - d_exact) < 1e-6
    assert out["ok"] == 1


# ---------------------------------------------------------------------------
# round-15 time-series diagnostics + corpus concentration (q256-q263)
# ---------------------------------------------------------------------------


def test_acf_profile_matches_pairwise_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz256_acf_profile", spark, sf_dir).set_index(
        ["event_type", "lag"]
    )
    for et, grp in c.groupby("event_type"):
        s = grp.set_index("day")["c"].astype(float)
        xbar = s.mean()
        den = ((s - xbar) ** 2).sum()
        for lag in range(1, 8):
            a = s
            b = s.copy()
            b.index = b.index - lag
            pair = pd.concat([a, b], axis=1, join="inner")
            if len(pair) == 0:
                assert (et, lag) not in out.index
                continue
            num = (
                (pair.iloc[:, 0] - xbar) * (pair.iloc[:, 1] - xbar)
            ).sum()
            row = out.loc[(et, lag)]
            assert row["n_pairs"] == len(pair)
            assert abs(row["acf"] - num / den) < 1e-6, (et, lag)


def test_ljung_box_matches_acf_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    acf = _run("qz256_acf_profile", spark, sf_dir)
    out = _run("qz257_ljung_box", spark, sf_dir).set_index("event_type")
    for et, grp in acf.groupby("event_type"):
        n = len(c[c["event_type"] == et])
        # recompute r at full precision from the raw series (the q256
        # output is rounded; Q must match the unrounded fold)
        s = c[c["event_type"] == et].set_index("day")["c"].astype(float)
        xbar = s.mean()
        den = ((s - xbar) ** 2).sum()
        q_ref, df = 0.0, 0
        for lag in range(1, 8):
            b = s.copy()
            b.index = b.index - lag
            pair = pd.concat([s, b], axis=1, join="inner")
            if len(pair) == 0:
                continue
            r = (
                (pair.iloc[:, 0] - xbar) * (pair.iloc[:, 1] - xbar)
            ).sum() / den
            q_ref += r * r / len(pair)
            df += 1
        q_ref *= n * (n + 2.0)
        row = out.loc[et]
        assert row["n_days"] == n and row["df"] == df
        assert abs(row["q_lb"] - q_ref) < 1e-5, et


def test_jarque_bera_matches_moment_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("q258_jarque_bera", spark, sf_dir).set_index("event_type")
    for et, grp in c.groupby("event_type"):
        x = grp["c"].to_numpy(dtype=float)
        n = len(x)
        m2 = ((x - x.mean()) ** 2).mean()
        m3 = ((x - x.mean()) ** 3).mean()
        m4 = ((x - x.mean()) ** 4).mean()
        g1, g2 = m3 / m2**1.5, m4 / m2**2 - 3
        row = out.loc[et]
        assert row["n_days"] == n
        assert abs(row["skewness"] - g1) < 1e-6
        assert abs(row["ex_kurtosis"] - g2) < 1e-6
        assert abs(row["jb"] - n / 6 * (g1**2 + g2**2 / 4)) < 1e-5


def test_weekend_proportion_matches_pooled_z(spark, sf_dir):
    ev = _events(sf_dir)
    day = (
        (ev["ts"] - pd.Timestamp("2024-01-01"))
        // pd.Timedelta(microseconds=1)
    ) // _DAY_US
    wd = (day % 7) < 5
    y = (ev["event_type"] == "purchase").to_numpy()
    n1, x1 = int(wd.sum()), int(y[wd].sum())
    n2, x2 = int((~wd).sum()), int(y[~wd].sum())
    pp = (x1 + x2) / (n1 + n2)
    z_ref = (x1 / n1 - x2 / n2) / np.sqrt(
        pp * (1 - pp) * (1 / n1 + 1 / n2)
    )
    out = _run("q259_weekend_proportion_z", spark, sf_dir).iloc[0]
    assert out["n_weekday"] == n1 and out["n_weekend"] == n2
    assert abs(out["p_weekday"] - x1 / n1) < 1e-6
    assert abs(out["p_weekend"] - x2 / n2) < 1e-6
    assert abs(out["z"] - z_ref) < 1e-6


def test_grubbs_matches_max_deviation_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz260_grubbs_outlier", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in c.groupby("event_type"):
        x = grp["c"].to_numpy(dtype=float)
        dev = np.abs(x - x.mean())
        g_ref = dev.max() / x.std(ddof=1)
        peak = int(grp["day"].to_numpy()[dev == dev.max()].min())
        row = out.loc[et]
        assert row["n_days"] == len(x)
        assert row["peak_day"] == peak
        assert abs(row["g_stat"] - g_ref) < 1e-6


def test_dispersion_index_matches_variance_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz263_dispersion_index", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in c.groupby("event_type"):
        x = grp["c"].to_numpy(dtype=float)
        fano = x.var(ddof=1) / x.mean()
        row = out.loc[et]
        assert row["n_days"] == len(x)
        assert abs(row["fano"] - fano) < 1e-6
        assert row["overdispersed"] == int(fano > 1)


def test_source_diversity_matches_counter_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz261_source_diversity", spark, sf_dir).set_index("source")
    for src, grp in d.groupby("source"):
        from collections import Counter

        cnt = Counter(w for t in grp["text"] for w in t.split(" "))
        c = np.array(list(cnt.values()), dtype=float)
        n, v = c.sum(), len(c)
        h = np.log(n) - (c * np.log(c)).sum() / n
        simpson = (c * (c - 1)).sum() / (n * (n - 1))
        row = out.loc[src]
        assert row["n_tokens"] == int(n) and row["vocab"] == v
        assert abs(row["shannon"] - h) < 1e-6
        assert abs(row["evenness"] - h / np.log(v)) < 1e-6
        assert abs(row["simpson"] - simpson) < 1e-6


def test_hill_tail_matches_order_statistic_reference(spark, sf_dir):
    d = _docs(sf_dir)
    out = _run("qz262_hill_tail_index", spark, sf_dir).set_index("source")
    for src, grp in d.groupby("source"):
        lens = np.sort(grp["n_chars"].to_numpy())
        n = len(lens)
        xmin = int(lens[(9 * n + 9) // 10 - 1])
        tail = lens[lens > xmin].astype(float)
        row = out.loc[src]
        assert row["n_docs"] == n and row["xmin"] == xmin
        assert row["k_tail"] == len(tail)
        if len(tail) and np.log(tail / xmin).sum() > 0:
            alpha = len(tail) / np.log(tail / xmin).sum()
            assert abs(row["alpha"] - alpha) < 1e-6
        else:
            assert row["alpha"] == 0.0


def test_interevent_percentiles_match_order_stats(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    ev = ev.sort_values(["user_id", "us", "event_id"])
    ev["gap_s"] = (
        ev.groupby("user_id")["us"].shift(-1) - ev["us"]
    ) // 1_000_000
    g = ev.dropna(subset=["gap_s"])
    out = _run("q264_interevent_percentiles", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in g.groupby("event_type"):
        v = np.sort(grp["gap_s"].to_numpy(dtype=np.int64))
        n = len(v)
        row = out.loc[et]
        assert row["n_gaps"] == n
        assert row["p50_s"] == v[(n + 1) // 2 - 1]
        assert row["p90_s"] == v[(9 * n + 9) // 10 - 1]


def test_transition_entropy_matches_counter_reference(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    ev = ev.sort_values(["user_id", "us", "event_id"])
    ev["nxt"] = ev.groupby("user_id")["event_type"].shift(-1)
    tr = ev.dropna(subset=["nxt"])
    nt = len(tr)
    out = _run("qz265_transition_entropy", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in tr.groupby("event_type"):
        k = grp["nxt"].value_counts().to_numpy(dtype=float)
        n = k.sum()
        h = np.log(n) - (k * np.log(k)).sum() / n
        row = out.loc[et]
        assert row["n_trans"] == int(n)
        assert abs(row["h_next"] - h) < 1e-6
        assert abs(row["pi"] - n / nt) < 1e-6
        assert abs(row["rate_term"] - h * n / nt) < 1e-6


def test_time_to_convert_matches_first_touch_reference(spark, sf_dir):
    ev = _events(sf_dir).copy()
    ev["us"] = (ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(
        microseconds=1
    )
    v = (
        ev[ev["event_type"] == "view"].groupby("user_id")["us"].min()
    )
    pu = ev[ev["event_type"] == "purchase"].merge(
        v.rename("v_us"), left_on="user_id", right_index=True
    )
    pu = pu[pu["us"] > pu["v_us"]]
    first = pu.groupby("user_id").agg(
        p_us=("us", "min"), v_us=("v_us", "first")
    )
    lat = ((first["p_us"] - first["v_us"]) // _DAY_US).astype(int)
    lat_sorted = np.sort(lat.to_numpy())

    out = _run("qz266_time_to_convert", spark, sf_dir).iloc[0]
    assert out["n_viewers"] == len(v)
    assert out["n_converted"] == len(lat)
    assert abs(out["conv_rate"] - len(lat) / len(v)) < 1e-6
    assert (
        out["median_latency_days"]
        == lat_sorted[(len(lat_sorted) + 1) // 2 - 1]
    )


def test_token_fertility_matches_pandas(spark, sf_dir):
    d = _docs(sf_dir)
    toks = d["text"].str.split(" ").str.len()
    out = _run("qz273_token_fertility", spark, sf_dir).set_index("lang")
    for lang, grp in d.groupby("lang"):
        t = toks[grp.index]
        row = out.loc[lang]
        assert row["n_docs"] == len(grp)
        assert row["n_tokens"] == t.sum()
        assert abs(row["tokens_per_doc"] - t.sum() / len(grp)) < 1e-6
        assert (
            abs(row["chars_per_token"] - grp["n_chars"].sum() / t.sum())
            < 1e-6
        )


def test_embedding_isotropy_matches_gram_identity(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    n = len(Mn)
    s = Mn.sum(axis=0)
    s2 = float(s @ s)
    mean_cos_ref = (s2 - n) / (n * (n - 1))
    # brute-force cross-check of the Gram identity on a subsample so
    # the test pins the IDENTITY too, not just the folded sums
    sub = Mn[:500]
    G = sub @ sub.T
    brute = (G.sum() - np.trace(G)) / (len(sub) * (len(sub) - 1))
    ssub = sub.sum(axis=0)
    ident = (float(ssub @ ssub) - len(sub)) / (len(sub) * (len(sub) - 1))
    assert abs(brute - ident) < 1e-9

    out = _run("qz274_embedding_isotropy", spark, sf_dir).iloc[0]
    assert out["n_vecs"] == n
    assert abs(out["mean_pairwise_cos"] - mean_cos_ref) < 1e-6
    assert abs(out["mean_vector_norm"] - np.sqrt(s2) / n) < 1e-6


def test_stream_moments_final_emission_matches_numpy(spark, sf_dir):
    """q278's final emission (the recoverable moments monitor) against
    a direct numpy recomputation from the parquet — mean/variance of
    the exact micro-unit values per type."""
    ev = _events(sf_dir)
    iv = np.floor(np.abs(ev["value"]) * 1e6 + 0.5) * np.sign(ev["value"])
    out = _run(
        "qz278_stream_moments_recoverable", spark, sf_dir
    ).set_index("event_type")
    for et, grp in iv.groupby(ev["event_type"]):
        v = grp.to_numpy(dtype=np.int64).astype(object)
        n = len(v)
        s, ssq = int(v.sum()), int((v**2).sum())
        row = out.loc[et]
        assert row["n_events"] == n
        assert row["batches"] == 3
        assert abs(row["mean_value"] - s / n / 1e6) < 1e-6
        assert (
            abs(row["var_value"] - (n * ssq - s * s) / n / (n - 1) / 1e12)
            < 1e-6
        )


# ---------------------------------------------------------------------------
# round-15 second wave (q279/q280/q283/q285/q286)
# ---------------------------------------------------------------------------


def test_kanonymity_matches_fingerprint_reference(spark, sf_dir):
    ev = _events(sf_dir)
    day = (
        (ev["ts"] - pd.Timestamp("2024-01-01"))
        // pd.Timedelta(microseconds=1)
    ) // _DAY_US
    u = pd.DataFrame({"u": ev["user_id"], "day": day}).groupby("u").agg(
        f_day=("day", "min"), act=("day", "nunique"), n_ev=("day", "size")
    )
    k = u.groupby(["f_day", "act", "n_ev"]).size()
    qi = u.merge(
        k.rename("k"), left_on=["f_day", "act", "n_ev"], right_index=True
    )["k"]
    out = _run("q279_kanonymity_risk", spark, sf_dir).iloc[0]
    assert out["n_users"] == len(u)
    assert out["n_unique"] == int((qi == 1).sum())
    assert out["n_below_k5"] == int((qi < 5).sum())
    assert abs(out["share_unique"] - (qi == 1).mean()) < 1e-6
    assert abs(out["share_below_k5"] - (qi < 5).mean()) < 1e-6


def test_lorenz_deciles_match_rank_reference(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = np.floor(o["o_totalprice"] * 100.0 + 0.5).astype("int64")
    g = cents.groupby(o["o_custkey"]).sum().reset_index(name="c")
    g = g.sort_values(["c", "o_custkey"], kind="mergesort").reset_index(
        drop=True
    )
    n = len(g)
    g["decile"] = (10 * (g.index + 1) + n - 1) // n
    ref = g.groupby("decile")["c"].agg(["size", "sum"])
    tot = g["c"].sum()
    out = _run("qz280_lorenz_deciles", spark, sf_dir).set_index("decile")
    assert len(out) == len(ref)
    for dec_i, r in ref.iterrows():
        row = out.loc[dec_i]
        assert row["n_customers"] == r["size"]
        assert abs(row["share"] - r["sum"] / tot) < 1e-6
    # Lorenz monotonicity: shares ascend with the decile
    assert (out["share"].diff().dropna() >= -1e-12).all()


def test_seasonal_naive_mape_matches_reference(spark, sf_dir):
    c = _day_counts(_events(sf_dir))
    out = _run("qz283_seasonal_naive_mape", spark, sf_dir).set_index(
        "event_type"
    )
    for et, grp in c.groupby("event_type"):
        s = grp.set_index("day")["c"]
        prev = s.copy()
        prev.index = prev.index + 7
        pair = pd.concat(
            [s.rename("a"), prev.rename("p")], axis=1, join="inner"
        )
        ape = (pair["a"] - pair["p"]).abs() / pair["a"]
        row = out.loc[et]
        assert row["n_terms"] == len(pair)
        assert abs(row["mape"] - ape.mean()) < 1e-6


def test_lang_source_independence_matches_chi2(spark, sf_dir):
    d = _docs(sf_dir)
    tab = d.groupby(["lang", "source"]).size().unstack(fill_value=0)
    obs = tab.to_numpy(dtype=float)
    n = obs.sum()
    exp = obs.sum(1, keepdims=True) @ obs.sum(0, keepdims=True) / n
    chi2 = float(((obs - exp) ** 2 / exp).sum())
    r, cc = obs.shape
    out = _run("qz285_lang_source_independence", spark, sf_dir).iloc[0]
    assert out["n_docs"] == int(n)
    assert out["df"] == (r - 1) * (cc - 1)
    assert abs(out["chi2"] - chi2) < 1e-5
    assert (
        abs(out["cramers_v"] - np.sqrt(chi2 / (n * min(r - 1, cc - 1))))
        < 1e-6
    )


def test_embedding_dim_variance_matches_numpy(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    var = M.var(axis=0)
    out = _run("qz286_embedding_dim_variance", spark, sf_dir).set_index(
        "dim"
    )
    assert len(out) == M.shape[1]
    for i in range(M.shape[1]):
        assert abs(out.loc[i, "variance"] - var[i]) < 1e-6
        assert abs(out.loc[i, "var_share"] - var[i] / var.sum()) < 1e-6
