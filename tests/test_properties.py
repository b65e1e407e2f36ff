"""Property-based tests (hypothesis) for the reconciliation laws and the
null/sentinel invariants (SURVEY.md §5 items 3-4)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.casts import cast_columns
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.enrich import enrich_descriptor_uri
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.relational import reconcile_snapshot

_keys = st.sets(st.integers(0, 20), max_size=12)


@settings(max_examples=15, deadline=None)
@given(src=_keys, rem=_keys)
def test_reconcile_partition_law(spark, src, rem):
    """deletes == remote \\ source; upserts == source; and the two never
    overlap on keys (R21 left_anti law), for arbitrary key sets."""
    source = spark.createDataFrame([(str(k),) for k in src] or [], "k string")
    remote = spark.createDataFrame([(str(k), f"rid-{k}") for k in rem] or [], "k string, rid string")
    upserts, deletes = reconcile_snapshot(source, remote, "k")
    up_keys = {r.k for r in upserts.collect()}
    del_keys = {r.k for r in deletes.collect()}
    assert up_keys == {str(k) for k in src}
    assert del_keys == {str(k) for k in rem - src}
    assert not (up_keys & del_keys)


@settings(max_examples=15, deadline=None)
@given(src=_keys, rem=_keys)
def test_reconcile_idempotence(spark, src, rem):
    """After applying a run (remote' = source), a second run deletes
    nothing and upserts the same set."""
    source = spark.createDataFrame([(str(k),) for k in src] or [], "k string")
    remote2 = source.withColumn("rid", F.concat(F.lit("rid-"), "k"))
    _, deletes2 = reconcile_snapshot(source, remote2, "k")
    assert deletes2.count() == 0


_maybe_null_code = st.lists(
    st.one_of(st.none(), st.sampled_from(["M", "F", "X", "zz", "[null]"])),
    min_size=0,
    max_size=12,
)


@settings(max_examples=15, deadline=None)
@given(codes=_maybe_null_code)
def test_enrichment_never_emits_sentinel_and_preserves_nulls(spark, codes):
    """R5/R10 null paths: SQL NULL stays NULL (never the reference's
    "[null]" sentinel), known codes get namespaced URIs, unknown codes pass
    through bare."""
    df = spark.createDataFrame([(i, c) for i, c in enumerate(codes)] or [], "i long, code string")
    vocab = spark.createDataFrame(
        [("M", "uri://ns"), ("F", "uri://ns")], "codeValue string, namespace string"
    )
    out = {r.i: r.uri for r in enrich_descriptor_uri(
        df, vocab, code_col="code", out_col="uri"
    ).collect()}
    for i, c in enumerate(codes):
        if c is None:
            assert out[i] is None
        elif c in ("M", "F"):
            assert out[i] == f"uri://ns#{c}"
        else:
            assert out[i] == c  # bare passthrough, including the literal "[null]" STRING
        assert out[i] != "[null]" or c == "[null]"


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.sampled_from(["[null]", "2021-03-05", "1999-12-31"])),
        max_size=10,
    )
)
def test_cast_scrubs_sentinel_to_null(spark, vals):
    """The "[null]" sentinel (Dao.java:65) becomes real NULL before casting;
    valid ISO dates parse; NULLs stay NULL (lenient mode)."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)] or [], "i long, d string")
    out = {r.i: r.d for r in cast_columns(df, {"d": "date"}, strict=False).collect()}
    for i, v in enumerate(vals):
        if v is None or v == "[null]":
            assert out[i] is None
        else:
            assert str(out[i]) == v


# ----------------------------------------------------- connected components

_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=14,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress: label = min reachable node
    return {n: find(n) for n in parent}


@settings(max_examples=8, deadline=None)
@given(edges=_edges)
def test_connected_components_matches_union_find(spark, edges):
    """Both connected-components paths on DataFrames (the one-task
    union-find plan, and star contraction with the edge cap patched to 0)
    == driver-side union-find for arbitrary small graphs (self-loops,
    duplicate and reversed edges, multiple components, chains)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import graph

    df = spark.createDataFrame(edges, "ida long, idb long")
    want = _uf_components([e for e in edges if e[0] != e[1]])
    for cap in (graph._UNION_FIND_EDGE_CAP, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "_UNION_FIND_EDGE_CAP", cap)
            got = graph.connected_components(df).collect()
        assert {r["node"]: r["cluster"] for r in got} == want, cap


_ts_offsets = st.lists(st.integers(0, 2000), min_size=1, max_size=24, unique=True)


@settings(max_examples=10, deadline=None)
@given(offs=_ts_offsets, lower=st.integers(-120, 120), width=st.integers(0, 400))
def test_interval_join_equals_bruteforce(spark, offs, lower, width):
    """Binned interval join == brute-force range predicate for arbitrary
    event times and ranges (including negative lower bounds)."""
    import datetime as dt

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.rangejoin import (
        interval_join,
    )

    upper = lower + width
    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(sorted(offs))]
    a = spark.createDataFrame(rows, "a_id bigint, a_ts timestamp")
    b = spark.createDataFrame(rows, "b_id bigint, b_ts timestamp")
    got = {
        (r.a_id, r.b_id)
        for r in interval_join(a, b, "a_ts", "b_ts", lower, upper).collect()
    }
    want = {
        (ia, ib)
        for ia, ta in rows
        for ib, tb in rows
        if ta + dt.timedelta(seconds=lower) <= tb <= ta + dt.timedelta(seconds=upper)
    }
    assert got == want


_sizes = st.lists(st.integers(1, 300), min_size=1, max_size=40)


@settings(max_examples=10, deadline=None)
@given(sizes=_sizes, cap=st.integers(64, 512), shards=st.integers(1, 5))
def test_packing_replay_and_capacity_law(spark, sizes, cap, shards):
    """pack_next_fit == the sequential next-fit replay per shard, and no
    bin that holds >1 row exceeds capacity, for arbitrary size mixes."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.packing import (
        pack_next_fit,
    )

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id bigint, tok bigint")
    out = pack_next_fit(df, "doc_id", "tok", capacity=cap, num_shards=shards)
    got = {(r.doc_id): (r.shard, r.bin_id) for r in out.collect()}
    assert len(got) == len(rows)
    for shard in range(shards):
        members = sorted(i for i, _ in rows if i % shards == shard)
        bin_id, acc = 0, 0
        fills: dict[int, list[int]] = {}
        for i in members:
            size = sizes[i]
            if acc > 0 and acc + size > cap:
                bin_id += 1
                acc = 0
            acc += size
            assert got[i] == (shard, bin_id), i
            fills.setdefault(bin_id, []).append(size)
        for held in fills.values():
            if len(held) > 1:
                assert sum(held) <= cap


_feed = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 50), st.integers(0, 99)),
    min_size=0, max_size=25, unique_by=lambda t: t[2],
)


@settings(max_examples=10, deadline=None)
@given(feed=_feed, base_keys=st.sets(st.integers(0, 5), max_size=6))
def test_scd2_interval_laws(spark, feed, base_keys):
    """For arbitrary change feeds: per key exactly one open version, the
    version count equals base-presence + changes, and validity intervals
    tile (each valid_to equals the next valid_from under the version
    order)."""
    import datetime as dt

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.scd import merge_scd2

    base = spark.createDataFrame(
        [(k, float(k)) for k in sorted(base_keys)] or [], "key bigint, val double"
    )
    ch = spark.createDataFrame(
        [
            (k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), float(eid), eid)
            for k, m, eid in feed
        ]
        or [],
        "key bigint, ts timestamp, val double, event_id bigint",
    )
    hist = merge_scd2(
        base, ch, keys=["key"], ts_col="ts", attr_cols=["val"],
        tiebreak=["event_id"],
    ).collect()

    from collections import defaultdict

    by_key = defaultdict(list)
    for r in hist:
        by_key[r.key].append(r)
    feed_keys = defaultdict(int)
    for k, _m, _e in feed:
        feed_keys[k] += 1
    for k in set(base_keys) | set(feed_keys):
        rows = by_key[k]
        assert len(rows) == (1 if k in base_keys else 0) + feed_keys[k], k
        assert sum(r.is_current for r in rows) == 1, k
        rows.sort(key=lambda r: (r.valid_from, r.valid_to is None))
        for prev, nxt in zip(rows, rows[1:]):
            assert prev.valid_to == nxt.valid_from, k


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=30
    )
)
@settings(max_examples=20, deadline=None)
def test_mul_hash32_exact_for_any_bigint(spark, ids):
    """The split-multiply shard hash must equal the mathematically exact
    (id * 2654435761) mod 2^32 for ANY bigint id — including ids past
    ~3.47e9 where the naive 64-bit product overflows (throws under ANSI
    mode). Python ints are arbitrary-precision, so they are the oracle."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.curation_q import (
        _mul_hash32,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id", _mul_hash32(F.col("doc_id")).alias("h")
        ).collect()
    }
    for i in ids:
        assert got[i] == (i * 2654435761) % (2**32), i


@given(
    hosts=st.lists(
        st.sampled_from(["WWW.A.COM", "b.ORG:80", "C.net:443", "d.io:8080"]),
        min_size=1, max_size=8,
    ),
    frag=st.booleans(),
)
@settings(max_examples=15, deadline=None)
def test_canonical_url_idempotent(spark, hosts, frag):
    """Normalization law: canonical_url(canonical_url(u)) ==
    canonical_url(u) — a second pass must find nothing left to fix, for
    any mix of casing, default/explicit ports, doubled slashes, utm
    params, and fragments."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.text import (
        canonical_url,
    )

    urls = [
        f"HTTP://{h}//p{i}//Q?utm_source=x&id={i}&utm_b=y"
        + ("#frag" if frag else "")
        for i, h in enumerate(hosts)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(canonical_url(F.col("u")).alias("c"))
    twice = once.select(canonical_url(F.col("c")).alias("c2"))
    a = [r.c for r in once.collect()]
    b = [r.c2 for r in twice.collect()]
    assert a == b
    for c in a:
        assert "#" not in c and "utm_" not in c and "//p" not in c.split("://")[1]


@given(
    paths=st.lists(
        st.sampled_from(["/", "/a", "/a//b///c", ""]), min_size=1, max_size=6
    )
)
@settings(max_examples=10, deadline=None)
def test_canonical_url_edges(spark, paths):
    """Edge shapes: bare host (empty path), root path, utm-only query
    (must drop the '?'), non-default port kept, multi-slash collapse."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.text import (
        canonical_url,
    )

    urls = [f"HTTPS://Host.Example:443{p}?utm_x=1" for p in paths] + [
        "http://h.example:8080/a?id=1&utm_y=2",
        "https://h.example",
    ]
    # keyed by an explicit index, NOT by collect() position — row order
    # out of collect() is plan-dependent, not contractual
    df = spark.createDataFrame(list(enumerate(urls)), "i long, u string")
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, p in enumerate(paths):
        assert got[i] == (
            "https://host.example" + p.replace("///", "/").replace("//", "/")
        )
    assert got[len(urls) - 2] == "http://h.example:8080/a?id=1"  # port kept
    assert got[len(urls) - 1] == "https://h.example"


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=30
    )
)
@settings(max_examples=20, deadline=None)
def test_mul_hash32_sql_twin_matches_python_oracle(ids):
    """The DuckDB-side split-multiply twin (mul_hash32_sql) must equal
    the mathematically exact (id * 2654435761) mod 2^32 for ANY bigint —
    the same law the Spark-side mul_hash32 is pinned to, so engine and
    oracle can never disagree on shard/sample assignment for ids past
    the naive form's overflow point."""
    import duckdb

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.sampling import (
        mul_hash32_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    rows = con.execute(
        f"SELECT doc_id, {mul_hash32_sql('doc_id')} AS h FROM t"
    ).fetchall()
    for i, h in rows:
        assert h == (i * 2654435761) % (2**32), i


def test_portable_uniform01_and_shard_share_one_hash(spark):
    """ADVICE r06: the reservoir uniform and the shard hash must be the
    SAME implementation, not twins that can drift. portable_uniform01(id)
    must equal (mul_hash32(id) + 0.5) / 2^32 exactly, and curation_q's
    re-export must BE operators.sampling.mul_hash32."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.sampling import (
        mul_hash32,
        portable_uniform01,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import curation_q

    assert curation_q._mul_hash32 is mul_hash32
    df = spark.createDataFrame(
        [(0,), (1,), (3_470_000_000,), (2**61,)], "doc_id long"
    )
    got = df.select(
        portable_uniform01("doc_id", salt=9).alias("u"),
        ((mul_hash32(F.col("doc_id") + F.lit(9)) + F.lit(0.5))
         / F.lit(4294967296.0)).alias("ref"),
    ).collect()
    for r in got:
        assert r.u == r.ref


# ---------------------------------------------------------------------------
# round-14 inference-layer laws: Kaplan-Meier product-limit identity and the
# doubled-midrank identity behind the Friedman ranks
# ---------------------------------------------------------------------------

_durs = st.lists(
    st.tuples(st.integers(0, 20), st.booleans()),  # (duration_day, observed)
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(durs=_durs)
def test_km_product_limit_identity(durs):
    """The engine's exp(Σ ln((n-d)/n)) survival form must equal the
    directly multiplied product limit for ANY duration/censoring mix,
    including exhausted-risk-set tails (survival 0) — the law behind
    q239 with no engines involved."""
    import math
    from collections import Counter

    n = len(durs)
    deaths = Counter(d for d, obs in durs if obs)
    removed = Counter(d for d, _ in durs)
    days = sorted(set(removed))
    at_risk = n
    surv_direct = 1.0
    ls = 0.0
    for day in days:
        d = deaths.get(day, 0)
        if d > 0:
            surv_direct *= (at_risk - d) / at_risk
            # the engine's guarded-cumsum form
            if at_risk > d:
                ls += math.log((at_risk - d) / at_risk)
                surv_engine = math.exp(ls)
            else:
                surv_engine = 0.0
            assert abs(surv_engine - surv_direct) < 1e-12
        at_risk -= removed[day]
    assert at_risk == 0


_block_vals = st.lists(
    st.lists(st.integers(0, 5), min_size=2, max_size=8),
    min_size=1,
    max_size=10,
)


@settings(max_examples=200, deadline=None)
@given(blocks=_block_vals)
def test_doubled_midrank_identity(blocks):
    """mr2 = 2*(RANK()-1) + ties + 1 must equal twice the average-rank
    midrank for ANY tie structure — the identity q251 (and the
    kw_ranked family) relies on. Each inner list is one block; RANK is
    the min 1-based position among equal values."""
    for vals in blocks:
        sv = sorted(vals)
        for v in vals:
            rank_min = sv.index(v) + 1
            ties = sv.count(v)
            mr2 = 2 * (rank_min - 1) + ties + 1
            # average rank of the tie group, doubled
            avg_rank2 = rank_min + (rank_min + ties - 1)
            assert mr2 == avg_rank2
