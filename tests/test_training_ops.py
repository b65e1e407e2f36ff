"""Unit tests for the training-pipeline operators added in round 4:
binned interval join (operators/rangejoin.py), sharded next-fit packing
(operators/packing.py), and the repetition/chunking text expressions."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.packing import pack_next_fit
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.rangejoin import interval_join
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.text import (
    duplicate_bigram_fraction,
    top_word_fraction,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, "id bigint, ts timestamp")


def _brute_pairs(rows_a, rows_b, lower, upper):
    out = set()
    for ida, ta in rows_a:
        for idb, tb in rows_b:
            lo = ta + dt.timedelta(seconds=lower)
            hi = ta + dt.timedelta(seconds=upper)
            if lo <= tb <= hi:
                out.add((ida, idb))
    return out


def test_interval_join_matches_bruteforce(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=s))
        for i, s in enumerate([0, 1, 59, 60, 61, 150, 299, 300, 301, 900, 901])
    ]
    a = _events(spark, rows).select(
        F.col("id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    b = _events(spark, rows).select(
        F.col("id").alias("b_id"), F.col("ts").alias("b_ts")
    )
    for lower, upper in [(0, 300), (-60, 60), (1, 100)]:
        got = {
            (r.a_id, r.b_id)
            for r in interval_join(
                a, b, "a_ts", "b_ts", lower_s=lower, upper_s=upper
            ).collect()
        }
        assert got == _brute_pairs(rows, rows, lower, upper), (lower, upper)


def test_interval_join_subsecond_boundary(spark):
    # exact predicate keeps microsecond precision even though bins truncate
    base = dt.datetime(2024, 1, 1)
    a = _events(spark, [(0, base)]).select(
        F.col("id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    b = _events(
        spark,
        [
            (1, base + dt.timedelta(seconds=300)),
            (2, base + dt.timedelta(seconds=300, microseconds=1)),
        ],
    ).select(F.col("id").alias("b_id"), F.col("ts").alias("b_ts"))
    got = {
        r.b_id
        for r in interval_join(a, b, "a_ts", "b_ts", 0, 300).collect()
    }
    assert got == {1}


def test_interval_join_equality_keys_and_errors(spark):
    base = dt.datetime(2024, 1, 1)
    a = spark.createDataFrame(
        [(1, "u1", base), (2, "u2", base)], "a_id bigint, user string, a_ts timestamp"
    )
    b = spark.createDataFrame(
        [(3, "u1", base + dt.timedelta(seconds=10))],
        "b_id bigint, user string, b_ts timestamp",
    )
    got = interval_join(a, b, "a_ts", "b_ts", 0, 60, on=["user"]).collect()
    assert [(r.a_id, r.b_id) for r in got] == [(1, 3)]

    with pytest.raises(ValueError, match="empty range"):
        interval_join(a, b, "a_ts", "b_ts", 10, 0)
    with pytest.raises(ValueError, match="bucket_s"):
        interval_join(a, b, "a_ts", "b_ts", 0, 600, bucket_s=60)
    with pytest.raises(ValueError, match="ambiguous"):
        interval_join(a, a, "a_ts", "a_ts", 0, 60)


def test_interval_join_plan_has_no_nested_loop(spark, sf_dir):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    df = all_queries()["qz55_interval_pairs"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pack_next_fit_respects_capacity_and_order(spark):
    rows = [(i, 10 + (i * 37) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, tok bigint")
    out = pack_next_fit(df, "doc_id", "tok", capacity=128, num_shards=8).collect()
    assert len(out) == 200
    by_shard: dict[int, list] = {}
    for r in out:
        assert r.shard == r.doc_id % 8
        by_shard.setdefault(r.shard, []).append(r)
    sizes = dict(rows)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        # replay next-fit: same assignment, capacity never exceeded by a
        # bin holding >1 row, bin ids contiguous from 0
        bin_id, acc = 0, 0
        for r in rs:
            size = sizes[r.doc_id]
            if acc > 0 and acc + size > 128:
                bin_id += 1
                acc = 0
            acc += size
            assert r.bin_id == bin_id, (shard, r.doc_id)


def test_pack_next_fit_oversize_row_gets_own_bin(spark):
    df = spark.createDataFrame(
        [(0, 50), (1, 500), (2, 50)], "doc_id bigint, tok bigint"
    )
    out = {r.doc_id: r.bin_id for r in pack_next_fit(
        df, "doc_id", "tok", capacity=100, num_shards=1
    ).collect()}
    # 0 fills bin 0; 1 overflows into bin 1 alone; 2 starts bin 2
    assert out == {0: 0, 1: 1, 2: 2}
    with pytest.raises(ValueError):
        pack_next_fit(df, "doc_id", "tok", capacity=0)


def test_repetition_fractions(spark):
    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "x y z w"), (2, "a b a b a")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (round(r.twf, 6), round(r.dbf, 6))
        for r in df.select(
            "doc_id",
            top_word_fraction("text").alias("twf"),
            duplicate_bigram_fraction("text").alias("dbf"),
        ).collect()
    }
    assert got[0] == (0.75, round(1 - 2 / 3, 6))  # bigrams: aa aa ab
    assert got[1] == (0.25, 0.0)
    # "a b a b a": bigrams ab ba ab ba -> 2 distinct of 4
    assert got[2] == (0.6, 0.5)


def test_single_token_doc_edge(spark):
    df = spark.createDataFrame([(0, "solo")], "doc_id bigint, text string")
    r = df.select(
        top_word_fraction("text").alias("twf"),
        duplicate_bigram_fraction("text").alias("dbf"),
    ).collect()[0]
    assert r.twf == 1.0 and r.dbf == 0.0


def test_merge_scd2_intervals(spark):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.scd import merge_scd2

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "key bigint, val double")
    ch = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 2), 11.0, 100),
            (1, dt.datetime(2024, 1, 5), 12.0, 101),
            (3, dt.datetime(2024, 1, 3), 30.0, 102),  # change-only key
        ],
        "key bigint, ts timestamp, val double, event_id bigint",
    )
    hist = merge_scd2(
        base, ch, keys=["key"], ts_col="ts", attr_cols=["val"],
        tiebreak=["event_id"],
    ).collect()

    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.key, []).append(r)
    # key 1: base (until 1/2), v11 (until 1/5), v12 current
    k1 = sorted(by_key[1], key=lambda r: r.valid_from)
    assert [r.val for r in k1] == [10.0, 11.0, 12.0]
    assert [r.is_current for r in k1] == [0, 0, 1]
    for prev, nxt in zip(k1, k1[1:]):
        assert prev.valid_to == nxt.valid_from  # intervals tile exactly
    # key 2: never changed -> single current base row
    assert [(r.val, r.is_current, r.valid_to) for r in by_key[2]] == [
        (20.0, 1, None)
    ]
    # key 3: insert via feed only -> one current version from the change
    assert [(r.val, r.is_current) for r in by_key[3]] == [(30.0, 1)]
    # exactly one current version per key, globally
    for key, rows in by_key.items():
        assert sum(r.is_current for r in rows) == 1, key


def test_merge_scd2_ts_tiebreak(spark):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.scd import merge_scd2

    t = dt.datetime(2024, 1, 1)
    base = spark.createDataFrame([(1, 0.0)], "key bigint, val double")
    ch = spark.createDataFrame(
        [(1, t, 1.0, 2), (1, t, 2.0, 1)],
        "key bigint, ts timestamp, val double, event_id bigint",
    )
    hist = merge_scd2(
        base, ch, keys=["key"], ts_col="ts", attr_cols=["val"],
        tiebreak=["event_id"],
    ).collect()
    cur = [r.val for r in hist if r.is_current]
    assert cur == [1.0]  # event_id 2 is the later version under the tiebreak


def test_bench_json_line_fits_driver_tail():
    """The driver records only the trailing ~2000 chars of bench stdout;
    bench.render_line must keep its single JSON line inside that window
    under WORST-CASE widths — every registered query slow (nothing under
    the 50 ms drop) and a heavy build_s — by enforcing its hard budget
    (smallest entries dropped first). The headline fields must survive
    trimming intact."""
    import importlib.util
    import json
    import os

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    names = [n for n, s in all_queries().items() if "streaming" not in s.tags]
    per_query = {n: 99.99 for n in names}
    builds = {f"artifact_{i}": 99.99 for i in range(12)}
    line = bench.render_line(per_query, builds, 999.999, 0.1, 8)
    assert len(line) <= 1600, len(line)
    parsed = json.loads(line)
    assert parsed["n_q"] == len(names)
    assert parsed["seq_s"] == round(sum(per_query.values()), 2)
    assert parsed["value"] == 999.999
    assert parsed["detail"] == "BENCH_DETAIL.json"
    # the kept per-query entries are real keys, worst-case values intact
    assert all(v == 99.99 for v in parsed["queries"].values())


def test_bench_detail_file_keeps_full_resolution(tmp_path):
    """Round-15 restructure: whatever the stdout line trims, the committed
    BENCH_DETAIL.json keeps EVERY per-query second and artifact build —
    the regression signal the 1,600-char tail can no longer carry at
    273+ queries."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    per_query = {f"q{i:03d}_name": i / 100.0 for i in range(300)}
    builds = {"idx_a": 0.123, "idx_b": 7.5}
    path = tmp_path / "BENCH_DETAIL.json"
    bench.write_detail(str(path), per_query, builds, 42.5, 0.1, 8)
    d = json.loads(path.read_text())
    assert d["queries"] == per_query        # nothing trimmed
    assert d["build_s"] == builds           # sub-2s builds kept here
    assert d["value"] == 42.5 and d["n_q"] == 300
    assert list(d["queries"]) == sorted(per_query)  # diff-stable order


def test_stream_packing_matches_batch(spark, sf_dir):
    """q84's streaming next-fit (state carried across micro-batches) must
    reproduce the batch pack_next_fit assignment exactly under the
    id-ordered replay contract."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.text import token_count
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.streaming_q import (
        _SPACK_CAP,
        _SPACK_SHARDS,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    streamed = all_queries()["qz84_stream_packing"].build(spark, sf_dir)
    got = {
        (r["doc_id"], r["shard"], r["bin_id"], r["tok"])
        for r in streamed.collect()
    }
    d = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("tok")
    )
    batch = pack_next_fit(
        d, "doc_id", "tok", capacity=_SPACK_CAP, num_shards=_SPACK_SHARDS
    )
    want = {
        (r["doc_id"], r["shard"], r["bin_id"], r["tok"])
        for r in batch.collect()
    }
    assert got == want and len(got) == d.count()


def test_interval_join_hash_form_equals_sortmerge(spark):
    """hash_build_right is a physical-plan choice only: the shuffled-hash
    form must return exactly the sort-merge form's rows."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=37 * i))
        for i in range(200)
    ]
    a = spark.createDataFrame(rows, "a_id long, a_ts timestamp")
    b = spark.createDataFrame(
        [(i + 1000, ts) for i, ts in rows], "b_id long, b_ts timestamp"
    )
    smj = {
        (r.a_id, r.b_id)
        for r in interval_join(a, b, "a_ts", "b_ts", 0, 120).collect()
    }
    shj = {
        (r.a_id, r.b_id)
        for r in interval_join(
            a, b, "a_ts", "b_ts", 0, 120, hash_build_right=True
        ).collect()
    }
    assert smj == shj and len(smj) > 200


def test_memo_build_times_are_exclusive_of_nested_labels(spark):
    """r15: BUILD_TIMES must be ADDITIVE — a labeled build that builds
    another labeled artifact inside reports only its own time, so the
    bench's build_s no longer depends on which query happens to build
    first under the current alphabetical order (the name rotation made
    q196's label absorb its dependencies' cold builds)."""
    import time

    from ed_fi_x_tpdm_data_ingestion_poc_spark import queries as Q

    s = spark.newSession()  # a fresh store: nothing memoized yet
    saved = dict(Q.BUILD_TIMES)
    try:
        Q.BUILD_TIMES.clear()

        def child():
            time.sleep(0.05)
            return "c"

        def unlabeled_mid():
            # unlabeled: its own 0.02 s stays with the PARENT, but its
            # labeled child's time must not
            Q.memo(s, ("t_child",), child, label="t_child")
            time.sleep(0.02)
            return "m"

        def parent():
            Q.memo(s, ("t_mid",), unlabeled_mid)  # no label
            time.sleep(0.03)
            return "p"

        Q.memo(s, ("t_parent",), parent, label="t_parent")
        assert 0.04 <= Q.BUILD_TIMES["t_child"] <= 0.2
        # parent keeps its 0.03 + the unlabeled 0.02, NOT the child 0.05
        assert 0.04 <= Q.BUILD_TIMES["t_parent"] <= 0.2
        assert (
            Q.BUILD_TIMES["t_parent"] + Q.BUILD_TIMES["t_child"]
            <= 0.25
        )
    finally:
        Q.BUILD_TIMES.clear()
        Q.BUILD_TIMES.update(saved)


def test_bench_line_trims_builds_as_final_lever():
    """Even a pathological >=2s build list (60 heavy artifacts) must not
    push the line past the budget — smallest builds drop; the detail
    file keeps them all."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    per_query = {f"q{i:03d}_x": 99.99 for i in range(300)}
    builds = {f"very_long_artifact_name_{i:02d}": 2.0 + i for i in range(60)}
    line = bench.render_line(per_query, builds, 9.9, 0.1, 8)
    assert len(line) <= 1600, len(line)
    parsed = json.loads(line)
    kept = parsed["build_s"]
    # the kept builds are the LARGEST ones
    assert all(v >= max(builds.values()) - len(builds) for v in kept.values())


def test_bench_build_list_cannot_drain_per_query_signal():
    """ADVICE r15 (bench.py render_line lever order): an oversized >=2s
    build list used to run the per-query drop loop to EXHAUSTION before
    the build lever fired, erasing the slowest-query regression signal.
    The build sub-budget trim must now fire first: with 60 heavy builds
    and a handful of slow queries, the slowest queries SURVIVE."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    # few queries (a trimmed map would be cheap to drain) + a build list
    # that alone would blow the 1600-char budget
    per_query = {f"q{i:03d}_x": 5.0 + i for i in range(10)}
    builds = {f"very_long_artifact_build_label_{i:02d}": 2.0 + i
              for i in range(80)}
    line = bench.render_line(per_query, builds, 9.9, 0.1, 8)
    assert len(line) <= 1600, len(line)
    parsed = json.loads(line)
    # the primary regression signal survives: ALL per-query entries kept
    assert len(parsed["queries"]) == len(per_query)
    # and the rendered build map fits its sub-budget (largest kept)
    assert len(json.dumps(parsed["build_s"],
                          separators=(",", ":"))) <= 400
    if parsed["build_s"]:
        assert max(parsed["build_s"].values()) == max(builds.values())


def test_epoch_curriculum_schedule_laws(spark, sf_dir):
    """q291 laws: every (epoch, source) selection is within the source
    size; rates are in (0, 1]; and the schedule ANNEALS — the small-
    source up-weighting shrinks as alpha rises, so for the smallest
    source the keep rate is non-increasing across epochs (and strictly
    falls somewhere unless it saturates at 1 throughout)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table
    from pyspark.sql import functions as F

    out = all_queries()["q291_epoch_curriculum"].build(spark, sf_dir)
    rows = out.collect()
    sizes = {
        r.source: r.n
        for r in table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rows
    for r in rows:
        assert 0 < r.rate <= 1.0, r
        assert 0 < r.n_selected <= sizes[r.source], r
    smallest = min(sizes, key=sizes.get)
    sched = [r.rate for r in sorted(rows, key=lambda r: r.epoch)
             if r.source == smallest]
    assert len(sched) == 4
    assert all(a >= b - 1e-12 for a, b in zip(sched, sched[1:])), sched


def test_quantile_normalization_aligns_sources(spark, sf_dir):
    """q292 law: after mapping onto the pooled reference, the per-source
    quartile values are near-identical across sources — adjacent target
    ranks land within a tight band of the pooled distribution (exact
    equality is not guaranteed: ceil rank arithmetic differs by one
    pooled position between sources of different sizes)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    out = all_queries()["q292_quantile_normalization"].build(spark, sf_dir)
    rows = out.collect()
    by_pct = {}
    for r in rows:
        by_pct.setdefault(r.pct, []).append(r.norm_chars)
    assert set(by_pct) == {25, 50, 75}
    for pct, vals in by_pct.items():
        lo, hi = min(vals), max(vals)
        # sources' mapped quartiles straddle at most a narrow band of
        # the pooled distribution (rank-off-by-one effects only)
        assert (hi - lo) / max(hi, 1) < 0.1, (pct, vals)
    # and quartiles are ordered per source
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, {})[r.pct] = r.norm_chars
    for src, d in per_src.items():
        assert d[25] <= d[50] <= d[75], (src, d)
