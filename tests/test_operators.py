"""Unit tests for the semantic operator library (reference behaviors
R5/R6, R10, R15, R21 — SURVEY.md §2.1)."""

from __future__ import annotations

import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.enrich import (
    enrich_descriptor_uri,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.relational import (
    latest_per_key,
    reconcile_snapshot,
    top_k_per_group,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.rename import (
    UnmappedColumnError,
    parse_column_map,
    rename_columns,
)
from pyspark.sql import functions as F


def test_rename_case_insensitive(spark):
    df = spark.createDataFrame([(1, "a")], "SPRIDEN_PIDM long, SPRIDEN_FIRST_NAME string")
    out = rename_columns(df, {"pidm": "spriden_pidm", "first": "spriden_first_name"})
    assert out.columns == ["pidm", "first"]
    assert out.collect()[0].pidm == 1


def test_rename_strict_raises_and_lenient_nulls(spark):
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(UnmappedColumnError):
        rename_columns(df, {"x": "missing"})
    # reference parity: unmatched logical column -> NULL
    # (SisConnectorService.java:830-836)
    out = rename_columns(df, {"x": "missing"}, strict=False)
    assert out.collect()[0].x is None


def test_parse_column_map():
    text = "teacherCandidateIdentifier=SPRIDEN_PIDM\n# comment\n\nfirstName=SPRIDEN_FIRST_NAME\n"
    assert parse_column_map(text) == {
        "teacherCandidateIdentifier": "SPRIDEN_PIDM",
        "firstName": "SPRIDEN_FIRST_NAME",
    }


def test_enrich_descriptor_uri_match_and_fallback(spark):
    codes = spark.createDataFrame([("MA",), ("ZZ",)], "code string")
    vocab = spark.createDataFrame(
        [("MA", "uri://ed-fi.org/AddressTypeDescriptor")],
        "codeValue string, namespace string",
    )
    out = {
        r.code: r.uri
        for r in enrich_descriptor_uri(codes, vocab, code_col="code", out_col="uri").collect()
    }
    assert out["MA"] == "uri://ed-fi.org/AddressTypeDescriptor#MA"
    assert out["ZZ"] == "ZZ"  # pass-through on miss


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [(1, "202010", "old"), (1, "202110", "new"), (2, "202010", "only")],
        "pidm long, term string, v string",
    )
    out = {r.pidm: r.v for r in latest_per_key(df, ["pidm"], ["term"]).collect()}
    assert out == {1: "new", 2: "only"}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [(1, i) for i in range(10)] + [(2, 100)], "k long, v long"
    )
    out = top_k_per_group(df, ["k"], [F.col("v").desc()], k=3)
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [(1, 7), (1, 8), (1, 9), (2, 100)]


def test_reconcile_snapshot(spark):
    source = spark.createDataFrame([("a",), ("b",)], "nk string")
    remote = spark.createDataFrame([("b",), ("c",)], "nk string")
    upserts, deletes = reconcile_snapshot(source, remote, "nk")
    assert sorted(r.nk for r in upserts.collect()) == ["a", "b"]
    assert [r.nk for r in deletes.collect()] == ["c"]


def test_reconcile_idempotent_second_run(spark):
    # property (SURVEY.md §5 item 3): after applying run 1, run 2 deletes nothing
    source = spark.createDataFrame([("a",), ("b",)], "nk string")
    remote_after = source
    _, deletes = reconcile_snapshot(source, remote_after, "nk")
    assert deletes.count() == 0


def test_funnel_times_ordered_semantics(spark):
    """funnel_times: step i counts only after step i-1's earliest
    qualifying time; out-of-order completions never count."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.relational import (
        FUNNEL_INF,
        funnel_times,
    )

    rows = [
        # user 1: clean order  v@10 c@20 p@30
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # user 2: purchase BEFORE the click -> step 3 never completes
        (2, 10, "view"), (2, 30, "click"), (2, 20, "purchase"),
        # user 3: click before any view -> only the later click counts
        (3, 5, "click"), (3, 10, "view"), (3, 40, "click"),
        # user 4: nothing qualifying
        (4, 10, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, tp string")
    out = {
        r.user_id: (r.f.t1, r.f.t2, r.f.t3)
        for r in funnel_times(
            df, "user_id", F.col("us"), "tp", ["view", "click", "purchase"]
        ).collect()
    }
    assert out[1] == (10, 20, 30)
    assert out[2] == (10, 30, FUNNEL_INF)
    assert out[3] == (10, 40, FUNNEL_INF)
    assert out[4] == (FUNNEL_INF, FUNNEL_INF, FUNNEL_INF)


def test_broadcast_if_small_gate_and_memo(spark, sf_dir):
    """The r14 gate-probe memo must be RESULT-invariant: the hint
    decision for a given side is identical with a cold or warm memo
    (the count is a pure function of the canonicalized plan), below-cap
    sides get the hint, above-cap sides come back unhinted, and a
    re-built expression over the same tables (fresh .where() per query
    evaluation) reuses the first probe instead of paying a count job.
    A semanticHash collision could only flip a HINT (a plan choice
    AQE re-checks at runtime), never a result."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
        broadcast_if_small,
        session_cache,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    def gate_probes() -> int:
        return sum(1 for k in session_cache(spark) if k[0] == "broadcast_if_small")

    n = table(spark, sf_dir, "nation").where(F.col("n_nationkey") >= 0)
    before = gate_probes()
    out1 = broadcast_if_small(n)
    # hinted below the cap: joining against it plans a broadcast join
    c = table(spark, sf_dir, "customer")
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import audit

    f = audit(c.join(out1, c.c_nationkey == out1.n_nationkey))
    assert f.broadcast_joins >= 1
    grew = gate_probes() - before
    assert grew == 1
    # a RE-BUILT identical expression (fresh .where object) memo-hits
    n2 = table(spark, sf_dir, "nation").where(F.col("n_nationkey") >= 0)
    broadcast_if_small(n2)
    assert gate_probes() - before == 1  # no new probe
    # above the cap: unhinted frame returned as-is (same object)
    big = table(spark, sf_dir, "customer")
    out2 = broadcast_if_small(big, max_rows=1)
    assert out2 is big
    # ... and the decision uses the memoized count, not max_rows, as key:
    # the same side with a different cap flips the hint without re-probing
    probes = gate_probes()
    out3 = broadcast_if_small(big, max_rows=10_000_000)
    assert out3 is not big  # hinted now
    assert gate_probes() == probes


def test_size_gate_probe_is_bounded_and_memoized(spark, monkeypatch):
    """size_gate reads at most bound + 1 rows (bound = max(cap,
    _PROBE_ROWS)); a truncated probe answers every cap up to its bound,
    a larger cap probes again, and bytes are rows x _est_row_bytes."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark import queries

    monkeypatch.setattr(queries, "_PROBE_ROWS", 10)
    s = spark.newSession()
    df = s.range(100)
    key = ("t_gate", df.semanticHash())
    assert not queries.size_gate(df, 5, gate="t_gate")
    assert queries.session_cache(s)[key] == (10, 11)  # stopped at bound + 1
    # a new probe would now read to 51 rows; a cap within the old bound
    # is answered from the memo instead
    monkeypatch.setattr(queries, "_PROBE_ROWS", 50)
    assert not queries.size_gate(df, 10, gate="t_gate")
    assert queries.session_cache(s)[key] == (10, 11)
    assert queries.size_gate(df, 200, gate="t_gate")  # above the bound: re-probed
    assert queries.session_cache(s)[key] == (200, 100)
    assert queries.size_gate(df, 100, gate="t_gate")
    assert not queries.size_gate(df, 99, gate="t_gate")
    width = queries._est_row_bytes(df.schema)
    assert queries.size_gate(df, 100, max_bytes=100 * width, gate="t_gate")
    assert not queries.size_gate(df, 100, max_bytes=100 * width - 1, gate="t_gate")
