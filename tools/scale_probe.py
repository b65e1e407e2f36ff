"""Scale probe: run registered queries on N-times-inflated tables and report
how their wall-clock grows. Near-linear (or flatter) growth means the plan's
shuffle/partition strategy holds; super-linear growth flags a candidate-set
or fan-out blow-up that would sink a 100 TB run.

The tables are inflated once, on disk: `factor` disjoint copies of every
table but region and nation, written as parquet. Copy c offsets every
key/id column by c * OFFSET (so copy c of lineitem joins copy c of orders,
part and supplier), suffixes every document token with `_c`, shifts event
timestamps 31 days and rotates embedding dimensions by c; copy 0 keeps the
original values. A skew layout then rewrites a few columns of the inflated
tables (LAYOUTS) and is written to its own directory; the tables it leaves
alone are linked from the uniform one. Each probe in PROBES names the
registered query that ships the operator under test and the layout it runs
on; the probe calls that query's builder on the inflated directory, so the
engine reads N-times tables through `tables.table` exactly as it reads sf
directories, with real multi-file splits.

Usage: python tools/scale_probe.py [factor=10] [sf_dir=$SPARK_GRAFT_SF_DIR]
                                   [probe ...]
Prints one JSON line per probe: {probe, query, layout, factor, sec_base,
sec_big, growth_vs_linear, build_s_base, build_s_big[, hot_vs_uniform]}.
sec_* time a warm evaluation through the noop sink on the 1x copy and on
the N-times layout; growth_vs_linear = sec_big / (sec_base * factor)
(1.0 = perfectly linear); build_s_* is the memo artifact build time of the
first (cold) evaluation, the BUILD_TIMES delta, which a warm evaluation of
a query that memoizes its result no longer pays; hot_vs_uniform = sec_big /
the same query's time on the uniform N-times tables.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 100_000_000  # above the +10M ids some queries plant for variants
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SHIFT = "make_interval(0, 0, 0, CAST(__copy * 31 AS INT), 0, 0, 0)"
# content rewrites that keep the copies disjoint beyond their keys
DISJOINT = {
    "documents": {
        "text": "IF(__copy = 0, text,"
        " regexp_replace(text, '(\\\\S+)', concat('$1_', __copy)))"
    },
    "events": {"ts": f"ts + {SHIFT}"},
    "embeddings": {
        "embedding": "transform(embedding, (x, i) ->"
        " embedding[CAST(pmod(i + __copy, size(embedding)) AS INT)])"
    },
}
BOILER = " ".join(f"bz{i}" for i in range(30))
# skew layouts: per-table column rewrites of the inflated tables (SQL over
# the inflated columns and __copy, the copy number)
LAYOUTS = {
    "uniform": {},
    # three stopwords in every document: one word's df == n_docs
    "zipf": {"documents": {"text": "concat(text, '" + " zq0" * 16
                           + " zq1" * 8 + " zq2" * 4 + "')"}},
    # every copy's first hour folded onto copy 0's (events start 2024-01-01)
    "hot_bucket": {"events": {"ts": f"IF(ts < TIMESTAMP'2024-01-01 01:00:00'"
                              f" + {SHIFT}, ts - {SHIFT}, ts)"}},
    # a 30-token passage shared by 1 % of the documents of every copy
    "hot_boilerplate": {"documents": {
        "text": f"IF(doc_id % 100 = 0, concat('{BOILER} ', text), text)"}},
    # the sources multiply instead of the rows per source
    "sources": {"documents": {
        "source": "concat_ws('_', source, CAST(__copy AS STRING))"}},
    # the whole corpus on one day, values jittered so (day, value) grows
    "hot_day": {"events": {"ts": "TIMESTAMP'2024-01-15 12:00:00'",
                           "value": "value + __copy * 1e-7"}},
    # copy 0's orders, 1/factor of the rows, on one customer
    "hot_customer": {"orders": {"o_custkey": "IF(__copy = 0, 1, o_custkey)"}},
    # copies >= 1 in one source, with growing distinct lengths
    "one_source": {"documents": {
        "source": "IF(__copy > 0, 'bulk_crawl', source)",
        "n_chars": "n_chars + __copy * 100000"}},
    # copies >= 1 on one z-order point
    "hot_zkey": {"lineitem": {"l_partkey": "IF(__copy > 0, 7, l_partkey)",
                              "l_suppkey": "IF(__copy > 0, 11, l_suppkey)"}},
    # copies >= 1 on one user: 1 - 1/factor of the events
    "hot_user": {"events": {"user_id": "IF(__copy > 0, 424242, user_id)"}},
    # q295's nightly batch (vec_id % 7 = 0) stays copy 0's slice while the
    # stored corpus grows: copies >= 1 move off the batch residue
    "fixed_batch": {"embeddings": {"vec_id": "IF(__copy > 0 AND vec_id % 7 = 0,"
                                   " vec_id + 50000000, vec_id)"}},
}
# probe -> (registered query that ships the operator, layout)
PROBES = {
    "ngram_jaccard": ("qz50b_ngram_jaccard_dups", "uniform"),
    "minhash_lsh": ("qz50c_minhash_lsh_ok", "uniform"),
    "simhash": ("qz50d_simhash_ok", "uniform"),
    "window_topk": ("qz29_topk_per_group", "uniform"),
    "hash_agg": ("qz18_hash_agg", "uniform"),
    "curation_pass": ("qz67_curation_pipeline", "uniform"),
    "stratified_sample": ("qz135_stratified_sample", "uniform"),
    "interval_join": ("qz55_interval_pairs", "uniform"),
    "seq_packing": ("qz59_seq_packing", "uniform"),
    "bloom_probe": ("qz90_bloom_decontam_ok", "uniform"),
    "segment_dedup": ("qz92_segment_dedup", "uniform"),
    "hll_sketch": ("qz89_hll_rollup_ok", "uniform"),
    "tfidf_zipf": ("qz58_tfidf_topk", "zipf"),
    "substring_dedup": ("qz109_substring_dedup", "uniform"),
    "html_strip": ("qz110_html_extract", "uniform"),
    "bpe_encode": ("qz111_bpe_encode_ok", "uniform"),
    "bigram_nll": ("qz118_bigram_nll", "uniform"),
    "quality_model": ("qz117_quality_model", "uniform"),
    "funnel_fold": ("qz141_event_funnel", "uniform"),
    "pagerank_matvec": ("qz142_pagerank", "uniform"),
    "exact_quantile": ("qz138_top_decile_events", "uniform"),
    "global_prefix_sum": ("qz160_token_budget_select", "uniform"),
    "kcore_hindex": ("qz178_coreness", "uniform"),
    "auc_midrank": ("qz165_exact_auc", "uniform"),
    "mg_heavy_hitters": ("qz151_mg_heavy_ok", "uniform"),
    "interval_hot_bucket": ("qz55_interval_pairs", "hot_bucket"),
    "substring_hot_boilerplate": ("qz109_substring_dedup", "hot_boilerplate"),
    "semdedup_cells": ("qz112_semdedup_ok", "uniform"),
    "ks_matrix_sources2": ("qz176_ks_matrix", "sources"),
    "ks_sketch_cutover": ("qz196_ks_sketch_screen", "sources"),
    "daily_bands_hot_day": ("qz195_daily_value_bands", "hot_day"),
    "warehouse_join_q5": ("qz209_local_supplier_volume", "uniform"),
    "heaps_vocab_growth": ("qz248_heaps_law", "uniform"),
    "pareto_prefix_sum": ("qz241_pareto_share", "uniform"),
    "range_frame_skew": ("qz230_trailing_window_spend", "hot_customer"),
    "interevent_percentiles": ("q264_interevent_percentiles", "uniform"),
    "basket_pair_lift": ("q267_brand_basket_lift", "uniform"),
    "epoch_shuffle": ("q287_epoch_shuffle", "uniform"),
    "bootstrap_resample": ("q290_bootstrap_ci", "uniform"),
    "quantile_norm_skewed_source": ("q292_quantile_normalization", "one_source"),
    "zorder_hot_key_range": ("q293_zorder_layout", "hot_zkey"),
    "srm_user_skew": ("q294_ab_srm_guard", "hot_user"),
    "incremental_ann_update": ("q295_incremental_ann_index", "fixed_batch"),
}


def inflate(spark, sf_dir: str, out_dir: str, factor: int, layout: str = "uniform",
            uniform_dir: str | None = None) -> str:
    """Write the `factor`-times tables of `sf_dir` under `layout` to
    out_dir. With uniform_dir, tables the layout does not rewrite are
    linked from there instead of written again."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import TABLE_NAMES, table

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        rewrite = LAYOUTS[layout].get(name)
        if uniform_dir and not rewrite:
            os.symlink(os.path.join(uniform_dir, f"{name}.parquet"), dst)
            continue
        df = table(spark, sf_dir, name)
        if name in KEYS:
            copies = spark.range(factor).withColumnRenamed("id", "__copy")
            exprs = {k: f"{k} + __copy * {OFFSET}" for k in KEYS[name]}
            exprs.update(DISJOINT.get(name, {}))
            df = df.crossJoin(F.broadcast(copies)).withColumns(
                {c: F.expr(e) for c, e in exprs.items()})
            df = df.withColumns({c: F.expr(e) for c, e in (rewrite or {}).items()})
            # one file per copy: the N-times scan gets real splits
            df = df.repartitionByRange(factor, "__copy").drop("__copy")
        df.write.parquet(dst)
    return out_dir


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import DEFAULT_SF_DIR

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF_DIR
    names = sys.argv[3:] or list(PROBES)
    unknown = sorted(set(names) - set(PROBES))
    if unknown:
        raise SystemExit(f"unknown probes: {unknown}")

    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
        BUILD_TIMES,
        all_queries,
        session_cache,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.session import get_spark

    spark = get_spark()
    specs = all_queries()
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 4, 1, par).mapInPandas(lambda it: it, "id long").count()

    def evaluate(query: str, data_dir: str) -> float:
        t0 = time.perf_counter()
        specs[query].build(spark, data_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    runs: dict[tuple[str, str], tuple[float, float]] = {}

    def timed(query: str, data_dir: str) -> tuple[float, float]:
        """(warm seconds, artifact build seconds of the cold run)."""
        if (query, data_dir) not in runs:
            b0 = sum(BUILD_TIMES.values())
            evaluate(query, data_dir)  # cold: codegen + memo artifact builds
            build = sum(BUILD_TIMES.values()) - b0
            runs[query, data_dir] = evaluate(query, data_dir), build
        return runs[query, data_dir]

    with tempfile.TemporaryDirectory(prefix="scale_probe_") as tmp:
        base = inflate(spark, sf_dir, os.path.join(tmp, "x1"), 1)
        uniform = inflate(spark, sf_dir, os.path.join(tmp, "uniform"), factor)
        dirs = {"uniform": uniform}
        for name in names:
            query, layout = PROBES[name]
            if layout not in dirs:
                dirs[layout] = inflate(spark, sf_dir, os.path.join(tmp, layout),
                                       factor, layout, uniform)
            rec = {"probe": name, "query": query, "layout": layout, "factor": factor}
            try:
                t_base, b_base = timed(query, base)
                t_big, b_big = timed(query, dirs[layout])
                rec.update(sec_base=round(t_base, 2), sec_big=round(t_big, 2),
                           growth_vs_linear=round(t_big / (t_base * factor), 2),
                           build_s_base=round(b_base, 2), build_s_big=round(b_big, 2))
                if layout != "uniform":
                    rec["hot_vs_uniform"] = round(t_big / timed(query, uniform)[0], 2)
            except Exception as e:  # noqa: BLE001 — one line per probe
                traceback.print_exc()
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            print(json.dumps(rec), flush=True)
            # artifacts of N-times tables hold memory: drop them per probe
            spark.catalog.clearCache()
            session_cache(spark).clear()


if __name__ == "__main__":
    main()
