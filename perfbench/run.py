"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload {ingest_sync,query_seq,query_concurrent}
                             --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed, sets the engine's session up
several times (``setup_s`` is the median), runs the workload for about S
seconds through the package's public entry points, checks every output and
prints two JSON lines: a detail line (``env`` block, latency summaries,
failures, per-span self times) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run with
the Spark event log enabled. Exits 1 when an output check fails, 2 when the
engine package is not next to this directory.

Working files (generated tables, Derby, Spark local dirs, warehouse, event
log, reports) live in a per-run directory under ``.perfbench_work/`` at the
checkout root and are removed at exit; span dumps of traced runs are kept in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ed_fi_x_tpdm_data_ingestion_poc_spark"
WORKLOADS = ("ingest_sync", "query_seq", "query_concurrent")
SETUPS = 3  # session set-ups per run; setup_s is their median

END_TO_END = {
    "setup_s": "s", "peak_rss_gb": "GB",
    "warm_pass_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_py_s": "s", "queries.py4j_calls": "count",
    "queries.artifact_build_s": "s", "queries.artifacts_built": "count",
    "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "arrow.collect_s": "s",
    "sources.rest.vocab_s": "s", "sources.rest.snapshot_s": "s",
    "sources.rest.get_requests": "count", "sources.jdbc.extract_s": "s",
    "pipeline.build_docs_s": "s",
    "sinks.rest_sink.upsert_s": "s", "sinks.rest_sink.tasks": "count",
    "sinks.rest_sink.http_requests": "count",
    "sinks.rest_sink.token_requests": "count",
    "sinks.rest_sink.ops_per_request": "ratio",
    "sinks.report.build_report_s": "s",
    "trace.overhead_pct": "%",
}
# per-layer times that are the summed duration of one span name
_SPAN_TIMES = {
    "queries.build_py_s": "queries.build",
    "catalyst.plan_s": "catalyst.plan",
    "sources.rest.vocab_s": "sources.rest.vocab",
    "sources.rest.snapshot_s": "sources.rest.snapshot",
    "sources.jdbc.extract_s": "sources.jdbc.extract",
    "pipeline.build_docs_s": "pipeline.build_docs",
    "sinks.rest_sink.upsert_s": "sinks.rest_sink.upsert",
    "sinks.report.build_report_s": "sinks.report.build_report",
}


def configure(work: str, traced: bool) -> str | None:
    """Point every file the engine, Spark, the JVM and Derby write into
    ``work``; enable an uncompressed, non-rolling event log when traced.
    Returns the event-log directory (None untraced)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    args = [
        # -XX:-UsePerfData: no hsperfdata file, which ignores java.io.tmpdir
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}"
        " -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    log_dir = None
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"
    return log_dir


def set_up(tracer, attach) -> tuple[object, list[float]]:
    """Start the engine's session SETUPS times (stopping the previous one)
    and attach the workload's inputs; return the last session and the
    set-up times. The first start includes launching the JVM."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.session import get_spark

    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark()
        attach(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def shutdown() -> None:
    """Stop the Spark context and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def env_block(spark, args, names) -> dict:
    import duckdb
    import pyspark

    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = round(int(v.split()[0]) / 2**20, 2)
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "cpus": len(os.sched_getaffinity(0)),
        "spark_parallelism": spark.sparkContext.defaultParallelism,
        "mem_total_gb": mem.get("MemTotal"),
        "mem_available_gb": mem.get("MemAvailable"),
        "driver_heap": spark.conf.get("spark.driver.memory", None),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "queries": names,
    }


def layer_metrics(s, tracer, setup_spans, event_log) -> tuple[dict, dict]:
    """Per-layer figures per traced warm pass (query workloads) or per
    traced sync (ingest_sync), artifact figures as cold-pass totals, and
    the self time per span name per traced pass or sync."""
    from stats import covered_time, self_times
    from tracing import event_totals, job_intervals, read_event_log

    units = max(1, s.traced_units)
    spans = [sp for sp in tracer.spans
             if s.traced_from is not None and sp["start"] >= s.traced_from]
    jobs, stages = read_event_log(event_log) if event_log else ({}, {})
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = statistics.median(
        sp["end"] - sp["start"] for sp in setup_spans)
    for metric, name in _SPAN_TIMES.items():
        out[metric] = sum(sp["end"] - sp["start"] for sp in spans if sp["name"] == name) / units
    out["queries.py4j_calls"] = sum(sp["py4j"] for sp in spans if sp["name"] == "queries.build") / units
    out["arrow.collect_s"] = sum(
        sp["end"] - sp["start"]
        - covered_time(job_intervals(jobs, sp["group"]), sp["start"], sp["end"])
        for sp in spans if sp["name"] == "arrow.collect") / units
    for k, v in event_totals(jobs, stages, s.traced_groups).items():
        out[f"spark.{k}"] = v / units
    for k, v in s.layers.items():
        if k in ("queries.artifact_build_s", "queries.artifacts_built"):
            out[k] = v
        elif k in out:
            out[k] = v / units
    http = s.layers.get("sinks.rest_sink.http_requests", 0)
    if http:
        out["sinks.rest_sink.ops_per_request"] = s.layers["sinks.rest_sink.useful_ops"] / http
    if s.latencies and s.traced_latencies:
        out["trace.overhead_pct"] = 100.0 * (
            statistics.median(s.traced_latencies) / statistics.median(s.latencies) - 1.0)
    per_unit_self = {k: v / units for k, v in sorted(self_times(spans).items())}
    return out, per_unit_self


def run(args, work: str) -> tuple[dict, dict]:
    import datagen
    import workloads as wl
    from stats import failed_frac, summarize
    from tracing import RssSampler, Tracer, cpu_steal_s

    traced = bool(args.trace)
    event_dir = configure(work, traced)
    tracer = Tracer(enabled=traced)
    ctx = wl.Context(spark=None, seed=args.seed, seconds=args.seconds,
                     traced=traced, tracer=tracer, work=work)
    specs, expected = [], {}
    if args.workload != "ingest_sync":
        ctx.data_dir = os.path.join(work, "data")
        datagen.write_tables(ctx.data_dir, args.seed)
        specs = wl.query_specs()
        expected = wl.oracle_digests(specs, ctx.data_dir)
        if args.workload == "query_concurrent":
            ctx.threads = len(os.sched_getaffinity(0))

    def attach(spark) -> None:
        """Resolve every input table's parquet schema (query workloads)."""
        from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

        for name in datagen.REL_TABLES if ctx.data_dir else ():
            table(spark, ctx.data_dir, name)

    steal0 = cpu_steal_s()
    with RssSampler() as rss:
        spark, setup_times = set_up(tracer, attach)
        ctx.spark = spark
        setup_spans = list(tracer.spans)
        if traced:
            tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
        env = env_block(spark, args, [sp.name for sp in specs])
        app_id = spark.sparkContext.applicationId
        if args.workload == "ingest_sync":
            s = wl.run_ingest(ctx)
        else:
            s = wl.run_queries(ctx, specs, expected)
        tracer.close()
        shutdown()  # flushes the event log

    detail = {
        "env": env,
        "cpu_steal_s": cpu_steal_s() - steal0,
        "peak_rss_gb_by_process": {k: v / 2**30 for k, v in rss.peak_by_kind.items()},
        "latency_s": summarize(s.latencies),
        "traced_latency_s": summarize(s.traced_latencies),
        "failed_frac": failed_frac(s.failed, s.attempted) if s.attempted else None,
        "errors": s.errors,
    }
    if traced:
        event_log = os.path.join(event_dir, app_id) if event_dir else None
        metrics, detail["self_s"] = layer_metrics(s, tracer, setup_spans, event_log)
        units = PER_LAYER
        dump = os.path.join(ROOT, ".perfbench_work", "traces",
                            f"{args.workload}-seed{args.seed}.spans.json")
        tracer.dump(dump)
        detail["spans"] = os.path.relpath(dump, ROOT)
    else:
        metrics = {
            "setup_s": statistics.median(setup_times),
            "peak_rss_gb": rss.peak / 2**30,
            "warm_pass_s": statistics.median(s.passes) if s.passes else float("nan"),
            "ops_per_s": s.ops / s.ops_wall if s.ops_wall else 0.0,
            "op_p50_s": statistics.median(s.latencies) if s.latencies else float("nan"),
        }
        units = END_TO_END
        detail["setup_s"] = setup_times
        detail["cold_pass_s"] = s.cold_s
    result = {
        "correct": s.failed == 0 and s.attempted > 0,
        "attempted": max(1, s.attempted),
        "failed": s.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        result, detail = run(args, work)
    finally:
        shutdown()  # a no-op unless run() raised with the JVM up
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
