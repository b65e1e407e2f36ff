"""The three benchmark workloads.

Each workload drives the engine only through its public entry points,
checks every output outside the timed windows and fills a ``Samples``;
run.py turns that into metrics.

* ``ingest_sync``: the product path, one sync at a time in a closed loop:
  four descriptor vocabularies and the remote snapshot read over REST, then
  ``app.run`` (JDBC extract from embedded Derby, nested documents, REST
  upserts and snapshot deletes, run report) against in-process REST stubs.
* ``query_seq``: a fixed mix of registered queries over generated tables,
  one at a time. A cold pass on a fresh session (first evaluations, every
  artifact build) is followed by unmeasured warm-up passes, then by the
  measured warm passes.
* ``query_concurrent``: the same mix submitted by one client thread per
  core in a closed loop, after a concurrent cold pass.

In a traced run untraced and traced warm operations alternate, so the run
reports its own tracing overhead.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack
from dataclasses import dataclass, field

import datagen
from tracing import Tracer, group_counts, patched

# Registered queries of the two query workloads. Each has DuckDB oracle SQL,
# reads only the generated relational tables and matched its oracle on the
# generated tables of several seeds. Scans, joins, aggregates and windows
# that cost little more than the fixed per-query floor are mixed with
# queries whose first evaluation builds memoized artifacts.
QUERY_MIX = (
    # first evaluation builds memoized artifacts
    "qz49e_profile_stats", "qz137_bloom_prune_join", "qz138_top_decile_events",
    # scans, joins, aggregates, windows, functions, a pandas UDF
    "qz01_scan_project", "qz08_case_when", "qz09_rename_alias",
    "qz10_join_chain", "qz13_semi_join", "qz14_anti_join", "qz16_cross_join",
    "qz19_count_distinct", "qz23_max_by", "qz25_distinct", "qz27_window_frame",
    "qz30_global_topk", "qz31_union", "qz38_struct_json", "qz41_pandas_udf",
    "qz71_pivot", "qz77_date_arith", "qz219_forecast_revenue",
)

# Unmeasured passes between the cold pass and the warm window of the query
# workloads. The JVM keeps compiling hot code for several passes after the
# cold pass: on a 4-vCPU VM the pass wall fell from 5-6 s to a steady
# 3.4-4.2 s over the first five to seven warm passes, and how far it had
# fallen when measuring started depended on how busy the host was.
WARMUP_PASSES = 5

# ingest_sync input size: candidates per sync (a quarter have a second,
# later detail row; an eighth more keys are remote-only ghosts to delete)
INGEST_IDS = 600
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer
    work: str
    data_dir: str = ""
    threads: int = 1


@dataclass
class Samples:
    """What one workload run measured and checked."""

    cold_s: float = 0.0
    latencies: list[float] = field(default_factory=list)  # warm, untraced
    traced_latencies: list[float] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)  # warm pass walls
    ops: int = 0  # successful operations of the untraced warm window
    ops_wall: float = 0.0  # wall time of the untraced warm window
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # traced run only
    layers: dict = field(default_factory=dict)
    traced_groups: list[str] = field(default_factory=list)
    traced_units: int = 0  # passes or syncs the traced figures cover
    traced_from: float | None = None  # epoch start of the first traced op

    def add(self, key: str, v: float) -> None:
        self.layers[key] = self.layers.get(key, 0) + v

    def check(self, ok: bool, n: int, why: str) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            if len(self.errors) < 20:
                self.errors.append(why)


def _phases(ctx: Context, start: float, at_least: int):
    """Yield once per warm operation (a pass or a sync) for ``ctx.seconds``
    after ``start``, the end of the cold pass or of the warm-up, and at
    least ``at_least`` times; each yield says whether tracing is on for that operation. A
    traced run alternates untraced and traced operations, at least one of
    each, so that the warm-up trend falls on both sides of the overhead."""
    end = start + ctx.seconds
    least = max(at_least, 2) if ctx.traced else at_least
    n = 0
    while n < least or time.perf_counter() < end:
        ctx.tracer.enabled = ctx.traced and n % 2 == 1
        n += 1
        yield ctx.tracer.enabled


# -- query workloads ----------------------------------------------------------

def query_specs() -> list:
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    registry = all_queries()
    return [registry[name] for name in QUERY_MIX]


def oracle_digests(specs, data_dir: str) -> dict[str, tuple]:
    from tools.oracle_check import duck_result

    return {s.name: duck_result(s.oracle, data_dir) for s in specs}


def _evaluate(ctx: Context, spec, group: str):
    """One evaluation of a registered query, materialized with toPandas."""
    tr = ctx.tracer
    if ctx.traced:  # every operation of a traced run, so none inherits a group
        ctx.spark.sparkContext.setJobGroup(group, spec.name)
    t0 = time.perf_counter()
    with tr.span("queries.eval", group=group):
        with tr.span("queries.build"):
            df = spec.build(ctx.spark, ctx.data_dir)
        if tr.enabled:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("arrow.collect", group=group):
            pdf = df.toPandas()
    return pdf, time.perf_counter() - t0


def _query_pass(ctx, pool, specs, label, expected, s: Samples, record: bool):
    """Evaluate every spec once and check the digests after the pass; with
    ``record``, also collect each query's job counts. Returns the pass wall
    and the latencies of the evaluations that checked out."""
    from tools.oracle_check import frame_digest

    def one(spec):
        group = f"{label}:{spec.name}"
        try:
            pdf, dt = _evaluate(ctx, spec, group)
        except Exception as e:  # a failed query is counted, not fatal
            return spec, group, None, repr(e)[:300]
        return spec, group, pdf, dt

    t0 = time.perf_counter()
    outs = list(pool.map(one, specs))
    wall = time.perf_counter() - t0
    lat = []
    for spec, group, pdf, dt in outs:
        if pdf is None:
            s.check(False, 1, f"{spec.name}: {dt}")
            continue
        got = frame_digest(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
        ok = got == expected[spec.name]
        s.check(ok, 1, f"{spec.name}: digest {got} != oracle {expected[spec.name]}")
        if ok:
            lat.append(dt)
        if record:
            for k, v in group_counts(ctx.spark.sparkContext, group).items():
                s.add(f"spark.{k}", v)
            s.traced_groups.append(group)
    return wall, lat


def run_queries(ctx: Context, specs, expected) -> Samples:
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import BUILD_TIMES

    s = Samples()
    with ThreadPoolExecutor(ctx.threads) as pool:
        ctx.tracer.enabled = ctx.traced
        built0 = dict(BUILD_TIMES)
        s.cold_s, _ = _query_pass(ctx, pool, specs, "cold", expected, s, False)
        s.layers["queries.artifact_build_s"] = sum(BUILD_TIMES.values()) - sum(built0.values())
        s.layers["queries.artifacts_built"] = len(set(BUILD_TIMES) - set(built0))
        for n in range(WARMUP_PASSES):
            _query_pass(ctx, pool, specs, f"warmup{n}", expected, s, False)
        for n_pass, traced in enumerate(_phases(ctx, time.perf_counter(), 2), 1):
            if traced and s.traced_from is None:
                s.traced_from = time.time()
            wall, lat = _query_pass(ctx, pool, specs, f"warm{n_pass}", expected, s, traced)
            if traced:
                s.traced_latencies += lat
                s.traced_units += 1
            else:
                s.passes.append(wall)
                s.latencies += lat
                s.ops += len(lat)
                s.ops_wall += wall
        ctx.tracer.enabled = False
    return s


# -- ingest_sync --------------------------------------------------------------

_CANDIDATE_SQL = (
    "SELECT SPRIDEN_ID, SPRIDEN_FIRST_NAME, SPRIDEN_LAST_NAME, SRC_ORDER,"
    " SEX_CODE, BIRTH_DATE, SUBJECT_CODE, GRADE_CODE, DEGREE_CODE"
    " FROM cand_src\n"
)
_ADDRESS_SQL = "SELECT SPRIDEN_ID, STREET, CITY, FROM_DATE, TO_DATE FROM addr_src\n"
_CANDIDATE_MAP = {
    "teacherCandidateIdentifier": "SPRIDEN_ID",
    "firstName": "SPRIDEN_FIRST_NAME",
    "lastSurname": "SPRIDEN_LAST_NAME",
    "sourceOrder": "SRC_ORDER",
    "sexDescriptor": "SEX_CODE",
    "birthDate": "BIRTH_DATE",
    "academicSubjectDescriptor": "SUBJECT_CODE",
    "gradeLevelDescriptor": "GRADE_CODE",
    "tppDegreeTypeDescriptor": "DEGREE_CODE",
}
_ADDRESS_MAP = {
    "teacherCandidateIdentifier": "SPRIDEN_ID",
    "streetNumberName": "STREET",
    "city": "CITY",
    "beginDate": "FROM_DATE",
    "endDate": "TO_DATE",
}


def _write_spec(spec_dir: str) -> None:
    for sub, files in (
        ("sql", {"teacherCandidate.sql": _CANDIDATE_SQL,
                 "teacherCandidateAddresses.sql": _ADDRESS_SQL}),
        ("columnmap", {
            "teacherCandidate.map": "".join(f"{k}={v}\n" for k, v in _CANDIDATE_MAP.items()),
            "teacherCandidateAddresses.map": "".join(
                f"{k}={v}\n" for k, v in _ADDRESS_MAP.items()),
        }),
    ):
        os.makedirs(os.path.join(spec_dir, sub), exist_ok=True)
        for name, text in files.items():
            with open(os.path.join(spec_dir, sub, name), "w") as f:
                f.write(text)


def _check_sync(fx, report, sink, s: Samples) -> int:
    """Compare one sync's report and the requests the sink stub received
    with the generated expectation; return the successful operations."""
    n_up, n_del = len(fx.expected_upserts), len(fx.expected_deletes)
    ok_ops = report.upsert_count + report.delete_count
    s.check(report.error_count == 0 and not report.fatal_error, n_up + n_del,
            f"report errors: {report.error_count} {report.errors[:3]}")
    s.check(report.upsert_count == n_up, 1,
            f"upsert_count {report.upsert_count} != {n_up}")
    s.check(report.delete_count == n_del, 1,
            f"delete_count {report.delete_count} != {n_del}")
    keys = [d.get("teacherCandidateIdentifier") for d in sink.upserts]
    s.check(len(keys) == n_up and set(keys) == fx.expected_upserts, 1,
            f"stub received {len(keys)} upserts for {len(set(keys))} keys, expected {n_up}")
    s.check(sorted(sink.deletes) == sorted(fx.expected_deletes), 1,
            f"stub received {len(sink.deletes)} deletes, expected {n_del}")
    wrong = sum(fx.expected_last_names.get(d.get("teacherCandidateIdentifier"))
                != d.get("lastSurname") for d in sink.upserts)
    s.check(wrong == 0, 1, f"{wrong} documents lost last-row-wins")
    n_addr = sum(len(d.get("addresses") or ()) for d in sink.upserts)
    s.check(n_addr == fx.expected_addresses, 1,
            f"{n_addr} merged addresses, expected {fx.expected_addresses}")
    bad_uri = sum(
        not (v == "ZZ" or str(v).startswith("uri://ed-fi.org/"))
        for d in sink.upserts
        for v in (d.get("sexDescriptor"), d.get("academicSubjectDescriptor"))
    )
    s.check(bad_uri == 0, 1, f"{bad_uri} descriptors not enriched")
    return ok_ops


def run_ingest(ctx: Context) -> Samples:
    from pyspark.sql.types import StringType, StructField, StructType

    from ed_fi_x_tpdm_data_ingestion_poc_spark import app
    from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest import (
        OAuthConfig, RestSource, read_rest,
    )
    from ed_fi_x_tpdm_data_ingestion_poc_spark.testing.rest_stub import StubRestServer

    spark, tr = ctx.spark, ctx.tracer
    fx = datagen.ingest_fixture(ctx.seed, INGEST_IDS)
    url = f"jdbc:derby:{ctx.work}/derby/source;create=true"
    props = {"driver": DERBY_DRIVER}
    spark.createDataFrame(fx.candidates).write.jdbc(url, "cand_src", mode="overwrite", properties=props)
    spark.createDataFrame(fx.addresses).write.jdbc(url, "addr_src", mode="overwrite", properties=props)
    spec_dir = os.path.join(ctx.work, "input")
    _write_spec(spec_dir)
    snap_schema = StructType([
        StructField("teacherCandidateIdentifier", StringType()),
        StructField("resource_id", StringType()),
    ])

    s = Samples()
    with ExitStack() as stack:
        vocab_srv = {
            name: stack.enter_context(StubRestServer(
                [r for r in fx.vocab_rows if r["vocabulary"] == name], require_auth=True))
            for name in datagen.VOCABULARIES
        }
        snap_srv = stack.enter_context(StubRestServer(fx.snapshot_rows, require_auth=True))
        sink = stack.enter_context(StubRestServer([], require_auth=True))
        readers = [*vocab_srv.values(), snap_srv]
        cfg = app.AppConfig({
            "database.url": url,
            "database.driver": DERBY_DRIVER,
            "input.sql.dir": os.path.join(spec_dir, "sql"),
            "input.columnmap.dir": os.path.join(spec_dir, "columnmap"),
            "output.dir": os.path.join(ctx.work, "output"),
            "oauth.token.url": sink.token_url,
            "oauth.client.id": "bench",
            "oauth.client.secret": "secret",
            "api.base.path": sink.url,
            "tpdm.api.save": "true",
            "output.data.to.dir": "false",
        })

        def auth(srv):
            return OAuthConfig(srv.token_url, "bench", "secret")

        def sync(i: int):
            """One full sync; returns (report, seconds, persisted frames)."""
            group = f"sync{i}"
            if ctx.traced:  # every sync of a traced run, so none inherits a group
                spark.sparkContext.setJobGroup(group, "ingest read")
            t0 = time.perf_counter()
            with tr.span("sources.rest.vocab"):
                vocabs = {
                    name: app.load_descriptor_vocabularies(
                        spark, srv.url, [name], auth=auth(srv))[name]
                    for name, srv in vocab_srv.items()
                }
            with tr.span("sources.rest.snapshot"):
                snap = read_rest(spark, RestSource(
                    snap_srv.url, "/tpdm/teacherCandidates", page_size=100,
                    auth=auth(snap_srv)), snap_schema).persist()
                snap.count()
            if ctx.traced:
                spark.sparkContext.setJobGroup(group + ":app", "app.run")
            build = app.teacher_candidate_builder(vocabs)

            def build_docs(*args):
                with tr.span("pipeline.build_docs"):
                    return build(*args)

            with tr.span("app.run"):
                report = app.run(cfg, build_docs, spark=spark, remote_snapshot=snap)
            dt = time.perf_counter() - t0
            return report, dt, [snap, *vocabs.values()]

        def one(i: int, record: bool) -> tuple[float, int] | None:
            """One checked sync: (seconds, successful operations), or None
            when it raised."""
            for srv in (sink, *readers):
                srv.upserts.clear()
                srv.deletes.clear()
                srv.get_requests.clear()
                srv.token_requests = 0
            try:
                report, dt, frames = sync(i)
            except Exception as e:  # a failed sync is counted, not fatal
                s.check(False, len(fx.expected_upserts) + len(fx.expected_deletes),
                        f"sync {i} raised {e!r}"[:300])
                return None
            for df in frames:
                df.unpersist()
            ok_ops = _check_sync(fx, report, sink, s)
            if record:
                for group in (f"sync{i}", f"sync{i}:app"):
                    for k, v in group_counts(spark.sparkContext, group).items():
                        s.add(f"spark.{k}", v)
                    s.traced_groups.append(group)
                s.add("sources.rest.get_requests", sum(len(r.get_requests) for r in readers))
                s.add("sinks.rest_sink.http_requests",
                      len(sink.upserts) + len(sink.deletes) + sink.token_requests)
                s.add("sinks.rest_sink.token_requests", sink.token_requests)
                # each sink task opens one sender, which fetches one token
                s.add("sinks.rest_sink.tasks", sink.token_requests)
                s.add("sinks.rest_sink.useful_ops", ok_ops)
            return dt, ok_ops

        tr.enabled = ctx.traced
        with ExitStack() as patches:
            if ctx.traced:
                patches.enter_context(patched(app, "read_query", tr, "sources.jdbc.extract"))
                patches.enter_context(patched(app, "rest_upsert", tr, "sinks.rest_sink.upsert"))
                patches.enter_context(patched(app, "rest_delete", tr, "sinks.rest_sink.upsert"))
                patches.enter_context(patched(app, "build_report", tr, "sinks.report.build_report"))
            cold = one(0, False)
            s.cold_s = cold[0] if cold else float("nan")
            for i, traced in enumerate(_phases(ctx, time.perf_counter(), 2), 1):
                if traced and s.traced_from is None:
                    s.traced_from = time.time()
                done = one(i, traced)
                if done is None:
                    continue
                dt, ok_ops = done
                if traced:
                    s.traced_latencies.append(dt)
                    s.traced_units += 1
                else:
                    s.latencies.append(dt)
                    s.passes.append(dt)
                    s.ops += ok_ops
                    s.ops_wall += dt
        tr.enabled = False
    return s
