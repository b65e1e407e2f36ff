"""The ingest sync sized to the cores: one REST sink task (and token) per
task slot, upserts and deletes sent in one wave of such tasks, descriptor
vocabularies loaded without a Spark job, REST reads that page past a
server-side cap on `limit`, app.run freeing the frames it persists, and
4 MiB Tungsten pages."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ed_fi_x_tpdm_data_ingestion_poc_spark.app import (
    AppConfig,
    load_descriptor_vocabularies,
    run,
    teacher_candidate_builder,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.report import build_report
from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.rest_sink import RestSink, rest_upsert
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest import (
    OAuthConfig,
    RestSource,
    iter_all_rows,
    read_rest,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.testing.rest_stub import StubRestServer

SCHEMA = StructType([StructField("id", LongType()), StructField("name", StringType())])
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _rows(n):
    return [{"id": i, "name": f"row-{i}"} for i in range(n)]


def _jobs_in_group(spark, group, fn):
    """Run fn() under a job group; return its result and the group's jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_iter_all_rows_pages_past_the_server_limit_cap():
    # the server caps limit at 100; asking for 500 must not stop at 100
    with StubRestServer(_rows(250), page_size_cap=100) as s:
        got = list(iter_all_rows(RestSource(s.url, "/items", page_size=500)))
    assert [r["id"] for r in got] == list(range(250))


def test_read_rest_pages_past_the_server_limit_cap(spark):
    with StubRestServer(_rows(250), page_size_cap=100) as s:
        df = read_rest(spark, RestSource(s.url, "/items", page_size=500), SCHEMA)
        ids = sorted(r.id for r in df.collect())
    assert ids == list(range(250))
    assert df.schema == SCHEMA


def test_read_rest_single_page_is_a_local_relation(spark):
    with StubRestServer(_rows(40)) as s:
        df, jobs = _jobs_in_group(
            spark, "rest-one-page",
            lambda: read_rest(spark, RestSource(s.url, "/items", page_size=100), SCHEMA),
        )
        assert s.get_requests == ["offset=0&limit=100&totalCount=true"]
    assert jobs == []
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.id for r in df.collect()) == list(range(40))


def test_vocabularies_load_without_a_spark_job(spark):
    rows = [{"codeValue": f"c{i}", "namespace": "uri://ns"} for i in range(30)]
    with StubRestServer(rows, require_auth=True) as s:
        auth = OAuthConfig(s.token_url, "c", "x")
        vocabs, jobs = _jobs_in_group(
            spark, "vocab-load",
            lambda: load_descriptor_vocabularies(spark, s.url, ["sex"], auth=auth),
        )
    assert jobs == []
    df = vocabs["sex"]
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.codeValue for r in df.collect()) == sorted(r["codeValue"] for r in rows)


def test_multi_page_vocabulary_returns_every_row(spark):
    rows = [{"codeValue": f"c{i}", "namespace": "uri://ns"} for i in range(250)]
    with StubRestServer(rows, page_size_cap=100) as s:
        df = load_descriptor_vocabularies(spark, s.url, ["grade"])["grade"]
    assert sorted(r.codeValue for r in df.collect()) == sorted(r["codeValue"] for r in rows)


def test_sink_runs_one_task_per_slot(spark):
    """A 32-partition shuffled input, persisted outcomes (as app.run does):
    the sink still starts one task, and fetches one token, per task slot."""
    docs = (
        spark.range(200)
        .repartition(32, "id")
        .select(
            F.col("id").cast("string").alias("key"),
            F.to_json(F.struct("id")).alias("json"),
        )
    )
    assert docs.rdd.getNumPartitions() == 32
    with StubRestServer([], require_auth=True) as s:
        sink = RestSink(s.url, "/items", auth=OAuthConfig(s.token_url, "c", "x"))
        outcomes = rest_upsert(docs, sink, key_col="key", json_col="json").persist()
        try:
            report = build_report(outcomes)
        finally:
            outcomes.unpersist()
        assert s.token_requests <= spark.sparkContext.defaultParallelism
        assert sorted(d["id"] for d in s.upserts) == list(range(200))
    assert (report.upsert_count, report.delete_count, report.error_count) == (200, 0, 0)


def _app_config(tmp_path, derby_url, server) -> AppConfig:
    sql_dir = tmp_path / "input" / "sql"
    map_dir = tmp_path / "input" / "columnmap"
    sql_dir.mkdir(parents=True)
    map_dir.mkdir(parents=True)
    (sql_dir / "teacherCandidate.sql").write_text(
        "SELECT SPRIDEN_ID, SPRIDEN_LAST_NAME, SRC_ORDER,\n"
        "       'Bilingual' AS SUBJECT, 'Postsecondary' AS GRADE, 'BIS' AS DEGREE\n"
        "FROM cand_src\n"
    )
    (map_dir / "teacherCandidate.map").write_text(
        "teacherCandidateIdentifier=SPRIDEN_ID\n"
        "lastSurname=SPRIDEN_LAST_NAME\n"
        "sourceOrder=SRC_ORDER\n"
        "academicSubjectDescriptor=SUBJECT\n"
        "gradeLevelDescriptor=GRADE\n"
        "tppDegreeTypeDescriptor=DEGREE\n"
    )
    return AppConfig({
        "database.url": derby_url,
        "database.driver": DERBY,
        "input.sql.dir": str(sql_dir),
        "input.columnmap.dir": str(map_dir),
        "output.dir": str(tmp_path / "output"),
        "api.base.path": server.url,
        "tpdm.api.save": "true",
        "output.data.to.dir": "true",  # docs are persisted too
    })


def _write_candidates(spark, derby_url, rows):
    spark.createDataFrame(
        rows, "SPRIDEN_ID string, SPRIDEN_LAST_NAME string, SRC_ORDER int",
    ).write.jdbc(derby_url, "cand_src", mode="overwrite", properties={"driver": DERBY})


def test_run_sends_upserts_and_deletes_in_one_wave(spark, tmp_path):
    """Upserts and deletes share one wave of sink tasks: at most one token
    and one connection per task slot, where a wave per op takes twice
    that."""
    derby_url = f"jdbc:derby:{tmp_path}/db;create=true"
    _write_candidates(spark, derby_url, [(str(i), f"n{i}", 1) for i in range(60)])
    remote = spark.createDataFrame(
        [(str(i), f"res-{i}") for i in range(0, 60, 2)]
        + [(f"ghost-{i}", f"res-ghost-{i}") for i in range(20)],
        "teacherCandidateIdentifier string, resource_id string",
    )
    with StubRestServer([], require_auth=True) as server:
        cfg = _app_config(tmp_path, derby_url, server)
        cfg.properties.update({
            "oauth.token.url": server.token_url,
            "oauth.client.id": "c",
            "oauth.client.secret": "x",
            "output.data.to.dir": "false",
        })
        report = run(cfg, teacher_candidate_builder(), spark=spark, remote_snapshot=remote)
        slots = spark.sparkContext.defaultParallelism
        assert server.token_requests <= slots
        assert server.connections <= slots
        assert sorted(server.deletes) == sorted(f"res-ghost-{i}" for i in range(20))
    assert (report.upsert_count, report.delete_count, report.error_count) == (60, 20, 0)


def test_local_session_uses_4m_pages(spark):
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == 4 << 20


def test_page_size_from_spark_submit_or_extra_conf_wins():
    """In a fresh driver: a page size given to spark-submit wins over the
    default, and one in extra_conf wins over both."""
    script = textwrap.dedent("""
        from ed_fi_x_tpdm_data_ingestion_poc_spark.session import EngineConfig, get_spark

        def page(cfg):
            s = get_spark(cfg)
            got = s.sparkContext._jvm.org.apache.spark.SparkEnv.get()
            print("PAGE", got.memoryManager().pageSizeBytes())
            s.stop()

        page(EngineConfig(master="local[1]"))
        page(EngineConfig(master="local[1]", extra_conf={"spark.buffer.pageSize": "1m"}))
    """)
    env = {
        **os.environ,
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.buffer.pageSize=2m pyspark-shell",
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=root,
        capture_output=True, text=True, timeout=300,
    )
    pages = [line.split()[1] for line in out.stdout.splitlines() if line.startswith("PAGE")]
    assert pages == [str(2 << 20), str(1 << 20)], out.stderr[-2000:]


def test_run_frees_the_frames_it_persists(spark, tmp_path):
    derby_url = f"jdbc:derby:{tmp_path}/db;create=true"
    _write_candidates(spark, derby_url, [("101", "Alvarez", 1), ("102", "Baker", 1)])
    remote = spark.createDataFrame(
        [("101", "res-101"), ("ghost-9", "res-ghost")],
        "teacherCandidateIdentifier string, resource_id string",
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    with StubRestServer([]) as server:
        cfg = _app_config(tmp_path, derby_url, server)
        before = cache.numCachedEntries()
        report = run(cfg, teacher_candidate_builder(), spark=spark, remote_snapshot=remote)
        assert cache.numCachedEntries() <= before
        assert server.deletes == ["res-ghost"]
    assert (report.upsert_count, report.delete_count, report.error_count) == (2, 1, 0)
