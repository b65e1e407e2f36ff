"""Spark 4 Python DataSource REST integration: filter pushdown reaches the
server, unsupported predicates stay correct, pagination parallelizes."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest_datasource import (
    register_rest_datasource,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.testing.rest_stub import (
    StubRestServer,
)


@pytest.fixture(scope="module")
def stub():
    rows = [
        {"id": i, "name": f"row-{i}", "grp": i % 10} for i in range(250)
    ]
    with StubRestServer(rows, page_size_cap=100) as s:
        yield s


def _offsets(requests):
    return sorted(int(q.split("offset=")[1].split("&")[0]) for q in requests)


def _reader(spark, stub):
    register_rest_datasource(spark)
    return (
        spark.read.format("edfi_rest")
        .schema("id long, name string, grp long")
        .option("base_url", stub.url)
        .option("path", "/items")
        .option("page_size", "100")
        .load()
    )


def test_equality_filter_pushed_to_server(spark, stub):
    """The EqualTo predicate must reach the REST query string: the stub
    filters server-side, so every request (the first page with its count
    included) carries grp=3 and only the 25 matching rows cross the
    wire."""
    stub.get_requests.clear()
    rows = _reader(spark, stub).filter(F.col("grp") == 3).collect()
    assert sorted(r.id for r in rows) == list(range(3, 250, 10))
    reqs = list(stub.get_requests)
    assert reqs and all("grp=3" in q for q in reqs), reqs


def test_unsupported_filter_still_correct(spark, stub):
    """Range predicates are NOT pushed (yielded back to Spark) — results
    must still be exact, and the request string must not mention id."""
    stub.get_requests.clear()
    rows = _reader(spark, stub).filter(F.col("id") < 7).collect()
    assert sorted(r.id for r in rows) == list(range(7))
    assert all("id=" not in q for q in stub.get_requests)


def test_pages_planned_from_total_count(spark, stub):
    """Unfiltered read: 250 rows at page size 100 -> 3 pages, each fetched
    once: the first at planning (with its count), whose rows ride in the
    first partition, and the other two by their own partitions."""
    stub.get_requests.clear()
    df = _reader(spark, stub)
    assert df.count() == 250
    assert _offsets(stub.get_requests) == [0, 100, 200]


def test_combined_pushed_and_residual(spark, stub):
    """grp == 7 pushes; id >= 100 stays residual — conjunction correct."""
    rows = (
        _reader(spark, stub)
        .filter((F.col("grp") == 7) & (F.col("id") >= 100))
        .collect()
    )
    assert sorted(r.id for r in rows) == list(range(107, 250, 10))


def test_schema_required(spark, stub):
    register_rest_datasource(spark)
    with pytest.raises(Exception, match="schema"):
        (
            spark.read.format("edfi_rest")
            .option("base_url", stub.url)
            .option("path", "/items")
            .load()
        )


def test_rest_stream_incremental(spark, tmp_path):
    """Streaming REST source: each run consumes only rows beyond the
    checkpointed offset — the Ed-Fi change-query poll as a Structured
    Streaming source, exactly-once across restarts."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = [{"id": i, "name": f"r{i}"} for i in range(10)]
    with StubRestServer(rows, page_size_cap=100) as stub2:
        register_rest_datasource(spark)

        def run():
            df = (
                spark.readStream.format("edfi_rest")
                .schema("id long, name string")
                .option("base_url", stub2.url)
                .option("path", "/items")
                .option("page_size", "4")
                .load()
            )
            q = (
                df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == list(range(10))

        stub2.rows.extend(
            {"id": i, "name": f"r{i}"} for i in range(10, 17)
        )
        run()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        # every row exactly once: the restart resumed past offset 10
        assert got == list(range(17))


def test_pushed_filter_reapplied_on_nonconforming_server(spark):
    """An endpoint that silently IGNORES unknown query params (common REST
    behavior) must not poison results: the pushed EqualTo is also yielded
    back to Spark, which re-applies it over the unfiltered payload."""
    rows = [{"id": i, "name": f"row-{i}", "grp": i % 10} for i in range(50)]
    with StubRestServer(rows, ignore_filters=True) as s:
        got = _reader(spark, s).filter(F.col("grp") == 3).collect()
        # server returned all 50 rows; Spark's re-check keeps only the 5
        assert sorted(r.id for r in got) == list(range(3, 50, 10))
        assert any(
            "grp=3" in q for q in s.get_requests
        )  # the param WAS sent — pushdown attempted, just not honored


def test_limit_offset_options_fetch_only_needed_pages(spark, stub):
    """option('limit') plans ceil(n/page_size) pages, not the whole
    collection (R17 offset/limit, TeacherCandidatesApi.java:187-191)."""
    stub.get_requests.clear()
    df = (
        spark.read.format("edfi_rest")
        .schema("id long, name string, grp long")
        .option("base_url", stub.url)
        .option("path", "/items")
        .option("page_size", "100")
        .option("limit", "120")
        .load()
    )
    rows = df.collect()
    assert sorted(r.id for r in rows) == list(range(120))
    assert _offsets(stub.get_requests) == [0, 100]  # 2 pages for 120 rows, not 3

    stub.get_requests.clear()
    df2 = (
        spark.read.format("edfi_rest")
        .schema("id long, name string, grp long")
        .option("base_url", stub.url)
        .option("path", "/items")
        .option("page_size", "100")
        .option("offset", "200")
        .load()
    )
    assert sorted(r.id for r in df2.collect()) == list(range(200, 250))
    offsets = [
        int(q.split("offset=")[1].split("&")[0])
        for q in stub.get_requests
        if "totalCount" not in q
    ]
    assert offsets == [200]


def test_refreshed_token_propagates_across_pages(spark):
    """Under hard token expiry (tok-1 ALWAYS 401s), a multi-page read
    must pay exactly ONE refresh: the token returned by the first page's
    retry is reused by every later page — carried to the executors in the
    planned partitions, and kept by the stream's sequential walk."""
    from pyspark.sql.types import StructType

    from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest_datasource import (
        RestStreamReader,
    )

    rows = [{"id": i, "name": f"r{i}"} for i in range(10)]
    opts = {"path": "/items", "page_size": "3", "client_id": "c", "client_secret": "x"}
    register_rest_datasource(spark)
    with StubRestServer(
        rows, require_auth=True, reject_tokens_below=2
    ) as s:
        got = (
            spark.read.format("edfi_rest")
            .schema("id long, name string")
            .options(base_url=s.url, token_url=s.token_url, **opts)
            .load()
            .collect()
        )
        assert len(got) == 10  # 4 pages
        # tok-1 (initial) + tok-2 (one refresh) — NOT one per page
        assert s.token_requests == 2
    with StubRestServer(
        rows, require_auth=True, reject_tokens_below=2
    ) as s:
        reader = RestStreamReader(
            StructType.fromDDL("id long, name string"),
            {"base_url": s.url, "token_url": s.token_url, **opts},
        )
        got, _ = reader.read(reader.initialOffset())
        assert len(got) == 10  # 4 pages
        assert s.token_requests == 2


def test_stream_commits_reached_offset_not_probed_total(spark, tmp_path):
    """Server over-reports Total-Count (concurrent-delete race): the
    committed offset must be the position actually read, so rows landing
    later in that gap are not permanently skipped."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = [{"id": i, "name": f"r{i}"} for i in range(10)]
    with StubRestServer(rows, extra_total=5) as s:
        register_rest_datasource(spark)

        def run():
            df = (
                spark.readStream.format("edfi_rest")
                .schema("id long, name string")
                .option("base_url", s.url)
                .option("path", "/items")
                .option("page_size", "4")
                .load()
            )
            q = (
                df.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()  # claims 15, serves 10 -> must commit offset 10, not 15
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == list(range(10))

        s.extra_total = 0
        s.rows.extend({"id": i, "name": f"r{i}"} for i in range(10, 17))
        run()  # resumes at 10: rows 10..16 appear exactly once
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == list(range(17))


def test_write_path_posts_upserts(spark, stub):
    """df.write.format('edfi_rest') delivers every row as a JSON POST."""
    before = len(stub.upserts)
    df = spark.createDataFrame(
        [(1000 + i, f"new-{i}") for i in range(7)], "id long, name string"
    )
    (
        df.coalesce(2)
        .write.format("edfi_rest")
        .mode("append")
        .option("base_url", stub.url)
        .option("path", "/items")
        .save()
    )
    new = stub.upserts[before:]
    assert sorted(u["id"] for u in new) == list(range(1000, 1007))
    assert all(u["name"].startswith("new-") for u in new)


def test_write_overwrite_rejected(spark, stub):
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    with pytest.raises(Exception, match="upsert"):
        (
            df.write.format("edfi_rest")
            .mode("overwrite")
            .option("base_url", stub.url)
            .option("path", "/items")
            .save()
        )


def test_server_limit_cap_below_page_size_loses_no_rows(spark, stub):
    """The stub caps `limit` at 100. With page_size=500 every page holds
    100 rows, so pages must step by the rows the first page returned,
    not by page_size — in the planned read, inside an offset/limit
    window, and in the stream's sequential walk."""
    from pyspark.sql.types import StructType

    from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest_datasource import (
        RestStreamReader,
    )

    def read(**opts):
        r = (
            spark.read.format("edfi_rest")
            .schema("id long, name string, grp long")
            .option("base_url", stub.url)
            .option("path", "/items")
            .option("page_size", "500")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return sorted(x.id for x in r.load().collect())

    register_rest_datasource(spark)
    assert read() == list(range(250))
    assert read(offset="30", limit="150") == list(range(30, 180))
    reader = RestStreamReader(
        StructType.fromDDL("id long, name string, grp long"),
        {"base_url": stub.url, "path": "/items", "page_size": "500"},
    )
    rows, _ = reader.read(reader.initialOffset())
    assert [row[0] for row in rows] == list(range(250))
