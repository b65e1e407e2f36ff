"""The one HTTP client (sources/http.py) as every REST caller sees it: the
401 refresh-retry on by-id reads and first pages, percent-encoded
resource ids, connection errors as status -1, one login and one GET per
page for both REST readers, and guards that no other module speaks HTTP
or pages."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

import ed_fi_x_tpdm_data_ingestion_poc_spark as pkg
from ed_fi_x_tpdm_data_ingestion_poc_spark.sinks.rest_sink import (
    RestSink,
    rest_delete,
    rest_update,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.http import Client, iter_pages
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest import (
    OAuthConfig,
    RestSource,
    get_by_id,
    read_rest,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest_datasource import (
    RestStreamReader,
    register_rest_datasource,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.testing.rest_stub import StubRestServer

SCHEMA = StructType([StructField("id", LongType()), StructField("name", StringType())])
ODD_IDS = ["a/b?c", "x y"]


def _options(s: StubRestServer) -> dict:
    return {
        "base_url": s.url,
        "path": "/items",
        "page_size": "100",
        "token_url": s.token_url,
        "client_id": "c",
        "client_secret": "x",
    }


def test_get_by_id_refreshes_on_401():
    with StubRestServer([], fail_first_with_401=True) as s:
        s.store["r1"] = ({"name": "doc"}, 3)
        src = RestSource(s.url, "/items", auth=OAuthConfig(s.token_url, "c", "x"))
        assert get_by_id(src, "r1") == (200, {"name": "doc"}, "3")


def _offsets(requests: list[str]) -> list[int]:
    return sorted(int(q.split("offset=")[1].split("&")[0]) for q in requests)


def _load(spark, s: StubRestServer):
    register_rest_datasource(spark)
    return spark.read.format("edfi_rest").schema(SCHEMA).options(**_options(s)).load()


def test_count_probe_401_is_refreshed(spark):
    rows = [{"id": i, "name": f"r{i}"} for i in range(250)]
    with StubRestServer(rows, fail_first_with_401=True) as s:
        assert _load(spark, s).count() == 250
        assert _offsets(s.get_requests) == [0, 100, 200]
    with StubRestServer(rows, fail_first_with_401=True) as s:
        _, end = RestStreamReader(SCHEMA, _options(s)).read({"offset": 0})
        assert end == {"offset": 250}


def test_both_readers_log_in_once_and_get_each_page_once(spark):
    """An authed 675-row read at page_size 100: one token grant and 7 GETs
    (the first page with its count, then 6 planned pages), none twice."""
    rows = [{"id": i, "name": f"r{i}"} for i in range(675)]
    one_login_each_page_once = (1, list(range(0, 675, 100)))
    with StubRestServer(rows, require_auth=True) as s:
        src = RestSource(
            s.url, "/items", page_size=100, auth=OAuthConfig(s.token_url, "c", "x")
        )
        got = read_rest(spark, src, SCHEMA).collect()
        assert sorted(r.id for r in got) == list(range(675))
        traffic = (s.token_requests, _offsets(s.get_requests))
        assert traffic == one_login_each_page_once
    with StubRestServer(rows, require_auth=True) as s:
        got = _load(spark, s).collect()
        assert sorted(r.id for r in got) == list(range(675))
        traffic = (s.token_requests, _offsets(s.get_requests))
        assert traffic == one_login_each_page_once


def test_page_walk_steps_by_the_rows_returned():
    """With no stop, the walk asks for `step` rows per page, moves on by the
    rows the server returned (it caps `limit` at 100) and ends at the
    first empty page."""
    with StubRestServer([{"id": i} for i in range(250)], page_size_cap=100) as s:
        pages = list(iter_pages(Client(None, 5.0), f"{s.url}/items", {}, 0, None, 500))
        assert [len(p) for p in pages] == [100, 100, 50]
        assert [r["id"] for p in pages for r in p] == list(range(250))
        assert _offsets(s.get_requests) == [0, 100, 200, 250]


def test_resource_ids_are_percent_encoded(spark):
    with StubRestServer([]) as s:
        sink = RestSink(base_url=s.url, path="/items")
        ids = spark.createDataFrame([(i,) for i in ODD_IDS], "id string")
        docs = spark.createDataFrame([(i, '{"v":1}') for i in ODD_IDS], "id string, body string")
        deleted = rest_delete(ids, sink, id_col="id").collect()
        updated = rest_update(docs, sink, id_col="id", json_col="body").collect()
        assert all(r.ok for r in deleted + updated)
        assert sorted(s.deletes) == ODD_IDS
        assert sorted(rid for rid, _ in s.updates) == ODD_IDS
        src = RestSource(s.url, "/items")
        assert get_by_id(src, "a/b?c") == (200, {"v": 1}, "1")


def test_writer_best_effort_counts_connection_errors(spark):
    register_rest_datasource(spark)
    df = spark.createDataFrame([(1, "a")], "id long, name string")

    def save(**extra):
        w = (
            df.write.format("edfi_rest")
            .option("base_url", "http://127.0.0.1:9")  # closed port
            .option("path", "/items")
            .option("timeout_sec", "2")
        )
        for k, v in extra.items():
            w = w.option(k, v)
        w.mode("append").save()

    save(best_effort="true")  # connection error counted, task completes
    with pytest.raises(Exception, match="HTTP -1"):
        save()


def _speaks_http(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name in ("urllib.request", "base64")]
        elif isinstance(node, ast.ImportFrom):
            names = {a.name for a in node.names}
            if node.module in ("urllib.request", "base64") or (
                node.module == "urllib" and "request" in names
            ):
                found.append(f"from {node.module} import")
        elif isinstance(node, ast.Attribute) and node.attr in ("urlopen", "HTTPError"):
            found.append(node.attr)
        elif isinstance(node, ast.Name) and node.id in ("urlopen", "HTTPError"):
            found.append(node.id)
    return found


def _pages(tree: ast.AST) -> list[str]:
    return [
        "get_page"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "get_page"
    ]


def _offenders(check) -> dict[str, list[str]]:
    """Modules outside sources/http.py (and the testing stubs) for which
    `check` finds something."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith("testing/") or rel == "sources/http.py":
            continue
        found = check(ast.parse(path.read_text(), filename=rel))
        if found:
            offenders[rel] = found
    return offenders


def test_only_sources_http_speaks_http():
    assert _offenders(_speaks_http) == {}


def test_only_sources_http_pages():
    """Every REST reader pages through http.iter_pages, the one caller of
    Client.get_page."""
    assert _offenders(_pages) == {}
