"""The one HTTP client (sources/http.py) as every REST caller sees it: the
401 refresh-retry on by-id reads and first pages, percent-encoded
resource ids, connection errors as status -1, one login and one GET per
page for both REST readers, kept-alive connections (one per client,
reopened when stale, never pickled), proxies from the environment, and
guards that no other module speaks HTTP or pages."""

from __future__ import annotations

import ast
import pathlib
import pickle
import time

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


def _post(client: Client, s: StubRestServer, n: int) -> list[int]:
    return [client.call(f"{s.url}/items", "POST", b'{"v":%d}' % i)[0] for i in range(n)]


def test_calls_on_one_client_share_one_connection():
    with StubRestServer([]) as s, Client(None, 5.0) as client:
        assert _post(client, s, 20) == [200] * 20
        assert (s.connections, len(s.upserts)) == (1, 20)


def test_server_that_closes_after_each_response():
    with StubRestServer([], keep_alive=False) as s, Client(None, 5.0) as client:
        assert _post(client, s, 5) == [200] * 5
        assert (s.connections, len(s.upserts)) == (5, 5)


def test_connection_dropped_while_idle_is_reopened_once():
    """The server drops the idle kept connection; the next request fails on
    it before any response, goes out once on a new connection, and the
    server sees it once."""
    with StubRestServer([], idle_timeout=0.2) as s, Client(None, 5.0) as client:
        assert _post(client, s, 1) == [200]
        time.sleep(0.6)
        assert client.call(f"{s.url}/items", "POST", b'{"v":"late"}')[0] == 200
        assert s.connections == 2
        assert s.upserts == [{"v": 0}, {"v": "late"}]


def test_401_on_a_kept_connection_refreshes_and_retries_once():
    with StubRestServer([], fail_first_with_401=True) as s:
        with Client.login(OAuthConfig(s.token_url, "c", "x"), 5.0) as client:
            assert _post(client, s, 3) == [200] * 3
            assert client.token == "tok-2"
        assert (s.connections, s.token_requests, len(s.upserts)) == (1, 2, 3)


def test_used_client_pickles_without_its_connection():
    with StubRestServer([], require_auth=True) as s:
        client = Client.login(OAuthConfig(s.token_url, "c", "x"), 5.0)
        assert _post(client, s, 2) == [200, 200]
        copy = pickle.loads(pickle.dumps(client))
        assert (copy.token, copy.auth, copy._conns) == (client.token, client.auth, {})
        assert _post(copy, s, 1) == [200]
        client.close()
        copy.close()
        assert (s.connections, s.token_requests, len(s.upserts)) == (2, 1, 3)


def test_http_proxy_from_the_environment(monkeypatch):
    """http_proxy names the stub: a request for a loopback address where
    nothing listens reaches the stub in absolute form; no_proxy covering
    the host bypasses it."""
    for var in ("no_proxy", "NO_PROXY", "HTTP_PROXY"):
        monkeypatch.delenv(var, raising=False)
    with StubRestServer([{"id": 1}]) as s:
        monkeypatch.setenv("http_proxy", s.url)
        with Client(None, 5.0) as client:
            status, body, _ = client.call("http://127.0.0.2:9/items?offset=0&limit=5")
        assert (status, body) == (200, b'[{"id": 1}]')
        monkeypatch.setenv("no_proxy", "127.0.0.2")
        with Client(None, 2.0) as client:
            assert client.call("http://127.0.0.2:9/items")[0] == -1
        assert s.connections == 1


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
