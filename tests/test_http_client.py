"""The one HTTP client (sources/http.py) as every REST caller sees it: the
401 refresh-retry on by-id reads and count probes, percent-encoded
resource ids, connection errors as status -1, and a guard that no other
module speaks HTTP."""

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
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest import (
    OAuthConfig,
    RestSource,
    get_by_id,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.sources.rest_datasource import (
    RestDataSourceReader,
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


def test_count_probe_401_is_refreshed():
    rows = [{"id": i, "name": f"r{i}"} for i in range(250)]
    with StubRestServer(rows, fail_first_with_401=True) as s:
        parts = RestDataSourceReader(SCHEMA, _options(s)).partitions()
        assert [p.offset for p in parts] == [0, 100, 200]
    with StubRestServer(rows, fail_first_with_401=True) as s:
        assert RestStreamReader(SCHEMA, _options(s))._total() == 250


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


def test_only_sources_http_speaks_http():
    root = pathlib.Path(pkg.__file__).parent
    offenders = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith("testing/") or rel == "sources/http.py":
            continue
        found = _speaks_http(ast.parse(path.read_text(), filename=rel))
        if found:
            offenders[rel] = found
    assert offenders == {}
