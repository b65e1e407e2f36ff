"""REST upsert/delete sink with 401-refresh retry and error accumulation.

Reference semantics re-expressed (SURVEY.md R18/R19/R21/R26):
  * POST each document; on HTTP 401 refresh the bearer token and retry once
    (saveTeacherCandidate, /root/reference/banner-connector/src/main/java/
    org/edfi/sis/service/SisConnectorService.java:184-198);
  * DELETE remote docs absent from the source (:472-487);
  * per-document failures are RECORDED, not fatal — the run continues and
    the report carries the error list (:155-157, model/
    SisConnectorResponse.java:96-138).

Spark-first: documents post from executor partitions in parallel
(mapInPandas producing an outcome row per document), so at scale N
executors push concurrently instead of the reference's single thread.
Upserts are idempotent on the natural key (the ODS upserts on natural key),
making at-least-once delivery safe.

One sink task per task slot: the input is narrowed with
coalesce(defaultParallelism) before the send, so each slot starts one
Python task and fetches one token. Without it the send runs one task per
shuffle partition (spark.sql.shuffle.partitions), because app.run persists
the outcomes and AQE does not coalesce the shuffles inside a cached plan
(spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is false).
coalesce is narrow: it adds no shuffle and never raises the partition
count, and tasks beyond the slot count never ran at the same time anyway.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..session import ship_package
from ..sources.http import Client, OAuthConfig, endpoint_url, resource_url

OUTCOME_COLUMNS = ["key", "op", "status", "ok", "error"]
OUTCOME_SCHEMA = "key string, op string, status int, ok boolean, error string"


@dataclass
class RestSink:
    base_url: str
    path: str
    auth: OAuthConfig | None = None
    timeout_sec: float = 30.0


def sink_client(sink: RestSink) -> Client:
    """A client for one sink task; after a failed token fetch it starts
    without a token, and the first 401 retries the fetch."""
    try:
        return Client.login(sink.auth, sink.timeout_sec)
    except Exception:
        return Client(sink.auth, sink.timeout_sec)


def send_rows(client: Client, rows: Iterable, op: str, request) -> Iterator[tuple]:
    """One request per row; yields one outcome (key, op, status, ok, error)
    each, keyed by the row's first column. request(*row) gives (url,
    method, body, headers)."""
    for row in rows:
        status, resp, _ = client.call(*request(*row))
        ok = 200 <= status < 300
        error = None if ok else resp[:500].decode(errors="replace")
        yield str(row[0]), op, status, ok, error


def _send_all(df: DataFrame, sink: RestSink, op: str, request) -> DataFrame:
    """send_rows over every row of `df`, from executor partitions, one
    client (and token) per task; returns the outcome rows."""
    ship_package(df.sparkSession)

    def send_partition(batches):
        import pandas as pd

        client = sink_client(sink)
        for pdf in batches:
            rows = pdf.itertuples(index=False, name=None)
            outcomes = list(send_rows(client, rows, op, request))
            yield pd.DataFrame(outcomes, columns=OUTCOME_COLUMNS)

    slots = df.sparkSession.sparkContext.defaultParallelism
    return df.coalesce(slots).mapInPandas(send_partition, OUTCOME_SCHEMA)


def rest_upsert(docs: DataFrame, sink: RestSink, *, key_col: str, json_col: str) -> DataFrame:
    """POST every document; returns an outcome DataFrame
    (key, op='upsert', status, ok, error) for the run report.

    docs must carry the natural key and the serialized JSON body
    (build with F.to_json(F.struct(...)) — ref R23).
    """
    url = endpoint_url(sink.base_url, sink.path)
    return _send_all(
        docs.select(key_col, json_col), sink, "upsert",
        lambda key, body: (url, "POST", str(body).encode(), None),
    )


def rest_delete(ids: DataFrame, sink: RestSink, *, id_col: str) -> DataFrame:
    """DELETE by resource id; outcome rows as in rest_upsert (ref R19)."""
    base = endpoint_url(sink.base_url, sink.path)
    return _send_all(
        ids.select(id_col), sink, "delete",
        lambda rid: (resource_url(base, rid), "DELETE", None, None),
    )


def rest_update(
    docs: DataFrame,
    sink: RestSink,
    *,
    id_col: str,
    json_col: str,
    etag_col: str | None = None,
) -> DataFrame:
    """PUT by resource id with optimistic concurrency (ref R20,
    TeacherCandidatesApi.java:727): when etag_col is given, each request
    carries If-Match — a remote 412 (precondition failed) means the
    document changed since it was read, and is RECORDED like any other
    per-document failure."""
    base = endpoint_url(sink.base_url, sink.path)

    def request(rid, body, etag=None):
        headers = {"If-Match": str(etag)} if etag is not None else None
        return resource_url(base, rid), "PUT", str(body).encode(), headers

    cols = [id_col, json_col] + ([etag_col] if etag_col else [])
    return _send_all(docs.select(*cols), sink, "update", request)
