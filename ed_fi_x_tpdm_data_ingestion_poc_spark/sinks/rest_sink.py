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

Every op is a request row (op, key, body, etag) and one send loop serves
them all, so the request rows of several ops union into ONE send:
app.run sends a sync's upserts and deletes in one wave of tasks, each
with one token and one kept-alive connection (sources/http.py), instead
of a wave per op. Each Python task costs a fixed ~0.3 s to start.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


_METHODS = {"upsert": "POST", "delete": "DELETE", "update": "PUT"}


def _request(base: str, op: str, key, body, etag) -> tuple:
    """(url, method, body, headers) of one request row against endpoint
    `base`: an upsert POSTs its body to the endpoint; a delete or an
    update addresses the resource `key`, and an update with an etag
    carries If-Match."""
    url = base if op == "upsert" else resource_url(base, key)
    data = None if op == "delete" else str(body).encode()
    headers = None if etag is None else {"If-Match": str(etag)}
    return url, _METHODS[op], data, headers


def send_rows(client: Client, base: str, rows: Iterable) -> Iterator[tuple]:
    """One request per (op, key, body, etag) row; yields one outcome
    (key, op, status, ok, error) each."""
    for op, key, body, etag in rows:
        status, resp, _ = client.call(*_request(base, op, key, body, etag))
        ok = 200 <= status < 300
        error = None if ok else resp[:500].decode(errors="replace")
        yield str(key), op, status, ok, error


def request_rows(
    df: DataFrame, op: str, key_col: str, body_col: str | None = None,
    etag_col: str | None = None,
) -> DataFrame:
    """The request rows (op, key, body, etag) for `op` on every row of
    `df`; columns not given are null. Request rows of several ops union
    into one send."""
    def col(name):
        return (F.col(name) if name else F.lit(None)).cast("string")

    return df.select(
        F.lit(op).alias("op"), col(key_col).alias("key"),
        col(body_col).alias("body"), col(etag_col).alias("etag"),
    )


def send_requests(reqs: DataFrame, sink: RestSink) -> DataFrame:
    """send_rows over every request row, from executor partitions; returns
    the outcome rows. One task per task slot, each with one client, one
    token and one kept connection, closed when its partition ends."""
    ship_package(reqs.sparkSession)
    base = endpoint_url(sink.base_url, sink.path)

    def send_partition(batches):
        import pandas as pd

        with sink_client(sink) as client:
            for pdf in batches:
                rows = pdf.itertuples(index=False, name=None)
                outcomes = list(send_rows(client, base, rows))
                yield pd.DataFrame(outcomes, columns=OUTCOME_COLUMNS)

    slots = reqs.sparkSession.sparkContext.defaultParallelism
    return reqs.coalesce(slots).mapInPandas(send_partition, OUTCOME_SCHEMA)


def rest_upsert(docs: DataFrame, sink: RestSink, *, key_col: str, json_col: str) -> DataFrame:
    """POST every document; returns an outcome DataFrame
    (key, op='upsert', status, ok, error) for the run report.

    docs must carry the natural key and the serialized JSON body
    (build with F.to_json(F.struct(...)) — ref R23).
    """
    return send_requests(request_rows(docs, "upsert", key_col, json_col), sink)


def rest_delete(ids: DataFrame, sink: RestSink, *, id_col: str) -> DataFrame:
    """DELETE by resource id; outcome rows as in rest_upsert (ref R19)."""
    return send_requests(request_rows(ids, "delete", id_col), sink)


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
    return send_requests(request_rows(docs, "update", id_col, json_col, etag_col), sink)
