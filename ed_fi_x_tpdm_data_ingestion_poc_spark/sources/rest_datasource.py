"""The paginated REST source as a Spark 4 Python DataSource —
``spark.read.format("edfi_rest")`` with real filter pushdown.

It reads what ``sources/rest.py::read_rest`` reads, through the same
first page, page plan and page walk (sources/http.py), and adds:

* equality predicates PUSH DOWN into the REST query string — the Ed-Fi
  API's native filter surface (ref R17: equality-AND + offset/limit,
  SURVEY.md §2.4; compiled the same way as
  ``functions/scalars.py::equality_filter``). A pushed filter means the
  SERVER skips the rows — at 100 TB of remote data that is the difference
  between moving a partition and moving a table. Every filter — pushed or
  not — is ALSO yielded back to Spark for re-application: a real REST
  endpoint that silently ignores unknown query params (common behavior)
  would otherwise return unfiltered rows as if they matched. Re-applying
  an equality predicate to already-filtered rows is a no-op scan cost;
  skipping it on a non-conforming endpoint is a correctness bug. So
  pushdown here is strictly an optimization, never a semantics change;
* ``option("limit", n)`` / ``option("offset", n)`` plan only the pages
  covering [offset, offset+limit) instead of the whole collection —
  the reference's own paging surface (TeacherCandidatesApi.java:187-191);
* planning logs in once and reads the first page with its Total-Count;
  its rows in the window ride in the first partition, and each later
  page is one partition fetched by an executor (without a count, the
  first partition walks the rest — complete, just not parallel). The
  token rides in the partitions: Spark pickles the reader before it
  plans them. A 401 refreshes it (TokenRetriever.java:44-73,
  SisConnectorService.java:494-501);
* writes POST each row through sinks/rest_sink.py::send_rows, on one
  kept connection per task.

All HTTP goes through sources/http.py.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..session import ship_package
from ..sinks.rest_sink import RestSink, send_rows, sink_client
from .http import Client, OAuthConfig, endpoint_url, iter_pages, page_plan


def _auth(options: dict) -> OAuthConfig | None:
    if "token_url" not in options:
        return None
    return OAuthConfig(
        options["token_url"],
        options.get("client_id", ""),
        options.get("client_secret", ""),
    )


@dataclass
class _Page(InputPartition):
    """`rows`, fetched at planning, then the rows [start, stop) (stop None:
    to the end) walked page by page, `step` rows apart, with `token`."""

    token: str | None
    start: int
    stop: int | None
    step: int
    rows: Sequence[tuple] = ()


class RestDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.fields = schema.fieldNames()
        self.endpoint = endpoint_url(options["base_url"], options.get("path", "/"))
        self.page_size = int(options.get("page_size", "100"))
        self.timeout = float(options.get("timeout_sec", "30"))
        self.auth = _auth(options)
        self.params: dict[str, str] = {}
        # user-declared window (R17 offset/limit surface,
        # TeacherCandidatesApi.java:187-191): plan only the pages covering
        # rows [lo, hi), so a LIMIT-style read fetches ceil(n/step) pages
        self.lo = int(options.get("offset", "0"))
        self.hi = self.lo + int(options["limit"]) if "limit" in options else None

    # -- filter pushdown (R17) ----------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Compile top-level equality filters on scalar values into REST
        query params, but yield EVERY filter back for Spark to re-apply:
        an endpoint that ignores unknown query params would otherwise
        silently return unfiltered rows as if they matched. The re-check
        on conforming endpoints is a free scan over already-matching
        rows; the pushdown still saves the network transfer."""
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and isinstance(f.value, (str, int, bool))
            ):
                v = str(f.value).lower() if isinstance(f.value, bool) else str(f.value)
                self.params[f.attribute[0]] = v
            yield f

    # -- planning + read ------------------------------------------------
    def _tuples(self, rows: list[dict]) -> list[tuple]:
        return [tuple(r.get(f) for f in self.fields) for r in rows]

    def _walk(self, client: Client, start: int, stop: int | None, step: int):
        """The rows [start, stop) as tuples, page by page; a 401-refreshed
        token stays on `client` for the later pages."""
        for page in iter_pages(client, self.endpoint, self.params, start, stop, step):
            yield from self._tuples(page)

    def partitions(self) -> Sequence[InputPartition]:
        with Client.login(self.auth, self.timeout) as client:
            first, total = client.first_page(self.endpoint, self.page_size, self.params)
        step, lo, hi, tok = len(first), self.lo, self.hi, client.token
        head = self._tuples(first[lo:hi])
        if total is None:
            return [_Page(tok, lo + len(head), hi, step, head)]
        pages = page_plan(step, total, lo, hi)
        return [_Page(tok, 0, 0, step, head)] + [
            _Page(tok, o, o + take, step) for o, take in pages
        ]

    def read(self, partition: _Page) -> Iterator[tuple]:
        yield from partition.rows
        with Client(self.auth, self.timeout, partition.token) as client:
            yield from self._walk(client, partition.start, partition.stop, partition.step)


class RestDataSource(DataSource):
    """``spark.read.format("edfi_rest").schema(...).option(...)``."""

    @classmethod
    def name(cls) -> str:
        return "edfi_rest"

    def schema(self) -> str:
        # REST payloads carry no schema; require an explicit one (schema
        # inference at scale means fetching the dataset twice)
        if "schema_ddl" in self.options:
            return self.options["schema_ddl"]
        raise ValueError(
            "edfi_rest requires .schema(...) or option('schema_ddl', ...)"
        )

    def reader(self, schema: StructType) -> RestDataSourceReader:
        return RestDataSourceReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> "RestStreamReader":
        return RestStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "RestDataSourceWriter":
        if overwrite:
            raise ValueError(
                "edfi_rest writes are upserts (mode='append'); a REST "
                "collection has no atomic truncate to overwrite"
            )
        return RestDataSourceWriter(schema, self.options)


def register_rest_datasource(spark) -> None:
    """Idempotent per-session registration. Only the already-registered
    collision is swallowed; any other failure (conf rejected, import
    error) propagates — masking it would turn every later read into an
    opaque unknown-format error."""
    if getattr(spark, "_edfi_rest_registered", False):
        return
    ship_package(spark)
    # default-off gate for Python DSv2 pushdown; runtime-mutable
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(RestDataSource)
    except Exception as e:  # noqa: BLE001 — filtered to the one benign case
        # Swallow ONLY the duplicate-registration collision (another code
        # path registered first on a shared session). Spark raises it as
        # error class DATA_SOURCE_ALREADY_EXISTS; match that, or the full
        # "data source ... already exists" phrase naming OUR source — a
        # generic substring test ("EXISTS") would also mask unrelated
        # failures such as path-exists errors.
        cls = getattr(e, "getErrorClass", lambda: None)() or ""
        msg = str(e).upper()
        dup = "DATA_SOURCE_ALREADY_EXISTS" in (cls or "").upper() or (
            "DATA SOURCE" in msg
            and "ALREADY EXISTS" in msg
            and RestDataSource.name().upper() in msg
        )
        if not dup:
            raise
    spark._edfi_rest_registered = True  # noqa: SLF001 (our own flag)


class RestStreamReader(SimpleDataSourceStreamReader):
    """Incremental REST polling as a streaming source: each micro-batch
    reads the rows BEYOND the last consumed offset (the Ed-Fi change-query
    idiom — poll a monotonically growing collection; at real scale the
    offset would be a changeVersion watermark instead of a row offset).

    SimpleDataSourceStreamReader is the right variant here: offsets are
    dicts checkpointed by the engine, reads happen driver-side in arrival
    order (a polling API has no parallel-scan shape within one batch), and
    `readBetweenOffsets` replays a committed range deterministically on
    recovery — the stub serves offset slices, so replay returns the same
    rows and the exactly-once file-sink contract holds end to end."""

    def __init__(self, schema: StructType, options: dict):
        self.inner = RestDataSourceReader(schema, options)

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def _slice(self, client: Client, start: int, end: int) -> list[tuple]:
        """The rows in [start, end). A server can return a short page below
        its own advertised Total-Count (concurrent delete between the count
        and the page fetch), so the offset actually reached is start plus
        the rows returned — committing the counted total instead would
        permanently skip the rows in between."""
        r = self.inner
        return list(r._walk(client, start, end, r.page_size))

    def read(self, start: dict):
        # rows are prefetched driver-side and PICKLED by the engine —
        # must be a concrete list, not a generator. Commit the offset
        # actually reached, never the counted total (see _slice).
        r = self.inner
        with Client.login(r.auth, r.timeout) as client:
            _, total = client.first_page(r.endpoint, 1, r.params)
            if total is None:
                raise OSError("REST first page got no Total-Count; cannot stream")
            rows = self._slice(client, start["offset"], max(total, start["offset"]))
        return rows, {"offset": start["offset"] + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        with Client.login(self.inner.auth, self.inner.timeout) as client:
            return self._slice(client, start["offset"], end["offset"])


@dataclass
class _Posted(WriterCommitMessage):
    ok: int
    failed: int


class RestDataSourceWriter(DataSourceWriter):
    """``df.write.format("edfi_rest").mode("append").save()`` — each row
    POSTed as a JSON upsert (the reference's delivery model,
    SisConnectorService.java:142-160, re-expressed as a first-class sink).

    Commit semantics are the honest REST ones: upserts are idempotent by
    natural key, so a retried task re-POSTs the same documents and the
    endpoint converges — that is the exactly-once *effect* available
    without transactions; there is no rollback, so ``abort`` is a no-op
    and a failed job may leave earlier rows delivered (same as the
    reference). Per-row failures raise by default (fail the task -> Spark
    retries); set option("best_effort", "true") to count-and-continue,
    mirroring sinks/rest_sink.py's error-accumulation mode."""

    def __init__(self, schema: StructType, options: dict):
        self.sink = RestSink(
            options["base_url"],
            options.get("path", "/"),
            _auth(options),
            float(options.get("timeout_sec", "30")),
        )
        self.best_effort = str(options.get("best_effort", "false")).lower() == "true"

    def write(self, rows) -> _Posted:
        url = endpoint_url(self.sink.base_url, self.sink.path)
        bodies = (json.dumps(row.asDict(), default=str) for row in rows)
        reqs = (("upsert", body, body, None) for body in bodies)
        ok = failed = 0
        with sink_client(self.sink) as client:
            for _, _, status, good, error in send_rows(client, url, reqs):
                if good:
                    ok += 1
                elif self.best_effort:
                    failed += 1
                else:
                    raise OSError(f"REST POST {url}: HTTP {status}: {error[:200]!r}")
        return _Posted(ok=ok, failed=failed)

    def commit(self, messages) -> None:
        return None

    def abort(self, messages) -> None:
        # no transactional rollback over REST; idempotent upserts make the
        # retry path safe (documented above)
        return None
