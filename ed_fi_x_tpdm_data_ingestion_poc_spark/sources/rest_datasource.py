"""The paginated REST source as a Spark 4 Python DataSource —
``spark.read.format("edfi_rest")`` with real filter pushdown.

Where ``sources/rest.py::read_rest`` is a helper function, this is the
first-class integration: the reader participates in Catalyst planning, so

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
* pagination is planned as one InputPartition per page from the first
  page and its Total-Count, stepping by the rows that page returns (as
  ``read_rest`` does, so a server capping ``limit`` below ``page_size``
  loses no rows), fetched in parallel by executors; endpoints that report
  no count fall back to one sequential partition — complete, just not
  parallel;
* OAuth2 client-credentials + the reference's 401-refresh-retry pattern
  run inside each partition read (TokenRetriever.java:44-73,
  SisConnectorService.java:494-501).

All HTTP goes through sources/http.py.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from collections.abc import Iterator, Sequence

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
from .http import Client, OAuthConfig


class _Page(InputPartition):
    def __init__(self, offset: int | None, take: int = 0):
        self.offset = offset  # None -> sequential drain fallback
        self.take = take  # rows this page holds (the page's limit)


class RestDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.fields = [f.name for f in schema.fields]
        self.endpoint = (
            options["base_url"].rstrip("/") + "/" + options.get("path", "/").strip("/")
        )
        self.page_size = int(options.get("page_size", "100"))
        self.timeout = float(options.get("timeout_sec", "30"))
        self.auth = None
        if "token_url" in options:
            self.auth = OAuthConfig(
                options["token_url"],
                options.get("client_id", ""),
                options.get("client_secret", ""),
            )
        self.params: dict[str, str] = {}
        # user-declared page window (R17 offset/limit surface): plan only
        # the pages covering [opt_offset, opt_offset + opt_limit)
        self.opt_offset = int(options.get("offset", "0"))
        self.opt_limit = (
            int(options["limit"]) if "limit" in options else None
        )

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

    # -- http ----------------------------------------------------------
    def _client(self) -> Client:
        return Client.login(self.auth, self.timeout)

    def _fetch(self, client: Client, offset: int, limit: int) -> list[dict]:
        """GET one page; a 401-refreshed token stays on `client`, so later
        pages do not each pay a 401 round-trip plus a token fetch."""
        return client.get_page(self.endpoint, offset, limit, self.params)

    def _total(self, client: Client) -> int | None:
        return client.total_count(self.endpoint, self.params)

    def _drain(self, client: Client, start: int, stop: int | None) -> Iterator[tuple]:
        """The rows in [start, stop) (stop None: to the end), page by page.
        Each page starts where the rows of the one before end, since a
        server may cap `limit` below page_size; an empty page ends it."""
        offset = start
        while stop is None or offset < stop:
            limit = self.page_size if stop is None else min(self.page_size, stop - offset)
            page = self._fetch(client, offset, limit)[:limit]
            if not page:
                return
            for r in page:
                yield tuple(r.get(f) for f in self.fields)
            offset += len(page)

    # -- planning + read ------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        first, total = self._client().first_page(
            self.endpoint, self.page_size, self.params
        )
        step = len(first)
        if total is None or not step:
            return [_Page(None)]
        # plan only the pages covering the declared [offset, offset+limit)
        # window — a LIMIT-style read fetches ceil(n/step) pages, not the
        # whole collection (R17, TeacherCandidatesApi.java:187-191)
        lo = min(self.opt_offset, total)
        hi = total if self.opt_limit is None else min(total, lo + self.opt_limit)
        pages = [_Page(o, take=min(step, hi - o)) for o in range(lo, hi, step)]
        return pages or [_Page(lo, take=0)]

    def read(self, partition: _Page) -> Iterator[tuple]:
        if partition.offset is None:
            stop = None if self.opt_limit is None else self.opt_offset + self.opt_limit
            yield from self._drain(self._client(), self.opt_offset, stop)
        elif partition.take:
            page = self._fetch(self._client(), partition.offset, partition.take)
            for r in page[: partition.take]:
                yield tuple(r.get(f) for f in self.fields)


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

    def _total(self) -> int:
        total = self.inner._total(self.inner._client())
        if total is None:
            raise OSError("REST count probe got no Total-Count; cannot stream")
        return total

    def _slice(self, start: int, end: int) -> tuple[list[tuple], int]:
        """Fetch rows in [start, end); returns (rows, reached) where
        `reached` is the offset ACTUALLY consumed. A server can return a
        short page below its own advertised Total-Count (concurrent
        delete between the probe and the page fetch) — committing the
        probed count then would permanently skip the rows in between, so
        the caller commits `reached`, and the next poll re-reads from
        there."""
        rows = list(self.inner._drain(self.inner._client(), start, end))
        return rows, start + len(rows)

    def read(self, start: dict):
        # rows are prefetched driver-side and PICKLED by the engine —
        # must be a concrete list, not a generator. Commit the offset
        # actually reached, never the probed total (see _slice).
        end = max(self._total(), start["offset"])
        rows, reached = self._slice(start["offset"], end)
        return rows, {"offset": reached}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._slice(start["offset"], end["offset"])
        return rows


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
        self.inner = RestDataSourceReader(schema, options)
        self.best_effort = (
            str(options.get("best_effort", "false")).lower() == "true"
        )

    def write(self, rows) -> _Posted:
        r = self.inner
        client = r._client()
        ok = failed = 0
        for row in rows:
            body = json.dumps(row.asDict(), default=str).encode()
            status, resp, _ = client.call(r.endpoint, "POST", body)
            if 200 <= status < 300:
                ok += 1
            elif self.best_effort:
                failed += 1
            else:
                raise OSError(f"REST POST {r.endpoint}: HTTP {status}: {resp[:200]!r}")
        return _Posted(ok=ok, failed=failed)

    def commit(self, messages) -> None:
        return None

    def abort(self, messages) -> None:
        # no transactional rollback over REST; idempotent upserts make the
        # retry path safe (documented above)
        return None
