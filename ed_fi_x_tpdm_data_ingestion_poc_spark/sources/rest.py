"""Paginated REST source with OAuth2 client-credentials auth.

Replaces the reference's REST reads (ref R16/R22):
  * TokenRetriever.obtainNewBearerToken — POST form grant with Basic auth
    (/root/reference/banner-connector/src/main/java/org/edfi/sis/api/
    TokenRetriever.java:44-73),
  * get*Descriptors(offset=0, limit=100, ...) — which reads ONLY the first
    page, silently truncating vocabularies >100 rows
    (service/SisConnectorService.java:493, 694).

Engine fixes + scale design:
  * the first page asks for the total count, and the rows it returns are the
    step for the remaining offsets — no truncation, also when the server
    caps `limit` below page_size;
  * when the endpoint reports a total count, the remaining pages are planned
    up front and fetched IN EXECUTORS via mapInPandas; a read whose first
    page holds every row stays on the driver as a local relation;
  * 401 -> one token refresh + retry, per call (the reference's retry
    pattern, SisConnectorService.java:494-501), token re-fetchable inside
    executors from the shipped client credentials.

All HTTP goes through sources/http.py.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import ship_package
from .http import Client, OAuthConfig, fetch_token, resource_url  # noqa: F401 (re-exported)


@dataclass
class RestSource:
    base_url: str
    path: str
    page_size: int = 500
    auth: OAuthConfig | None = None
    extra_params: dict[str, str] = field(default_factory=dict)
    timeout_sec: float = 30.0


def _endpoint(src: RestSource) -> str:
    return f"{src.base_url.rstrip('/')}/{src.path.lstrip('/')}"


def _client(src: RestSource, token: str | None) -> Client:
    """A client starting from `token`, or from a fresh one when None."""
    if token is None:
        return Client.login(src.auth, src.timeout_sec)
    return Client(src.auth, src.timeout_sec, token)


def _page_frame(rows: list[dict], names: list[str]):
    """pandas columns of `rows`, kept as python objects (no int -> float
    upcast around nulls) for Arrow to convert to the declared types."""
    import pandas as pd

    return pd.DataFrame(
        {name: pd.Series([r.get(name) for r in rows], dtype=object) for name in names}
    )


def local_frame(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Rows already on the driver as a DataFrame. Through Arrow this plans
    as a LocalTableScan, and building it runs no Spark job."""
    return spark.createDataFrame(_page_frame(rows, schema.fieldNames()), schema)


def _rows_after_first_page(
    client: Client, src: RestSource, step: int, total: int | None
) -> Iterator[dict]:
    """The rows of the pages after the first, `step` rows apart: up to
    offset `total` when the count is known, and never past an empty page
    (the only stop when it is not)."""
    offset = step
    while step and (total is None or offset < total):
        page = client.get_page(_endpoint(src), offset, step, src.extra_params)
        if not page:
            return
        yield from page
        offset += step


def iter_all_rows(src: RestSource, token: str | None = None) -> Iterator[dict]:
    """Every row, page by page on the driver (fixes the reference's
    first-page-only truncation)."""
    client = _client(src, token)
    first, total = client.first_page(_endpoint(src), src.page_size, src.extra_params)
    yield from first
    yield from _rows_after_first_page(client, src, len(first), total)


def get_by_id(
    src: RestSource, rid: str, *, etag: str | None = None, token: str | None = None
) -> tuple[int, dict | None, str | None]:
    """GET a single resource by id with optional If-None-Match conditional
    read (ref R20, TeacherCandidatesApi.java:508): returns (status, doc,
    etag); 304 -> (304, None, etag) meaning the cached copy is current."""
    headers = {"If-None-Match": str(etag)} if etag is not None else None
    status, body, hdrs = _client(src, token).call(
        resource_url(_endpoint(src), rid), headers=headers
    )
    if status == 304:
        return 304, None, etag
    return status, (json.loads(body) if status == 200 and body else None), hdrs.get("ETag")


def read_rest(spark: SparkSession, src: RestSource, schema: StructType) -> DataFrame:
    """Paginated REST endpoint as a DataFrame.

    The driver reads the first page with the total count. When that page
    holds every row it is returned as a local relation (no executor job).
    Otherwise the remaining offsets are planned and executors fetch those
    pages in parallel and parse JSON into `schema` (the driver holds only
    the first page and the offset list). Fallback when the endpoint doesn't
    report a count: sequential driver pagination (still complete, just not
    parallel).
    """
    client = Client.login(src.auth, src.timeout_sec)
    endpoint = _endpoint(src)
    first, total = client.first_page(endpoint, src.page_size, src.extra_params)
    step = len(first)
    if total is None:
        rows = first + list(_rows_after_first_page(client, src, step, None))
        return local_frame(spark, rows, schema)
    head = local_frame(spark, first, schema)
    if step == 0 or step >= total:
        return head

    # spark.range plans the remaining offsets as a pure-JVM Range scan, at
    # most one partition per task slot (a createDataFrame(list) plan is a
    # Python-RDD scan + repartition exchange re-executed per run)
    n_offsets = len(range(step, total, step))
    plan = spark.range(
        step, total, step, min(n_offsets, spark.sparkContext.defaultParallelism)
    ).withColumnRenamed("id", "offset")

    ship_package(spark)
    params = dict(src.extra_params)
    field_names = schema.fieldNames()

    def fetch_partition(batches):
        for pdf in batches:
            for off in pdf["offset"]:
                page = client.get_page(endpoint, int(off), step, params)
                yield _page_frame(page, field_names)

    json_df = plan.mapInPandas(fetch_partition, schema=schema)
    # Columns arrive as python objects; enforce declared types.
    return head.unionByName(
        json_df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
    )
