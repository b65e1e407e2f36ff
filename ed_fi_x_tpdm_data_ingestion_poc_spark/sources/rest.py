"""Paginated REST source with OAuth2 client-credentials auth: the
DataFrame read ``read_rest``, the driver-side ``iter_all_rows`` and the
by-id ``get_by_id``.

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
  * when the endpoint reports a total count, the pages after the first are
    planned up front (http.page_plan) and fetched IN EXECUTORS via
    mapInPandas; a read whose first page holds every row stays on the
    driver as a local relation, and an endpoint without a count is walked
    page by page on the driver;
  * one login per read: the token rides to the executors in the pickled
    client, and a 401 refreshes it and retries once per call (the
    reference's retry pattern, SisConnectorService.java:494-501).

``spark.read.format("edfi_rest")`` (sources/rest_datasource.py) reads
through the same first page, page plan and page walk (http.iter_pages),
and adds filter pushdown, offset/limit windows, streaming and a writer.
All HTTP goes through sources/http.py.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import chain

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import ship_package
from .http import Client, endpoint_url, iter_pages, page_plan, resource_url
from .http import OAuthConfig, fetch_token  # noqa: F401 (re-exported)

_PLAN = StructType([StructField("offset", LongType()), StructField("take", LongType())])


@dataclass
class RestSource:
    base_url: str
    path: str
    page_size: int = 500
    auth: OAuthConfig | None = None
    timeout_sec: float = 30.0


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


def iter_all_rows(src: RestSource) -> Iterator[dict]:
    """Every row, page by page on the driver (fixes the reference's
    first-page-only truncation)."""
    url = endpoint_url(src.base_url, src.path)
    with Client.login(src.auth, src.timeout_sec) as client:
        first, total = client.first_page(url, src.page_size, {})
        yield from first
        for page in iter_pages(client, url, {}, len(first), total, len(first)):
            yield from page


def get_by_id(
    src: RestSource, rid: str, *, etag: str | None = None
) -> tuple[int, dict | None, str | None]:
    """GET a single resource by id with optional If-None-Match conditional
    read (ref R20, TeacherCandidatesApi.java:508): returns (status, doc,
    etag); 304 -> (304, None, etag) meaning the cached copy is current."""
    headers = {"If-None-Match": str(etag)} if etag is not None else None
    with Client.login(src.auth, src.timeout_sec) as client:
        status, body, hdrs = client.call(
            resource_url(endpoint_url(src.base_url, src.path), rid), headers=headers
        )
    if status == 304:
        return 304, None, etag
    return status, (json.loads(body) if status == 200 and body else None), hdrs.get("ETag")


def read_rest(spark: SparkSession, src: RestSource, schema: StructType) -> DataFrame:
    """Paginated REST endpoint as a DataFrame.

    The driver reads the first page with the total count. When that page
    holds every row it is returned as a local relation (no executor job).
    Otherwise the pages after it are planned and executors fetch them in
    parallel and parse JSON into `schema` (the driver holds only the first
    page and the page plan). Fallback when the endpoint doesn't report a
    count: sequential driver pagination (still complete, just not
    parallel).
    """
    url = endpoint_url(src.base_url, src.path)
    # the driver's connection closes here; executors reopen their own
    with Client.login(src.auth, src.timeout_sec) as client:
        first, total = client.first_page(url, src.page_size, {})
        step = len(first)
        if total is None:
            rows = chain(first, *iter_pages(client, url, {}, step, None, step))
            return local_frame(spark, list(rows), schema)
    head = local_frame(spark, first, schema)
    pages = page_plan(step, total)
    if not pages:
        return head

    # the page plan as a local relation plans as a LocalTableScan, at most
    # one partition per task slot, and building it runs no Spark job
    plan = local_frame(spark, [{"offset": o, "take": t} for o, t in pages], _PLAN)
    ship_package(spark)
    field_names = schema.fieldNames()

    def fetch_partition(batches):
        with client:  # this task's copy
            for pdf in batches:
                for off, take in zip(pdf["offset"].tolist(), pdf["take"].tolist()):
                    for page in iter_pages(client, url, {}, off, off + take, step):
                        yield _page_frame(page, field_names)

    json_df = plan.mapInPandas(fetch_partition, schema=schema)
    # Columns arrive as python objects; enforce declared types.
    return head.unionByName(
        json_df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
    )
