"""The package's one HTTP client: the OAuth2 client-credentials grant
(TokenRetriever.java:44-73), bearer requests, and the reference's "on 401
refresh the token and retry once" rule (SisConnectorService.java:184-198),
plus the Ed-Fi paging surface built on them: the first page with its
Total-Count, the page plan derived from it, and the one page walk every
REST reader uses.

Executor code (mapInPandas closures, DataSource readers and writers) may
import this module because session.ship_package zips the package onto
every worker; the entry points that run it there call ship_package first.

Only stdlib HTTP (urllib) — no extra dependencies.
"""

from __future__ import annotations

import base64
import http.client
import json
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator
from dataclasses import dataclass

# the response header carrying an endpoint's row count (looked up
# case-insensitively)
TOTAL_COUNT = "Total-Count"


@dataclass
class OAuthConfig:
    """OAuth2 client-credentials grant (TokenRetriever.java:44-73)."""

    token_url: str
    client_id: str
    client_secret: str


def fetch_token(auth: OAuthConfig, timeout: float = 30.0) -> str:
    """POST grant_type=client_credentials with Basic auth; parse access_token."""
    basic = base64.b64encode(
        f"{auth.client_id}:{auth.client_secret}".encode()
    ).decode()
    req = urllib.request.Request(
        auth.token_url,
        data=b"grant_type=client_credentials",
        headers={
            "Authorization": f"Basic {basic}",
            "Content-Type": "application/x-www-form-urlencoded",
        },
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read())["access_token"]


def _page_url(
    endpoint: str, offset: int, limit: int, params: dict[str, str],
    total_count: bool = False,
) -> str:
    """``endpoint?offset=..&limit=..&<params>`` (ref R17 paging surface)."""
    q = {"offset": str(offset), "limit": str(limit), **params}
    if total_count:
        q["totalCount"] = "true"
    return f"{endpoint}?{urllib.parse.urlencode(q)}"


def endpoint_url(base_url: str, path: str) -> str:
    """``base_url/path`` with exactly one slash between them."""
    return f"{base_url.rstrip('/')}/{path.strip('/')}"


def resource_url(endpoint: str, rid) -> str:
    """``endpoint/<id>`` with the id percent-encoded: ids come from remote
    snapshots, and a raw ``/`` or ``?`` would address another resource."""
    return f"{endpoint}/{urllib.parse.quote(str(rid), safe='')}"


class Client:
    """Bearer-token client. Plain attributes, so it pickles to executors;
    a token refreshed by a 401 is kept for this client's later calls."""

    def __init__(
        self, auth: OAuthConfig | None, timeout: float, token: str | None = None
    ) -> None:
        self.auth = auth
        self.timeout = timeout
        self.token = token

    @classmethod
    def login(cls, auth: OAuthConfig | None, timeout: float) -> Client:
        """A client holding a fresh token (no token without auth)."""
        return cls(auth, timeout, fetch_token(auth, timeout) if auth else None)

    def _send(self, url, method, body, headers):
        h = {"Accept": "application/json"}
        if body is not None:
            h["Content-Type"] = "application/json"
        if self.token:
            h["Authorization"] = f"Bearer {self.token}"
        h.update(headers or {})
        req = urllib.request.Request(url, data=body, headers=h, method=method)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status, resp.read(), resp.headers
        except urllib.error.HTTPError as e:
            return e.code, e.read(), e.headers
        except (OSError, http.client.HTTPException) as e:
            return -1, str(e).encode(), http.client.HTTPMessage()

    def call(
        self,
        url: str,
        method: str = "GET",
        body: bytes | None = None,
        headers: dict[str, str] | None = None,
    ) -> tuple[int, bytes, http.client.HTTPMessage]:
        """One request -> (status, body, headers); headers look up names
        case-insensitively. HTTP errors return their status, connection
        errors status -1 with the error text as body. A 401 with auth set
        refreshes the token once and retries."""
        status, resp, hdrs = self._send(url, method, body, headers)
        if status == 401 and self.auth is not None:
            self.token = fetch_token(self.auth, self.timeout)
            status, resp, hdrs = self._send(url, method, body, headers)
        return status, resp, hdrs

    def _get_rows(self, url: str) -> tuple[list[dict], http.client.HTTPMessage]:
        status, body, hdrs = self.call(url)
        if status != 200:
            raise OSError(f"REST GET {url} failed: HTTP {status}: {body[:200]!r}")
        return json.loads(body), hdrs

    def get_page(
        self, endpoint: str, offset: int, limit: int, params: dict[str, str]
    ) -> list[dict]:
        """One page of rows; any status but 200 raises. Its one caller is
        iter_pages."""
        return self._get_rows(_page_url(endpoint, offset, limit, params))[0]

    def first_page(
        self, endpoint: str, limit: int, params: dict[str, str]
    ) -> tuple[list[dict], int | None]:
        """The page at offset 0 with totalCount=true -> (rows, row count or
        None when the endpoint sends no count header); any status but 200
        raises. A server may cap `limit`: the rows it returns are the page
        step for the remaining offsets."""
        rows, hdrs = self._get_rows(
            _page_url(endpoint, 0, limit, params, total_count=True)
        )
        count = hdrs.get(TOTAL_COUNT)
        return rows, None if count is None else int(count)


def iter_pages(
    client: Client, endpoint: str, params: dict, start: int, stop: int | None, step: int
) -> Iterator[list[dict]]:
    """The pages of rows [start, stop) (stop None: to the end). Each asks
    for min(step, stop - offset) rows and the next starts where its rows
    end, since a server may cap `limit` below `step`; an empty page (or
    step 0) ends the walk."""
    offset = start
    while step and (stop is None or offset < stop):
        limit = step if stop is None else min(step, stop - offset)
        page = client.get_page(endpoint, offset, limit, params)[:limit]
        if not page:
            return
        yield page
        offset += len(page)


def page_plan(step: int, total: int, lo: int = 0, hi: int | None = None) -> list:
    """(offset, take) of the pages after the first that cover rows [lo, hi)
    (hi None: to the end) of a `total`-row endpoint, `step` rows apart:
    the first page's row count. The first page, rows [0, step), is never
    planned again."""
    hi = total if hi is None else min(hi, total)
    if not step:
        return []
    return [(o, min(step, hi - o)) for o in range(max(lo, step), hi, step)]
