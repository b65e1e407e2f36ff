"""The package's one HTTP client: the OAuth2 client-credentials grant
(TokenRetriever.java:44-73), bearer requests, and the reference's "on 401
refresh the token and retry once" rule (SisConnectorService.java:184-198),
plus the Ed-Fi paging surface built on them: the first page with its
Total-Count, the page plan derived from it, and the one page walk every
REST reader uses.

Executor code (mapInPandas closures, DataSource readers and writers) may
import this module because session.ship_package zips the package onto
every worker; the entry points that run it there call ship_package first.

Only stdlib HTTP (http.client over kept-alive connections) — no extra
dependencies.
"""

from __future__ import annotations

import base64
import http.client
import json
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
    """A fresh access token for `auth` over a connection of its own."""
    with Client(auth, timeout) as client:
        return client.grant()


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


def _open(scheme: str, netloc: str, timeout: float):
    """A connection to `netloc` -> (connection, request-target prefix,
    headers for every request). Like urllib, it goes through the proxy
    that http_proxy/https_proxy name unless no_proxy covers the host: an
    http request goes to the proxy in absolute form, an https one through
    a CONNECT tunnel; user:password in the proxy URL becomes
    Proxy-Authorization."""
    https = scheme == "https"
    cls = http.client.HTTPSConnection if https else http.client.HTTPConnection
    proxy = urllib.request.getproxies().get(scheme)
    if not proxy or urllib.request.proxy_bypass(netloc):
        return cls(netloc, timeout=timeout), "", {}
    p = urllib.parse.urlsplit(proxy if "://" in proxy else f"http://{proxy}")
    auth = {}
    if p.username is not None:
        cred = f"{urllib.parse.unquote(p.username)}:{urllib.parse.unquote(p.password or '')}"
        auth["Proxy-Authorization"] = f"Basic {base64.b64encode(cred.encode()).decode()}"
    hostport = p.netloc.rpartition("@")[2]
    if https:
        conn = cls(hostport, timeout=timeout)
        conn.set_tunnel(netloc, headers=auth)
        return conn, "", {}
    return http.client.HTTPConnection(hostport, timeout=timeout), f"{scheme}://{netloc}", auth


class Client:
    """Bearer-token client that keeps one persistent connection per
    (scheme, host). A token refreshed by a 401 is kept for this client's
    later calls. It pickles to executors without its connections, which
    reopen on first use; close() (or leaving a `with` block) closes them."""

    def __init__(
        self, auth: OAuthConfig | None, timeout: float, token: str | None = None
    ) -> None:
        self.auth = auth
        self.timeout = timeout
        self.token = token
        self._conns: dict[tuple[str, str], tuple] = {}

    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k != "_conns"}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state, _conns={})

    def __enter__(self) -> Client:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        for conn, _, _ in self._conns.values():
            conn.close()
        self._conns.clear()

    @classmethod
    def login(cls, auth: OAuthConfig | None, timeout: float) -> Client:
        """A client holding a fresh token (no token without auth)."""
        client = cls(auth, timeout)
        if auth:
            client.token = client.grant()
        return client

    def grant(self) -> str:
        """POST grant_type=client_credentials with Basic auth; parse
        access_token. A status outside 2xx raises."""
        basic = base64.b64encode(
            f"{self.auth.client_id}:{self.auth.client_secret}".encode()
        ).decode()
        status, body, _ = self._send(
            self.auth.token_url,
            "POST",
            b"grant_type=client_credentials",
            {
                "Authorization": f"Basic {basic}",
                "Content-Type": "application/x-www-form-urlencoded",
            },
        )
        if not 200 <= status < 300:
            raise OSError(
                f"token request {self.auth.token_url} failed: HTTP {status}: {body[:200]!r}"
            )
        return json.loads(body)["access_token"]

    def _exchange(self, key, method, target, body, headers) -> http.client.HTTPResponse:
        """One request on the kept connection for `key`. A reused
        connection that the server closed while it was idle fails before
        any response arrives; it is reopened and the request sent once
        more."""
        if key not in self._conns:
            self._conns[key] = _open(*key, self.timeout)
        conn, prefix, extra = self._conns[key]
        headers = {**headers, **extra}
        reused = conn.sock is not None
        try:
            conn.request(method, prefix + target, body, headers)
            return conn.getresponse()
        except ConnectionError:
            conn.close()
            if not reused:
                raise
        conn.request(method, prefix + target, body, headers)
        return conn.getresponse()

    def _send(self, url, method, body, headers):
        h = {"Accept": "application/json"}
        if body is not None:
            h["Content-Type"] = "application/json"
        if self.token:
            h["Authorization"] = f"Bearer {self.token}"
        h.update(headers or {})
        split = urllib.parse.urlsplit(url)
        key = (split.scheme, split.netloc)
        target = (split.path or "/") + (f"?{split.query}" if split.query else "")
        try:
            resp = self._exchange(key, method, target, body, h)
            return resp.status, resp.read(), resp.headers
        except (OSError, http.client.HTTPException) as e:
            if key in self._conns:  # its state is unknown: start afresh
                self._conns[key][0].close()
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
            self.token = self.grant()
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
