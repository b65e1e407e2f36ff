"""In-process stub of an Ed-Fi-style ODS REST API.

Emulates the surface the reference talks to (SURVEY.md §2.4): paginated GET
with offset/limit (+ Total-Count header), OAuth2 client-credentials token
endpoint, POST upsert, DELETE by id — plus fault injection (401-once) to
exercise the token-refresh retry pattern
(SisConnectorService.java:189-196).

Like a real ODS it speaks HTTP/1.1 and keeps connections alive, with
Nagle's algorithm off: without that, a kept-alive request waits on Nagle
plus the peer's delayed ACK (~44 ms a request on Linux loopback).
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class StubRestServer:
    """Context manager around a ThreadingHTTPServer on an ephemeral port.

    rows: list of dicts served at GET /items.
    fail_first_with_401: every worker's FIRST request 401s unless it carries
      the refreshed token ("tok-2"), proving the retry path.
    keep_alive: False answers as HTTP/1.0 and closes after each response.
    idle_timeout: seconds after which an idle connection is dropped.
    connections counts the connections accepted.
    """

    def __init__(
        self,
        rows: list[dict],
        *,
        page_size_cap: int = 100,
        require_auth: bool = False,
        fail_first_with_401: bool = False,
        ignore_filters: bool = False,
        extra_total: int = 0,
        reject_tokens_below: int = 0,
        keep_alive: bool = True,
        idle_timeout: float | None = None,
    ) -> None:
        self.rows = rows
        self.page_size_cap = page_size_cap
        self.require_auth = require_auth
        self.fail_first_with_401 = fail_first_with_401
        # non-conforming endpoint: silently ignores unknown query params
        # (exercises the client's re-apply-after-pushdown guarantee)
        self.ignore_filters = ignore_filters
        # over-reported Total-Count: server claims extra_total more rows
        # than it serves (concurrent-delete race shape)
        self.extra_total = extra_total
        # hard expiry: tokens tok-n with n < this ALWAYS 401 (vs
        # fail_first_with_401's fail-once) — exercises refresh propagation
        self.reject_tokens_below = reject_tokens_below
        self.keep_alive = keep_alive
        self.idle_timeout = idle_timeout
        self.connections = 0
        self.upserts: list[dict] = []
        self.deletes: list[str] = []
        self.get_requests: list[str] = []  # raw query strings, for pushdown asserts
        self.updates: list[tuple[str, dict]] = []
        # resource store for etag semantics (R20): id -> (doc, etag version)
        self.store: dict[str, tuple[dict, int]] = {}
        self.token_requests = 0
        self._lock = threading.Lock()
        self._seen_tokens: set[str] = set()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle -----------------------------------------------------
    def __enter__(self) -> StubRestServer:
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1" if stub.keep_alive else "HTTP/1.0"
            disable_nagle_algorithm = True
            timeout = stub.idle_timeout

            def setup(self):
                super().setup()
                with stub._lock:
                    stub.connections += 1

            def log_message(self, *a):  # silence
                pass

            def _token(self):
                auth = self.headers.get("Authorization", "")
                return auth.removeprefix("Bearer ").strip()

            def _rid(self) -> str:
                """Resource id: the percent-decoded last path segment."""
                path = urllib.parse.urlparse(self.path).path
                return urllib.parse.unquote(path.rsplit("/", 1)[-1])

            def _reply(self, status: int, body: bytes, headers: dict | None = None):
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _auth_gate(self) -> bool:
                tok = self._token()
                if stub.reject_tokens_below and tok.startswith("tok-"):
                    try:
                        n = int(tok.removeprefix("tok-"))
                    except ValueError:
                        n = 0
                    if n < stub.reject_tokens_below:
                        self._reply(401, b'{"error":"expired"}')
                        return False
                if stub.fail_first_with_401:
                    with stub._lock:
                        first = tok not in stub._seen_tokens
                        stub._seen_tokens.add(tok)
                    if first and tok != "tok-2":
                        self._reply(401, b'{"error":"expired"}')
                        return False
                if stub.require_auth and not tok:
                    self._reply(401, b'{"error":"missing token"}')
                    return False
                return True

            def do_POST(self):
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                if self.path == "/oauth/token":
                    with stub._lock:
                        stub.token_requests += 1
                        n = stub.token_requests
                    self._reply(200, json.dumps({"access_token": f"tok-{n}"}).encode())
                    return
                if not self._auth_gate():
                    return
                with stub._lock:
                    stub.upserts.append(json.loads(body))
                self._reply(200, b"{}")

            def do_PUT(self):
                """PUT by id with If-Match optimistic concurrency (R20):
                stale etag -> 412, match (or no If-Match) -> update+bump."""
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                if not self._auth_gate():
                    return
                rid = self._rid()
                if_match = self.headers.get("If-Match")
                with stub._lock:
                    _, cur = stub.store.get(rid, ({}, 0))
                    if if_match is not None and if_match != str(cur):
                        self._reply(412, b'{"error":"etag mismatch"}')
                        return
                    doc = json.loads(body)
                    stub.store[rid] = (doc, cur + 1)
                    stub.updates.append((rid, doc))
                self._reply(204, b"")

            def do_DELETE(self):
                if not self._auth_gate():
                    return
                rid = self._rid()
                with stub._lock:
                    stub.deletes.append(rid)
                self._reply(204, b"")

            def do_GET(self):
                if not self._auth_gate():
                    return
                parsed = urllib.parse.urlparse(self.path)
                rid = self._rid()
                if rid and rid in stub.store:  # get-by-id + If-None-Match (R20)
                    doc, ver = stub.store[rid]
                    if self.headers.get("If-None-Match") == str(ver):
                        self._reply(304, b"")
                        return
                    self._reply(
                        200, json.dumps(doc).encode(), {"ETag": str(ver)}
                    )
                    return
                qs = urllib.parse.parse_qs(parsed.query)
                with stub._lock:
                    stub.get_requests.append(parsed.query)
                offset = int(qs.get("offset", ["0"])[0])
                limit = min(
                    int(qs.get("limit", ["100"])[0]), stub.page_size_cap
                )
                # Ed-Fi API equality filters: any other query param matches
                # a field by string equality (SURVEY.md §2.4 — the surface
                # the engine's filter pushdown compiles to)
                rows = stub.rows
                if not stub.ignore_filters:
                    for k, vals in qs.items():
                        if k in ("offset", "limit", "totalCount"):
                            continue
                        rows = [r for r in rows if str(r.get(k)) == vals[0]]
                page = rows[offset : offset + limit]
                self._reply(
                    200,
                    json.dumps(page).encode(),
                    {"Total-Count": str(len(rows) + stub.extra_total)},
                )

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        assert self._server is not None
        self._server.shutdown()
        self._server.server_close()

    @property
    def url(self) -> str:
        assert self._server is not None
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    @property
    def token_url(self) -> str:
        return f"{self.url}/oauth/token"
