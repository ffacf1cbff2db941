"""HTTP serving surface — the network leg of the client API.

The reference serves gRPC (internal/rpc_server/rpcserver.go:73-98) with
Go/Java clients (pkg/proteus-go-client/proteus_client.go:29-79); this
engine is a Python library by design (SURVEY §7.1 maps the client to a
module API), and this module closes the remaining distance with a thin
stdlib HTTP wrapper over ``Engine`` — same request/response semantics,
JSON instead of protobuf (``h2.GrpcQueryServer`` is the protobuf
sibling: the reference's actual proto3 wire format as gRPC over HTTP/2):

- ``GET /config`` — schema advertisement (GetConfig,
  rpcserver.go:141-152): the queryable table list;
- ``POST /query`` ``{"sql": ...}`` — QueryUnary
  (rpcserver.go:167-199): stringified attribute-map records;
- ``POST /query_stream`` ``{"sql": ...}`` — the server-push half of the
  bidi ``Query`` stream (qpuapi.proto:106-116) as NDJSON chunks: STATE
  records with strictly-increasing seq ids, then the END_OF_STREAM
  marker — one JSON object per line, flushed as produced;
- ``GET /metrics`` — the reference's evaluation surface
  (metrics.go:78-214): query-latency percentiles + data-transfer bytes.

Transport notes: ``ThreadingHTTPServer`` on an ephemeral port, one
daemon thread per connection — Spark's driver APIs are thread-safe for
concurrent actions, so parallel clients execute concurrent Spark jobs
exactly as parallel gRPC streams do against the reference. Analysis and
parse errors map to HTTP 400 with the engine's error text (the
reference surfaces them as gRPC status errors). What a production
deployment would add: TLS termination and auth in front (both sit
outside the reference's server too) — or swap this wrapper for Arrow
Flight, which changes the wire format but none of the Engine calls.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from proteus_spark.engine import Engine

# a request here is a small JSON object carrying SQL; an attacker-declared
# Content-Length must not drive the read's allocation (the same intake
# bound the wire/h2 transports enforce — 64 MB mirrors h2's request cap)
MAX_REQUEST_BODY = 64 << 20


class QueryServer:
    """Serve an ``Engine`` over HTTP; ``with QueryServer(engine) as url:``
    yields the base URL (ephemeral port by default)."""

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        views: dict | None = None,
    ):
        self.engine = engine
        # named live views addressable by /query_stream's "view" field —
        # the server-side registry that stands in for the reference's
        # QPU-graph addressing (a client subscribes to a named processor)
        self.views = views or {}
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet: tests/servers own their logs
                pass

            # -- helpers ------------------------------------------------
            def _json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", "0"))
                if n < 0 or n > MAX_REQUEST_BODY:
                    # attacker-declared length must not drive the
                    # allocation (the wire/h2 intake-bound rule applied
                    # to the HTTP transport): reject loudly, read
                    # nothing. Negative is rejected too — it would make
                    # rfile.read(-1) buffer the peer's bytes until EOF,
                    # the exact unbounded read the cap exists to prevent
                    raise ValueError(
                        f"request body length {n} outside "
                        f"[0, {MAX_REQUEST_BODY}]"
                    )
                raw = self.rfile.read(n) if n else b"{}"
                return json.loads(raw or b"{}")

            # -- routes -------------------------------------------------
            def do_GET(self):
                if self.path == "/config":
                    self._json(200, {"tables": server.engine.tables()})
                elif self.path == "/metrics":
                    self._json(
                        200,
                        {
                            "query_latency_ms": server.engine.stats.percentiles(),
                            "data_transfer": server.engine.stats.data_transfer(),
                        },
                    )
                else:
                    self._json(404, {"error": f"unknown path {self.path}"})

            def do_POST(self):
                try:
                    req = self._body()
                except (ValueError, json.JSONDecodeError) as exc:
                    return self._json(400, {"error": f"bad request: {exc}"})
                sql = req.get("sql")
                if not sql:
                    return self._json(400, {"error": "missing 'sql'"})
                if self.path == "/query":
                    try:
                        records = server.engine.query_unary(sql)
                    except Exception as exc:  # Analysis/Parse -> client error
                        return self._json(400, {"error": str(exc)[:2000]})
                    return self._json(200, {"records": records})
                if self.path == "/query_stream":
                    # NDJSON chunked stream: records flush as produced —
                    # the server-push half of the reference's bidi Query.
                    # With "view", the stream continues past END_OF_STREAM
                    # as UPDATEDELTA records while the named live view
                    # keeps updating (QuerySubscribe over the wire),
                    # closing after updates_timeout quiet seconds.
                    view = None
                    if req.get("view") is not None:
                        view = server.views.get(req["view"])
                        if view is None:
                            return self._json(
                                400,
                                {"error": f"unknown view {req['view']!r}"},
                            )
                    try:
                        # shared intake clamp (ADVICE r14): the bare
                        # float() here let 1e12/inf/nan pin the HTTP
                        # stream thread — route through the same [0, 300]
                        # finite clamp as the wire/h2 surfaces
                        from proteus_spark.engine import clamp_updates_timeout

                        gen = server.engine.query_stream(
                            sql,
                            view=view,
                            updates_timeout=clamp_updates_timeout(
                                req.get("updates_timeout", 5.0)
                            ),
                        )
                        first = next(gen, None)  # surface errors pre-headers
                    except Exception as exc:
                        return self._json(400, {"error": str(exc)[:2000]})
                    self.send_response(200)
                    self.send_header("Content-Type", "application/x-ndjson")
                    self.end_headers()

                    def emit(item):
                        seq, rtype, rec = item
                        line = json.dumps(
                            {"seq": seq, "type": rtype, "record": rec}
                        )
                        self.wfile.write(line.encode() + b"\n")
                        # wfile is a BufferedWriter: snapshot STATE
                        # records ride its bulk flushes; control records
                        # (END_OF_STREAM) and live UPDATEDELTA pushes
                        # flush immediately — same buffering policy as
                        # the protobuf/h2 stream servers
                        if rtype != "STATE":
                            self.wfile.flush()

                    if first is not None:
                        emit(first)
                        for item in gen:
                            emit(item)
                        self.wfile.flush()
                    return
                self._json(404, {"error": f"unknown path {self.path}"})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "QueryServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def __enter__(self) -> str:
        return self.start().url

    def __exit__(self, *exc) -> None:
        self.stop()
