"""Wire-level HTTP listener for the event-log API.

``EventLogService`` reproduces the reference's handler *semantics* as
a library; this module puts the actual HTTP wire in front of it —
stdlib ``ThreadingHTTPServer``, no framework — serving the same four
endpoints with the same status-code behavior
(``/root/reference/cmd/server/server.go:61-64``):

- ``GET /api/v1/range``            → 200 ``{"earliest":E,"latest":L}``;
  204 on an empty log (server.go:305-311)
- ``GET /api/v1/events/{id}``      → 200 stored bytes verbatim;
  400 ``invalid offset`` on parse error / out-of-range / future
  (server.go:269-295 — the reference maps BOTH ErrOutOfRange and
  ErrFutureOffset to 400 on the point path)
- ``GET /api/v1/events``           → 200 JSON array of ≤ page-size
  events; 204 on an empty log (server.go:211-267)
- ``GET /api/v1/events?watch=true[&offset=N]`` → chunked
  newline-delimited JSON from N (default "now" = latest+1), then live
  tail by polling the log; 400 for unparseable or purged start
  offsets (server.go:130-209 — the purged-start asymmetry)

Spark posture: every request collects ≤ page-size rows or a 1-row
aggregate through the service layer — the wire adds no new collect
shapes. The watch loop pulls bounded pages per poll tick, so a slow
client never buffers the log. One listener serves one log DataFrame;
horizontal scale-out is N listeners over the same storage-backed log
(the sink is parquet — any session can mount it), which is exactly
how the reference scales (one server per collector).
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..errors import (
    FutureOffsetError,
    InvalidOffsetError,
    OutOfRangeError,
)
from .model import replay_from
from .service import EventLogService

log = logging.getLogger(__name__)


class _Server(ThreadingHTTPServer):
    # a watch client with no deadline holds its handler thread in the
    # poll loop forever; without these, server_close() would block on
    # that thread and stop() would hang
    daemon_threads = True
    block_on_close = False


class EventLogHTTPServer:
    """Serve an :class:`EventLogService` over HTTP on localhost."""

    def __init__(
        self,
        service: EventLogService,
        host: str = "127.0.0.1",
        port: int = 0,
        watch_poll_sec: float = 0.2,
        stream_timeout_sec: float = 300.0,
    ) -> None:
        #: Hard ceiling on any watch stream's lifetime, mirroring the
        #: reference's ``streamTimeout = 5 * time.Minute``
        #: (server.go:27): every stream is force-disconnected at the
        #: deadline even if the client never asked for one, so an
        #: abandoned keep-alive client cannot pin a handler thread and
        #: a per-poll Spark job indefinitely.
        self.service = service
        self.watch_poll_sec = watch_poll_sec
        self.stream_timeout_sec = stream_timeout_sec
        handler = self._make_handler()
        self._httpd = _Server((host, port), handler)
        self._thread: threading.Thread | None = None

    # -- lifecycle ------------------------------------------------------
    @property
    def address(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "EventLogHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)

    # -- request handling ----------------------------------------------
    def _make_handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet test output
                pass

            def _text(self, code: int, body: str) -> None:
                data = (body + "\n").encode()
                self.send_response(code)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _json(self, code: int, payload: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def _no_content(self) -> None:
                self.send_response(204)
                self.end_headers()

            def do_GET(self):  # noqa: N802 - stdlib API name
                try:
                    url = urlparse(self.path)
                    parts = [p for p in url.path.split("/") if p]
                    if parts[:3] == ["api", "v1", "range"] and len(parts) == 3:
                        return self._range()
                    if parts[:3] == ["api", "v1", "events"]:
                        if len(parts) == 4:
                            return self._event(parts[3])
                        if len(parts) == 3:
                            q = parse_qs(url.query)
                            if q.get("watch", ["false"])[0] == "true":
                                return self._watch(q)
                            return self._page()
                    self._text(404, "not found")
                except BrokenPipeError:  # client went away mid-write
                    pass
                except Exception:
                    log.exception("GET %s failed", self.path)
                    try:
                        self.send_response(500)
                        self.end_headers()
                    except Exception:
                        pass

            def _range(self):
                rng = server.service.range()
                if rng is None:  # server.go:308-311
                    return self._no_content()
                self._json(200, (json.dumps(rng) + "\n").encode())

            def _event(self, raw_id: str):
                try:
                    value = server.service.get_event(raw_id)
                except InvalidOffsetError:
                    return self._text(400, "invalid offset")
                except (OutOfRangeError, FutureOffsetError) as e:
                    # server.go:285-288: both classes → 400
                    return self._text(400, f"invalid offset: {e}")
                self._json(200, str(value).encode())

            def _page(self):
                events = server.service.get_events()
                if not events:  # server.go:88-91
                    return self._no_content()
                body = ("[" + ",".join(str(v) for v in events) + "]").encode()
                self._json(200, body)

            def _watch(self, q: dict):
                import math as _math
                import time as _time

                svc = server.service
                raw = q.get("offset", [None])[0]
                # Validate EVERYTHING before the 200 status line goes
                # out — a parse error after chunked headers are written
                # would corrupt the open stream with a second response.
                deadline_q = q.get("max_seconds", [None])[0]
                max_seconds: float | None = None
                if deadline_q is not None:
                    try:
                        max_seconds = float(deadline_q)
                    except ValueError:
                        return self._text(400, "invalid max_seconds")
                    if not _math.isfinite(max_seconds) or max_seconds < 0:
                        return self._text(400, "invalid max_seconds")
                try:
                    cursor = svc.watch_start(raw)
                except InvalidOffsetError:
                    return self._text(400, "invalid offset")
                except OutOfRangeError as e:  # purged start → 400
                    return self._text(400, f"invalid offset: {e}")

                self.send_response(200)
                # server.go:145-147
                self.send_header("X-Content-Type-Options", "nosniff")
                self.send_header("Content-Type", "application/json")
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()

                # Every stream gets the server's force-disconnect
                # ceiling (server.go:27); a client max_seconds may only
                # shorten it, never extend it.
                budget = server.stream_timeout_sec
                if max_seconds is not None:
                    budget = min(budget, max_seconds)
                stop_at = _time.time() + budget
                try:
                    while True:
                        page = (
                            replay_from(svc.df, cursor, svc.offset_col)
                            .limit(svc.page_size)
                            .collect()
                        )
                        for r in page:
                            line = (str(r[svc.value_col]) + "\n").encode()
                            self.wfile.write(
                                b"%x\r\n%s\r\n" % (len(line), line)
                            )
                            self.wfile.flush()
                            cursor = int(r[svc.offset_col]) + 1
                        if _time.time() >= stop_at:
                            break
                        _time.sleep(server.watch_poll_sec)
                    self.wfile.write(b"0\r\n\r\n")
                except BrokenPipeError:
                    pass

        return Handler


def serve(
    service: EventLogService,
    host: str = "127.0.0.1",
    port: int = 0,
    stream_timeout_sec: float = 300.0,
) -> EventLogHTTPServer:
    """Start a listener; returns the running server (``.address``)."""
    return EventLogHTTPServer(
        service, host, port, stream_timeout_sec=stream_timeout_sec
    ).start()
