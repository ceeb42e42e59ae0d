"""HTTP clients of the load-generator process (stdlib only)."""

from __future__ import annotations

import http.client
import socket
import threading
import time
from urllib.parse import urlparse


def connect(url: str, timeout: float) -> http.client.HTTPConnection:
    u = urlparse(url)
    return http.client.HTTPConnection(u.hostname, u.port, timeout=timeout)


def get(conn: http.client.HTTPConnection, path: str) -> tuple[int, bytes]:
    """One request/response call on a keep-alive connection."""
    conn.request("GET", path)
    resp = conn.getresponse()
    return resp.status, resp.read()


class WatchClient(threading.Thread):
    """Reads a ``?watch=true`` stream line by line until it ends, until
    ``want`` lines arrived, or until :meth:`stop`."""

    def __init__(self, url: str, path: str, want: int | None = None,
                 timeout: float = 120.0) -> None:
        super().__init__(daemon=True)
        self.url, self.path, self.want, self.timeout = url, path, want, timeout
        self.status: int | None = None
        self.lines: list[tuple[float, bytes]] = []
        self.error: str | None = None
        self.started_at = 0.0
        self.ended_at = 0.0
        self.connected = threading.Event()
        self._conn: http.client.HTTPConnection | None = None
        self._stopping = False

    def run(self) -> None:
        self.started_at = time.time()
        try:
            self._conn = connect(self.url, self.timeout)
            self._conn.request("GET", self.path)
            resp = self._conn.getresponse()
            self.status = resp.status
            self.connected.set()
            while not self._stopping:
                line = resp.readline()
                if not line:
                    break
                self.lines.append((time.time(), line))
                if self.want is not None and len(self.lines) >= self.want:
                    break
        except (OSError, http.client.HTTPException) as exc:
            if not self._stopping:
                self.error = f"{type(exc).__name__}: {exc}"
        finally:
            self.ended_at = time.time()
            self.connected.set()
            if self._conn is not None:
                self._conn.close()

    def stop(self, join_timeout: float = 10.0) -> None:
        self._stopping = True
        conn = self._conn
        if conn is not None and conn.sock is not None:
            try:
                conn.sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        self.join(join_timeout)
