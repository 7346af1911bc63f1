"""HTTP serving layer over :class:`opl_spark.api.OlapApi` — the
boundary every real consumer of the reference hits.

The reference engine is consumed over HTTP (api-library-olap/
README.md:3-13 — routes ``/olap/fact_tables`` and
``/olap/<fact>/dimensions|measures|aggregate``; the Data Studio
connector, DataStudio-connector/Codice.gs:42,20-26, fetches them with
plain GETs).  This module is the thin transport over the
transport-free ``OlapApi.handle``: stdlib ``socketserver`` only, no
framework dependency.

Each connection carries one GET.  The handler reads the request line,
reads and discards the header lines unparsed (the API reads only the
path and query), and sends the status line, headers and body in one
write as ``HTTP/1.0``, then closes the connection.  Accepted
connections go through a queue to idle worker threads; a new daemon
worker starts only when none is idle, so concurrency is unbounded and
a repeat request reuses a thread instead of starting one.  A client
that stays silent holds its worker for at most ``_IDLE_TIMEOUT_S``,
and ``stop()`` ends every read still waiting on a client.

Scale shape: the server is a DRIVER-side component.  Each request
delegates to ``CubeEngine.aggregate`` (distributed; the response is
the dimension-cardinality-sized OUTPUT of a cube aggregation, never a
raw fact scan), so the HTTP layer only ever serializes
report-sized payloads.  Spark actions are thread-safe on one
SparkSession and the scheduler interleaves the jobs of concurrent
requests.
"""

from __future__ import annotations

import json
import logging
import queue
import socket
import socketserver
import threading
import time
from datetime import date, datetime
from decimal import Decimal
from email.utils import formatdate
from http import HTTPStatus
from typing import Any
from urllib.parse import parse_qs, urlsplit

from opl_spark.api import OlapApi

_log = logging.getLogger(__name__)

#: http.server's bounds: longest request or header line, most headers
_MAX_LINE = 65536
_MAX_HEADERS = 100
#: longest wait on a silent client: each socket read, and the reply write
_IDLE_TIMEOUT_S = 10


def json_default(obj: Any) -> Any:
    """JSON fallbacks for the value types cube rows carry: ISO dates
    (the connector parses YYYY-MM-DD, Codice.gs:361-373) and exact
    decimals as doubles."""
    if isinstance(obj, (date, datetime)):
        return obj.isoformat()
    if isinstance(obj, Decimal):
        return float(obj)
    raise TypeError(f"not JSON serializable: {type(obj).__name__}")


def encode_response(payload: Any) -> bytes:
    """The canonical wire encoding — shared by the server and by tests
    asserting byte-identity with direct ``OlapApi.handle`` calls."""
    return json.dumps(payload, default=json_default).encode("utf-8")


class _BadRequest(Exception):
    """A request the transport refuses before the API sees it."""

    def __init__(self, code: HTTPStatus, message: str):
        super().__init__(message)
        self.code = code


def _request_target(line: bytes) -> str:
    """The target of a ``GET <target> HTTP/x.y`` request line, checked
    as ``http.server`` checks it.  A two-word HTTP/0.9 line is refused
    as malformed."""
    request_line = line.decode("iso-8859-1").rstrip("\r\n")
    words = request_line.split()
    if len(words) != 3:
        raise _BadRequest(HTTPStatus.BAD_REQUEST,
                          f"Bad request syntax ({request_line!r})")
    method, target, version = words
    major, dot, minor = version[5:].partition(".")
    if not (version.startswith("HTTP/") and dot and major.isdigit()
            and minor.isdigit() and len(major) <= 10 and len(minor) <= 10):
        raise _BadRequest(HTTPStatus.BAD_REQUEST, f"Bad request version ({version!r})")
    if int(major) >= 2:
        raise _BadRequest(HTTPStatus.HTTP_VERSION_NOT_SUPPORTED,
                          f"Invalid HTTP version ({version[5:]})")
    if method != "GET":
        raise _BadRequest(HTTPStatus.NOT_IMPLEMENTED,
                          f"Unsupported method ({method!r})")
    # '//x' would read as a host name to urlsplit (and to clients)
    return "/" + target.lstrip("/") if target.startswith("//") else target


def _reply(code: int, payload: Any) -> bytes:
    body = encode_response(payload)
    head = (
        f"HTTP/1.0 {code} {HTTPStatus(code).phrase}\r\n"
        "Content-Type: application/json\r\n"
        f"Content-Length: {len(body)}\r\n"
        f"Date: {formatdate(usegmt=True)}\r\n\r\n"
    )
    return head.encode("latin-1") + body


class _Handler(socketserver.StreamRequestHandler):
    """One request per connection: request line in, one reply out."""

    timeout = _IDLE_TIMEOUT_S

    def handle(self) -> None:
        try:
            target = self._read_request()
        except TimeoutError:
            return  # silent past the bound: nothing to answer
        except _BadRequest as exc:
            reply = _reply(exc.code, {"error": str(exc)})
        else:
            if target is None:
                return  # closed or blank before a request: nothing to answer
            reply = self._answer(target)
        self.wfile.write(reply)

    def _read_request(self) -> str | None:
        """The request line's target, with the header lines read past;
        None when the connection closes or a blank line comes first."""
        line = self.rfile.readline(_MAX_LINE + 1)
        if not line.strip():
            return None
        if len(line) > _MAX_LINE:
            raise _BadRequest(HTTPStatus.REQUEST_URI_TOO_LONG, "Request line too long")
        target = _request_target(line)
        self._skip_headers()
        return target

    def _skip_headers(self) -> None:
        """Read the header lines up to the blank line, unparsed."""
        too_large = HTTPStatus.REQUEST_HEADER_FIELDS_TOO_LARGE
        for _ in range(_MAX_HEADERS + 1):
            line = self.rfile.readline(_MAX_LINE + 1)
            if len(line) > _MAX_LINE:
                raise _BadRequest(too_large, "Line too long")
            if line in (b"\r\n", b"\n", b""):
                return
        raise _BadRequest(too_large, "Too many headers")

    def _answer(self, target: str) -> bytes:
        url = urlsplit(target)
        params = {k: v[0] for k, v in parse_qs(url.query).items()}
        try:
            payload = self.server.api.handle(url.path, params)
        except KeyError as exc:
            return _reply(404, {"error": str(exc)})
        except ValueError as exc:
            return _reply(400, {"error": f"{type(exc).__name__}: {exc}"})
        except Exception as exc:  # noqa: BLE001 — boundary layer
            _log.exception("500 on %s", url.path)
            return _reply(500, {"error": f"{type(exc).__name__}: {exc}"})
        return _reply(200, payload)


class _Server(socketserver.TCPServer):
    """``TCPServer`` whose accepted connections go through a queue to
    reused worker threads.  ``_idle`` counts workers done with their
    connection and not yet handed another; a connection arriving when
    it is 0 starts a new worker, so the pool never outgrows the peak
    number of connections open at once.  ``_open`` holds the accepted
    connections not yet closed, queued or in a worker."""

    allow_reuse_address = True

    def __init__(self, api: OlapApi, address: tuple[str, int]):
        super().__init__(address, _Handler)
        self.api = api
        self._jobs: queue.SimpleQueue = queue.SimpleQueue()
        self._lock = threading.Lock()
        self._idle = 0
        self._workers: list[threading.Thread] = []
        self._open: set[socket.socket] = set()

    def process_request(self, request, client_address) -> None:
        with self._lock:
            self._open.add(request)
            if self._idle:
                self._idle -= 1
            else:
                worker = threading.Thread(
                    target=self._work, daemon=True,
                    name=f"olap-http-{self.server_address[1]}-{len(self._workers)}",
                )
                worker.start()
                self._workers.append(worker)
        self._jobs.put((request, client_address))

    def _work(self) -> None:
        while (job := self._jobs.get()) is not None:
            request, client_address = job
            try:
                self.finish_request(request, client_address)
            except Exception:  # noqa: BLE001 — as socketserver does per request
                self.handle_error(request, client_address)
            finally:
                with self._lock:
                    self._idle += 1
                    self._open.discard(request)
                self.shutdown_request(request)

    def server_close(self) -> None:
        """Close the listening socket and shut the reading side of every
        open connection, so a read still waiting on a client ends at
        once (a reply being written still goes out).  Then wake every
        worker with a stop marker and wait, 10 s in all, for each to
        finish its connection."""
        super().server_close()
        with self._lock:
            workers, self._workers = self._workers, []
            for conn in self._open:
                try:
                    conn.shutdown(socket.SHUT_RD)
                except OSError:
                    pass  # the client has already gone
        for _ in workers:
            self._jobs.put(None)
        deadline = time.monotonic() + 10
        for worker in workers:
            worker.join(timeout=max(0.0, deadline - time.monotonic()))


class OlapHttpServer:
    """Serve an ``OlapApi`` over HTTP.

    >>> srv = OlapHttpServer(api)          # port=0 → ephemeral
    >>> srv.start()
    >>> requests.get(f"http://127.0.0.1:{srv.port}/olap/fact_tables")
    >>> srv.stop()

    Context-manager form closes the socket and ends the workers on
    exit.  Unknown routes (``OlapApi.handle`` raises KeyError) map to
    404; malformed requests (ValueError — bad cut grammar, unknown
    having column, …) map to 400; anything else is an ENGINE failure
    and maps to 500, logged with its traceback on the
    ``opl_spark.server`` logger — always with the exception text,
    errors are reported, never swallowed into empty 200s.  The 400/500
    split matters operationally: a client must not retry a 400 (the
    request is wrong) but may retry a 500 (a transient task failure —
    e.g. an allocation retry under GC pressure — served mid-soak is a
    retryable condition, r12).  The transport itself answers 400 to a
    malformed request line, 414 to one over 64 KiB, 501 to a method
    other than GET, 505 to HTTP/2+, and 431 to a header line over
    64 KiB or more than 100 header lines."""

    def __init__(self, api: OlapApi, host: str = "127.0.0.1", port: int = 0):
        self._server = _Server(api, (host, port))
        self._thread: threading.Thread | None = None
        # a serve_forever loop runs or is starting: only then can
        # shutdown() return, because it waits for that loop to end
        self._looping = False

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "OlapHttpServer":
        self._looping = True
        self._thread = threading.Thread(
            target=self._server.serve_forever, name=f"olap-http-{self.port}",
            daemon=True,
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._looping:
            self._server.shutdown()
            self._looping = False
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def serve_forever(self) -> None:
        """Foreground serving for the CLI ``serve`` command."""
        self._looping = True
        self._server.serve_forever()

    def __enter__(self) -> "OlapHttpServer":
        return self.start()

    def __exit__(self, *exc: Any) -> None:
        self.stop()
