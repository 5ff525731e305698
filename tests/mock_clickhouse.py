"""In-process mock ClickHouse HTTP endpoint for writer/staging/lifecycle
tests: records every statement it receives, answers canned queries, and
can simulate failures. One port == one 'host'.

``keep_alive=True`` speaks HTTP/1.1 and keeps connections open between
requests (the default HTTP/1.0 mode closes after every reply), so tests
can exercise the client's kept connections. :meth:`close_connections`
then simulates a server closing idle connections, and :meth:`stop` also
closes the open ones, like a host that dies."""

from __future__ import annotations

import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class MockClickHouse:
    def __init__(self, fail_first: int = 0, fail_substring: str | None = None,
                 keep_alive: bool = False,
                 stop_after_inserts: int | None = None):
        self.statements: list[str] = []
        self.applied: list[str] = []      # statements answered 200 (a 500
        #                                   simulates fail-before-apply)
        self.auth_users: list[str] = []   # ?user= of every POST, in order
        self.pings = 0                    # GET / probes answered
        self.connections = 0              # TCP connections accepted
        self.fail_first = fail_first
        self.fail_substring = fail_substring  # only fail matching stmts
        self._failures = 0
        self.stop_after_inserts = stop_after_inserts  # die after the Nth
        #                                               applied INSERT
        self.canned: dict[str, str] = {}  # substring → TSV response
        self._lock = threading.Lock()
        self._open: set[socket.socket] = set()
        self._stopped = False

        mock = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1" if keep_alive else "HTTP/1.0"

            def log_message(self, *a):  # silence
                pass

            def setup(self):
                super().setup()
                with mock._lock:
                    mock.connections += 1
                    mock._open.add(self.connection)

            def finish(self):
                with mock._lock:
                    mock._open.discard(self.connection)
                super().finish()

            def _reply(self, status: int, body: bytes) -> None:
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _dead(self) -> bool:
                # a stopped host answers nothing, not even a request that
                # was already queued on an open connection
                if mock._stopped:
                    self.close_connection = True
                return mock._stopped

            def do_GET(self):
                if self._dead():
                    return
                with mock._lock:
                    mock.pings += 1
                self._reply(200, b"Ok.\n")

            def do_POST(self):
                if self._dead():
                    return
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8")
                qs = parse_qs(urlparse(self.path).query)
                with mock._lock:
                    mock.statements.append(body)
                    mock.auth_users.append(qs.get("user", [""])[0])
                    if ((mock.fail_substring is None
                         or mock.fail_substring in body)
                            and mock._failures < mock.fail_first):
                        mock._failures += 1
                        fail = True
                    else:
                        fail = False
                        mock.applied.append(body)
                if fail:
                    self._reply(500, b"simulated failure")
                    return
                reply = ""
                for key, resp in mock.canned.items():
                    if key in body:
                        reply = resp
                        break
                self._reply(200, reply.encode("utf-8"))
                if (mock.stop_after_inserts is not None
                        and len(mock.applied_inserts())
                        >= mock.stop_after_inserts):
                    # the reply is out; the host dies before the next one
                    mock.stop()

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)
        self.thread.start()

    @property
    def host(self) -> str:
        return "127.0.0.1"

    def inserts(self) -> list[str]:
        return [s for s in self.statements if s.upper().startswith("INSERT")]

    def applied_inserts(self) -> list[str]:
        return [s for s in self.applied if s.upper().startswith("INSERT")]

    def close_connections(self) -> None:
        """Close every open connection from the server side, as a server
        does with idle keep-alive connections."""
        with self._lock:
            socks = list(self._open)
        for s in socks:
            try:
                s.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass

    def stop(self) -> None:
        if self._stopped:
            return
        self._stopped = True
        self.server.shutdown()
        self.server.server_close()
        self.close_connections()
