"""ClickHouse HTTP client with caching and tiered retries.

Reference parity:
- D5 connection cache — singleton client map keyed by
  ``user:pass@host:port/db`` (ClickhouseClientHolder.java:17-69). Here a
  module-level cache; on executors that means one client per (key,
  python-worker) — the Spark analogue of the reference's per-JVM cache —
  and each client keeps one HTTP/1.1 connection per thread open.
- W5 retry tiers — direct insert ``(2^n)·100s``
  (AbstractClickhouseLoaderMapper.java:344), staged insert ``(n+1)·10s``
  (:403), promote ``(n+1)·30s`` (ClickhouseLoaderReducer.java:175), DDL
  ``(n+1)·1s`` (AbstractClickhouseLoaderMapper.java:645), all bounded by
  ``--max-tries`` (MainCliParameterParser.java:47-48). ``backoff_scale``
  exists so tests don't sleep for minutes.
- alive probe — HTTP 200 on ``/`` (AbstractClickhouseLoaderMapper.java:
  678-699).

Plain stdlib ``http.client``: no JDBC jar dependency, and the HTTP
interface is what the reference's insert path ultimately talks to.
"""

from __future__ import annotations

import http.client
import socket
import threading
import time
import urllib.parse
from dataclasses import dataclass, field


class ClickHouseError(RuntimeError):
    pass


# W5 backoff tiers (seconds, attempt n counts from 0)
BACKOFF = {
    "direct": lambda n: (2 ** n) * 100.0,
    "staged": lambda n: (n + 1) * 10.0,
    "promote": lambda n: (n + 1) * 30.0,
    "ddl": lambda n: (n + 1) * 1.0,
}


def with_retries(fn, tier: str = "ddl", max_tries: int = 3,
                 backoff_scale: float = 1.0):
    """Run ``fn`` with the reference's retry ladder for the given tier."""
    last: Exception | None = None
    for n in range(max_tries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — retry ladder mirrors reference
            last = exc
            if n + 1 < max_tries:
                time.sleep(BACKOFF[tier](n) * backoff_scale)
    raise ClickHouseError(f"failed after {max_tries} tries: {last}") from last


@dataclass(eq=False)
class ClickHouseClient:
    host: str
    http_port: int = 8123
    user: str = "default"
    password: str = ""
    database: str = "default"
    timeout: float = 60.0
    _local: threading.local = field(default_factory=threading.local,
                                    init=False, repr=False)  # .conn

    def _request(self, method: str, path: str, body: bytes | None,
                 timeout: float) -> tuple[int, bytes]:
        """One request on this thread's kept connection; a kept socket the
        peer closed while idle is reopened once, before any retry ladder."""
        if not hasattr(self._local, "conn"):
            self._local.conn = http.client.HTTPConnection(self.host,
                                                          self.http_port)
        conn = self._local.conn
        while True:
            kept, resp = conn.sock is not None, None
            conn.timeout = timeout  # for a (re)connect inside request()
            try:
                if kept:
                    conn.sock.settimeout(timeout)
                conn.request(method, path, body=body)
                # ACK at once: a server sending headers and body apart
                # without TCP_NODELAY holds the body until the ACK
                if hasattr(socket, "TCP_QUICKACK"):
                    conn.sock.setsockopt(socket.IPPROTO_TCP,
                                         socket.TCP_QUICKACK, 1)
                resp = conn.getresponse()
                return resp.status, resp.read()
            except BaseException as exc:
                conn.close()
                if not (kept and resp is None
                        and isinstance(exc, ConnectionError)):
                    raise

    def ping(self) -> bool:
        """Replica-alive probe: GET / must return HTTP 200 ('Ok.')
        (AbstractClickhouseLoaderMapper.java:678-699)."""
        try:
            return self._request("GET", "/", None, 5.0)[0] == 200
        except (http.client.HTTPException, OSError):
            return False

    def execute(self, sql: str | bytes) -> str:
        """POST a statement; returns the raw response body (TabSeparated)."""
        body = sql.encode("utf-8") if isinstance(sql, str) else sql
        q = {"user": self.user, "database": self.database}
        if self.password:
            q["password"] = self.password
        try:
            status, reply = self._request(
                "POST", "/?" + urllib.parse.urlencode(q), body, self.timeout)
        except (http.client.HTTPException, OSError) as e:
            raise ClickHouseError(f"{self.host}:{self.http_port}: {e}") from e
        text = reply.decode("utf-8", "replace")
        if status >= 300:
            raise ClickHouseError(
                f"{self.host}:{self.http_port} HTTP {status}: {text[:500]}")
        return text

    def query_rows(self, sql: str) -> list[list[str]]:
        body = self.execute(sql)
        return [line.split("\t") for line in body.splitlines() if line != ""]


_CACHE: dict[str, ClickHouseClient] = {}


def get_client(host: str, http_port: int = 8123, user: str = "default",
               password: str = "", database: str = "default") -> ClickHouseClient:
    """D5 — process-wide client cache (ClickhouseClientHolder.java:21-68).

    ``host`` may carry an explicit port (``"h1:8124"``) which overrides
    ``http_port`` — lets topologies address per-host HTTP endpoints.
    """
    if ":" in host:
        host, port_s = host.rsplit(":", 1)
        http_port = int(port_s)
    # cache key: same shape as ClickhouseClientHolder.java:33
    key = f"{user}:{password}@{host}:{http_port}/{database}"
    return _CACHE.get(key) or _CACHE.setdefault(
        key, ClickHouseClient(host, http_port, user, password, database))


@dataclass(frozen=True)
class ClientSettings:
    """Connection and retry settings shared by every host of one job."""
    http_port: int = 8123
    user: str = "default"
    password: str = ""
    database: str = "default"
    max_tries: int = 3
    backoff_scale: float = 1.0

    def client(self, host: str) -> ClickHouseClient:
        return get_client(host, self.http_port, self.user, self.password,
                          self.database)

    def retry(self, fn, tier: str = "ddl"):
        return with_retries(fn, tier, self.max_tries, self.backoff_scale)

    def run(self, host: str, sql: str | bytes, tier: str = "ddl") -> str:
        """``sql`` on ``host`` under the ``tier`` retry ladder."""
        cli = self.client(host)
        return self.retry(lambda: cli.execute(sql), tier)
