"""Null-sink ClickHouse HTTP endpoint.

One listening port per replica host. The endpoint answers the catalog
statements a load issues at start (``SHOW CREATE TABLE``,
``system.clusters``, ``DESC``, the temp-table GC listing), accepts every
write with ``200``, and counts requests by kind, TCP connections, body
bytes and non-2xx replies. While a load runs it does no per-row work: an
``INSERT … FORMAT`` body is kept as raw bytes, and :meth:`NullSink.delivered`
rebuilds what each replica would hold only after the timer stops.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_INSERT_FORMAT = re.compile(r"INSERT INTO (\S+) FORMAT \w+$")
_PROMOTE = re.compile(r"INSERT INTO (\S+) SELECT \* FROM (\S+)$")
_REMOTE = re.compile(r"INSERT INTO (\S+) SELECT \* FROM remote\('([^']+)', (\S+?),")
_CREATE = re.compile(r"CREATE TABLE (?:IF NOT EXISTS )?(\S+)")
_DROP = re.compile(r"DROP TABLE IF EXISTS (\S+)")
_GC = re.compile(r"FROM system\.tables WHERE database = '(\w+)' AND name LIKE '(\w+)%'")

COUNTERS = ("requests", "inserts", "promotes", "creates", "drops", "catalog",
            "pings", "connections", "bytes", "http_errors")


@dataclass
class Target:
    """One Distributed table over a local table on ``cluster``."""
    database: str
    dist_table: str
    local_table: str
    key: str
    columns: list[tuple[str, str]]
    engine: str

    def local_ddl(self) -> str:
        cols = ", ".join(f"`{n}` {t}" for n, t in self.columns)
        return (f"CREATE TABLE {self.database}.{self.local_table} ({cols}) "
                f"ENGINE = {self.engine} ORDER BY tuple()")

    def dist_ddl(self, cluster: str) -> str:
        cols = ", ".join(f"`{n}` {t}" for n, t in self.columns)
        return (f"CREATE TABLE {self.database}.{self.dist_table} ({cols}) "
                f"ENGINE = Distributed({cluster}, {self.database}, "
                f"{self.local_table}, cityHash64({self.key}))")


@dataclass
class Host:
    """Per-replica state. ``bodies`` holds raw INSERT payloads per table."""
    addr: str
    bodies: dict[str, list[bytes]] = field(default_factory=dict)
    promotes: list[tuple[str, str]] = field(default_factory=list)
    remotes: list[tuple[str, str, str]] = field(default_factory=list)
    temps: set[str] = field(default_factory=set)


class NullSink:
    """``shards`` shards × ``replicas`` replicas, one port per replica.

    ``weights[i]`` is the ``system.clusters`` weight of shard ``i + 1``.
    The statement catalog is answered for every ``Target`` registered."""

    def __init__(self, shards: int = 2, replicas: int = 2,
                 weights: tuple[int, ...] = (2, 1), cluster: str = "bench"):
        self.cluster = cluster
        self.weights = weights
        self.targets: dict[str, Target] = {}
        self._lock = threading.Lock()
        self.counts: Counter = Counter()
        self.busy_s = 0.0
        self.servers: list[ThreadingHTTPServer] = []
        self.hosts: list[Host] = []
        for _ in range(shards * replicas):
            srv = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
            srv.daemon_threads = True
            self.servers.append(srv)
            self.hosts.append(Host(f"127.0.0.1:{srv.server_address[1]}"))
        self.shard_hosts = [self.hosts[s * replicas:(s + 1) * replicas]
                            for s in range(shards)]
        self._threads = [threading.Thread(target=s.serve_forever, daemon=True)
                         for s in self.servers]
        for t in self._threads:
            t.start()

    # --- catalog ----------------------------------------------------------
    @property
    def connect(self) -> str:
        return f"jdbc:clickhouse://{self.hosts[0].addr}"

    def add_target(self, target: Target) -> None:
        self.targets[target.dist_table] = target
        self.targets[target.local_table] = target

    def topology_rows(self) -> list[tuple[int, int, list[str]]]:
        """``system.clusters`` grouped rows in the order the loader asks
        for (``ORDER BY shard_num DESC``)."""
        rows = [(i + 1, self.weights[i], [h.addr for h in hosts])
                for i, hosts in enumerate(self.shard_hosts)]
        return sorted(rows, reverse=True)

    def _answer(self, host: Host, sql: str) -> tuple[int, str, str]:
        """(status, reply, kind) for the first line of a POST body."""
        if _INSERT_FORMAT.match(sql):
            return 200, "", "inserts"  # the handler keeps the payload
        m = _REMOTE.match(sql)
        if m:
            host.remotes.append((m.group(1), m.group(2), m.group(3)))
            return 200, "", "promotes"
        m = _PROMOTE.match(sql)
        if m:
            host.promotes.append((m.group(1), m.group(2)))
            return 200, "", "promotes"
        if sql.startswith("CREATE DATABASE"):
            return 200, "", "creates"
        m = _CREATE.match(sql)
        if m:
            host.temps.add(m.group(1))
            return 200, "", "creates"
        m = _DROP.match(sql)
        if m:
            host.temps.discard(m.group(1))
            return 200, "", "drops"
        m = _GC.search(sql)
        if m:
            db, prefix = m.groups()
            names = sorted(t for t in host.temps
                           if t.startswith(f"{db}.{prefix}"))
            return 200, "".join(n + "\n" for n in names), "catalog"
        if sql.startswith("SHOW CREATE TABLE"):
            name = sql.rsplit(".", 1)[-1].strip()
            t = self.targets.get(name)
            if t is None:
                return 404, f"Table {name} doesn't exist", "catalog"
            ddl = t.dist_ddl(self.cluster) if name == t.dist_table else t.local_ddl()
            return 200, ddl + "\n", "catalog"
        if "FROM system.clusters" in sql:
            return 200, "".join(
                f"{n}\t{w}\t[{','.join(repr(h) for h in hs)}]\n"
                for n, w, hs in self.topology_rows()), "catalog"
        if sql.startswith("DESC "):
            t = self.targets.get(sql.rsplit(".", 1)[-1].strip())
            if t is None:
                return 404, "no such table", "catalog"
            return 200, "".join(f"{n}\t{ty}\t\t\t\t\t\n" for n, ty in t.columns), "catalog"
        return 400, "unsupported statement", "other"

    def _handler(self):
        sink = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def setup(self):
                super().setup()
                with sink._lock:
                    sink.counts["connections"] += 1

            def _reply(self, status: int, body: bytes) -> None:
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                t0 = time.perf_counter()
                self._reply(200, b"Ok.\n")
                with sink._lock:
                    sink.counts["requests"] += 1
                    sink.counts["pings"] += 1
                    sink.busy_s += time.perf_counter() - t0

            def do_POST(self):
                t0 = time.perf_counter()
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                host = sink.hosts[sink.servers.index(self.server)]
                first, _, payload = body.partition(b"\n")
                first = first.decode("utf-8")
                with sink._lock:
                    status, reply, kind = sink._answer(host, first)
                    if kind == "inserts":
                        host.bodies.setdefault(first.split()[2], []).append(payload)
                    sink.counts["requests"] += 1
                    sink.counts["bytes"] += n
                    sink.counts[kind] += 1
                    if status >= 300:
                        sink.counts["http_errors"] += 1
                self._reply(status, reply.encode("utf-8"))
                with sink._lock:
                    sink.busy_s += time.perf_counter() - t0

        return Handler

    # --- accounting -------------------------------------------------------
    def take_counts(self) -> dict[str, float]:
        """Counters since the previous call, then reset."""
        with self._lock:
            out = {k: self.counts.get(k, 0) for k in COUNTERS}
            out["server_busy_s"] = self.busy_s
            self.counts.clear()
            self.busy_s = 0.0
        return out

    def delivered(self, database: str, table: str) -> list[list[Counter]]:
        """Wire lines each replica of each shard holds in
        ``database.table``: its own direct inserts, plus the temp tables
        promoted into it, plus ``remote()`` replays of a sibling's temp
        table. Clears the kept bodies."""
        tgt = f"{database}.{table}"
        by_addr = {h.addr: h for h in self.hosts}

        @functools.cache
        def lines(addr: str, name: str) -> Counter:
            c: Counter = Counter()
            for body in by_addr[addr].bodies.get(name, ()):
                c.update(body.decode("utf-8").split("\n"))
            return c

        with self._lock:
            out = []
            for hosts in self.shard_hosts:
                shard = []
                for h in hosts:
                    c = Counter(lines(h.addr, tgt))
                    for dest, temp in h.promotes:
                        if dest == tgt:
                            c.update(lines(h.addr, temp))
                    for dest, src, temp in h.remotes:
                        # remote('<host:http_port>:9000', …) names the
                        # sibling that staged the rows
                        src_addr = src.rsplit(":", 1)[0]
                        if dest == tgt and src_addr in by_addr:
                            c.update(lines(src_addr, temp))
                    shard.append(c)
                out.append(shard)
            for h in self.hosts:
                h.bodies.clear()
                h.promotes.clear()
                h.remotes.clear()
        return out

    def stop(self) -> None:
        for s in self.servers:
            s.shutdown()
            s.server_close()
        for t in self._threads:
            t.join(timeout=5)
