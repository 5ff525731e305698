"""Kept-alive client connections against the HTTP/1.1 mode of the mock:
no delayed-ACK stall on reused sockets, one connection per thread, a
server-closed idle socket reopened without the retry ladder, and replica
failover when a picked replica dies between two flushes of one task."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from clickhouse_hdfs_loader_spark.clickhouse.client import (
    get_client,
    with_retries,
)
from clickhouse_hdfs_loader_spark.clickhouse.writer import write_direct
from clickhouse_hdfs_loader_spark.config import LoaderConfig
from clickhouse_hdfs_loader_spark.operators.sharding import (
    ClusterTopology,
    ShardNode,
)

from .mock_clickhouse import MockClickHouse


def test_kept_connection_replies_without_delayed_ack_stall():
    """The mock writes headers and body in two sends without TCP_NODELAY;
    on a reused socket each reply would wait out the client's delayed-ACK
    timer (~40 ms) unless the client ACKs at once."""
    m = MockClickHouse(keep_alive=True)
    try:
        m.canned["SELECT 1"] = "1\n"
        cli = get_client(f"{m.host}:{m.port}")
        assert cli.query_rows("SELECT 1") == [["1"]]
        t0 = time.perf_counter()
        for _ in range(20):
            assert cli.query_rows("SELECT 1") == [["1"]]
        assert time.perf_counter() - t0 < 0.4
        assert m.connections == 1
    finally:
        m.stop()


@pytest.mark.parametrize("n_threads", [2, 8])
def test_cached_client_keeps_one_connection_per_thread(n_threads):
    """One cached client shared by several threads (8 > the cores a test
    run gets, with a short switch interval): each thread gets its own kept
    connection, and every statement lands exactly once."""
    m = MockClickHouse(keep_alive=True)
    interval = sys.getswitchinterval()
    try:
        sys.setswitchinterval(1e-5)
        cli = get_client(f"{m.host}:{m.port}")
        errors: list[BaseException] = []

        def send(tid: int) -> None:
            try:
                for i in range(50):
                    cli.execute(f"INSERT INTO db.t VALUES ({tid}, {i})")
            except Exception as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

        threads = [threading.Thread(target=send, args=(t,))
                   for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        expected = [f"INSERT INTO db.t VALUES ({t}, {i})"
                    for t in range(n_threads) for i in range(50)]
        assert sorted(m.applied) == sorted(expected)
        assert m.connections == n_threads
    finally:
        sys.setswitchinterval(interval)
        m.stop()


def test_idle_close_reopens_once_without_retry_ladder():
    """The server closes an idle kept connection: the next statement is
    sent again on a fresh connection before any retry-ladder sleep, and
    is applied exactly once."""
    m = MockClickHouse(keep_alive=True)
    try:
        cli = get_client(f"{m.host}:{m.port}")
        cli.execute("SELECT 'warm'")
        m.close_connections()
        t0 = time.perf_counter()
        # a ladder sleep here would last 100 s × 0.02 = 2 s
        with_retries(lambda: cli.execute("INSERT INTO db.t VALUES (1)"),
                     tier="direct", max_tries=3, backoff_scale=0.02)
        assert time.perf_counter() - t0 < 1.0
        assert m.applied.count("INSERT INTO db.t VALUES (1)") == 1
        assert m.connections == 2
    finally:
        m.stop()


def test_replicated_failover_when_picked_replica_dies_mid_task(spark):
    """A Replicated shard's picked replica dies between two flushes of one
    task: the failed insert drops the pick, the retry re-probes, and the
    later batches land on the surviving replica — no failed and no
    duplicated rows. Each replica is probed once."""
    first = MockClickHouse(keep_alive=True, stop_after_inserts=2)
    second = MockClickHouse(keep_alive=True)
    try:
        topo = ClusterTopology([ShardNode(1, 1, (
            f"{first.host}:{first.port}", f"{second.host}:{second.port}"))])
        cfg = LoaderConfig(batch_size=10, max_tries=3, num_reduce_tasks=1)
        df = spark.createDataFrame([(f"k{i}", i) for i in range(60)],
                                   ["k", "v"])
        stats = write_direct(df, "k", topo, cfg, database="db", table="t",
                             replicated=True, backoff_scale=0.001)
        assert stats == {"success_records": 60, "failed_records": 0}
        rows = [line for m in (first, second) for ins in m.applied_inserts()
                for line in ins.splitlines()[1:]]
        assert len(rows) == 60 and len(set(rows)) == 60
        assert len(first.applied_inserts()) == 2
        assert len(second.applied_inserts()) == 4
        assert first.pings == 1 and second.pings == 1
    finally:
        first.stop()
        second.stop()
