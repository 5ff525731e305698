"""Distributed ClickHouse writer: batching, shard routing, replica fan-out.

Reference parity (SURVEY §2.A W1/W2/W6 + P1/P4):
- W1 buffered batch INSERT — rows buffered per shard under an
  ``INSERT INTO … FORMAT …`` header, flushed at ``--batch-size`` or the
  1 048 576-row ClickHouse atomic-insert cap
  (AbstractClickhouseLoaderMapper.java:288-298, HostRecordsCache.java:6-17).
- W2 direct insert w/ replica fan-out — Replicated engine → insert into
  ONE alive replica (HTTP-200 probe); non-replicated → insert into EVERY
  replica of the shard (AbstractClickhouseLoaderMapper.java:309-359).
- W6 load accounting — Success/Failed record counts; job fails if any
  failed (:135-138; ClickhouseHdfsLoader.java:203-207).

Spark shape: ``repartition`` on the shard column co-locates each shard's
rows (operators/sharding.py); one ``mapInArrow`` task per partition then
cuts the Arrow batches per shard into exact ``batch_size`` chunks in row
order (HostRecordsCache), joins each payload from the Arrow string buffer
with no per-row Python, and hands it to a delivery policy
(:class:`DirectFanOut` or ``staging.StagedTemp``). Tasks return collected
rows. Liveness is probed once per (task, shard); kept connections bound
ClickHouse fan-in to tasks × hosts.

Speculative execution must stay off (session.py: spark.speculation=false,
mirroring ClickhouseHdfsLoader.java:194-197) or retried tasks double-insert
in direct mode; the staged mode (staging.py) is the exactly-once-ish path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..config import LoaderConfig
from ..operators.sharding import ClusterTopology, repartition_by_shard
from ..operators.transform import (format_header_lines, wire_line_col,
                                   wire_separator)
from .client import ClientSettings

FLUSH_CAP = 1_048_576  # ClickHouse atomic-insert bound (reference :294-295)
_NEWLINE = pa.scalar("\n", pa.large_string())


def insert_header(database: str, table: str, fmt: str) -> str:
    """``INSERT INTO db.table FORMAT TabSeparated`` — the sqlHeader of
    AbstractClickhouseLoaderMapper.java:548-553."""
    return f"INSERT INTO {database}.{table} FORMAT {fmt}"


def shard_chunks(batches, batch_size: int):
    """``(shard, lines)`` per flush over a task's ``(shard, line)`` Arrow
    batches: exact ``batch_size`` chunks per shard in row order (a
    remainder carries into the next batch), then each shard's remainder."""
    pending: dict[int, pa.Array] = {}
    for batch in batches:
        shards = batch.column(0).to_numpy(zero_copy_only=False)
        for shard in np.unique(shards).tolist():
            part = batch.column(1).take(np.flatnonzero(shards == shard))
            if shard in pending:
                part = pa.concat_arrays([pending.pop(shard), part])
            cut = len(part) - len(part) % batch_size
            for start in range(0, cut, batch_size):
                yield shard, part.slice(start, batch_size)
            if cut < len(part):
                pending[shard] = part.slice(cut)
    yield from sorted(pending.items())


class Replicas:
    """A write task's replica pick per shard, probed once and kept."""

    def __init__(self, hosts_per_shard, conn: ClientSettings):
        self.hosts_per_shard, self.conn = hosts_per_shard, conn
        self.picked: dict[int, str] = {}

    def insert_picked(self, shard: int, body: bytes, tier: str,
                      prepare=None) -> str:
        """Insert into the shard's first alive replica (all down → the
        first) under the ``tier`` ladder, after ``prepare(host)``. A failed
        attempt drops the pick so the next one probes; returns the host."""
        def attempt() -> str:
            if shard not in self.picked:
                hosts = self.hosts_per_shard[shard]
                self.picked[shard] = next(
                    (h for h in hosts if self.conn.client(h).ping()), hosts[0])
            host = self.picked[shard]
            try:
                if prepare is not None:
                    prepare(host)
                self.conn.client(host).execute(body)
            except Exception:
                del self.picked[shard]
                raise
            return host
        return self.conn.retry(attempt, tier)


class DirectFanOut:
    """W2 delivery into the shard-local target table."""
    schema = "success_records long, failed_records long"

    def __init__(self, header: str, replicated: bool):
        self.header, self.replicated = header, replicated

    def start(self) -> None:
        self.ok = self.failed = 0

    def deliver(self, replicas: Replicas, shard: int, body: bytes,
                rows: int) -> None:
        try:
            if self.replicated:
                replicas.insert_picked(shard, body, "direct")
            else:
                for host in replicas.hosts_per_shard[shard]:
                    replicas.conn.run(host, body, "direct")
            self.ok += rows
        except Exception:
            # count, do NOT re-raise: a retried task would re-insert every
            # delivered batch. The reference counts Failed records (:350-357)
            # and fails the JOB from the driver verdict (write_direct)
            self.failed += rows

    def result(self) -> list[dict]:
        return [{"success_records": self.ok, "failed_records": self.failed}]


def write_partitions(df: DataFrame, key_col: str, topology: ClusterTopology,
                     config: LoaderConfig, policy, *,
                     database: str = "default",
                     backoff_scale: float = 1.0) -> list:
    """Route → serialize → per task, INSERT bodies of :func:`shard_chunks`
    delivered through ``policy``; returns the collected result rows."""
    fmt = config.clickhouse_format
    routed = repartition_by_shard(df, key_col, topology,
                                  config.tasks_per_shard(len(topology.nodes)))
    data_cols = [c for c in routed.columns if c != "shard"]
    line = wire_line_col(routed, data_cols, wire_separator(fmt))
    # WithNames[AndTypes] formats: every INSERT payload leads with the
    # names (and types) rows
    prefix = "".join(l + "\n" for l in
                     format_header_lines(fmt, routed, data_cols)).encode()
    hosts_per_shard = [n.hosts for n in topology.nodes]
    conn = ClientSettings(config.clickhouse_http_port, config.username,
                          config.password, database, config.max_tries,
                          backoff_scale)
    batch_size = min(config.batch_size, FLUSH_CAP)

    def write_task(batches):
        policy.start()
        replicas = Replicas(hosts_per_shard, conn)
        # INSERT body: ``INSERT … FORMAT X``, the format's header rows,
        # then the data rows (AbstractClickhouseLoaderMapper.java:288-298)
        lead = (policy.header + "\n").encode() + prefix
        for shard, lines in shard_chunks(batches, batch_size):
            # one list cell over the chunk → one "\n"-joined value
            cell = pa.ListArray.from_arrays(
                pa.array([0, len(lines)], pa.int32()),
                lines.cast(pa.large_string()))
            joined = pc.binary_join(cell, _NEWLINE)[0].as_buffer()
            policy.deliver(replicas, shard, b"".join((lead, joined)),
                           len(lines))
        rows = policy.result()
        if rows:
            yield pa.RecordBatch.from_pylist(rows)

    return (routed.select("shard", line.alias("line"))
            .mapInArrow(write_task, policy.schema).collect())


def write_direct(df: DataFrame, key_col: str, topology: ClusterTopology,
                 config: LoaderConfig, *, database: str, table: str,
                 replicated: bool = False, backoff_scale: float = 1.0) -> dict:
    """Direct-mode load (``--direct true``): buffered batch inserts into
    the shard-local tables. Returns the W6 accounting counters."""
    policy = DirectFanOut(
        insert_header(database, table, config.clickhouse_format), replicated)
    rows = write_partitions(df, key_col, topology, config, policy,
                            database=database, backoff_scale=backoff_scale)
    stats = {k: sum(r[k] for r in rows)
             for k in ("success_records", "failed_records")}
    if stats["failed_records"] > 0:
        # job verdict (ClickhouseHdfsLoader.java:203-207)
        raise RuntimeError(f"load failed: {stats}")
    return stats
