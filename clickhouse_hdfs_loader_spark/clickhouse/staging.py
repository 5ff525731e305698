"""Two-phase staged load (``--direct false``) — reference W3/W4/D1.

Protocol (SURVEY §3.2-3.3):
1. per-task temp table ``temp.<table>_<dtYYYYMMDD>_<epoch>_p<NNNNNN>_A``
   on the picked replica of each shard, the target DDL rewritten to
   ``ENGINE = StripeLog`` (ClickhouseHdfsLoader.java:114-118 prefix;
   AbstractClickhouseLoaderMapper.java:568-591, :631-651);
2. executors batch-insert into their temp table (writer.py's Arrow
   writer, :class:`StagedTemp` policy) and return ``(host, temp)`` rows;
3. after the Spark action completes, the DRIVER promotes each
   (host, temp) with ``INSERT INTO target SELECT * FROM temp.x``
   (ClickhouseLoaderReducer.java:218-260) — no reducer stage needed,
   Spark's driver already knows every (partition → shard → host) pair;
4. non-replicated targets replay on sibling replicas via
   ``INSERT INTO target SELECT * FROM remote('h:9000', temp, u, p)``
   (ClickhouseLoaderReducer.java:231-254);
5. temp tables dropped on success AND on abort — the
   CleanupTempTableOutputCommitter.java:62-87 / ClickhouseHdfsLoader.java:
   496-524 GC, here a ``try/finally`` around the action.

Exactly-once posture: temp-table names are attempt-scoped (partitionId +
attemptNumber), so a retried task writes a fresh table and an aborted
attempt's table is never promoted — the guarantee level the reference
reaches by disabling speculation, without distributed coordination.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..config import LoaderConfig
from ..operators.sharding import ClusterTopology
from .client import ClientSettings
from .writer import Replicas, insert_header, write_partitions

TEMP_DATABASE = "temp"


def temp_table_prefix(table: str, dt: str) -> str:
    """``<tbl>_<dtYYYYMMDD>_<epochSeconds>_`` (ClickhouseHdfsLoader.java:
    114-118)."""
    return f"{table}_{dt.replace('-', '')}_{int(time.time())}_"


def temp_table_name(prefix: str, partition_id: int, attempt: int) -> str:
    """Attempt-scoped analogue of the MR task id ``m_NNNNNN_A``."""
    return f"{prefix}p{partition_id:06d}_{attempt}"


def rewrite_ddl_to_striplog(create_ddl: str, temp_db: str, temp_table: str) -> str:
    """Rewrite ``SHOW CREATE TABLE`` output to a StripeLog temp table —
    same transformation as AbstractClickhouseLoaderMapper.java:568-591:
    new name, ENGINE → StripeLog, engine parameters dropped."""
    ddl = re.sub(r"CREATE TABLE\s+\S+", f"CREATE TABLE {temp_db}.{temp_table}",
                 create_ddl, count=1, flags=re.IGNORECASE)
    ddl = re.sub(r"ENGINE\s*=\s*\w+(\([^)]*\))?.*$", "ENGINE = StripeLog",
                 ddl, count=1, flags=re.IGNORECASE | re.DOTALL)
    return ddl


@dataclass
class StagedLoadPlan:
    """Driver-side bookkeeping of what must be promoted where."""
    target_database: str
    target_table: str
    temp_tables: list[tuple[str, str]] = field(default_factory=list)  # (host, temp)


class StagedTemp:
    """W3 delivery into the task's temp table on the picked replica (a
    down first replica falls through, getANodeAddress :318-326), created
    on first use. Failures raise; the retried attempt writes fresh tables."""
    schema = "host string, temp string"

    def __init__(self, prefix: str, fmt: str, create_ddl: str):
        self.prefix, self.fmt, self.create_ddl = prefix, fmt, create_ddl

    def start(self) -> None:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        self.name = temp_table_name(self.prefix, ctx.partitionId(),
                                    ctx.attemptNumber())
        self.header = insert_header(TEMP_DATABASE, self.name, self.fmt)
        self.ddl = rewrite_ddl_to_striplog(self.create_ddl, TEMP_DATABASE,
                                           self.name)
        self.created: set[str] = set()
        self.loaded: set[str] = set()

    def deliver(self, replicas: Replicas, shard: int, body: bytes,
                rows: int) -> None:
        def ensure(host: str) -> None:
            if host not in self.created:
                replicas.conn.run(
                    host, f"CREATE DATABASE IF NOT EXISTS {TEMP_DATABASE}")
                replicas.conn.run(host, self.ddl)
                self.created.add(host)

        self.loaded.add(replicas.insert_picked(shard, body, "staged", ensure))

    def result(self) -> list[dict]:
        # mapper output of W3: ("taskId@host", temp_table) pairs
        return [{"host": h, "temp": f"{TEMP_DATABASE}.{self.name}"}
                for h in sorted(self.loaded)]


def stage_partitions(df: DataFrame, key_col: str, topology: ClusterTopology,
                     config: LoaderConfig, *, create_ddl: str,
                     target_database: str, target_table: str, dt: str,
                     backoff_scale: float = 1.0) -> StagedLoadPlan:
    """Phase 1+2: every write task creates and fills its temp tables
    (:class:`StagedTemp`). Returns the promote plan."""
    policy = StagedTemp(temp_table_prefix(target_table, dt or "00000000"),
                        config.clickhouse_format, create_ddl)
    rows = write_partitions(df, key_col, topology, config, policy,
                            backoff_scale=backoff_scale)
    return StagedLoadPlan(target_database, target_table,
                          sorted({(r["host"], r["temp"]) for r in rows}))


def promote(plan: StagedLoadPlan, topology: ClusterTopology,
            config: LoaderConfig, *, replicated: bool = False,
            backoff_scale: float = 1.0) -> None:
    """Phase 3+4: driver-side ``INSERT INTO target SELECT * FROM temp`` per
    (host, temp) pair, replica replay via remote() for non-replicated
    engines, then drop (ClickhouseLoaderReducer.java:218-260)."""
    tgt = f"{plan.target_database}.{plan.target_table}"
    user, password = config.username, config.password
    conn = ClientSettings(config.clickhouse_http_port, user, password,
                          max_tries=config.max_tries,
                          backoff_scale=backoff_scale)
    try:
        for host, temp in plan.temp_tables:
            conn.run(host, f"INSERT INTO {tgt} SELECT * FROM {temp}",
                     "promote")
            for sib in () if replicated else _replicas_of(host, topology):
                conn.run(sib, f"INSERT INTO {tgt} SELECT * FROM "
                         f"remote('{host}:9000', {temp}, '{user}', "
                         f"'{password}')", "promote")
    finally:
        cleanup(plan, topology, config)


def _replicas_of(host: str, topology: ClusterTopology) -> tuple[str, ...]:
    for n in topology.nodes:
        if host in n.hosts:
            return tuple(h for h in n.hosts if h != host)
    return ()


def cleanup(plan: StagedLoadPlan, topology: ClusterTopology,
            config: LoaderConfig) -> None:
    """D1 temp-table GC — drop every staged table on its host(s); errors
    swallowed per host like the reference's best-effort cleaner
    (ClickhouseHdfsLoader.java:496-524)."""
    conn = ClientSettings(config.clickhouse_http_port, config.username,
                          config.password)
    for host, temp in plan.temp_tables:
        for h in (host, *_replicas_of(host, topology)):
            try:
                conn.client(h).execute(f"DROP TABLE IF EXISTS {temp}")
            except Exception:  # noqa: BLE001 — best-effort GC
                pass


def staged_load(df: DataFrame, key_col: str, topology: ClusterTopology,
                config: LoaderConfig, *, create_ddl: str,
                target_database: str, target_table: str, dt: str = "",
                replicated: bool = False, backoff_scale: float = 1.0) -> StagedLoadPlan:
    """Full two-phase load: stage → promote (+replica replay) → GC."""
    plan = stage_partitions(df, key_col, topology, config,
                            create_ddl=create_ddl,
                            target_database=target_database,
                            target_table=target_table, dt=dt,
                            backoff_scale=backoff_scale)
    promote(plan, topology, config, replicated=replicated,
            backoff_scale=backoff_scale)
    return plan
