"""The ``loads`` workload: real ``run_load`` calls against the null sink.

Every iteration runs each load kind once: the CLI-default staged load of
lineitem, then the batch-100 direct load of events. Each load is checked
after its timer stops: every replica must hold exactly the Spark-free
expected multiset of wire lines for its shard. The traced run
additionally wraps the loader's public entry points at their call sites
(module attributes, restored after each load) and replays the row path
prefix by prefix into Spark's ``noop`` sink.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

import fixtures
from probes import Tracer, tree_cpu_s
from sink import NullSink, Target

DT = "2017-01-07"
DATABASE = "bench"
# the cumulative row-path prefixes replayed by the traced run, in order
PREFIXES = ("decode", "transform", "assign", "exchange", "serialize", "transfer")


@dataclass(frozen=True)
class LoadSpec:
    table: str
    rows: int
    parts: int
    key: str
    types: tuple[str, ...]
    exclude: tuple[int, ...]
    additional: tuple[str, ...]
    engine: str
    direct: bool
    batch_size: int | None      # None → the CLI default
    reduce_tasks_per_cpu: bool  # --num-reduce-tasks = nproc


SPECS = {
    # the CLI default job: two-phase staged, batch 150 000, non-Replicated
    # target so promote replays on the sibling replica through remote()
    "staged": LoadSpec(
        table="lineitem", rows=60_000, parts=8, key="l_orderkey",
        types=("UInt64", "UInt8", "Float64", "Float64", "Float64", "Float64",
               "String", "String", "Date", "String", "Date", "String"),
        exclude=(1, 2), additional=("batch9",), engine="MergeTree",
        direct=False, batch_size=None, reduce_tasks_per_cpu=False),
    # the per-flush path: batch 100, a liveness ping per replica per flush
    "direct": LoadSpec(
        table="events", rows=100_000, parts=4, key="user_id",
        types=("UInt64", "DateTime64(6)", "UInt64", "String", "Float64",
               "String", "Date"),
        exclude=(), additional=(),
        engine="ReplicatedMergeTree('/clickhouse/tables/{shard}/events', '{replica}')",
        direct=True, batch_size=100, reduce_tasks_per_cpu=True),
}


def build_fixture(name: str, work: str, seed: int,
                  sink: NullSink) -> fixtures.LoadFixture:
    """Write the seeded text input and register the target on ``sink``."""
    spec = SPECS[name]
    rng = np.random.default_rng([seed, 3])
    if spec.table == "lineitem":
        table = fixtures.with_comments(rng, fixtures.lineitem_table(
            rng, spec.rows, spec.rows // 4, spec.rows // 30, spec.rows // 600))
    else:
        table = fixtures.events_table(rng, spec.rows)
    rows = sink.topology_rows()
    slot_table = [i for i, (_n, w, _h) in enumerate(rows) for _ in range(w)]
    fx = fixtures.write_load_fixture(
        work, name, table, seed=seed, key=spec.key, target_types=list(spec.types),
        exclude=spec.exclude, additional=spec.additional, dt=DT,
        parts=spec.parts, null_share=0.02, shard_of_slot=slot_table,
        n_shards=len(rows), total_weight=len(slot_table))
    sink.add_target(Target(DATABASE, spec.table, f"{spec.table}_local",
                           spec.key, fx.columns, spec.engine))
    return fx


def cli_args(name: str, fx: fixtures.LoadFixture, sink: NullSink,
             nproc: int) -> list[str]:
    spec = SPECS[name]
    args = ["--connect", f"{sink.connect}/{DATABASE}", "--table", spec.table,
            "--export-dir", fx.export_dir, "--dt", DT,
            "--extract-hive-partitions", "true",
            "--direct", "true" if spec.direct else "false"]
    if spec.exclude:
        args += ["--exclude-fields", ",".join(map(str, spec.exclude))]
    if spec.additional:
        args += ["--additional-cols", ",".join(spec.additional)]
    if spec.batch_size is not None:
        args += ["--batch-size", str(spec.batch_size)]
    if spec.reduce_tasks_per_cpu:
        args += ["--num-reduce-tasks", str(nproc)]
    return args


def check_delivery(name: str, fx: fixtures.LoadFixture,
                   sink: NullSink) -> dict[str, float]:
    """Compare what reached the sink with the expected lines.

    Replicated targets count a shard's rows across its replicas (each
    batch lands on one replica, replication copies it); other targets
    must hold the full shard on every replica. ``failed`` counts rows
    missing, extra or wrong on the worst replica of each shard."""
    spec = SPECS[name]
    got = sink.delivered(DATABASE, f"{spec.table}_local")
    by_shard = {n: i for i, (n, _w, _h) in enumerate(sink.topology_rows())}
    failed = 0
    shard_rows, wire_bytes = [], 0
    for shard_num, replicas in enumerate(got, start=1):
        want = fx.expected[by_shard[shard_num]]
        if "Replicated" in spec.engine:
            replicas = [sum(replicas, Counter())]
        worst = 0
        for have in replicas:
            ok = sum((have & want).values())
            worst = max(worst, sum(want.values()) - ok + sum(have.values()) - ok)
        failed += worst
        shard_rows.append(sum(replicas[0].values()))
        wire_bytes += sum((len(line) + 1) * k for line, k in replicas[0].items())
    return {"failed": failed, "rows": sum(shard_rows),
            "max_over_mean": max(shard_rows) / statistics.mean(shard_rows),
            "wire_bytes": wire_bytes}


class Instrumented:
    """Wraps the loader's public functions at their call sites so every
    call becomes a span of load ``op``. Restores them on exit."""

    def __init__(self, tracer: Tracer, op: str):
        from clickhouse_hdfs_loader_spark import main
        from clickhouse_hdfs_loader_spark.clickhouse import lifecycle, staging
        from clickhouse_hdfs_loader_spark.sources import catalog
        self.patches = [
            (catalog, "fetch_create_table", "catalog.s"),
            (catalog, "fetch_topology", "catalog.s"),
            (catalog, "fetch_describe", "catalog.s"),
            (main, "read_input", "sources.read_input_s"),
            (main, "write_direct", "writer.write_s"),
            (staging, "stage_partitions", "staging.stage_s"),
            (staging, "promote", "staging.promote_s"),
            (lifecycle.LifecycleManager, "clean_temp_tables", "lifecycle.gc_s"),
        ]
        self.tracer, self.op = tracer, op
        self.saved: list = []

    def __enter__(self) -> Instrumented:
        for owner, attr, span in self.patches:
            fn = owner.__dict__[attr]
            self.saved.append((owner, attr, fn))
            setattr(owner, attr, self.tracer.wrap(fn, span, self.op))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, fn in reversed(self.saved):
            setattr(owner, attr, fn)


class Loads:
    """One fixture per load kind on a shared sink, and every load run so
    far: ``done[kind]`` lists per-load times, endpoint counts and check
    results in run order."""

    def __init__(self, spark, work: str, seed: int, sink: NullSink,
                 nproc: int, tracer: Tracer):
        self.spark, self.sink, self.tracer = spark, sink, tracer
        self.fx = {k: build_fixture(k, work, seed, sink) for k in SPECS}
        self.args = {k: cli_args(k, self.fx[k], sink, nproc) for k in SPECS}
        self.done: dict[str, list[dict]] = {k: [] for k in SPECS}

    def iteration(self) -> None:
        for kind in SPECS:
            self.done[kind].append(self.one(kind))

    def run_for(self, seconds: float, at_least: int) -> None:
        """Iterations until ``seconds`` have passed, at least ``at_least``."""
        deadline = time.perf_counter() + seconds
        for _ in range(at_least):
            self.iteration()
        while time.perf_counter() < deadline:
            self.iteration()

    def one(self, kind: str) -> dict:
        from clickhouse_hdfs_loader_spark.config import parse_args
        from clickhouse_hdfs_loader_spark.main import run_load

        fx, sc = self.fx[kind], self.spark.sparkContext
        op = f"{kind}{len(self.done[kind])}"
        sc.setJobGroup(op, op)
        self.sink.take_counts()
        raised = False
        traced = self.tracer.enabled
        with Instrumented(self.tracer, op) if traced else nullcontext(), \
                self.tracer.span("load_s", op):
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                run_load(parse_args(self.args[kind]), self.spark)
            except Exception:  # noqa: BLE001 — a failed load is a result
                traceback.print_exc()
                raised = True
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
        sc.setJobGroup("", "")
        counts = self.sink.take_counts()
        check = check_delivery(kind, fx, self.sink)
        if raised:
            check["failed"] = fx.rows
        jobs = len(sc.statusTracker().getJobIdsForGroup(op))
        print(f"[perfbench] {op} wall {wall:.3f} s cpu {cpu:.2f} s",
              file=sys.stderr, flush=True)
        return {"op": op, "wall": wall, "cpu": cpu, "counts": counts,
                "check": check, "jobs": jobs, "traced": traced}


def prefix_replays(spark, kind: str, args: list[str], tracer: Tracer) -> str:
    """Replay the cumulative row-path prefixes of load ``kind`` once, each
    timed into the ``noop`` sink as span ``prefix.<step>`` of op
    ``<kind>-replay``; returns the op. The prefixes are built from the same
    public functions and arguments ``run_load`` uses."""
    from clickhouse_hdfs_loader_spark.clickhouse.client import get_client
    from clickhouse_hdfs_loader_spark.clickhouse.lifecycle import resolve_distributed
    from clickhouse_hdfs_loader_spark.config import parse_args
    from clickhouse_hdfs_loader_spark.main import _parse_connect, read_input
    from clickhouse_hdfs_loader_spark.operators.sharding import (
        assign_shard, repartition_by_shard)
    from clickhouse_hdfs_loader_spark.operators.transform import (
        transform_pipeline, wire_line_col, wire_separator)
    from clickhouse_hdfs_loader_spark.sources import catalog

    config = parse_args(args)
    host, port, db = _parse_connect(config.connect)
    cli = get_client(host, port, database=db)
    dist = resolve_distributed(catalog.fetch_create_table(cli, db, config.table))
    topology = catalog.fetch_topology(cli, dist.cluster)
    describe = catalog.fetch_describe(cli, dist.local_database, dist.local_table)
    width = len(read_input(spark, config).columns)
    strings = {i for i, (_n, t) in enumerate(describe)
               if t in ("String", "Nullable(String)")}

    def decoded():
        return read_input(spark, config, num_fields=width)

    def transformed():
        return transform_pipeline(
            decoded(), exclude=config.exclude_fields,
            input_path=config.export_dir if config.extract_hive_partitions else "",
            additional=config.additional_cols, target_width=len(describe),
            null_string=config.null_string, null_non_string=config.null_non_string,
            escape_null=config.escape_null, target_string_positions=strings)

    def key_col(df):
        idx = catalog.sharding_key_index_or_none(describe, dist.sharding_key)
        return df.columns[idx if idx is not None else 0]

    def assigned():
        df = transformed()
        return assign_shard(df, key_col(df), topology)

    def exchanged():
        df = transformed()
        return repartition_by_shard(df, key_col(df), topology,
                                    config.tasks_per_shard(len(topology.nodes)))

    def serialized():
        routed = exchanged()
        cols = [c for c in routed.columns if c != "shard"]
        line = wire_line_col(routed, cols, wire_separator(config.clickhouse_format))
        return routed.select("shard", line.alias("line"))

    def noop(df_fn):
        return lambda: df_fn().write.format("noop").mode("overwrite").save()

    def drain(rows) -> None:
        # consume the rows the way the writers do, sending nothing
        for row in rows:
            row["shard"], row["line"]

    def transfer():
        serialized().foreachPartition(drain)

    steps = list(zip(PREFIXES, (noop(decoded), noop(transformed), noop(assigned),
                                noop(exchanged), noop(serialized), transfer)))
    op = f"{kind}-replay"
    for step, fn in steps:
        with tracer.span(f"prefix.{step}", op):
            fn()
    return op

