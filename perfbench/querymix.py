"""The query-mix workload: the 17 ``bench=True`` registry queries.

Every execution builds a fresh DataFrame and times ``collect()``. The
first pass runs in the fresh session, so it also does the warm-up work
``bench.py`` does before timing (worker spawn, the routing UDF's imports);
it is checked against the DuckDB oracles and belongs to set-up. Every
later execution must return the same result hash as the first.
"""

from __future__ import annotations

import hashlib
import math
import statistics
import sys
import time

from probes import Tracer, tree_cpu_s

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# slot → shard of the loader_throughput queries' topology, weights (2, 1, 1)
LOADER_TOPOLOGY_SLOTS = [0, 0, 1, 2]


def bench_specs():
    from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
    return [s for s in REGISTRY.values() if s.bench]


def _norm(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Column-name-sorted, row-sorted, normalized cells — the comparison
    the registry's oracle grading uses."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha1(repr((sorted(cols), canonical(cols, rows))).encode()).hexdigest()


def oracle_expectations(data_dir: str) -> dict[str, tuple[list[str], list[tuple]] | None]:
    """DuckDB oracle results per bench query; ``None`` where no oracle
    applies to seeded data. Golden-tagged oracles pin literals to another
    dataset: they are used only where the pinned part can be re-derived
    or left out."""
    import duckdb
    import pyarrow.parquet as pq

    from clickhouse_hdfs_loader_spark.functions.murmur_np import guava_shard_codes

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out: dict[str, tuple[list[str], list[tuple]] | None] = {}
    for spec in bench_specs():
        golden = "golden-sf0.01" in spec.tags
        if spec.oracle is None or (golden and not spec.name.startswith("loader_throughput")):
            out[spec.name] = None
            continue
        res = con.execute(spec.oracle)
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
        if golden:
            # rows/bytes_out are computed by the oracle; shard_sum is a
            # literal pinned to another dataset. Re-derive it Spark-free
            # for the Guava path; the xxhash64 path keeps rows/bytes_out.
            i = cols.index("shard_sum")
            if spec.name == "loader_throughput":
                keys = [str(k) for k in pq.read_table(
                    f"{data_dir}/lineitem.parquet",
                    columns=["l_orderkey"]).column(0).to_pylist()]
                codes = guava_shard_codes(keys) % len(LOADER_TOPOLOGY_SLOTS)
                shard_sum = sum(LOADER_TOPOLOGY_SLOTS[c] for c in codes.tolist())
                rows = [r[:i] + (shard_sum,) + r[i + 1:] for r in rows]
            else:
                cols = cols[:i] + cols[i + 1:]
                rows = [r[:i] + r[i + 1:] for r in rows]
        out[spec.name] = (cols, rows)
    con.close()
    return out


def _matches(cols: list[str], rows: list[tuple], want_cols: list[str],
             want_rows: list[tuple]) -> bool:
    """Oracle comparison; a ``shard_sum`` column the oracle could not
    compute is left out of it."""
    keep = [i for i, c in enumerate(cols)
            if c in want_cols or c != "shard_sum"]
    cols = [cols[i] for i in keep]
    return (sorted(cols) == sorted(want_cols)
            and canonical(cols, [tuple(r[i] for i in keep) for r in rows])
            == canonical(want_cols, want_rows))


class Mix:
    """The bench queries over ``data_dir``: ``cold_pass`` (oracle-checked),
    then ``run_for`` (timed passes)."""

    def __init__(self, spark, data_dir: str, tracer: Tracer):
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.specs = bench_specs()
        self.expected = oracle_expectations(data_dir)
        self.first_hash: dict[str, str] = {}
        self.samples: dict[str, list[float]] = {s.name: [] for s in self.specs}
        self.cpu_samples: dict[str, list[float]] = {s.name: [] for s in self.specs}
        self.spanned = 0.0  # time inside the tracer's spans minus the timed regions
        self.failed: set[str] = set()
        self.runs = self.failed_runs = self.passes = 0
        self.cold_s = 0.0

    def cold_pass(self) -> None:
        t0 = time.perf_counter()
        self._pass(0)
        self.cold_s = time.perf_counter() - t0

    def run_for(self, seconds: float) -> None:
        """Whole passes until ``seconds`` have passed, at least one."""
        deadline = time.perf_counter() + seconds
        while self.passes < 1 or time.perf_counter() < deadline:
            self.passes += 1
            self._pass(self.passes)

    def _pass(self, p: int) -> None:
        for spec in self.specs:
            self.runs += 1
            try:
                cpu0 = tree_cpu_s()
                t_span = time.perf_counter()
                with self.tracer.span(f"query.{spec.name}_s", f"pass{p}"):
                    t0 = time.perf_counter()
                    df = spec.fn(self.spark, self.data_dir)
                    rows = df.collect()
                    dt = time.perf_counter() - t0
                self.spanned += time.perf_counter() - t_span - dt
                cpu = tree_cpu_s() - cpu0
            except Exception as exc:  # noqa: BLE001 — a failing query is a result
                self._fail(spec.name)
                print(f"query {spec.name} raised {type(exc).__name__}: {exc}"[:400],
                      file=sys.stderr)
                continue
            cols = df.columns
            tuples = [tuple(r) for r in rows]
            h = result_hash(cols, tuples)
            if p == 0:
                self.first_hash[spec.name] = h
                want = self.expected[spec.name]
                if want is not None and not _matches(cols, tuples, *want):
                    self._fail(spec.name)
                    print(f"query {spec.name}: oracle mismatch", file=sys.stderr)
                continue
            if h != self.first_hash.get(spec.name):
                self._fail(spec.name)
            self.samples[spec.name].append(dt)
            self.cpu_samples[spec.name].append(cpu)

    def _fail(self, name: str) -> None:
        self.failed.add(name)
        self.failed_runs += 1

    def medians(self, cpu: bool = False) -> dict[str, float]:
        """Per-query median wall seconds, or CPU seconds with ``cpu``."""
        samples = self.cpu_samples if cpu else self.samples
        return {n: statistics.median(v) for n, v in samples.items() if v}
