"""Repository benchmark: real loads into a null-sink ClickHouse, and the
17-query bench mix.

    python3 perfbench/run.py --workload loads --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
spans to ``perfbench/.work/spans-<workload>-<seed>.json``. Progress, the
host probe and every metric of the run go to stderr. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("loads", "query_mix")
QUERY_SCALE = 1.0  # 60 000 lineitem rows, the registry's grading size
# set-up ends after the cold load of each kind
SETUP_ITERATIONS = 1
LOAD_KINDS = ("staged", "direct")

END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
# the registry's bench=True queries, fixed here because BENCHMARK.json lists
# one per-layer metric per query
BENCH_QUERIES = (
    "transform_chain", "loader_throughput", "loader_throughput_jvm",
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "window_topk_per_customer", "sessionize", "events_hourly_windows",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "similarity_topk", "text_token_counts", "asof_join_events",
    "corpus_prep_pipeline", "similarity_topk_blas")
# per-layer metrics of one load kind, printed as ``<kind>.<name>``
LOAD_LAYER = {
    "warm_s": ("s", "lower"),
    "cold_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "load_rows_per_s": ("rows/s", "higher"),
    "load_failed_share": ("ratio", "lower"),
    "sources.decode_s": ("s", "lower"),
    "sources.read_input_s": ("s", "lower"),
    "catalog.s": ("s", "lower"),
    "transform.self_s": ("s", "lower"),
    "sharding.assign_self_s": ("s", "lower"),
    "sharding.exchange_self_s": ("s", "lower"),
    "sharding.rows_max_over_mean": ("ratio", "lower"),
    "wire.serialize_self_s": ("s", "lower"),
    "wire.bytes_per_row": ("bytes", "lower"),
    "writer.transfer_self_s": ("s", "lower"),
    "writer.deliver_self_s": ("s", "lower"),
    "lifecycle.gc_s": ("s", "lower"),
    "client.requests": ("count", "lower"),
    "client.inserts": ("count", "lower"),
    "client.pings": ("count", "lower"),
    "client.connections": ("count", "lower"),
    "client.bytes": ("bytes", "lower"),
    "client.rows_per_insert": ("rows", "higher"),
    "client.http_errors": ("count", "lower"),
    "client.server_busy_s": ("s", "lower"),
    "spark.jobs_per_load": ("count", "lower"),
}
STAGED_LAYER = {"staging.stage_s": ("s", "lower"), "staging.promote_s": ("s", "lower")}
# every per-layer metric, printed by every traced run (0 where the layer
# does not run in that workload): name → (unit, better)
PER_LAYER = {
    "samples": ("count", "higher"),
    "warm_s": ("s", "lower"),
    "cold_s": ("s", "lower"),
    **{f"staged.{k}": v for k, v in {**LOAD_LAYER, **STAGED_LAYER}.items()},
    **{f"direct.{k}": v for k, v in LOAD_LAYER.items()},
    "query_failed_share": ("ratio", "lower"),
    "query.oracle_checked": ("count", "higher"),
    "query.endpoint_requests": ("count", "lower"),
    **{f"query.{q}_s": ("s", "lower") for q in BENCH_QUERIES},
    "trace.overhead_s": ("s", "lower"),
    "process.rss_driver_mb": ("MB", "lower"),
    "process.rss_jvm_mb": ("MB", "lower"),
    "process.rss_workers_mb": ("MB", "lower"),
    "host.loadavg_before": ("load", "lower"),
    "host.loadavg_after": ("load", "lower"),
    "host.steal_share": ("ratio", "lower"),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path, nproc: int) -> None:
    """Environment the session, its JVM and its Python workers inherit:
    the package on the workers' path, every scratch dir under ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    sys.path.insert(1, str(ROOT))


def start_session(work: Path):
    from clickhouse_hdfs_loader_spark.session import get_spark
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def measure(workload: str, seed: int, seconds: float, trace: bool,
            work: Path, nproc: int) -> dict:
    """Set up (session, inputs, endpoint and the cold operations, which
    warm the session up), then measure for ``seconds``."""
    from probes import RssSampler, Tracer, host_delta, host_probe
    from sink import NullSink

    tracer = Tracer(enabled=trace)
    host0 = host_probe()
    spark = sink = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work)
            spark.range(1).collect()  # JVM-side job machinery
            sink = NullSink()
            if workload == "query_mix":
                import fixtures
                import querymix
                data = str(work / "tables")
                fixtures.write_tables(data, seed, QUERY_SCALE)
                mix = querymix.Mix(spark, data, tracer)
                mix.cold_pass()
            else:
                import loads
                job = loads.Loads(spark, str(work / "input"), seed, sink, nproc, tracer)
                for _ in range(SETUP_ITERATIONS):
                    job.iteration()
            setup_s = time.perf_counter() - t0
            log(f"setup {setup_s:.2f} s")
            sink.take_counts()
            if workload == "query_mix":
                mix.run_for(seconds)
                out = mix_metrics(mix)
                # nothing in the mix may reach the endpoint
                out["per_layer"]["query.endpoint_requests"] = sink.take_counts()["requests"]
            else:
                job.run_for(seconds, at_least=3)
                if trace:
                    # one more iteration with the wrappers removed: the
                    # traced minus untraced difference is the tracing overhead
                    tracer.enabled = False
                    job.iteration()
                    tracer.enabled = True
                out = load_metrics(job, trace)
                if trace:
                    for kind in LOAD_KINDS:
                        out["per_layer"].update(layer_replays(job, kind, tracer))
    finally:
        if sink is not None:
            sink.stop()
        if spark is not None:
            stop_session(spark)
    out["e2e"]["setup_s"] = setup_s
    out["e2e"]["peak_rss_mb"] = rss.peak["total"]
    layer = out["per_layer"]
    layer.update(host_delta(host0, host_probe()))
    for part in ("driver", "jvm", "workers"):
        layer[f"process.rss_{part}_mb"] = rss.peak[part]
    if trace:
        tracer.dump(str(HERE / ".work" / f"spans-{workload}-{seed}.json"))
    return out


def load_metrics(job, trace: bool) -> dict:
    """Per-kind figures over the timed loads; ``cpu_s`` and ``warm_s`` are
    the sums of the two kinds' medians."""
    per_layer: dict[str, float] = {}
    attempted = failed = 0
    cpu_total = warm_total = cold_total = overhead = 0.0
    for kind in LOAD_KINDS:
        fx, everything = job.fx[kind], job.done[kind]
        timed = everything[SETUP_ITERATIONS:]
        warm = [ld for ld in timed if ld["traced"] == trace]
        wall = statistics.median(ld["wall"] for ld in warm)
        rows_ok = statistics.median(ld["check"]["rows"] - ld["check"]["failed"]
                                    for ld in warm)

        def med(key: str) -> float:
            return statistics.median(ld["counts"][key] for ld in warm)

        inserts = med("inserts")
        cpu = statistics.median(ld["cpu"] for ld in warm)
        kind_failed = sum(ld["check"]["failed"] for ld in everything)
        attempted += fx.rows * len(everything)
        failed += kind_failed
        cpu_total += cpu
        warm_total += wall
        cold_total += everything[0]["wall"]
        if trace:
            overhead += wall - statistics.median(
                ld["wall"] for ld in timed if not ld["traced"])
        per_layer.update({f"{kind}.{k}": v for k, v in {
            "warm_s": wall,
            "cold_s": everything[0]["wall"],
            "cpu_s": cpu,
            "load_rows_per_s": rows_ok / wall,
            "load_failed_share": kind_failed / (fx.rows * len(everything)),
            "client.requests": med("requests"), "client.inserts": inserts,
            "client.pings": med("pings"), "client.connections": med("connections"),
            "client.bytes": med("bytes"),
            "client.rows_per_insert": fx.rows / inserts if inserts else 0.0,
            "client.http_errors": sum(ld["counts"]["http_errors"] for ld in everything),
            "client.server_busy_s": med("server_busy_s"),
            "wire.bytes_per_row": warm[0]["check"]["wire_bytes"] / fx.rows,
            "sharding.rows_max_over_mean": warm[0]["check"]["max_over_mean"],
            "spark.jobs_per_load": statistics.median(ld["jobs"] for ld in warm),
        }.items()})
    per_layer.update({"samples": len(job.done["staged"]) - SETUP_ITERATIONS,
                      "warm_s": warm_total, "cold_s": cold_total})
    if trace:
        per_layer["trace.overhead_s"] = overhead
    return {"e2e": {"cpu_s": cpu_total}, "per_layer": per_layer,
            "attempted": attempted, "failed": failed}


def mix_metrics(mix) -> dict:
    medians = mix.medians()
    total = sum(medians.values())
    per_layer = {f"query.{n}_s": v for n, v in medians.items()}
    per_layer.update({"samples": mix.passes, "warm_s": total, "cold_s": mix.cold_s,
                      "query_failed_share": mix.failed_runs / mix.runs,
                      "query.oracle_checked": sum(
                          v is not None for v in mix.expected.values()),
                      "trace.overhead_s": mix.spanned if mix.tracer.enabled else 0.0})
    if mix.failed:
        log(f"failed queries: {sorted(mix.failed)}")
    return {"e2e": {"cpu_s": sum(mix.medians(cpu=True).values())},
            "per_layer": per_layer, "attempted": mix.runs, "failed": mix.failed_runs}


def layer_replays(job, kind: str, tracer) -> dict:
    """Driver-side spans of the traced loads of ``kind``, plus self times
    from the cumulative row-path prefixes (each prefix minus the one
    before)."""
    import loads

    ops = [ld["op"] for ld in job.done[kind][SETUP_ITERATIONS:] if ld["traced"]]
    span = {name: tracer.median_total(name, ops) for name in (
        "catalog.s", "sources.read_input_s", "staging.stage_s",
        "staging.promote_s", "lifecycle.gc_s", "writer.write_s")}
    replay = loads.prefix_replays(job.spark, kind, job.args[kind], tracer)
    cum = [tracer.median_total(f"prefix.{s}", [replay]) for s in loads.PREFIXES]
    # the load's write span: write_direct, or the staging action
    write = span.pop("writer.write_s") or span["staging.stage_s"]
    if kind != "staged":
        del span["staging.stage_s"], span["staging.promote_s"]
    return {f"{kind}.{k}": v for k, v in {
        **span,
        "sources.decode_s": cum[0],
        "transform.self_s": cum[1] - cum[0],
        "sharding.assign_self_s": cum[2] - cum[1],
        "sharding.exchange_self_s": cum[3] - cum[2],
        "wire.serialize_self_s": cum[4] - cum[3],
        "writer.transfer_self_s": cum[5] - cum[4],
        "writer.deliver_self_s": write - cum[5],
    }.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "clickhouse_hdfs_loader_spark" / "__init__.py").is_file():
        log(f"no clickhouse_hdfs_loader_spark package under {ROOT}; run from "
            "a repository checkout")
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    prepare_env(work, nproc)
    try:
        out = measure(a.workload, a.seed, a.seconds, bool(a.trace), work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(json.dumps({k: round(v, 4) for k, v in {**out["e2e"], **out["per_layer"]}.items()}))
    if a.trace:
        metrics = {k: {"value": out["per_layer"].get(k, 0), "unit": unit}
                   for k, (unit, _better) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": unit}
                   for k, unit in END_TO_END.items()}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
