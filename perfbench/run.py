"""Benchmark for mini_search_engine_spark: one workload per invocation.

    python3 perfbench/run.py --workload build --seed 1 --seconds 18 --trace 0

Run from the repository root (the package is imported from the parent of
this directory). Workloads: ``build`` and ``serve`` (see ``workloads.py``
and ``BENCHMARK.json``). Inputs are generated from ``--seed``; every timed
answer is checked against a plain-Python oracle. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run measures for half the time untraced and half traced,
reports the per-layer metrics and the tracing overhead, and writes the
spans to ``.bench_out/``.

All scratch files live under ``.bench_work/`` in the current directory
and are removed on exit. Spark runs in local mode on at most 4 cores.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "bytes_per_input_byte": "ratio",
    "good_share": "share",
}

SPAN_LAYERS = (
    "corpus.load",
    "analysis.tokenize",
    "index.build",
    "index.fused_build",
    "index.write",
    "index.read",
    "index.compress.decode_scan",
    "index.warm",
    "search.ranking.construct",
    "search.ranking.collect",
    "search.boolean.construct",
    "search.boolean.collect",
    "streaming.upsert",
    "streaming.snapshots.commit",
    "streaming.read_segmented",
)
RESULT_LAYERS = {
    "index.bytes_on_disk": "bytes",
    "search.ranking.df_memo_hit_share": "share",
    "search.serving.queries_per_job": "count",
    "search.serving.submit_to_result_ms": "ms",
    "search.serving.due_to_result_ms": "ms",
    "generator.late_ms": "ms",
    "streaming.commit_p50_ms": "ms",
    "streaming.docs_per_s": "1/s",
    "streaming.bytes_per_input_byte": "ratio",
    "streaming.compact_ms": "ms",
    "streaming.compactions": "count",
    "streaming.bytes_written": "bytes",
    "streaming.live_segments_mean": "count",
}
SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_ms": "ms",
    "python_bytes": "bytes",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{n}_ms": "ms" for n in SPAN_LAYERS}
    units.update(RESULT_LAYERS)
    units["search.ranking.jobs_per_query"] = "count"
    units["search.boolean.jobs_per_query"] = "count"
    units["driver.py4j_calls"] = "count"
    units["driver.py4j_ms"] = "ms"
    units["driver.unattributed_ms"] = "ms"
    units.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    units["trace.overhead_ms"] = "ms"
    return units


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, event_log: str | None):
    from mini_search_engine_spark.session import get_spark
    from workloads import CORES

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # temp files in the work dir; no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.dir"] = event_log
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def patch_commit_span(tracer):
    """Time streaming's snapshot commits from outside: wrap the function
    the streaming module calls. Returns the undo."""
    from mini_search_engine_spark.streaming import ingest

    orig = ingest.commit_snapshot

    def timed(*args, **kwargs):
        with tracer.span("streaming.snapshots.commit"):
            return orig(*args, **kwargs)

    ingest.commit_snapshot = timed
    return lambda: setattr(ingest, "commit_snapshot", orig)


def layer_metrics(tracer, result, jobs: list[dict], overhead_ms: float) -> dict[str, float]:
    from tracing import SPARK_KEYS, jobs_by_op, uncovered_ms

    out: dict[str, float] = {}
    for name in SPAN_LAYERS:
        xs = tracer.layer_ms(name)
        out[f"{name}_ms"] = statistics.fmean(xs) if xs else 0.0
    for name in RESULT_LAYERS:
        out[name] = float(result.layers.get(name, 0.0))
    by_op = jobs_by_op(tracer.ops, jobs, tracer.epoch0)
    queries = [o for o in tracer.ops if o.layer]
    ops = [o for o in tracer.ops if o.kind in result.op_kinds]

    def mean(xs):
        xs = list(xs)
        return statistics.fmean(xs) if xs else 0.0

    for layer in ("search.ranking", "search.boolean"):
        out[f"{layer}.jobs_per_query"] = mean(
            len(by_op[o.req]) for o in queries if o.layer == layer
        )
    out["driver.py4j_calls"] = mean(o.py4j_calls for o in ops)

    def job_ivs(o):
        return [(j["start"], j["end"]) for j in by_op[o.req]]

    def py4j_ms(o):
        # py4j time minus the part of long calls spent waiting on a job
        waited = sum(
            (e - s) * 1e3 - uncovered_ms(tracer.epoch0 + s, tracer.epoch0 + e, job_ivs(o))
            for s, e in o.py4j_long
        )
        return o.py4j_s * 1e3 - waited

    out["driver.py4j_ms"] = mean(py4j_ms(o) for o in ops)
    out["driver.unattributed_ms"] = mean(
        uncovered_ms(tracer.epoch0 + o.start, tracer.epoch0 + o.end, job_ivs(o)) for o in ops
    )
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = mean(sum(j[k] for j in by_op[o.req]) for o in ops)
    out["trace.overhead_ms"] = overhead_ms
    return out


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    import mini_search_engine_spark  # noqa: F401  (fails outside a checkout)

    args = parse_args(argv)
    from tracing import Tracer, event_log_jobs
    from workloads import WORKLOADS, Ctx

    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        spark = start_spark(work, event_log)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work)
        undo = patch_commit_span(tracer) if args.trace else None
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](ctx)
        prep_s = time.perf_counter() - t0
        if args.trace:
            # half the time each, untraced then traced, for the overhead
            ctx.seconds = args.seconds / 2
            tracer.set_enabled(False)
            plain = wl.measure(traced=False)
            tracer.set_enabled(True)
            result = wl.measure(traced=True)
            tracer.set_enabled(False)
            undo()
        else:
            result = wl.measure(traced=False)
        stop_spark(spark)
        spark = None
        led = ctx.ledger
        attempted = sum(led.attempted.values())
        failed = sum(led.failed.values())
        for m in led.mismatches:
            print("MISMATCH " + json.dumps(m, default=str), file=sys.stderr)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "prep_s": prep_s,
            "phases": ctx.phases,
            "query_p50_ms_by_op": {op: statistics.median(v) * 1e3 for op, v in ctx.latencies.items()},
            "queries_by_op": {op: len(v) for op, v in ctx.latencies.items()},
            "attempted": dict(led.attempted),
            "failed": dict(led.failed),
        }
        if args.trace:
            overhead = result.e2e["query_p50_ms"] - plain.e2e["query_p50_ms"]
            layers = layer_metrics(tracer, result, event_log_jobs(event_log), overhead)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
            out_dir = os.path.abspath(".bench_out")
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {
                    **summary,
                    "untraced": plain.e2e,
                    "traced": result.e2e,
                    "per_layer": layers,
                    "mismatches": led.mismatches,
                },
            )
        else:
            e2e = dict(result.e2e, good_share=(attempted - failed) / attempted)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps(summary), file=sys.stderr)
        bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
        if bad:
            raise RuntimeError(f"no measurement for {bad}")
        print(
            json.dumps(
                {
                    "correct": not led.mismatches,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
