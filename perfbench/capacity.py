"""Capacity of the serving layer, from which the open-loop probe's rate is set.

    python3 perfbench/capacity.py --seed 1 --rates 1,16,64,128,192,256,320

Run from the repository root. The probe runs only in traced runs, so this
measures as a traced run does: event log on, spans and py4j calls recorded.
Sets up the ``serve`` workload's warm index, sends a burst of queries all at
once (which also warms the batched plan), then Poisson arrivals of BM25 top-10 into one ``Bm25MicroBatcher`` at each
rate for ``OPEN_PROBE_S`` seconds, and the burst again. Every answer is
checked. One JSON line per step:

* ``due_to_result_ms``: median latency from due time, as the probe reports it;
* ``queries_per_job``: served queries per micro-batch;
* ``answered_per_s``: answers per second between the first answer and the
  last.

Capacity is the rate past which ``answered_per_s`` stops growing with the
offered rate and ``due_to_result_ms`` climbs, i.e. a queue builds up; the
probe in ``workloads.py`` runs at about half of it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import OPEN_PROBE_S, TOPK, Ctx, Serve  # noqa: E402

BURST = 40


def burst(serve: Serve) -> dict:
    from mini_search_engine_spark.search import Bm25MicroBatcher

    qs = serve.open_queries[:BURST]
    batcher = Bm25MicroBatcher(serve.idx, topk=TOPK)
    try:
        t0 = time.perf_counter()
        futs = [batcher.submit(q.words) for q in qs]
        for f in futs:
            f.result(timeout=300)
        wall = time.perf_counter() - t0
    finally:
        batcher.close()
    return {"burst": BURST, "answered_per_s": BURST / wall, "queries_per_job": batcher.served / batcher.batches}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rates", default="1,16,64,128,192,256,320")
    args = p.parse_args(argv)
    work = os.path.abspath(os.path.join(".bench_work", f"capacity-{os.getpid()}"))
    os.makedirs(work)
    spark = None
    try:
        spark = run.start_spark(work, os.path.join(work, "eventlog"))
        ctx = Ctx(spark, Tracer(spark, enabled=True), args.seed, 0.0, work)
        serve = Serve(ctx)
        print(json.dumps(burst(serve)), flush=True)
        for rate in (float(r) for r in args.rates.split(",")):
            m = serve._open_loop_probe(rate, OPEN_PROBE_S)
            step = {
                "rate_per_s": rate,
                "sent": max(1, round(rate * OPEN_PROBE_S)),
                "due_to_result_ms": m["search.serving.due_to_result_ms"],
                "queries_per_job": m["search.serving.queries_per_job"],
                "answered_per_s": serve.answered_per_s,
            }
            print(json.dumps(step), flush=True)
        print(json.dumps(burst(serve)), flush=True)
        led = ctx.ledger
        print(json.dumps({"attempted": sum(led.attempted.values()), "failed": sum(led.failed.values())}))
        return 1 if led.mismatches else 0
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
