"""Driver-run vs Spark-run latency of the SegmentExecutor against the
planned postings bytes of a query — the measurement behind
``SegmentExecutor.DRIVER_RUN_BYTES``.

Builds (or reuses) a 4-segment index of the benchmark's seeded corpus, then
runs short (1-2 term, phrase, prefix), mid (3-6 term) and long (8-16 term)
queries of that corpus through ``IndexSearcher.search`` with the bound
forced to each path, 3 times each (median), and prints one JSON line per
query (planned bytes, driver s, spark s) and a least-squares fit of both
paths with the byte count where they cross. Each query first runs once in
the driver, so the driver timings are with its postings resident in the
executor's row-group cache (the serving steady state).

Usage: python tools/executor_crossover.py --index DIR [--seed 11]
           [--turns 12000] [--queries 40]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bm25bench"))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--index", required=True)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--turns", type=int, default=12_000)
    ap.add_argument("--queries", type=int, default=40)
    args = ap.parse_args(argv)

    import gen
    import numpy as np

    from lucene_spark.indexing.builder import IndexBuilder
    from lucene_spark.search import executor
    from lucene_spark.search.searcher import IndexSearcher
    from lucene_spark.session import get_spark

    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark(4, app="executor_crossover")
    spark.sparkContext.setLogLevel("ERROR")
    inp = gen.generate(args.seed, args.turns, max(10, args.turns // 25))
    if not os.path.exists(os.path.join(args.index, "manifest.json")):
        IndexBuilder(spark, args.index, num_segments=4).build(
            spark.createDataFrame(inp.base.pdf))
    s = IndexSearcher(spark, args.index)

    planned = []
    collect = executor.SegmentRun.collect

    def recording(run):
        planned.append(run.planned_bytes)
        return collect(run)

    executor.SegmentRun.collect = recording
    n, rnd = args.queries, random.Random(args.seed)
    longs = gen.long_queries(inp, 2 * n, args.seed + 7)
    queries = ([("short", q) for q in gen.short_queries(inp, n, args.seed + 7)]
               + [("mid", " ".join(q.split()[:rnd.randint(3, 6)]))
                  for q in longs[n:]]
               + [("long", q) for q in longs[:n]])
    for _kind, q in queries[:20]:  # warm-up
        s.search(q, 10)
    rows = []
    for kind, q in queries:
        times = {"driver": [], "spark": []}
        executor.SegmentExecutor.DRIVER_RUN_BYTES = 1 << 62
        s.search(q, 10)  # warm the row-group cache
        for _ in range(3):
            for where, bound in (("driver", 1 << 62), ("spark", 0)):
                executor.SegmentExecutor.DRIVER_RUN_BYTES = bound
                planned.clear()
                t0 = time.perf_counter()
                s.search(q, 10)
                times[where].append(time.perf_counter() - t0)
        rows.append({"kind": kind, "query": q, "planned_bytes": sum(planned),
                     **{w: statistics.median(t) for w, t in times.items()}})
        print(json.dumps(rows[-1]), flush=True)
    spark.stop()

    x = np.array([r["planned_bytes"] for r in rows]) / 1e6
    fit = {w: np.polyfit(x, [r[w] * 1e3 for r in rows], 1)
           for w in ("driver", "spark")}
    (bd, ad), (bs, as_) = fit["driver"], fit["spark"]
    print(json.dumps({
        "queries": len(rows),
        "driver_ms": [round(ad, 1), round(bd, 1)],  # intercept, per MB
        "spark_ms": [round(as_, 1), round(bs, 1)],
        "crossover_mb": round((as_ - ad) / (bd - bs), 2) if bd != bs else None,
    }))


if __name__ == "__main__":
    main()
