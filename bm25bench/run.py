"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 bm25bench/run.py --workload query_short --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of this repository, at ``local[nproc]``.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before it
is the full record: the same metrics plus the hardware/software stamp and
the input properties. ``--out FILE`` appends that record to FILE (JSON
lines), the input of ``compare.py``; ``--spans FILE`` writes the trace.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_TURNS = 12_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_short", "query_long"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=DEFAULT_TURNS,
                    help="base corpus size in turns (smaller for smoke tests)")
    ap.add_argument("--out", help="append the full record to this JSONL file")
    ap.add_argument("--spans", help="write the traced ops and spans here")
    return ap.parse_args(argv)


def _metric_block(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucene_spark")):
        print(f"bm25bench: no engine package (lucene_spark) under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import runtime
    import workloads

    cores = runtime.nproc()
    with runtime.SparkRun(ROOT, cores) as ctx:
        run = workloads.execute(ctx, args.workload, args.seed, args.seconds,
                                args.turns, bool(args.trace))
        stamp = runtime.stamp(ROOT, ctx.spark, args, cores)
        if args.spans:
            run.tracer.dump(args.spans)
    metrics = (workloads.per_layer(run) if args.trace
               else workloads.end_to_end(run))
    bad = [k for k, (v, _u) in metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"bm25bench: no samples for {bad}", file=sys.stderr)
        return 3
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": _metric_block(metrics),
    }
    record = {"stamp": stamp, "detail": run.detail, **result}
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
