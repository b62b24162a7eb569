"""Summarise and compare benchmark records (JSON lines written by ``--out``).

    python3 bm25bench/compare.py base.jsonl            # one set: medians, quartiles
    python3 bm25bench/compare.py base.jsonl new.jsonl  # two sets, side by side

For every workload and metric it prints the median, the first and third
quartile (``statistics.quantiles(values, n=4)``), the spread (interquartile
range over median) and the run count; with two sets, also the change of the
median. Two sets are compared only if every record has the same hardware,
software and run settings (``COMPARABLE`` keys of the stamp); otherwise the
tool names the differing keys and exits with status 2. Traced and untraced
records of the same workload are paired to report the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import sys

COMPARABLE = ("nproc", "cpu_model", "ram_gb", "python", "pyspark", "java",
              "master", "seconds", "turns")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_comparable(records: list[dict]) -> list[str]:
    """Names of stamp keys whose values differ across ``records``."""
    return [k for k in COMPARABLE
            if len({json.dumps(r["stamp"].get(k)) for r in records}) > 1]


def summarise(records: list[dict]) -> dict:
    """{(workload, trace): {metric: (median, q1, q3, n, unit)}}."""
    groups: dict = {}
    for r in records:
        key = (r["stamp"]["workload"], r["stamp"]["trace"])
        for name, m in r["metrics"].items():
            groups.setdefault(key, {}).setdefault(name, ([], m["unit"]))[0].append(
                m["value"])
    out: dict = {}
    for key, metrics in groups.items():
        for name, (vals, unit) in metrics.items():
            q1, q2, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                          else (vals[0],) * 3)
            out.setdefault(key, {})[name] = (q2, q1, q3, len(vals), unit)
    return out


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def report(sets: list[list[dict]]) -> str:
    sums = [summarise(s) for s in sets]
    lines = []
    for key in sorted(set().union(*sums)):
        lines.append(f"== {key[0]} (trace {key[1]})")
        names = sorted(set().union(*(s.get(key, {}) for s in sums)))
        for name in names:
            row = [f"  {name:32s}"]
            meds = []
            for s in sums:
                if name not in s.get(key, {}):
                    row.append(f"{'-':>40s}")
                    continue
                med, q1, q3, n, unit = s[key][name]
                spread = (q3 - q1) / abs(med) if med else float("nan")
                meds.append(med)
                row.append(f"{_fmt(med):>10s} [{_fmt(q1)}, {_fmt(q3)}] "
                           f"spread {spread:.3f} n={n} {unit}")
            if len(meds) == 2 and meds[0]:
                row.append(f"  change {meds[1] / meds[0] - 1:+.3f}")
            lines.append(" ".join(row))
    for i, s in enumerate(sums):
        for (wl, tr), metrics in sorted(s.items()):
            plain = s.get((wl, 0), {}).get("query_p50_s")
            traced = metrics.get("trace.query_p50_traced_s")
            if tr == 1 and plain and traced:
                lines.append(f"set {i}: {wl} tracing overhead on query_p50_s: "
                             f"{traced[0] - plain[0]:+.4f} s "
                             f"({traced[0] / plain[0] - 1:+.3f})")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    differing = check_comparable([r for s in sets for r in s])
    if differing:
        print("refusing to compare: stamps differ in " + ", ".join(differing),
              file=sys.stderr)
        return 2
    print(report(sets))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
