"""Tests of the benchmark itself (not part of the engine's tier-1 suite).

    python3 -m pytest bm25bench/tests -q -p no:cacheprovider

The smoke and trace tests run ``run.py`` end to end at a tiny corpus size,
each in its own process (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
TINY = ["--turns", "1500", "--seconds", "3"]


def run_bench(*args, cwd=ROOT, check=True):
    with subprocess.Popen(
            [sys.executable, os.path.join(cwd, "bm25bench", "run.py"), *args],
            cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True) as p:
        stdout, stderr = p.communicate(timeout=600)
    proc = subprocess.CompletedProcess(p.args, p.returncode, stdout, stderr)
    proc.pid = p.pid
    if check:
        assert proc.returncode == 0, stderr[-3000:]
    return proc


def leftover_processes(pid: int) -> list[int]:
    """Processes whose command line or environment names the run's work
    dir (the JVM, the Python worker daemon and its workers)."""
    tag = f"run-{pid}".encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{name}/{part}", "rb") as f:
                    if tag in f.read():
                        found.append(int(name))
                        break
            except OSError:
                pass
    return found


def last_json(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ---- generator ------------------------------------------------------------------

def _fingerprint(inp: gen.Inputs) -> str:
    parts = [inp.base.pdf.to_csv(index=False), inp.batch.to_csv(index=False)]
    parts += gen.short_queries(inp, 50, inp.seed)
    parts += gen.long_queries(inp, 20, inp.seed)
    parts.append(gen.mid_term(inp, inp.seed))
    return "\n".join(parts)


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds():
    a = _fingerprint(gen.generate(5, 800, 40))
    b = _fingerprint(gen.generate(5, 800, 40))
    c = _fingerprint(gen.generate(6, 800, 40))
    assert a == b
    assert a != c


def test_generator_shapes():
    inp = gen.generate(3, 2000, 80)
    pdf, batch = inp.base.pdf, inp.batch
    assert list(pdf.columns) == ["conv_id", "turn_idx", "role", "text",
                                 "tool", "ts"]
    assert len(pdf) == 2000 and len(batch) == 80
    # arrival order == (conv_id, turn_idx) order, batch after base
    keys = list(zip(pdf.conv_id, pdf.turn_idx)) + list(
        zip(batch.conv_id, batch.turn_idx))
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    assert batch.text.str.lower().str.contains(gen.MARKER).all()
    assert not pdf.text.str.lower().str.contains(gen.MARKER).any()
    # open vocabulary: a larger corpus has a larger dictionary
    assert gen.generate(3, 8000, 10).df.size > inp.df.size
    longs = gen.long_queries(inp, 30, 1)
    assert all(8 <= len(q.split()) <= 16 for q in longs)
    props = gen.properties(inp, longs)
    assert props["share_queries_with_top100_term"] > 0.5


# ---- end to end -----------------------------------------------------------------

@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_end_to_end_metric(workload, tmp_path):
    out = tmp_path / "records.jsonl"
    proc = run_bench("--workload", workload, "--seed", "1", "--trace", "0",
                     "--out", str(out), *TINY)
    assert leftover_processes(proc.pid) == []
    assert not os.path.exists(os.path.join(ROOT, ".bm25bench_work",
                                           f"run-{proc.pid}"))
    res = last_json(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    rec = json.loads(out.read_text().splitlines()[-1])
    for key in ("nproc", "cpu_model", "ram_gb", "git_revision", "python",
                "pyspark", "java", "seed", "seconds", "trace"):
        assert key in rec["stamp"]
    for key in ("dictionary_size", "postings_len_quantiles",
                "mean_query_terms", "share_queries_with_top100_term"):
        assert key in rec["detail"]


def _spans(path):
    ops, spans = [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            (ops if "op" in rec else spans).append(rec.get("op") or rec["span"])
    return ops, spans


def test_trace_is_consistent_and_repeats(tmp_path):
    runs = []
    for i in range(2):
        sp = tmp_path / f"spans{i}.jsonl"
        res = last_json(run_bench("--workload", "query_long", "--seed", "2",
                                  "--trace", "1", "--spans", str(sp), *TINY))
        assert res["correct"] is True
        runs.append((res["metrics"], *_spans(sp)))

    for metrics, ops, spans in runs:
        for m in SPEC["per_layer"]:
            assert m["name"] in metrics, m["name"]
        v = {k: x["value"] for k, x in metrics.items()}
        assert v["wand.blocks_decoded"] <= v["wand.blocks_kept"] \
            <= v["wand.blocks_screened"]
        assert v["wand.blocks_decoded"] > 0
        assert v["trace.replay_mismatches"] == 0
        assert 0 <= v["searcher.unattributed_s"] <= v["trace.query_p50_traced_s"]
        by_op: dict = {}
        for s in spans:
            by_op.setdefault(s["op"], []).append(s)
        for op in ops:
            if not op["traced"]:
                assert op["id"] not in by_op  # untraced ops record no spans
                continue
            took = op["t1"] - op["t0"]
            tops = [s for s in by_op.get(op["id"], []) if s["parent"] == -1]
            assert sum(s["t1"] - s["t0"] for s in tops) <= took
            rp = op["info"].get("replay")
            if rp:
                assert rp["blocks_decoded"] <= rp["blocks_kept"] \
                    <= rp["blocks_screened"]
            for s in by_op.get(op["id"], []):
                assert op["t0"] <= s["t0"] <= s["t1"] <= op["t1"]
                kids = [c for c in by_op[op["id"]]
                        if c["parent"] >= 0 and spans[c["parent"]] is s]
                assert sum(c["t1"] - c["t0"] for c in kids) <= s["t1"] - s["t0"]

    # same seed, same operations: Spark job counts repeat exactly
    (m0, ops0, _), (m1, ops1, _) = runs
    for kind in ("build", "refresh", "query", "append"):
        j0 = [o["jobs"] for o in ops0 if o["kind"] == kind and o["traced"]]
        j1 = [o["jobs"] for o in ops1 if o["kind"] == kind and o["traced"]]
        n = min(len(j0), len(j1))
        assert n > 0, kind
        assert j0[:n] == j1[:n], kind
    for name in ("spark.jobs_per_build", "spark.jobs_per_append"):
        assert m0[name]["value"] == m1[name]["value"]


def test_query_long_loads_postings_and_kernel_more_than_query_short(tmp_path):
    got = {}
    for w in ("query_short", "query_long"):
        got[w] = {k: x["value"] for k, x in last_json(run_bench(
            "--workload", w, "--seed", "3", "--trace", "1", *TINY))[
                "metrics"].items()}
    for name in ("reader.postings_bytes", "wand.blocks_decoded"):
        assert got["query_long"][name] >= 10 * got["query_short"][name], name


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "bm25bench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = run_bench("--workload", "query_short", "--seed", "1",
                     "--seconds", "1", cwd=str(tmp_path), check=False)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
