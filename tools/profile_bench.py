"""Profile the bench workload in ONE Spark session: build-phase breakdown,
per-query latency distributions, and Spark job counts per query.

Used to attribute fixed per-query overhead (VERDICT r2 wrong-#4) — job
counts separate scheduler overhead from kernel time. Optionally A/Bs the
prefix query across the hybrid-pushdown and semi-join execution paths.

Usage: python tools/profile_bench.py [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def job_count(sc) -> int:
    t = sc.statusTracker()
    ids = t.getJobIdsForGroup(None) or []
    return max(ids) if ids else 0


def main(reps: int = 7):
    from lucene_spark.corpus import VOCAB, synthetic_transcripts
    from lucene_spark.indexing.builder import IndexBuilder
    from lucene_spark.search.searcher import IndexSearcher
    from lucene_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0.1)
    n_turns_target = int(6_000_000 * sf)
    n_convs = max(200, n_turns_target * 2 // 9)

    spark = get_spark(cpus, app="lucene_spark_profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    corpus_path = (
        f"/tmp/lucene_spark_bench_corpus/"
        f"{os.path.basename(os.path.normpath(sf_dir))}_t{n_turns_target}"
    )
    if not os.path.exists(f"{corpus_path}/_SUCCESS"):
        synthetic_transcripts(spark, n_convs, parallelism=cpus * 2).write.mode(
            "overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_turns = corpus.count()
    nseg = max(2 * cpus, n_turns // 31_250)

    idx = "/tmp/lucene_spark_profile_idx"
    out: dict = {"turns": n_turns, "cpus": cpus, "builds": []}
    for i in range(2):
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        r = IndexBuilder(spark, idx, num_segments=nseg).build(corpus)
        out["builds"].append(
            {"total": round(time.time() - t0, 3), **r["phase_sec"]})

    t0 = time.time()
    j0 = job_count(sc)
    searcher = IndexSearcher(spark, idx)
    out["open_sec"] = round(time.time() - t0, 3)
    out["open_jobs"] = job_count(sc) - j0

    qset = {
        "topk_hot": VOCAB[0],
        "topk_or3": f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}",
        "topk_bool": f"+{VOCAB[1]} {VOCAB[5]} -{VOCAB[0]}",
        "topk_boost": f"{VOCAB[4]}^2.5 {VOCAB[9]}",
        "topk_rare": VOCAB[1500],
        "topk_phrase": f'"{VOCAB[0]} {VOCAB[3]}"',
        "topk_prefix": f"{VOCAB[1][:3]}*",
    }
    out["queries"] = {}
    for name, q in qset.items():
        searcher.search(q, 10)  # warm
        j0 = job_count(sc)
        searcher.search(q, 10)
        jobs = job_count(sc) - j0
        ts = []
        for _ in range(reps):
            t = time.time()
            searcher.search(q, 10)
            ts.append(time.time() - t)
        ts.sort()
        out["queries"][name] = {
            "median": round(ts[len(ts) // 2], 4),
            "min": round(ts[0], 4),
            "max": round(ts[-1], 4),
            "jobs": jobs,
        }

    # A/B: prefix via forced semi-join (the r2-only path)
    from lucene_spark.search import ast
    from lucene_spark.search.executor import DOCS
    from lucene_spark.search.multiterm import constant_score, matched_terms_df

    pq = searcher.parse(qset["topk_prefix"])
    assert isinstance(pq, ast.MultiTermQuery)

    def semi():
        return searcher._finish(constant_score(
            searcher.reader,
            searcher.reader.postings_semijoin(
                matched_terms_df(searcher.reader, pq), pq.field),
            DOCS, 10), 10, pq.boost)

    semi()
    ts = []
    for _ in range(reps):
        t = time.time()
        semi()
        ts.append(time.time() - t)
    ts.sort()
    out["prefix_semijoin_median"] = round(ts[len(ts) // 2], 4)

    # A/B: AQE off for the query path
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out["queries_noaqe"] = {}
    for name in ("topk_hot", "topk_bool", "topk_prefix"):
        q = qset[name]
        searcher.search(q, 10)
        j0 = job_count(sc)
        searcher.search(q, 10)
        jobs = job_count(sc) - j0
        ts = []
        for _ in range(reps):
            t = time.time()
            searcher.search(q, 10)
            ts.append(time.time() - t)
        ts.sort()
        out["queries_noaqe"][name] = {
            "median": round(ts[len(ts) // 2], 4), "jobs": jobs}
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    print(json.dumps(out, indent=1))
    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 7)
