"""Benchmark harness — index-build throughput + top-k query latency.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32). The corpus is the deterministic
synthetic transcript table (BASELINE.json input_hint shape) sized
proportionally to the scale factor: sf0.1 → ~600k turns (lineitem-row
equivalent). Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
"sf": ..., "turns": ..., "turns_per_sec": ..., "cpus": ...}``

Scaling-efficiency evidence (N vs 4N cores) is produced by
``tools/scaling_bench.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def infer_sf(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run(sf_dir: str, cpus: int, out=sys.stdout, keep_index: bool = False):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from lucene_spark.corpus import VOCAB, synthetic_transcripts
    from lucene_spark.indexing.builder import IndexBuilder
    from lucene_spark.search.searcher import IndexSearcher
    from lucene_spark.session import get_spark

    sf = infer_sf(sf_dir)
    n_turns_target = int(os.environ.get("SPARK_GRAFT_TURNS", 0)) or int(6_000_000 * sf)
    n_convs = max(200, n_turns_target * 2 // 9)  # ~4.5 turns/conv

    spark = get_spark(cpus, app="lucene_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    idx = f"/tmp/lucene_spark_bench_idx/{os.path.basename(os.path.normpath(sf_dir))}_{cpus}"
    shutil.rmtree(idx, ignore_errors=True)

    # materialize the corpus once so the build measures indexing, not the RNG
    corpus_path = (
        f"/tmp/lucene_spark_bench_corpus/"
        f"{os.path.basename(os.path.normpath(sf_dir))}_t{n_turns_target}"
    )
    if not os.path.exists(f"{corpus_path}/_SUCCESS"):
        synthetic_transcripts(spark, n_convs, parallelism=cpus * 2).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    n_turns = corpus.count()

    # segment count follows DATA SIZE (~31k turns/segment), floored at 2
    # tasks per core — so different parallelism levels build the identical
    # index layout (the honest N-vs-4N comparison) once the corpus is big
    # enough, while small corpora still use every core.
    nseg = max(2 * cpus, n_turns // 31_250)

    # un-timed warm-up (JMH practice): one throwaway FULL build JIT-compiles
    # the codegen/Arrow/python-worker machinery AND lets the sandbox VM ramp
    # out of its post-idle CPU/IO throttle (measured on this box: matmul
    # 828 ms cold → 85 ms under sustained load, a cold first build costs
    # 3-8x steady state). Then median-of-N timed builds = steady-state
    # throughput, the number that predicts a busy production cluster.
    warm_dir = f"{idx}_warm"
    shutil.rmtree(warm_dir, ignore_errors=True)
    IndexBuilder(spark, warm_dir, num_segments=nseg).build(corpus)
    shutil.rmtree(warm_dir, ignore_errors=True)

    build_reps = int(os.environ.get("SPARK_GRAFT_BUILD_REPS", "3"))
    reps = []
    for r in range(build_reps):
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        IndexBuilder(spark, idx, num_segments=nseg).build(corpus)
        reps.append(time.time() - t0)
    timings["index_build"] = sorted(reps)[len(reps) // 2]

    searcher = IndexSearcher(spark, idx)
    qset = {
        "topk_hot": VOCAB[0],
        "topk_or3": f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}",
        "topk_bool": f"+{VOCAB[1]} {VOCAB[5]} -{VOCAB[0]}",
        "topk_boost": f"{VOCAB[4]}^2.5 {VOCAB[9]}",
        "topk_rare": VOCAB[1500],
        "topk_phrase": f'"{VOCAB[0]} {VOCAB[3]}"',
        "topk_prefix": f"{VOCAB[1][:3]}*",
    }
    for name, q in qset.items():
        searcher.search(q, 10)  # warm (plans, parquet footers)
        reps = []
        for _ in range(5):
            t = time.time()
            searcher.search(q, 10)
            reps.append(time.time() - t)
        timings[name] = sorted(reps)[2]  # median of 5

    # extra (non-headline) queries — kept OUT of the summed value so the
    # headline metric stays comparable across rounds; reported alongside
    extra: dict[str, float] = {}
    sloppy_q = f'"{VOCAB[0]} {VOCAB[3]}"~3'
    searcher.search(sloppy_q, 10)
    reps = []
    for _ in range(5):
        t = time.time()
        searcher.search(sloppy_q, 10)
        reps.append(time.time() - t)
    extra["topk_sloppy"] = sorted(reps)[2]
    # repeated-filter match set: first use vs a hit of the LRU query cache
    # (the 2nd use persists it; the 3rd is served from the persisted set)
    from lucene_spark.search import ast as _ast

    fq = _ast.MultiTermQuery("prefix", VOCAB[2][:4])
    t = time.time()
    searcher.match_df(fq).count()
    extra["filter_first"] = time.time() - t
    searcher.match_df(fq).count()  # 2nd use → persisted
    hits = searcher.query_cache.hits
    t = time.time()
    searcher.match_df(fq).count()
    extra["filter_cached"] = time.time() - t
    assert searcher.query_cache.hits == hits + 1, "filter_cached missed"
    # batched execution: the 5 flat headline queries in ONE scan + ONE job
    # (vs the sum of their individual latencies above) — the serving-path
    # amortization of the per-job scheduling floor
    flat5 = [qset[n] for n in
             ("topk_hot", "topk_or3", "topk_bool", "topk_boost", "topk_rare")]
    searcher.msearch(flat5, 10)  # warm
    reps = []
    for _ in range(5):
        t = time.time()
        searcher.msearch(flat5, 10)
        reps.append(time.time() - t)
    extra["msearch5"] = sorted(reps)[2]
    # round-4 operators: compiled score expression rescoring and span-near
    # proximity (both on the serving path, kept out of the headline sum)
    expr_q = f"{VOCAB[0]} {VOCAB[3]}"
    expr = "dl > 40 ? _score * 1.5 : _score + sqrt(dl) * 0.25"
    searcher.expression_score(expr_q, expr, k=10)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.expression_score(expr_q, expr, k=10)
        reps.append(time.time() - t)
    extra["expr_score"] = sorted(reps)[1]
    span_q = _ast.SpanNearQuery((VOCAB[0], VOCAB[3]), slop=3)
    searcher.search(span_q, 10)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.search(span_q, 10)
        reps.append(time.time() - t)
    extra["span_near"] = sorted(reps)[1]
    # two-pass rescorer (bag-of-words first pass, phrase second pass) and
    # phrase-prefix expansion — the round-4 second-pass serving operators
    rq1, rq2 = f"{VOCAB[0]} {VOCAB[3]} {VOCAB[5]}", \
        _ast.PhraseQuery((VOCAB[0], VOCAB[3]), slop=1)
    searcher.rescore(rq1, rq2, k=10, top_n=100, weight=2.0)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.rescore(rq1, rq2, k=10, top_n=100, weight=2.0)
        reps.append(time.time() - t)
    extra["rescore_phrase"] = sorted(reps)[1]
    searcher.phrase_prefix((VOCAB[3], VOCAB[0][:2]), k=10)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.phrase_prefix((VOCAB[3], VOCAB[0][:2]), k=10)
        reps.append(time.time() - t)
    extra["phrase_prefix"] = sorted(reps)[1]

    # round-4 late ops: geo distance sort + phrase wildcard
    from pyspark.sql import functions as F

    geo = searcher.reader.docs().select(
        "doc_id",
        F.expr("(((doc_id * 7919) % 1800000) / 10000e0 - 90e0)").alias("lat"),
        F.expr("(((doc_id * 104729) % 3600000) / 10000e0 - 180e0)")
        .alias("lon"))
    searcher.set_geo(geo)
    q_geo = searcher.parse(VOCAB[0])
    searcher.geo_sort_df(q_geo, 12.3, 45.6, k=10).collect()  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.geo_sort_df(q_geo, 12.3, 45.6, k=10).collect()
        reps.append(time.time() - t)
    extra["geo_sort"] = sorted(reps)[1]
    pw_slots = (VOCAB[3], VOCAB[0][:3] + "*")
    searcher.phrase_wildcard(pw_slots, k=10)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.phrase_wildcard(pw_slots, k=10)
        reps.append(time.time() - t)
    extra["phrase_wildcard"] = sorted(reps)[1]
    # SimpleQueryParser NOT-complement: exercises the matchall clause's
    # per-segment docID-range expansion + distributed complement path
    from lucene_spark.search.simpleqp import parse_simple

    q_not = parse_simple(f"{VOCAB[7]} -{VOCAB[0]}", searcher.analyzer)
    searcher.search(q_not, k=10)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.search(q_not, k=10)
        reps.append(time.time() - t)
    extra["simple_not"] = sorted(reps)[1]

    # round-5 ops (VERDICT r4 next-#10): synonym blending, HNSW ANN, and a
    # curation pass get latency tracking alongside the headline queries
    syn_q = _ast.SynonymQuery((VOCAB[0], VOCAB[3]))
    searcher.search(syn_q, 10)  # warm
    reps = []
    for _ in range(3):
        t = time.time()
        searcher.search(syn_q, 10)
        reps.append(time.time() - t)
    extra["syn_blend"] = sorted(reps)[1]

    emb_path = f"{sf_dir}/embeddings.parquet"
    if os.path.exists(emb_path):
        from lucene_spark.pipeline.simsearch import build_hnsw, hnsw_topk

        emb = spark.read.parquet(emb_path).select("vec_id", "embedding")
        hdir = ("/tmp/lucene_spark_bench_hnsw/"
                f"{os.path.basename(os.path.normpath(sf_dir))}")
        t = time.time()
        build_hnsw(emb, hdir)
        extra["hnsw_build"] = time.time() - t
        hnsw_topk(spark, emb, hdir, n_queries=5, k=10).collect()  # warm
        reps = []
        for _ in range(3):
            t = time.time()
            hnsw_topk(spark, emb, hdir, n_queries=5, k=10).collect()
            reps.append(time.time() - t)
        extra["hnsw_topk"] = sorted(reps)[1]

    from lucene_spark.pipeline.curation import gopher_filter

    bench_docs = corpus.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text")
    agg = lambda: (gopher_filter(bench_docs)  # noqa: E731
                   .agg(F.sum(F.col("keep").cast("long"))).collect())
    agg()  # warm
    reps = []
    for _ in range(2):
        t = time.time()
        agg()
        reps.append(time.time() - t)
    extra["gopher_filter"] = min(reps)

    total = sum(timings.values())
    result = {
        "metric": "index_build_sec_plus_topk_query_latency",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in timings.items()},
        "extra_queries": {k: round(v, 4) for k, v in extra.items()},
        "sf": sf,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / timings["index_build"], 1),
        "cpus": cpus,
    }
    print(json.dumps(result), file=out, flush=True)
    if not keep_index:
        shutil.rmtree(idx, ignore_errors=True)
    spark.stop()
    return result


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    run(sf_dir, cpus)
