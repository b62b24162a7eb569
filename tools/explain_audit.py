"""Physical-plan audit → BENCH/PLANS.md.

Captures `.explain("formatted")` for the load-bearing plans and checks the
properties that matter at 100 TB:
- postings/term_stats scans show PushedFilters + pruned ReadSchema;
- pipeline operators are whole-stage-codegen JVM plans (no Python in the
  hot path);
- the broadcast side of small joins is actually broadcast.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def capture(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executor_only(plan: str) -> bool:
    """The plan is one SegmentExecutor stage: Range -> MapInPandas, with no
    Exchange and no Spark postings scan in front of the kernel."""
    return ("Range" in plan and "MapInPandas" in plan
            and "Exchange" not in plan and "Scan parquet" not in plan)


def reads_only_overlapping(searcher, run, field_terms,
                           segments=None) -> bool:
    """Run ``run()`` and check the executor's per-task counters of that
    run: the row groups read are exactly the ones whose field and
    [min(term), max(term)] footer statistics can hold a term of
    ``field_terms`` (``None`` terms: the field statistics alone) — the
    in-task equivalent of the scan's pushed-down ``In(term, ...)`` plus
    row-group pruning. ``segments``: only those segments' row groups may
    be read (the covering segments of a bounded doc set)."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    ex = searcher.reader.segment_executor()
    run()
    read = {tuple(x) for t in ex.task_stats() for x in t["read"]}
    want = set()
    for seg, uris in ex.files.items():
        if segments is not None and seg not in segments:
            continue
        for fi, uri in enumerate(uris):
            filesystem, path = fs.FileSystem.from_uri(uri)
            md = pq.ParquetFile(path, filesystem=filesystem).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            fc, tc = names.index("field"), names.index("term")
            for rg in range(md.num_row_groups):
                fst = md.row_group(rg).column(fc).statistics
                tst = md.row_group(rg).column(tc).statistics
                if any(fst.min <= f <= fst.max
                       and (ts is None
                            or any(tst.min <= t <= tst.max for t in ts))
                       for f, ts in field_terms.items()):
                    want.add((seg, fi, rg))
    return bool(read) and read == want


def runs_in_driver(searcher, run, field_terms) -> bool:
    """Run ``run()`` under the default driver bound and check that it ran
    no Spark job, executed in the driver, and read exactly the footer
    overlap set of ``field_terms`` (:func:`reads_only_overlapping`)."""
    sc = searcher.spark.sparkContext
    group = "explain_audit_driver_run"
    sc.setJobGroup(group, group)
    try:
        reads = reads_only_overlapping(searcher, run, field_terms)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stats = searcher.reader.segment_executor().task_stats()
    return (reads and not sc.statusTracker().getJobIdsForGroup(group)
            and {t["where"] for t in stats} == {"driver"})


def every_segment_answers(searcher, plan) -> bool:
    """Collect ``plan()`` (per-segment rows of a query holding no postings
    term) and check that its executor run read no postings row, yet every
    segment's kernel returned docs of its own docID range: the uncovered
    segments were visited by executor tasks, not filled in by the
    driver."""
    ex = searcher.reader.segment_executor()
    docs = [int(r["doc_id"]) for r in searcher._collect(plan())]
    answered = {s for s, (lo, hi) in searcher._segment_doc_bounds().items()
                if any(lo <= d < hi for d in docs)}
    stats = ex.task_stats()
    return (answered == set(ex.files)
            and sorted(x for t in stats for x in t["segments"])
            == sorted(ex.files)
            and all(t["postings_rows"] == 0 for t in stats))


def main(sf_dir: str):
    import __spark_entry__ as e
    from lucene_spark.session import get_spark

    spark = get_spark(8, app="explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    # every plan and counter check below audits the Spark path of the
    # SegmentExecutor (a bound of 0 sends every run there); the driver
    # path for small reads is checked last, under the default bound
    from lucene_spark.search.executor import SegmentExecutor

    driver_bound = SegmentExecutor.DRIVER_RUN_BYTES
    SegmentExecutor.DRIVER_RUN_BYTES = 0

    sections = []

    d = e._ensure_index(spark, sf_dir)
    from lucene_spark.search.reader import IndexReader

    rd = IndexReader(spark, d)
    # exactly the projection the WAND searcher runs (positions NOT read)
    post = rd.postings(["table", "value"]).select(
        "seg", "term", "first_doc", "last_doc", "count", "doc_gaps", "tfs",
        "norms", "impact_tfs", "impact_norms", "doc_offset",
    )
    sections.append(("postings scan for a 2-term query (expect PushedFilters "
                     "In(term,...), pruned ReadSchema, literal doc_offset "
                     "projection — no join)",
                     capture(post)))

    from pyspark.sql import functions as F

    ts = rd._term_stats_df.filter(F.col("term").startswith("ta"))
    sections.append(("term-dict prefix expansion scan (expect "
                     "PushedFilters StringStartsWith)", capture(ts)))

    # hybrid multiterm execution (VERDICT r2 next-#1 done criterion): the
    # PREFIX top-k postings plan must show In(term, …) pushdown — the
    # expansion resolves on the driver dictionary and reaches the scan as a
    # literal predicate, not a semi-join behind a full-field scan
    from lucene_spark.search import ast as _ast
    from lucene_spark.search.executor import DOCS, SCORED
    from lucene_spark.search.searcher import IndexSearcher

    srch = IndexSearcher(spark, d)
    pq = _ast.MultiTermQuery("prefix", "v")  # >1 matching term

    def prefix_df():
        return srch._multiterm_run(pq, DOCS).df()

    sections.append(("prefix match set via hybrid expansion (expect Range "
                     "-> MapInPandas, NO Exchange, NO Scan parquet: the "
                     "driver-expanded terms reach the in-task read)",
                     capture(prefix_df())))

    sections.append(("block-join conversations plan (expect partial_ "
                     "HashAggregate on conv_id before the exchange — "
                     "map-side combine)",
                     capture(srch.join_conversations_df(
                         _ast.TermQuery("table")))))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    from lucene_spark.pipeline.contracts import augmented_docs
    from lucene_spark.pipeline.dedup import minhash_signatures

    sections.append(("minhash signatures (expect pure WholeStageCodegen + "
                     "two-stage HashAggregate, no Python)",
                     capture(minhash_signatures(augmented_docs(docs)))))

    from lucene_spark.pipeline.simsearch import brute_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sections.append(("ANN brute-force top-k (expect BroadcastNestedLoop/"
                     "BroadcastExchange on the tiny query side + window)",
                     capture(brute_topk(emb))))

    # batched multi-query execution (msearch): ONE executor run whose
    # in-task read covers the UNION of every batched query's terms
    items = [(i, wc) for i, wc in enumerate(
        srch._weighted_clauses(_ast.normalize(e._parse(q)))
        for q in getattr(e, "MSEARCH_QS", ())) if wc]
    mspecs = [c for _i, (specs, _msm) in items for c in specs]
    sections.append(("msearch batched plan via the SegmentExecutor (expect "
                     "Range -> MapInPandas, NO Exchange, NO Scan parquet)",
                     capture(srch._flat_topk(items, 20, True).df())))

    # round-4 operators: all three must stay pure-JVM codegen plans
    from lucene_spark.search.expressions import compile_expression
    from lucene_spark.search.highlight import passage_highlight_df
    from lucene_spark.streaming.events import windowed_event_counts

    sections.append(("passage highlighter (expect early term Filter before "
                     "the aggs, two-stage HashAggregate, window top-1, "
                     "NO Python)",
                     capture(passage_highlight_df(
                         docs, ["table", "value"], passage_len=30))))

    expr_col = compile_expression(
        "dl > 40 ? ln(1 + dl) * 1.5 : sqrt(dl) + 0.25"
    ).to_column({"dl": F.length("text")})
    sections.append(("compiled score expression over a docs scan (expect "
                     "the whole CASE/ln/sqrt tree inside one "
                     "WholeStageCodegen Project, NO Python)",
                     capture(docs.select(expr_col.alias("v")))))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sections.append(("events tumbling-window agg (expect two-stage "
                     "HashAggregate keyed on window — the same plan runs "
                     "stateful on a stream)",
                     capture(windowed_event_counts(ev))))

    s = e._searcher(spark, sf_dir)
    sections.append(("boostByQuery (expect score plan LEFT-joined to match "
                     "plan on doc_id, combine CASE inside codegen, NO "
                     "driver materialization)",
                     capture(s.boost_by_query_df(
                         e._parse(e.Q_OR), e._parse("key"), 1.7))))
    sections.append(("feature-field saturation blend (expect docs scan "
                     "joined on doc_id, arithmetic in codegen Project, "
                     "NO Python)",
                     capture(s.feature_score_df(
                         e._parse(e.Q_OR), "dl", "saturation",
                         weight=0.8, pivot=30.0))))

    sections.append(("CoveringQuery (expect per-clause kernels → UNION → "
                     "ONE partial_/final HashAggregate on doc_id, threshold "
                     "CASE in codegen after the docs join)",
                     capture(s.covering_df(
                         [e._parse(t) for t in e.COV_TERMS],
                         e.COV_MIN_MATCH))))
    sections.append(("rescore second pass (expect Range -> MapInPandas "
                     "over the covering segments + doc_id filter on a "
                     "k-bounded doc set)",
                     capture(s.score_df(e._parse("key"),
                                        doc_ids=[1, 2, 3]))))

    sections.append(("term vectors for a bounded doc set (expect Range -> "
                     "MapInPandas; only the covering segments' row groups "
                     "of the field are read)",
                     capture(s.term_vectors([1, 2, 3]))))
    covering = s._segs_for_docs([1, 2, 3])
    pruned_reads = [
        reads_only_overlapping(
            s, lambda: s._collect(s.score_df(e._parse("key"),
                                             doc_ids=[1, 2, 3])),
            {"text": ["key"]}, segments=covering),
        reads_only_overlapping(
            s, lambda: s._collect(s.term_vectors([1, 2, 3])),
            {"text": None}, segments=covering),
    ]

    from lucene_spark.pipeline.curation import (
        contamination_check, stratified_sample)

    docs_cur = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    sections.append(("decontamination (expect BroadcastHashJoin on the "
                     "DISTINCT eval shingles + two-stage count agg, pure "
                     "JVM)",
                     capture(contamination_check(
                         docs_cur.filter(F.col("doc_id") % 10 != 7),
                         docs_cur.filter(F.col("doc_id") % 10 == 7)))))
    sections.append(("stratified sample (expect ONE shuffle on the stratum "
                     "key + RunningWindowFunction, pure JVM)",
                     capture(stratified_sample(
                         spark.read.parquet(f"{sf_dir}/documents.parquet"),
                         ["lang", "source"], 3))))

    # round-4 late additions: geo / curation-2 / doc-values / multi-range
    # (plain columnar geo attach — the gate's row_number-derived synth adds
    # a harness-only window; real deployments read a parquet side table)
    geo_df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.expr("(((doc_id * 7919) % 1800000) / 10000e0 - 90e0)").alias("lat"),
        F.expr("(((doc_id * 104729) % 3600000) / 10000e0 - 180e0)")
        .alias("lon"),
    )
    s.set_geo(geo_df)
    sections.append(("geo distance query (expect bbox comparison Filters "
                     "BEFORE the haversine trig, all inside codegen, NO "
                     "Python, no shuffle)",
                     capture(s.geo_distance_df(*e.GEO_CENTER,
                                               e.GEO_RADIUS_M))))

    from lucene_spark.pipeline.curation import line_dedup
    from lucene_spark.pipeline.textqc import unigram_logprob

    sections.append(("line dedup (expect two-stage partial_min/min "
                     "HashAggregate on the line hash — no window over "
                     "skewed line groups — pure JVM)",
                     capture(line_dedup(docs_cur))))
    sections.append(("unigram-LM quality (expect two two-stage "
                     "HashAggregates + one shuffle join vs the term LM, "
                     "pure JVM)",
                     capture(unigram_logprob(docs_cur))))

    sections.append(("multi-range query (expect ONE docs scan with OR'd "
                     "range Filters — no union of scans)",
                     capture(s.multi_range_df("dl", list(e.MR_RANGES)))))

    conv = e._conv_searcher(spark, sf_dir)
    sections.append(("parent-children block join (expect the ONE-parent "
                     "child set broadcast — BroadcastHashJoin, the score "
                     "plan never shuffled on the join key)",
                     capture(conv.parent_children_df(
                         "c0000000000", "row scan"))))
    sections.append(("double-range facets (expect the tiny ranges table "
                     "broadcast into the theta-join, counts map-side "
                     "combined)",
                     capture(s.facet_double_ranges(
                         "table value", "dl / 4.0", list(e.DBL_RANGES)))))

    from lucene_spark.search.simpleqp import parse_simple

    # '-absent' → every segment lacks the term's postings → the matchall
    # complement must run DISTRIBUTED (executor tasks visit the uncovered
    # segments), never materialized on the driver
    def complement():
        return s._mixed_run(
            _ast.normalize(parse_simple("-zzqqabsentterm", s.analyzer)),
            SCORED, 40).df()

    sections.append(("matchall complement for '-absentterm' (expect Range "
                     "-> MapInPandas visiting every segment — the "
                     "whole-corpus complement never lands on the driver)",
                     capture(complement())))
    complement_visits = every_segment_answers(s, complement)

    from lucene_spark.pipeline.contracts import augmented_docs
    from lucene_spark.pipeline.curation import exact_substring_stats

    sections.append(("exact-substring dedup stats (expect two-stage "
                     "partial agg on the window hash, a join against the "
                     "duplicated hashes only, and the gaps-and-islands "
                     "Window pair sharing ONE doc_id sort — pure JVM)",
                     capture(exact_substring_stats(
                         augmented_docs(docs_cur), window=10))))

    from lucene_spark.search.searcher import IndexSearcher as _IS

    pay_s = _IS(spark, e._ensure_payload_index(spark, sf_dir))
    sections.append(("payload score kernel (expect Range -> MapInPandas: "
                     "exactly one Python fold, no join, no shuffle)",
                     capture(pay_s.payload_score_df("table", "max"))))
    payload_reads = reads_only_overlapping(
        pay_s, lambda: pay_s._collect(pay_s.payload_score_df("table", "max")),
        {"text": ["table"]})

    from lucene_spark.search import intervals as _iv

    iv_q = _ast.IntervalQuery(
        _iv.not_containing(_iv.Ordered((("table", "key"), "value"),
                                       max_gaps=10), "query"))
    sections.append(("interval query (filtered minimal-interval kernel) — "
                     "expect Range -> MapInPandas: exactly one Python "
                     "kernel, no join, no shuffle",
                     capture(srch.interval_scored_df(iv_q))))
    interval_reads = reads_only_overlapping(
        srch, lambda: srch._collect(srch.interval_scored_df(iv_q)),
        {"text": _iv.source_terms(iv_q.source)})

    geo_s = e._geo_searcher(spark, sf_dir)
    sections.append(("polygon geo query (PNPOLY crossing parity) — expect "
                     "the whole predicate in ONE codegen Filter, no "
                     "Python, no exchange before the projection",
                     capture(geo_s.geo_polygon_df(e.GEO_POLY_LATS,
                                                  e.GEO_POLY_LONS))))

    from lucene_spark.pipeline.curation import pack_report

    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    sections.append(("sequence packing report — expect the prefix sum "
                     "DISTRIBUTED: window partitioned BY BUCKET (never an "
                     "empty/global partition spec), bucket offsets joined "
                     "as a BROADCAST, no Python anywhere",
                     capture(pack_report(docs_df, 512))))

    import shutil

    from lucene_spark.pipeline.simsearch import build_hnsw, hnsw_topk

    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    hnsw_d = "/tmp/lucene_spark_audit_hnsw"
    if not os.path.exists(f"{hnsw_d}/_SUCCESS"):
        shutil.rmtree(hnsw_d, ignore_errors=True)
        build_hnsw(emb_df, hnsw_d)
    sections.append(("HNSW per-segment search — expect ONE cogrouped "
                     "Arrow kernel (graph + vectors co-partitioned by "
                     "seg, adjacency never on the driver), bounded "
                     "TakeOrdered-style k-merge, no shuffle joins",
                     capture(hnsw_topk(spark, emb_df, hnsw_d))))

    # the serving path (search / msearch / phrase / driver-expanded prefix)
    # runs through the SegmentExecutor: one Range -> MapInPandas stage, the
    # postings read happens inside the tasks (pyarrow row-group pruning), so
    # the pushdown properties are checked on its per-task counters below
    one = srch._weighted_clauses(_ast.normalize(e._parse("table value")))
    sections.append(("serving top-k plan via the SegmentExecutor (expect "
                     "Range -> MapInPandas, NO Exchange, NO Scan parquet)",
                     capture(srch._flat_topk([(0, one)], 10, True).df())))
    vocab = srch.reader.sorted_terms("text") or []
    expanded = {"text": [t for t in vocab if t.startswith("v")]}
    serving_reads = [
        reads_only_overlapping(srch, lambda: srch.search("table value", 10),
                               {"text": ["table", "value"]}),
        reads_only_overlapping(srch, lambda: srch.search(pq, 10), expanded),
        reads_only_overlapping(
            srch,
            lambda: srch.msearch([e._parse(q) for q in e.MSEARCH_QS], 20),
            srch._spec_field_terms(mspecs)),
        reads_only_overlapping(srch, lambda: srch._collect(prefix_df()),
                               expanded),
    ]

    SegmentExecutor.DRIVER_RUN_BYTES = driver_bound
    driver_runs = [
        runs_in_driver(srch, lambda: srch.search("table value", 10),
                       {"text": ["table", "value"]}),
        runs_in_driver(srch, lambda: srch.search(pq, 10), expanded),
    ]

    import re

    checks = []
    txt0 = sections[0][1]
    # the filter list may lead with IsNotNull(...) etc. — accept In(term, …)
    # anywhere inside the PushedFilters list (VERDICT r1 wrong-#7: the old
    # prefix-anchored match false-negatived)
    checks.append(("postings term pushdown", bool(
        re.search(r"PushedFilters: \[[^\]]*In\(`?term`?,", txt0)
    )))
    checks.append(("postings schema pruned (no positions col in term scan)",
                   "positions" not in txt0.split("ReadSchema")[1][:400]
                   if "ReadSchema" in txt0 else False))
    checks.append(("prefix pushdown", "StartsWith" in sections[1][1]))
    checks.append(("prefix expansion runs in the executor and reads only "
                   "the expanded terms' row groups (Range -> MapInPandas, "
                   "no exchange, no Spark postings scan; counters vs "
                   "parquet footers)",
                   executor_only(sections[2][1]) and serving_reads[3]))
    checks.append(("block-join does map-side combine (partial agg on conv)",
                   "partial_max" in sections[3][1]
                   or "partial_" in sections[3][1]))
    checks.append(("minhash stays JVM (no Python eval)",
                   "Python" not in sections[4][1]
                   and "ArrowEval" not in sections[4][1]))
    checks.append(("ANN broadcasts query side",
                   "Broadcast" in sections[5][1]))
    checks.append(("msearch is one executor run reading only the row "
                   "groups of the term UNION (Range -> MapInPandas, no "
                   "exchange; counters vs parquet footers)",
                   executor_only(sections[6][1]) and serving_reads[2]))
    checks.append(("passage highlighter stays JVM (no Python eval)",
                   "Python" not in sections[7][1]
                   and "partial_" in sections[7][1]))
    checks.append(("compiled expression is one codegen Project (no Python)",
                   "Python" not in sections[8][1]
                   and "codegen id" in sections[8][1]
                   and "CASE WHEN" in sections[8][1]))
    checks.append(("events window agg is two-stage JVM HashAggregate",
                   "Python" not in sections[9][1]
                   and "partial_" in sections[9][1]))
    checks.append(("boostByQuery combine is a codegen CASE join (no extra "
                   "Python past the per-segment kernel)",
                   "CASE WHEN" in sections[10][1]
                   and "Join" in sections[10][1]))
    checks.append(("feature blend arithmetic stays JVM-side (exactly one "
                   "Python node — the per-segment score kernel)",
                   # one Python node = tree line + detail line in the
                   # formatted output
                   sections[11][1].count("InPandas") <= 2
                   and "Join" in sections[11][1]))

    checks.append(("covering agg is one map-side-combined HashAggregate "
                   "(partial count+sum before the doc_id shuffle)",
                   "partial_count" in sections[12][1]
                   and "partial_sum" in sections[12][1]))
    checks.append(("rescore second pass reads only the covering segments' "
                   "row groups of its terms (Range -> MapInPandas, no "
                   "exchange; counters vs parquet footers)",
                   executor_only(sections[13][1]) and pruned_reads[0]))
    checks.append(("term vectors read only the covering segments' row "
                   "groups of the field (Range -> MapInPandas, no "
                   "exchange; counters vs parquet footers)",
                   executor_only(sections[14][1]) and pruned_reads[1]))
    checks.append(("decontamination broadcasts the eval shingles and "
                   "combines map-side (pure JVM)",
                   "BroadcastHashJoin" in sections[15][1]
                   and "partial_count" in sections[15][1]
                   and "Python" not in sections[15][1]))
    checks.append(("stratified sample is one JVM window over the stratum "
                   "shuffle (no Python)",
                   "Window" in sections[16][1]
                   and "Python" not in sections[16][1]))
    checks.append(("geo distance stays JVM (bbox + haversine in codegen, "
                   "no Python, no exchange)",
                   "Python" not in sections[17][1]
                   and "SIN" in sections[17][1].upper()
                   and "Exchange" not in sections[17][1]))
    checks.append(("line dedup ownership is a two-stage min agg on the "
                   "line hash (no window, no Python)",
                   "partial_min" in sections[18][1]
                   and "Python" not in sections[18][1]))
    checks.append(("unigram-LM stays JVM (two-stage aggs, no Python)",
                   "partial_" in sections[19][1]
                   and "Python" not in sections[19][1]))
    checks.append(("multi-range is ONE scan (no Union), filters JVM-side",
                   "Union" not in sections[20][1]
                   and "Python" not in sections[20][1]))
    checks.append(("parent-children join broadcasts the one parent's "
                   "child set (no score-plan shuffle on the join key)",
                   "BroadcastHashJoin" in sections[21][1]))
    checks.append(("double-range facets broadcast the ranges table into "
                   "the theta-join and combine counts map-side (no Python "
                   "eval past the match kernel — applySchemaToPythonRDD is "
                   "just the tiny ranges createDataFrame)",
                   "BroadcastNestedLoopJoin" in sections[22][1]
                   and "partial_count" in sections[22][1]
                   and "EvalPython" not in sections[22][1]
                   # one Python node = tree line + detail line
                   and sections[22][1].count("InPandas") <= 2))
    checks.append(("matchall complement runs distributed (executor tasks "
                   "visit every uncovered segment and each returns its own "
                   "docs; Range -> MapInPandas, no whole-corpus driver "
                   "relation)",
                   executor_only(sections[23][1])
                   and "LocalTableScan" not in sections[23][1]
                   and complement_visits))
    checks.append(("exact-substring dedup: two-stage window-hash agg "
                   "(partial_count+partial_min) + Window sweep, no Python",
                   "partial_count" in sections[24][1]
                   and "partial_min" in sections[24][1]
                   and "Window" in sections[24][1]
                   and "Python" not in sections[24][1]))
    checks.append(("payload fold is one executor kernel reading only the "
                   "term's row groups (Range -> MapInPandas, no join, no "
                   "exchange; counters vs parquet footers)",
                   executor_only(sections[25][1])
                   and sections[25][1].count("MapInPandas") == 2
                   and "Join" not in sections[25][1]
                   and payload_reads))

    checks.append(("interval kernel is one executor kernel reading only "
                   "its terms' row groups (Range -> MapInPandas, no join, "
                   "no exchange; counters vs parquet footers)",
                   executor_only(sections[26][1])
                   and sections[26][1].count("MapInPandas") == 2
                   and "Join" not in sections[26][1]
                   and interval_reads))
    checks.append(("polygon predicate is pure codegen (no Python, no "
                   "pre-projection exchange)",
                   "Python" not in sections[27][1]
                   and "pnpoly" not in sections[27][1].lower()
                   and "Filter" in sections[27][1]))
    checks.append(("sequence packing: bucket-partitioned window (no "
                   "global/empty partition spec), broadcast bucket "
                   "offsets, no Python eval (applySchemaToPythonRDD is "
                   "just the 1024-row offsets createDataFrame)",
                   bool(re.search(r"windowspecdefinition\(bucket",
                                  sections[28][1]))
                   and not re.search(r"windowspecdefinition\((?!bucket)",
                                     sections[28][1])
                   and "BroadcastHashJoin" in sections[28][1]
                   and "PythonUDF" not in sections[28][1]
                   and "InPandas" not in sections[28][1]))
    checks.append(("HNSW search: one cogrouped Arrow kernel over "
                   "seg-partitioned graph+vectors, no shuffle join",
                   "FlatMapCoGroupsInPandas" in sections[29][1]
                   and "SortMergeJoin" not in sections[29][1]
                   and "BroadcastHashJoin" not in sections[29][1]))

    checks.append(("serving top-k is one stage: Range -> MapInPandas, no "
                   "exchange, no Spark postings scan",
                   executor_only(sections[30][1])))
    checks.append(("serving term top-k reads only the query terms' row "
                   "groups (executor counters vs parquet footers)",
                   serving_reads[0]))
    checks.append(("serving prefix top-k reads only the expanded terms' row "
                   "groups (executor counters vs parquet footers)",
                   serving_reads[1]))
    checks.append(("msearch reads only the row groups of the term UNION "
                   "in one executor run (counters vs parquet footers)",
                   serving_reads[2]))
    checks.append(("a small top-k (term and prefix) runs in the driver under "
                   "the default bound: no Spark job, and it reads exactly "
                   "the footer-overlap row groups (status tracker; counters "
                   "vs parquet footers)",
                   all(driver_runs)))

    out = ["# BENCH/PLANS.md — physical-plan audit (auto-generated)\n"]
    out.append("## Checks\n")
    for name, ok in checks:
        out.append(f"- [{'x' if ok else ' '}] {name}")
    out.append("")
    for title, txt in sections:
        out.append(f"## {title}\n\n```\n{txt.strip()}\n```\n")
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("\n".join(f"{'OK ' if ok else 'MISS'} {n}" for n, ok in checks))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
