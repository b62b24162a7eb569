"""SegmentExecutor — the exchange-free per-segment serving path.

Every query shape routed through the executor (flat booleans, msearch,
phrase / multiphrase, driver-resolved prefix expansions) must match the
brute-force golden bit for bit, including deletes, keyword-field clauses,
orphan segment dirs, readers opened before an append, and composite
(multi-index) statistics. A run's read, in the driver or in a Spark task,
must read exactly the row groups whose term statistics can hold a query
term."""

import os
import shutil
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq
import pytest

from lucene_spark.corpus import VOCAB, synthetic_transcripts_pdf
from lucene_spark.goldens import BruteForceIndex
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.search import ast
from lucene_spark.search.executor import (DOCS, SegmentExecutor,
                                          pack_segments)
from lucene_spark.search.searcher import IndexSearcher

A, B, C, D = VOCAB[0], VOCAB[3], VOCAB[7], VOCAB[11]
BIG = 10 ** 5

QUERIES = [
    A,
    f"{A} {B} {C}",
    f"+{A} {B} -{C}",
    f'"{A} {B}"',
    f'"{B} {C}"~3',
    f"{D[:3]}*",
    f"role:user {A}",
    f"+role:tool {B}",
]


def _hits(hits):
    return [(h.doc_id, h.score) for h in hits]


@pytest.fixture(scope="module")
def corpus():
    return synthetic_transcripts_pdf(60).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def golden(corpus):
    return BruteForceIndex(corpus, keyword_fields=("role",))


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("exec") / "index")
    IndexBuilder(spark, d, num_segments=4, keyword_fields=("role",)).build(
        spark.createDataFrame(corpus))
    return d


@pytest.mark.parametrize("q", QUERIES)
def test_search_matches_golden(spark, built, golden, q):
    s = IndexSearcher(spark, built)
    assert _hits(s.search(q, 10)) == golden.search(q, 10), q
    assert _hits(s.search(q, BIG)) == golden.search(q, BIG), q


def test_msearch_matches_golden(spark, built, golden):
    s = IndexSearcher(spark, built)
    got = s.msearch(QUERIES, k=10)
    assert [_hits(h) for h in got] == [golden.search(q, 10) for q in QUERIES]


def test_prefix_semijoin_fallback_matches_golden(spark, built, golden):
    # past MULTITERM_EXPAND_CAP the expansion never reaches the driver:
    # the same kernel over the semi-join DataFrame source must agree
    s = IndexSearcher(spark, built)
    s.MULTITERM_EXPAND_CAP = 1
    q = f"{D[:1]}*"
    assert len([t for t in s.reader.sorted_terms("text")
                if t.startswith(D[:1])]) > 1
    assert not isinstance(s._multiterm_source(s.parse(q)), dict)
    for k in (10, BIG):
        assert _hits(s.search(q, k)) == golden.search(q, k)


def test_one_wave_of_at_most_nproc_tasks(spark, built):
    s = IndexSearcher(spark, built)
    ex = s.reader.segment_executor()
    assert sorted(x for p in ex.packs for x in p) == sorted(s.reader.offsets)
    assert len(ex.packs) <= spark.sparkContext.defaultParallelism
    s.search(f"{A} {B}", 10)
    stats = ex.task_stats()
    assert [e["task"] for e in stats] == list(range(len(ex.packs)))
    assert all(e["kernel_ms"] >= 0 and e["postings_rows"] > 0 for e in stats)


def test_pack_segments_balances_bytes():
    # largest first onto the lighter task: 100 | 60+50 | 100+40 | 110+10
    packs = pack_segments({0: 100, 1: 60, 2: 50, 3: 40, 4: 10}, 2)
    assert packs == [[0, 3], [1, 2, 4]]
    assert pack_segments({5: 1}, 4) == [[5]]


def test_deleted_docs_are_masked(spark, built, golden, tmp_path):
    from lucene_spark.indexing.maintenance import IndexMaintenance

    d = str(tmp_path / "del")
    shutil.copytree(built, d)
    victim = C
    dead = set(golden.postings[victim][0].tolist())
    assert IndexMaintenance(spark, d).delete_by_term(victim) == len(dead)
    s = IndexSearcher(spark, d)
    # stats stay stale until compaction (live-docs semantics): survivors
    # keep their scores, deleted docs vanish
    for q in QUERIES + [f"{victim[:3]}*"]:
        exp = [h for h in golden.search(q, BIG) if h[0] not in dead]
        assert _hits(s.search(q, BIG)) == exp, q
        assert _hits(s.search(q, 5)) == exp[:5], q


def test_orphan_segment_dir_is_ignored(spark, built, golden, tmp_path):
    d = str(tmp_path / "orphan")
    shutil.copytree(built, d)
    # a crashed pre-commit append leaves a seg dir the manifest never named
    shutil.copytree(f"{d}/postings/seg=0", f"{d}/postings/seg=99")
    s = IndexSearcher(spark, d)
    assert 99 not in s.reader.segment_executor().files
    for q in QUERIES:
        assert _hits(s.search(q, BIG)) == golden.search(q, BIG), q


def test_reader_keeps_its_segments_across_append(spark, corpus, tmp_path):
    from lucene_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "inc")
    half = len(corpus) // 2
    inc = IncrementalIndexer(spark, d, rows_per_segment=40)
    inc.append(spark.createDataFrame(corpus.iloc[:half]), epoch_id=0)
    old = IndexSearcher(spark, d)
    before = {q: _hits(old.search(q, BIG)) for q in QUERIES[:6]}
    segs = set(old.reader.segment_executor().files)
    inc.append(spark.createDataFrame(corpus.iloc[half:]), epoch_id=1)
    # the open reader still answers from its own point-in-time segment set
    for q, exp in before.items():
        assert _hits(old.search(q, BIG)) == exp, q
    assert set(old.reader.segment_executor().files) == segs
    new = IndexSearcher(spark, d)
    assert set(new.reader.segment_executor().files) > segs
    golden = BruteForceIndex(corpus)
    for q in QUERIES[:6]:
        assert _hits(new.search(q, BIG)) == golden.search(q, BIG), q


def test_multi_index_searcher_uses_combined_stats(spark, corpus, tmp_path):
    from lucene_spark.search.multireader import MultiIndexSearcher

    half = len(corpus) // 2
    dirs = []
    for name, part in [("a", corpus.iloc[:half]), ("b", corpus.iloc[half:])]:
        dirs.append(str(tmp_path / name))
        IndexBuilder(spark, dirs[-1], num_segments=2).build(
            spark.createDataFrame(part))
    m = MultiIndexSearcher(spark, dirs)
    golden = BruteForceIndex(corpus)
    for q in QUERIES[:6]:
        assert _hits(m.search(q, 10)) == golden.search(q, 10), q


# ---- in-task row-group pruning ----------------------------------------------

def _small_row_groups(src, dst, rows_per_group=8):
    """Copy an index, rewriting its postings files (same rows, same order)
    with tiny row groups so each file holds many."""
    shutil.copytree(src, dst)
    import glob

    for p in glob.glob(f"{dst}/postings/seg=*/*.parquet"):
        tbl = pq.ParquetFile(p).read()
        pq.write_table(tbl, p, row_group_size=rows_per_group,
                       compression="zstd")
    return dst


def _matching_rows(index_dir, segs, field_terms):
    n = 0
    for s in segs:
        t = pq.read_table(f"{index_dir}/postings/seg={s}",
                          columns=["field", "term"]).to_pandas()
        for f, ts in field_terms.items():
            n += int(((t["field"] == f) & t["term"].isin(ts)).sum())
    return n


def _overlapping_reads(spark, d, bound, monkeypatch, footer_overlap):
    """On the driver path (``bound`` = the default) and the Spark path
    (``bound`` = 0), every run reads exactly the footer-overlap set and
    counts it consistently."""
    monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
    where = "driver" if bound else "spark"
    s = IndexSearcher(spark, d)
    ex = s.reader.segment_executor()
    vocab = s.reader.sorted_terms("text")
    prefix = D[:3]
    expanded = [t for t in vocab if t.startswith(prefix)]
    assert expanded
    msearch_qs = [A, f"{B} {C}", f"role:user {D}"]
    cases = [
        (lambda: s.search(A, 10), {"text": [A]}),
        (lambda: s.search(f"{prefix}*", 10), {"text": expanded}),
        (lambda: s.msearch(msearch_qs, 10),
         {"text": [A, B, C, D], "role": ["user"]}),
    ]
    for run, field_terms in cases:
        run()
        stats = ex.task_stats()
        assert stats and {e["where"] for e in stats} == {where}
        assert all(e["row_groups_read"] <= e["row_groups"] for e in stats)
        read = {tuple(x) for e in stats for x in e["read"]}
        want, total = footer_overlap(d, ex.files, field_terms)
        assert read == want, field_terms
        assert sum(e["row_groups_read"] for e in stats) == len(want)
        assert sum(e["row_groups"] for e in stats) == total
        # the statistics actually pruned: most row groups were skipped
        assert len(want) < total / 2, (len(want), total)
        assert sum(e["postings_rows"] for e in stats) == _matching_rows(
            d, ex.files, field_terms)
        assert all(e["postings_bytes"] > 0 for e in stats
                   if e["postings_rows"])


def test_only_overlapping_row_groups_are_read(spark, built, tmp_path,
                                              monkeypatch, footer_overlap):
    d = _small_row_groups(built, str(tmp_path / "rg"))
    for bound in (SegmentExecutor.DRIVER_RUN_BYTES, 0):
        with monkeypatch.context() as m:
            _overlapping_reads(spark, d, bound, m, footer_overlap)


def test_small_row_groups_do_not_change_answers(spark, built, golden,
                                                tmp_path):
    s = IndexSearcher(spark, _small_row_groups(built, str(tmp_path / "rg2")))
    for q in QUERIES:
        assert _hits(s.search(q, 10)) == golden.search(q, 10), q


def test_phrase_score_df_restricted_to_segments(spark, built, golden):
    s = IndexSearcher(spark, built)
    q = ast.normalize(s.parse(f'"{A} {B}"'))
    hits = golden.search(q, BIG)
    assert hits
    ids = [h[0] for h in hits[:3]]
    got = {(int(r["doc_id"]), float(r["score"]))
           for r in s.score_df(q, doc_ids=ids).collect()}
    assert got == {h for h in hits if h[0] in ids}


# ---- every per-segment kernel, on a multi-segment index with deletes -------

@pytest.fixture(scope="module")
def deleted(spark, built, golden, tmp_path_factory):
    """(index dir, dead docIDs): the 4-segment index with every doc of C
    deleted; statistics stay stale until compaction, so surviving docs keep
    their golden scores."""
    from lucene_spark.indexing.maintenance import IndexMaintenance

    d = str(tmp_path_factory.mktemp("exec_del") / "index")
    shutil.copytree(built, d)
    dead = set(golden.postings[C][0].tolist())
    assert IndexMaintenance(spark, d).delete_by_term(C) == len(dead)
    return d, dead


def _segment_of(searcher):
    bounds = searcher._segment_doc_bounds()
    return lambda doc: next(s for s, (lo, hi) in bounds.items()
                            if lo <= doc < hi)


def _live(hits, dead):
    return [h for h in hits if h[0] not in dead]


def _docs(df):
    return sorted(int(r["doc_id"]) for r in df.collect())


def test_local_docid_kernels_match_golden(spark, deleted, golden):
    """The span, automaton and interval kernels key on segment-local
    docIDs: their hits, like the phrase count's and match set's, come back
    from every segment with its docBase added and its deletes masked."""
    from lucene_spark.search import intervals as iv

    d, dead = deleted
    s = IndexSearcher(spark, d)
    seg_of = _segment_of(s)
    phrase = _live(golden.search(f'"{A} {B}"', BIG), dead)
    # the phrase's hits span several segments, so docBases matter
    assert len({seg_of(h[0]) for h in phrase}) > 1
    phrase_docs = sorted(h[0] for h in phrase)

    span = ast.SpanNearQuery((A, B), slop=0, in_order=True)
    want = _live(golden.search(span, BIG), dead)
    assert [h[0] for h in want] == phrase_docs
    assert _hits(s.search(span, BIG)) == want
    assert s.count(span) == len(want)

    # A -> B and (A|C) -> B automata are the phrase and the multiphrase
    automata = [
        (((0, 1, A), (1, 2, B)), f'"{A} {B}"'),
        (((0, 1, (A, C)), (1, 2, B)),
         ast.MultiPhraseQuery(((A, C), (B,)))),
    ]
    for transitions, same in automata:
        q = ast.TermAutomatonQuery(transitions=transitions, n_states=3,
                                   accept=(2,))
        want = [h[0] for h in _live(golden.search(same, BIG), dead)]
        assert _docs(s._automaton_run(q, DOCS).df()) == sorted(want)
        assert s.count(q) == len(want)

    # phrase intervals (max_gaps=0): freq = the phrase frequency
    src = iv.Ordered((A, B), max_gaps=0)
    freqs = golden.phrase_postings([A, B])
    docs = np.array(phrase_docs, dtype=np.int64)
    sc = iv.saturation_scores(
        np.array([freqs[x] for x in phrase_docs], dtype=np.float32))
    got = {(int(r["doc_id"]), float(r["score"]))
           for r in s.interval_scored_df(ast.IntervalQuery(src)).collect()}
    assert got == {(int(x), float(y)) for x, y in zip(docs, sc)}
    assert s.count(ast.IntervalQuery(src)) == len(phrase_docs)

    for q in (f'"{A} {B}"', f'"{B} {C}"~3',
              ast.MultiPhraseQuery(((A, C), (B,)))):
        want = _live(golden.search(q, BIG), dead)
        assert s.count(q) == len(want), q
        assert _docs(s.match_df(s.parse(q) if isinstance(q, str) else q)
                     ) == sorted(h[0] for h in want), q


def test_mixed_complement_visits_uncovered_segments(spark, deleted, golden):
    """Docset (KNN) and match-all clauses match in segments that hold none
    of the query's terms: the executor visits those segments too."""
    from lucene_spark.search.knn import knn_similarity_f32
    from lucene_spark.search.simpleqp import parse_simple

    d, dead = deleted
    s = IndexSearcher(spark, d)
    seg_of = _segment_of(s)
    n = golden.n
    everyone = [x for x in range(n) if x not in dead]

    # '-absent': no segment holds a postings row of the query
    q = ast.normalize(parse_simple("-zzqqabsentterm", s.analyzer))
    want = _live(golden.search(q, BIG), dead)
    assert [h[0] for h in want] == everyone
    assert _hits(s.search(q, BIG)) == want
    assert _hits(s.search(q, 7)) == want[:7]
    assert s.count(q) == len(everyone)
    assert _docs(s.match_df(q)) == everyone

    # '-rare' with a term living in one segment: that segment runs with
    # its postings, every other one with zero rows
    rare = next(t for t, (docs, _tfs) in sorted(golden.postings.items())
                if len({seg_of(int(x)) for x in docs}) == 1
                and not set(docs.tolist()) & dead)
    q = ast.normalize(parse_simple(f"-{rare}", s.analyzer))
    want = _live(golden.search(q, BIG), dead)
    assert len(want) == len(everyone) - golden.postings[rare][0].size
    assert _hits(s.search(q, BIG)) == want
    assert s.count(q) == len(want)

    # a KNN docset beside that rare term: its docs in the other segments
    rng = np.random.RandomState(3)
    vecs = rng.uniform(-0.5, 0.5, size=(n, 8)).astype(np.float32)
    s.set_vectors(spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "doc_id long, embedding array<float>"))
    rare_seg = seg_of(int(golden.postings[rare][0][0]))
    far = next(i for i in range(n) if seg_of(i) != rare_seg)
    knn = s.knn_search(vecs[far].tolist(), k=12)
    assert {seg_of(x) for x, _dot in knn} - {rare_seg}
    q = ast.BooleanQuery(((ast.SHOULD, ast.KnnQuery(tuple(vecs[far].tolist()),
                                                    k=12)),
                          (ast.SHOULD, ast.TermQuery(rare))))
    score = {x: np.float64(knn_similarity_f32(dot, 1.0)) for x, dot in knn}
    for x, sc in golden.search(rare, BIG):
        score[x] = score.get(x, np.float64(0.0)) + np.float64(np.float32(sc))
    want = sorted(((x, float(np.float32(v))) for x, v in score.items()
                   if x not in dead), key=lambda h: (-h[1], h[0]))
    assert _hits(s.search(q, BIG)) == want
    assert s.count(q) == len(want)


def test_term_vectors_match_golden(spark, deleted, golden):
    d, dead = deleted
    s = IndexSearcher(spark, d)
    seg_of = _segment_of(s)
    n = golden.n
    ids = [0, 1, n // 3, n // 2, n // 2 + 1, n - 1, min(dead), max(dead)]
    assert len({seg_of(x) for x in ids}) > 2
    want = {(x, t, len(by_doc[x]), " ".join(str(p) for p in by_doc[x]))
            for t, by_doc in golden.positions.items()
            for x in ids if x in by_doc and x not in dead}
    got = {(int(r["doc_id"]), r["term"], int(r["freq"]), r["positions"])
           for r in s.term_vectors(ids).collect()}
    assert got == want
    # only the covering segments are read, whole-field row groups
    ex = s.reader.segment_executor()
    s.term_vectors([n - 1]).collect()
    assert {x for t in ex.task_stats() for x in t["segments"]} == {
        seg_of(n - 1)}


def test_combined_field_matches_golden(spark, deleted, golden):
    from lucene_spark.similarity import BM25Similarity
    from lucene_spark.smallfloat import LENGTH_TABLE, int_to_byte4

    d, dead = deleted
    s = IndexSearcher(spark, d)
    terms = [A, "assistant"]
    fields = {"text": 1.0, "role": 2.0}
    n = golden.n
    pseudo_df, pseudo_ttf = 0, 0.0
    freq = np.zeros(n, dtype=np.float32)
    for t in terms:
        for f, w in fields.items():
            if f == "text":
                docs, tfs = golden.postings.get(
                    t, (np.zeros(0, np.int64), np.zeros(0, np.int64)))
            else:
                docs = golden.keyword[f].get(t, np.zeros(0, np.int64))
                tfs = np.ones(docs.size, np.int64)
            if docs.size:
                pseudo_df = max(pseudo_df, int(docs.size))
                pseudo_ttf += w * int(tfs.sum())
                freq[docs] += np.float32(w) * tfs.astype(np.float32)
    sum_ttf = golden.sum_ttf + 2.0 * golden.kw_field_stats["role"]["sum_ttf"]
    scorer = BM25Similarity().scorer(1.0, n, int(sum_ttf), [pseudo_df],
                                     ttfs=[max(1, int(pseudo_ttf))])
    comb = int_to_byte4(np.floor(
        np.float32(1.0) * LENGTH_TABLE[golden.norms] + 0.5).astype(np.int64))
    hit = np.flatnonzero(freq > 0)
    sc = scorer.score(freq[hit], comb[hit])
    want = {(int(x), float(y)) for x, y in zip(hit, sc) if x not in dead}
    got = {(int(r["doc_id"]), float(r["score"]))
           for r in s.combined_field_df(terms, fields).collect()}
    assert got == want


def test_score_df_doc_ids_match_golden(spark, deleted, golden):
    d, dead = deleted
    s = IndexSearcher(spark, d)
    seg_of = _segment_of(s)
    for q in (f"{A} {B}", f'"{A} {B}"'):
        hits = _live(golden.search(q, BIG), dead)
        ids = [h[0] for h in hits[::3]] + sorted(dead)[:2]
        assert len({seg_of(x) for x in ids}) > 1
        got = {(int(r["doc_id"]), float(r["score"]))
               for r in s.score_df(q, doc_ids=ids).collect()}
        assert got == {h for h in hits if h[0] in ids}, q


def test_prefix_semijoin_source_equals_term_set(spark, deleted, golden):
    """With no driver expansion allowed, top-k, count and match_df of a
    prefix query run the same kernels over the semi-join DataFrame and
    answer exactly like the driver-resolved term set."""
    d, dead = deleted
    by_terms = IndexSearcher(spark, d)
    semi = IndexSearcher(spark, d)
    semi.MULTITERM_EXPAND_CAP = 0
    for prefix in (D[:3], C[:2]):
        q = semi.parse(f"{prefix}*")
        assert isinstance(by_terms._multiterm_source(q), dict)
        assert not isinstance(semi._multiterm_source(q), dict)
        want = _live(golden.search(q, BIG), dead)
        assert want
        for k in (5, BIG):
            assert _hits(semi.search(q, k)) == _hits(by_terms.search(q, k)) \
                == want[:k], (prefix, k)
        assert semi.count(q) == by_terms.count(q) == len(want)
        assert _docs(semi.match_df(q)) == _docs(by_terms.match_df(q)) \
            == sorted(h[0] for h in want)


def _count_shapes(golden):
    """shape -> (query, {field: terms} it reads, golden hit count); every
    count shape that sums per-segment COUNT kernel rows."""
    from lucene_spark.search import intervals as iv

    phrase = len(golden.search(f'"{A} {B}"', BIG))
    span = ast.SpanNearQuery((A, B), slop=0, in_order=True)
    return {
        "flat": (f"{A} {B}", {"text": [A, B]},
                 len(golden.search(f"{A} {B}", BIG))),
        "phrase": (f'"{A} {B}"', {"text": [A, B]}, phrase),
        "span": (span, {"text": [A, B]}, phrase),
        "constant": (ast.ConstantScoreQuery(span), {"text": [A, B]}, phrase),
        "automaton": (ast.TermAutomatonQuery(
            transitions=((0, 1, A), (1, 2, B)), n_states=3, accept=(2,)),
            {"text": [A, B]}, phrase),
        "interval": (ast.IntervalQuery(iv.Ordered((A, B), max_gaps=0)),
                     {"text": [A, B]}, phrase),
        "mixed": (f'{C} "{A} {B}"', {"text": [A, B, C]},
                  len(golden.search(f'{C} "{A} {B}"', BIG))),
    }


def test_counts_run_no_job_below_bound(spark, built, golden, job_shape,
                                       footer_overlap):
    """A warm count of every shape runs in the driver: no Spark job, the
    golden hit count, and exactly the footer-overlap row groups read."""
    s = IndexSearcher(spark, built)
    ex = s.reader.segment_executor()
    sc = spark.sparkContext
    for shape, (q, field_terms, want) in _count_shapes(golden).items():
        s.count(q)  # warm: term dictionary resident on the driver
        jobs, _stages, _tasks, n = job_shape(sc, f"count-driver-{shape}",
                                             lambda: s.count(q))
        assert n == want > 0, (shape, n, want)
        assert jobs == 0, (shape, jobs)
        stats = ex.task_stats()
        assert {e["where"] for e in stats} == {"driver"}, shape
        assert {tuple(x) for e in stats for x in e["read"]} == \
            footer_overlap(built, ex.files, field_terms)[0], shape


def test_counts_run_one_exchange_free_job(spark, built, golden, job_shape,
                                          monkeypatch):
    """Past the driver bound (forced by a bound of 0) a count of every
    shape is one Spark job of one stage (no Exchange, a shuffle boundary,
    before the kernel) of at most nproc tasks."""
    monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", 0)
    s = IndexSearcher(spark, built)
    sc = spark.sparkContext
    for shape, (q, _ft, want) in _count_shapes(golden).items():
        s.count(q)
        jobs, stages, tasks, n = job_shape(sc, f"count-{shape}",
                                           lambda: s.count(q))
        assert n == want > 0, (shape, n, want)
        assert jobs == 1 and stages == 1, (shape, jobs, stages)
        assert tasks <= sc.defaultParallelism, (shape, tasks)


def test_profile_reports_executor_counters(spark, built, monkeypatch):
    s = IndexSearcher(spark, built)
    for bound, where in ((SegmentExecutor.DRIVER_RUN_BYTES, "driver"),
                         (0, "spark")):
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
        prof = s.profile(f"{A} {B}", k=10)
        stats = s.reader.segment_executor().task_stats()
        c = prof["executor"]
        assert prof["hits"] == s.search(f"{A} {B}", 10)
        assert c["where"] == where and c["packs"] == len(stats)
        assert c["segments"] == len(s.reader.offsets)
        assert 0 < c["row_groups_read"] <= c["row_groups"]
        assert c["postings_rows"] == sum(e["postings_rows"] for e in stats) > 0
        assert c["postings_bytes"] > 0 and c["kernel_ms"] >= 0
    # a query whose terms are all absent runs no executor run
    assert s.profile("zzqqabsentterm", k=10)["executor"] is None


def _run_sums(ex):
    stats = ex.task_stats()
    return {key: sum(e[key] for e in stats)
            for key in ("row_groups_read", "row_groups_cached",
                        "bytes_cached")}


def test_row_group_cache_serves_repeats(spark, built, golden, monkeypatch,
                                        footer_overlap):
    """On the driver path a cold run reads every planned row group from the
    files, and a repeat serves every one from the executor's cache; the
    counters reach ``task_stats()`` and ``profile()["executor"]``, the read
    set stays the footer overlap, and the hits stay the golden's. The
    Spark path keeps nothing between runs."""
    q = f"{A} {B}"
    s = IndexSearcher(spark, built)
    ex = s.reader.segment_executor()
    want = golden.search(q, 10)
    assert _hits(s.search(q, 10)) == want
    cold = _run_sums(ex)
    assert cold["row_groups_read"] > 0
    assert cold["row_groups_cached"] == cold["bytes_cached"] == 0
    assert ex._cache.nbytes > 0
    assert _hits(s.search(q, 10)) == want
    warm = _run_sums(ex)
    assert warm["row_groups_cached"] == warm["row_groups_read"] == \
        cold["row_groups_read"]
    assert warm["bytes_cached"] > 0
    assert {tuple(x) for e in ex.task_stats() for x in e["read"]} == \
        footer_overlap(built, ex.files, {"text": [A, B]})[0]
    c = s.profile(q, k=10)["executor"]
    assert c["where"] == "driver"
    assert c["row_groups_cached"] == c["row_groups_read"]
    assert c["bytes_cached"] == warm["bytes_cached"]

    monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", 0)
    for _ in range(2):
        assert _hits(s.search(q, 10)) == want
        spark_run = _run_sums(ex)
        assert spark_run["row_groups_read"] == cold["row_groups_read"]
        assert spark_run["row_groups_cached"] == 0
    c = s.profile(q, k=10)["executor"]
    assert c["where"] == "spark" and c["row_groups_cached"] == 0


def test_row_group_cache_stays_under_its_cap(spark, built, golden,
                                             monkeypatch):
    """With the cap below one row group's read the cache holds at most the
    cap (entries larger than it are never held) and answers still match."""
    probe = IndexSearcher(spark, built).reader.segment_executor()
    f = probe.footers[min(probe.footers)][0]
    cols = ("field", "term", "first_doc", "last_doc", "count", "doc_gaps",
            "tfs")
    cap = min(sum(f.sizes[c][rg] for c in cols)
              for rg in range(len(f.rows)) if f.rows[rg]) // 2
    monkeypatch.setattr(SegmentExecutor, "ROW_GROUP_CACHE_BYTES", cap)
    s = IndexSearcher(spark, built)
    ex = s.reader.segment_executor()
    for _ in range(2):
        for q in QUERIES:
            assert _hits(s.search(q, 10)) == golden.search(q, 10), q
            assert ex._cache.nbytes <= cap
            assert ex._cache.nbytes == sum(
                e.nbytes for e in ex._cache._items.values())
            # and that is what the held columns really take
            assert ex._cache.nbytes == sum(
                _deep_size(e) for e in ex._cache._items.values())
    assert ex._cache._items  # small columns are still held


def test_warm_cache_keeps_snapshot_across_append_and_compact(spark, corpus,
                                                             tmp_path):
    """A reader keeps answering from its own snapshot, out of its warm
    cache, after an ``IncrementalIndexer.append`` and after a delete and
    ``compact()`` (which removes the old segment files); a reader opened
    after either answers from the new index. Each is checked against the
    golden scorer of its snapshot."""
    from lucene_spark.indexing.maintenance import IndexMaintenance
    from lucene_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "snap")
    half = len(corpus) // 2
    qs = QUERIES[:6]
    inc = IncrementalIndexer(spark, d, rows_per_segment=40)
    inc.append(spark.createDataFrame(corpus.iloc[:half]), epoch_id=0)
    golden_half = BruteForceIndex(corpus.iloc[:half])
    golden_full = BruteForceIndex(corpus)
    victim = C
    dead = set(golden_full.postings[victim][0].tolist())
    golden_compacted = BruteForceIndex(
        corpus[~corpus.index.isin(dead)].reset_index(drop=True))

    def check(s, golden, warm):
        ex = s.reader.segment_executor()
        for q in qs:
            assert _hits(s.search(q, BIG)) == golden.search(q, BIG), q
            if warm:
                c = _run_sums(ex)
                assert c["row_groups_cached"] == c["row_groups_read"], q

    old = IndexSearcher(spark, d)
    check(old, golden_half, warm=False)
    check(old, golden_half, warm=True)
    inc.append(spark.createDataFrame(corpus.iloc[half:]), epoch_id=1)
    check(old, golden_half, warm=True)
    mid = IndexSearcher(spark, d)
    assert set(mid.reader.segment_executor().files) > \
        set(old.reader.segment_executor().files)
    check(mid, golden_full, warm=False)
    check(mid, golden_full, warm=True)
    old_files = [urlparse(u).path for v in
                 old.reader.segment_executor().files.values() for u in v]
    assert old_files and all(os.path.exists(p) for p in old_files)
    m = IndexMaintenance(spark, d)
    assert m.delete_by_term(victim) == len(dead)
    assert m.compact(target_rows=10 ** 6)["merged_runs"] >= 1
    # the old snapshot's segment files are gone: its answers come from
    # the cache
    assert not any(os.path.exists(p) for p in old_files)
    check(old, golden_half, warm=True)
    check(mid, golden_full, warm=True)
    new = IndexSearcher(spark, d)
    assert not set(new.reader.segment_executor().files) & \
        set(mid.reader.segment_executor().files)
    check(new, golden_compacted, warm=False)


def test_concurrent_callers_match_sequential(spark, built, monkeypatch):
    """Threads running mixed shapes against one searcher get the
    sequential answers bit for bit: on the driver path, on the driver
    path with a row-group cache cap so small that evictions interleave,
    and on the Spark path. More threads than cores, with a short switch
    interval so threads interleave inside the executor's lazy build, its
    counters and cache, the cold reader's shared term-dictionary fill
    (read once) and the query cache's ``match_df`` reuse."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from lucene_spark.indexing import tableio
    from lucene_spark.search.reader import IndexReader

    ops = [("search", A), ("search", f"{A} {B} {C}"),
           ("search", f'"{A} {B}"'), ("search", f"{D[:3]}*"),
           ("search", f'+{A} "{B} {C}"~3'), ("count", f"{A} {B}"),
           ("count", f'"{A} {B}"'), ("count", f"{D[:3]}*"),
           ("count", f'{C} "{A} {B}"'),
           ("match", ast.MultiTermQuery("prefix", D[:3]))]
    reads = []
    read_table = tableio.read_table

    def counted_read(path, *a, **kw):
        reads.append(path)
        return read_table(path, *a, **kw)

    monkeypatch.setattr(tableio, "read_table", counted_read)
    for bound, cap in ((SegmentExecutor.DRIVER_RUN_BYTES,
                        SegmentExecutor.ROW_GROUP_CACHE_BYTES),
                       (SegmentExecutor.DRIVER_RUN_BYTES, 4096),
                       (0, SegmentExecutor.ROW_GROUP_CACHE_BYTES)):
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
        monkeypatch.setattr(SegmentExecutor, "ROW_GROUP_CACHE_BYTES", cap)
        # a cold reader: its term dictionary is not resident yet, and the
        # first callers race to fill it and to build the executor
        monkeypatch.setattr(IndexReader, "_SHARED_TERM_CACHE", {})
        s = IndexSearcher(spark, built)
        reads.clear()

        def call(op):
            kind, q = op
            if kind == "match":
                return s.match_df(q).count()
            return (_hits(s.search(q, 10)) if kind == "search"
                    else s.count(q))

        work = ops * 3
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                futures = [pool.submit(call, op) for op in work]
                got = [f.result(timeout=300) for f in futures]
        finally:
            sys.setswitchinterval(switch)
        want = [call(op) for op in work]
        assert got == want, (bound, cap)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        # the shared term dictionary was read once, by one caller
        assert len([p for p in reads if "term_stats" in p]) == 1, reads
        # every match_df use was counted; racing first uses may each miss,
        # but one persisted match set is kept and later uses hit it
        qc = s.query_cache
        assert qc.hits + qc.misses == 6, (qc.hits, qc.misses)
        assert 2 <= qc.misses <= 3 and len(qc._cache) == 1
        cache = s.reader.segment_executor()._cache
        assert cache.nbytes <= cap
        assert cache.nbytes == sum(e.nbytes for e in cache._items.values())


def test_span_and_automaton_topk_run_no_job_below_bound(
        spark, built, golden, job_shape, monkeypatch):
    """Span and TermAutomaton top-k collect each segment's k smallest
    docIDs through the executor: no Spark job below the driver bound, one
    job of one stage past it (forced by a bound of 0), the golden hits
    both ways."""
    k = 5
    phrase_docs = sorted(h[0] for h in golden.search(f'"{A} {B}"', BIG))
    assert len(phrase_docs) > k  # the per-segment k-smallest cut matters
    span = ast.SpanNearQuery((A, B), slop=0, in_order=True, boost=2.5)
    automaton = ast.TermAutomatonQuery(
        transitions=((0, 1, A), (1, 2, B)), n_states=3, accept=(2,))
    want = {"span": golden.search(span, k),
            "automaton": [(d, 1.0) for d in phrase_docs[:k]]}
    assert [h[0] for h in want["span"]] == phrase_docs[:k]
    sc = spark.sparkContext
    for bound, n_jobs in ((SegmentExecutor.DRIVER_RUN_BYTES, 0), (0, 1)):
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
        s = IndexSearcher(spark, built)
        for shape, q in (("span", span), ("automaton", automaton)):
            s.search(q, k)  # warm: term dictionary resident on the driver
            jobs, stages, _tasks, hits = job_shape(
                sc, f"topk-{shape}-{bound}", lambda: s.search(q, k))
            assert _hits(hits) == want[shape], (shape, bound)
            assert jobs == n_jobs and stages == n_jobs, (shape, bound, jobs)


@pytest.fixture(scope="module")
def hot(spark, tmp_path_factory):
    """A 2-segment index where the hot term A spans ~17 blocks per
    segment, enough chunks for block-max pruning to skip some."""
    d = str(tmp_path_factory.mktemp("exec_hot") / "index")
    IndexBuilder(spark, d, num_segments=2).build(
        spark.createDataFrame(synthetic_transcripts_pdf(1000)))
    return d


def _direct_block_counts(s, q, k, prune):
    """The WAND block counters of ``segment_topk(stats=)`` called directly
    on every segment's postings rows of ``q``, summed."""
    from lucene_spark.search.wand import keyed_rows, segment_topk

    specs, msm = s._weighted_clauses(s.parse(q))
    terms = sorted({c.term.split(s.FIELD_SEP, 1)[1] for c in specs})
    pdf = s.reader.postings(terms, field="text").toPandas()
    total = dict.fromkeys(("blocks_kept", "blocks_exact", "blocks_decoded"),
                          0)
    for _seg, g in pdf.groupby("seg"):
        rows = {c: g[c].to_numpy() for c in g.columns}
        for c in ("first_doc", "last_doc"):
            rows[c] = rows[c].astype(np.int64) + rows["doc_offset"]
        st = {}
        segment_topk(keyed_rows(rows, s.FIELD_SEP), specs, k, msm,
                     prune=prune, stats=st)
        for key in total:
            total[key] += st[key]
    return total


def test_profile_reports_wand_block_counters(spark, hot, monkeypatch):
    """The flat top-k kernel's WAND block counters reach ``task_stats()``
    and ``profile()["executor"]`` on both paths: they sum over segments to
    the direct per-segment kernel calls' counts, decoded <= kept, and WAND
    decodes fewer blocks of the hot term than the exhaustive mode."""
    keys = ("blocks_kept", "blocks_exact", "blocks_decoded")
    q = A
    want = {mode: _direct_block_counts(IndexSearcher(spark, hot), q, 10,
                                       mode == "wand")
            for mode in ("wand", "exhaustive")}
    assert want["wand"]["blocks_decoded"] < \
        want["exhaustive"]["blocks_decoded"] == \
        want["exhaustive"]["blocks_kept"]
    for bound, where in ((SegmentExecutor.DRIVER_RUN_BYTES, "driver"),
                         (0, "spark")):
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
        s = IndexSearcher(spark, hot)
        ex = s.reader.segment_executor()
        for mode in ("wand", "exhaustive"):
            s.search(q, 10, mode=mode)
            stats = ex.task_stats()
            assert {e["where"] for e in stats} == {where}
            got = {key: sum(e[key] for e in stats) for key in keys}
            assert got == want[mode], (where, mode)
            assert got["blocks_decoded"] <= got["blocks_kept"]
        c = s.profile(q, k=10)["executor"]
        assert c["where"] == where
        assert {key: c[key] for key in keys} == want["wand"], where


# ---- term slices: the read equals an independent filter ---------------------

def _filter_reference(paths, field_terms, columns):
    """The rows of the postings files ``paths`` (in file order) whose
    (field, term) is in ``field_terms`` (``None`` = the whole field), by a
    ``pc.equal``/``pc.is_in`` scan of every row, and their byte count:
    the type width per row, or value bytes plus a 4-byte offset for
    binary, string and list columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tables = []
    for p in paths:
        t = pq.read_table(p)
        mask = pa.array(np.zeros(t.num_rows, bool))
        for f, ts in field_terms.items():
            m = pc.equal(t["field"], f)
            if ts is not None:
                m = pc.and_(m, pc.is_in(t["term"], value_set=pa.array(
                    list(ts), pa.string())))
            mask = pc.or_(mask, m)
        tables.append(t.filter(mask).select(columns))
    rows = {c: [x for t in tables for x in t[c].to_pylist()]
            for c in columns}
    nbytes = 0
    for t in tables:
        for c in columns:
            typ = t.schema.field(c).type
            for x in t[c].to_pylist():
                if isinstance(x, (bytes, str)):
                    nbytes += 4 + len(x.encode() if isinstance(x, str) else x)
                elif isinstance(x, list):
                    nbytes += 4 + 4 * len(x)
                else:
                    nbytes += typ.bit_width // 8
    return rows, nbytes


def _as_lists(rows: dict) -> dict:
    return {c: [x.tolist() if isinstance(x, np.ndarray) else x
                for x in v.tolist()] for c, v in rows.items()}


def _random_field_terms(rng, vocab: dict):
    """1-3 fields, each ``None`` (the whole field) or a mix of present
    terms (a run of neighbours, so ranges merge, plus scattered ones) and
    absent ones."""
    absent = ["", "0000absent", "zzzzabsent", "m\x00between"]
    out = {}
    fields = sorted(vocab) + ["nosuchfield"]
    for f in rng.choice(fields, size=int(rng.integers(1, len(fields) + 1)),
                        replace=False):
        terms = vocab.get(f, ["user"])
        if rng.random() < 0.2:
            out[f] = None
            continue
        i = int(rng.integers(0, len(terms)))
        picked = set(terms[i:i + int(rng.integers(1, 6))])
        picked |= set(rng.choice(terms, size=min(len(terms), int(
            rng.integers(0, 8))), replace=False).tolist())
        picked |= set(rng.choice(absent, size=int(rng.integers(0, 3)),
                                 replace=False).tolist())
        out[f] = sorted(picked)
    return out


def _check_slices_match_filter(spark, d, seed, n_cases=40, n_fields=2):
    """Seeded random ``field_terms`` over every segment of index ``d``:
    ``_read_segment_postings`` (through the resident cache, cold and warm,
    and through a bound-0 cache like a Spark task) returns exactly the rows
    of an independent filter, in file order, and counts them and their
    bytes."""
    from lucene_spark.search.executor import (_read_segment_postings,
                                              _RowGroupCache)
    from lucene_spark.search.searcher import FLAT_COLS, POS_COLS

    ex = IndexSearcher(spark, d).reader.segment_executor()
    paths = {s: [urlparse(u).path for u in v] for s, v in ex.files.items()}
    vocab: dict = {}
    for v in paths.values():
        for p in v:
            t = pq.read_table(p, columns=["field", "term"]).to_pandas()
            for f, g in t.groupby("field"):
                vocab.setdefault(f, set()).update(g["term"])
    vocab = {f: sorted(ts) for f, ts in vocab.items()}
    assert len(vocab) == n_fields  # text and, by default, a keyword field
    rng = np.random.default_rng(seed)
    resident = _RowGroupCache(10 ** 9)
    seen_rows = 0
    for case in range(n_cases):
        field_terms = _random_field_terms(rng, vocab)
        columns = (POS_COLS, FLAT_COLS)[case % 2]
        run = ex.prepare(field_terms, columns, lambda seg, rows: {}, DOCS)
        for s, parts in run.parts.items():
            want, want_bytes = _filter_reference(paths[s], field_terms,
                                                 columns)
            for cache in (resident, resident, _RowGroupCache(0)):
                c = {"row_groups": 0, "row_groups_read": 0, "read": [],
                     "row_groups_cached": 0, "bytes_cached": 0,
                     "postings_rows": 0, "postings_bytes": 0}
                got = _read_segment_postings(s, parts, run.field_terms,
                                             columns, c, cache)
                n = len(want[columns[0]])
                assert c["postings_rows"] == n, (field_terms, s)
                assert c["postings_bytes"] == want_bytes, (field_terms, s)
                if not n:
                    assert got is None, (field_terms, s)
                    continue
                assert _as_lists(got) == want, (field_terms, s)
                seen_rows += n
    assert seen_rows > 0


def test_term_slices_match_filter_small_row_groups(spark, built, tmp_path):
    """Tiny row groups: terms (and fields) span row-group boundaries."""
    d = _small_row_groups(built, str(tmp_path / "rg_slices"))
    _check_slices_match_filter(spark, d, seed=13)


def test_term_slices_match_filter(spark, built):
    _check_slices_match_filter(spark, built, seed=7)


def test_term_slices_match_filter_appended_and_compacted(spark, built,
                                                         corpus, tmp_path):
    """Segments written by ``IncrementalIndexer.append`` (text only: the
    append path writes no keyword fields) and by ``compact()`` of the
    keyword-field index (the merge writes fields in sorted order, ``role``
    before ``text``) slice the same rows as the filter."""
    from lucene_spark.indexing.maintenance import IndexMaintenance
    from lucene_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "appended")
    half = len(corpus) // 2
    inc = IncrementalIndexer(spark, d, rows_per_segment=40)
    inc.append(spark.createDataFrame(corpus.iloc[:half]), epoch_id=0)
    inc.append(spark.createDataFrame(corpus.iloc[half:]), epoch_id=1)
    _check_slices_match_filter(spark, d, seed=3, n_cases=20, n_fields=1)
    assert _layout_problems(d) == []
    d = str(tmp_path / "compacted")
    shutil.copytree(built, d)
    m = IndexMaintenance(spark, d)
    assert m.delete_by_term(C) > 0
    assert m.compact(target_rows=10 ** 6)["merged_runs"] >= 1
    _check_slices_match_filter(spark, d, seed=5, n_cases=20)
    assert _layout_problems(d) == []


def _layout_problems(d):
    """``tools/check_index.py``'s postings-layout check over the live
    segments of index ``d``."""
    import importlib.util
    import json

    tool = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_index.py")
    spec = importlib.util.spec_from_file_location("check_index", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(f"{d}/manifest.json") as f:
        segs = sorted(int(x) for x in json.load(f)["offsets"])
    return mod.check_postings_layout(d, segs)


def _shuffled_copy(src, dst):
    """Copy an index with one postings file's rows shuffled (fields and
    terms out of order) — the file the segment reads from."""
    import glob

    shutil.copytree(src, dst)
    p = sorted(glob.glob(f"{dst}/postings/seg=*/*.parquet"))[0]
    t = pq.read_table(p)
    perm = np.random.default_rng(0).permutation(t.num_rows)
    pq.write_table(t.take(perm), p)
    return p


def test_layout_break_raises_naming_file_and_row_group(spark, built,
                                                       tmp_path):
    """A postings file whose fields are not contiguous or whose terms are
    not ascending cannot be sliced: the read raises, naming the file and
    the row group, instead of returning wrong rows; CheckIndex reports the
    file and passes the built one (appended and compacted ones: above)."""
    import re

    p = _shuffled_copy(built, str(tmp_path / "shuffled"))
    s = IndexSearcher(spark, str(tmp_path / "shuffled"))
    name = re.escape(p.split("/postings/")[1])
    with pytest.raises(ValueError, match=f"{name} row group 0"):
        s.search(A, 10)
    # CheckIndex passes the built index and reports the shuffled file
    assert _layout_problems(built) == []
    problems = _layout_problems(str(tmp_path / "shuffled"))
    assert problems and all(x.startswith(p) for x in problems), problems


# ---- the read-time counter and the cache's held form -------------------------

def test_read_ms_within_collect_wall_time(spark, built, monkeypatch):
    """Every pack reports ``read_ms`` (time in the postings read) beside
    ``kernel_ms``; on either path neither is negative and a pack's read
    plus kernel time fits in the wall time of the ``collect()`` that ran
    it (on the driver path, so does their sum over packs). ``profile()``
    sums them."""
    import time

    s = IndexSearcher(spark, built)
    ex = s.reader.segment_executor()
    wc = s._weighted_clauses(s.parse(f"{A} {B} role:user"))
    for bound, where in ((SegmentExecutor.DRIVER_RUN_BYTES, "driver"),
                         (0, "spark")):
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
        for _ in range(2):  # cold, then warm
            run = s._flat_topk([(0, wc)], 10, prune=True)
            assert run.where == where
            t0 = time.perf_counter()
            run.collect()
            wall_ms = (time.perf_counter() - t0) * 1e3
            stats = ex.task_stats()
            assert stats and {e["where"] for e in stats} == {where}
            for e in stats:
                assert e["read_ms"] >= 0 and e["kernel_ms"] >= 0
                assert e["read_ms"] + e["kernel_ms"] <= wall_ms
            if where == "driver":
                assert sum(e["read_ms"] + e["kernel_ms"]
                           for e in stats) <= wall_ms
        c = s.profile(f"{A} {B}", k=10)["executor"]
        stats = ex.task_stats()
        assert c["read_ms"] == sum(e["read_ms"] for e in stats) >= 0


def _deep_size(col) -> int:
    """Bytes held by a cached column, counted from its parts: the numpy
    buffer, each distinct element object (with a view element's data) and
    the row-byte prefix sums."""
    import sys

    v = col.values
    n = v.nbytes
    if isinstance(col.row_bytes, np.ndarray):
        n += col.row_bytes.nbytes
    if v.dtype == object:
        seen = set()
        for x in v:
            if id(x) in seen:
                continue
            seen.add(id(x))
            n += sys.getsizeof(x)
            if isinstance(x, np.ndarray) and not x.flags.owndata:
                n += x.nbytes
    return n


def test_cache_holds_read_only_numpy_at_its_true_size(spark, built, golden):
    """The driver cache holds every column in numpy form, read-only, and
    its ``nbytes`` is the deep size of what it holds; a kernel that writes
    to its input fails and leaves the cache (and later answers) intact."""
    s = IndexSearcher(spark, built)
    ex = s.reader.segment_executor()
    for q in QUERIES:
        assert _hits(s.search(q, 10)) == golden.search(q, 10), q
    items = list(ex._cache._items.values())
    assert items
    assert all(isinstance(e.values, np.ndarray) and not e.values.flags.
               writeable for e in items)
    assert ex._cache.nbytes == sum(_deep_size(e) for e in items)

    def clobber(seg, rows):
        rows["count"][:] = 0
        return {}

    with pytest.raises(ValueError, match="read-only"):
        ex.prepare({"text": [A]}, ["count"], clobber, DOCS).collect()
    for q in QUERIES:
        assert _hits(s.search(q, 10)) == golden.search(q, 10), q
