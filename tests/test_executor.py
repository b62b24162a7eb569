"""SegmentExecutor — the exchange-free per-segment serving path.

Every query shape routed through the executor (flat booleans, msearch,
phrase / multiphrase, driver-resolved prefix expansions) must match the
brute-force golden bit for bit, including deletes, keyword-field clauses,
orphan segment dirs, readers opened before an append, and composite
(multi-index) statistics. A run's read, in the driver or in a Spark task,
must read exactly the row groups whose term statistics can hold a query
term."""

import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest

from lucene_spark.corpus import VOCAB, synthetic_transcripts_pdf
from lucene_spark.goldens import BruteForceIndex
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.search import ast
from lucene_spark.search.executor import SegmentExecutor, pack_segments
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
        assert _docs(s._automaton_match(q).df()) == sorted(want)
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


def test_concurrent_callers_match_sequential(spark, built, monkeypatch):
    """Threads running mixed shapes against one searcher get the
    sequential answers bit for bit, on the driver path and on the Spark
    path: more threads than cores, with a short switch interval so
    threads interleave inside the executor's lazy build and counters."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    ops = [("search", A), ("search", f"{A} {B} {C}"),
           ("search", f'"{A} {B}"'), ("search", f"{D[:3]}*"),
           ("search", f'+{A} "{B} {C}"~3'), ("count", f"{A} {B}"),
           ("count", f'"{A} {B}"'), ("count", f"{D[:3]}*"),
           ("count", f'{C} "{A} {B}"')]
    for bound in (SegmentExecutor.DRIVER_RUN_BYTES, 0):
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
        # a fresh searcher: the first callers race to build the executor
        s = IndexSearcher(spark, built)

        def call(op):
            kind, q = op
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
        assert got == want, bound
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
