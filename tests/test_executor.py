"""SegmentExecutor — the exchange-free per-segment serving path.

Every query shape routed through the executor (flat booleans, msearch,
phrase / multiphrase, driver-resolved prefix expansions) must match the
brute-force golden bit for bit, including deletes, keyword-field clauses,
orphan segment dirs, readers opened before an append, and composite
(multi-index) statistics. The in-task read must read exactly the row
groups whose term statistics can hold a query term."""

import shutil

import pyarrow.parquet as pq
import pytest

from lucene_spark.corpus import VOCAB, synthetic_transcripts_pdf
from lucene_spark.goldens import BruteForceIndex
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.search import ast
from lucene_spark.search.executor import pack_segments
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
    # the semi-join DataFrame path (still grouped by seg) must agree
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


def _overlapping(index_dir, segs, field_terms):
    """(seg, file index, row group) of every row group whose field and
    [min(term), max(term)] statistics can hold a query term, and the
    total row-group count — straight from the parquet footers."""
    import glob

    want, total = set(), 0
    for s in segs:
        for fi, p in enumerate(sorted(
                glob.glob(f"{index_dir}/postings/seg={s}/*.parquet"))):
            md = pq.ParquetFile(p).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            fc, tc = names.index("field"), names.index("term")
            total += md.num_row_groups
            for rg in range(md.num_row_groups):
                fst = md.row_group(rg).column(fc).statistics
                tst = md.row_group(rg).column(tc).statistics
                if any(fst.min <= f <= fst.max
                       and any(tst.min <= t <= tst.max for t in ts)
                       for f, ts in field_terms.items()):
                    want.add((s, fi, rg))
    return want, total


def _matching_rows(index_dir, segs, field_terms):
    n = 0
    for s in segs:
        t = pq.read_table(f"{index_dir}/postings/seg={s}",
                          columns=["field", "term"]).to_pandas()
        for f, ts in field_terms.items():
            n += int(((t["field"] == f) & t["term"].isin(ts)).sum())
    return n


def test_only_overlapping_row_groups_are_read(spark, built, tmp_path):
    d = _small_row_groups(built, str(tmp_path / "rg"))
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
        assert stats
        read = {tuple(x) for e in stats for x in e["read"]}
        want, total = _overlapping(d, ex.files, field_terms)
        assert read == want, field_terms
        assert sum(e["row_groups_read"] for e in stats) == len(want)
        assert sum(e["row_groups"] for e in stats) == total
        # the statistics actually pruned: most row groups were skipped
        assert len(want) < total / 2, (len(want), total)
        assert sum(e["postings_rows"] for e in stats) == _matching_rows(
            d, ex.files, field_terms)
        assert all(e["postings_bytes"] > 0 for e in stats
                   if e["postings_rows"])


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
