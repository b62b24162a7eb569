"""Search correctness: engine (exhaustive AND wand) ≡ brute-force goldens,
bit-exact float32 scores, tie-break, WAND≡exhaustive (TestWANDScorer analogy)."""

import numpy as np
import pandas as pd
import pytest

from lucene_spark.corpus import VOCAB
from lucene_spark.goldens import BruteForceIndex
from lucene_spark.search import ast
from lucene_spark.search.searcher import IndexSearcher

QUERIES = [
    VOCAB[0],                                # hot term
    VOCAB[800],                              # rare term
    f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}",    # OR
    f"+{VOCAB[1]} {VOCAB[5]}",               # MUST + SHOULD
    f"+{VOCAB[1]} +{VOCAB[0]}",              # AND
    f"+{VOCAB[2]} -{VOCAB[0]}",              # MUST + MUST_NOT
    f"{VOCAB[4]}^2.5 {VOCAB[9]}",            # boost
    f"{VOCAB[0]} {VOCAB[0]}",                # duplicate SHOULD clauses
    "zzznotaterm",                           # absent term
    f"+zzznotaterm {VOCAB[0]}",              # absent MUST
    f"-{VOCAB[0]}",                          # only prohibited → no hits
]


@pytest.fixture(scope="module")
def golden(corpus_pdf):
    return BruteForceIndex(corpus_pdf)


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return IndexSearcher(spark, index_dir)


@pytest.mark.parametrize("k", [10, 100])
@pytest.mark.parametrize("mode", ["exhaustive", "wand"])
def test_rank_and_score_identity(searcher, golden, mode, k):
    for q in QUERIES:
        exp = golden.search(q, k)
        got = [(sd.doc_id, sd.score) for sd in searcher.search(q, k, mode=mode)]
        assert got == exp, f"mismatch for query {q!r} mode={mode} k={k}"


def test_wand_equals_exhaustive_large_k(searcher):
    for q in QUERIES[:7]:
        a = searcher.search(q, 250, mode="exhaustive")
        b = searcher.search(q, 250, mode="wand")
        assert a == b, f"WAND != exhaustive for {q!r}"


def test_tiebreak_lower_docid_wins(spark, tmp_path):
    """Equal scores → lower docID first (HitQueue.java:78-84)."""
    import shutil

    from lucene_spark.indexing.builder import IndexBuilder

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(6)],
            "turn_idx": [0] * 6,
            "role": ["user"] * 6,
            # identical docs → identical (tf, dl) → identical score
            "text": ["apple pie"] * 5 + ["banana"],
            "tool": [None] * 6,
            "ts": [None] * 6,
        }
    )
    df = spark.createDataFrame(pdf)
    d = str(tmp_path / "tieidx")
    shutil.rmtree(d, ignore_errors=True)
    IndexBuilder(spark, d, num_segments=2).build(df)
    s = IndexSearcher(spark, d)
    for mode in ("exhaustive", "wand"):
        hits = s.search("apple", 3, mode=mode)
        assert [h.doc_id for h in hits] == [0, 1, 2]
        assert len({h.score for h in hits}) == 1


def test_count(searcher, golden):
    q = f"{VOCAB[0]} {VOCAB[3]}"
    assert searcher.count(q) == len(golden.search(q, 10**6))


def test_parser_shapes():
    from lucene_spark.analysis import StandardAnalyzer

    an = StandardAnalyzer()
    q = ast.parse(f"+{VOCAB[1]} -{VOCAB[2]} {VOCAB[3]}^2", an)
    occ = q.by_occur
    assert [t.term for t in occ[ast.MUST]] == [VOCAB[1]]
    assert [t.term for t in occ[ast.MUST_NOT]] == [VOCAB[2]]
    assert occ[ast.SHOULD][0].boost == 2.0
    # single bare term collapses to TermQuery
    assert isinstance(ast.parse("hello", an), ast.TermQuery)
    # empty / all-dropped → MatchNoDocs
    assert isinstance(ast.parse("", an), ast.MatchNoDocsQuery)
    assert isinstance(ast.parse("x" * 300, an), ast.MatchNoDocsQuery)


def test_phrase_golden_identity(spark, searcher, golden, corpus_pdf):
    """Engine phrase top-k ≡ brute-force goldens (positions path end-to-end)."""
    from lucene_spark.search.ast import PhraseQuery

    # pick real adjacent token pairs + an absent phrase + a 3-gram
    an = golden.analyzer
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pairs, trigram = [], None
    for text in ordered["text"]:
        toks = an.tokenize_text(text)
        if len(toks) >= 2 and len(pairs) < 3:
            pairs.append(tuple(toks[1:3] if len(toks) >= 3 else toks[:2]))
        if len(toks) >= 5 and trigram is None:
            trigram = tuple(toks[2:5])
        if len(pairs) >= 3 and trigram:
            break
    queries = [PhraseQuery(p) for p in pairs]
    queries.append(PhraseQuery(trigram))
    queries.append(PhraseQuery(("zzznotaterm", "table")))
    for q in queries:
        exp = golden.search(q, 50)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
        assert got == exp, f"phrase mismatch for {q.terms}"


def test_phrase_parse_quoted(searcher):
    from lucene_spark.search import ast as A

    q = A.parse('"foo bar baz"', searcher.analyzer)
    assert isinstance(q, A.PhraseQuery) and q.terms == ("foo", "bar", "baz")
    q2 = A.parse('"single"', searcher.analyzer)
    assert isinstance(q2, A.TermQuery)


def test_positions_roundtrip():
    import numpy as np

    from lucene_spark.indexing.blocks import (
        decode_block_positions,
        encode_segment_blocks,
    )

    rng = np.random.RandomState(3)
    # one term, 300 postings (3 blocks), random ascending positions per doc
    docs = np.arange(300, dtype=np.int64)
    tfs = rng.randint(1, 6, size=300).astype(np.int64)
    pos = np.concatenate(
        [np.sort(rng.choice(500, size=t, replace=False)) for t in tfs]
    ).astype(np.int64)
    terms = np.zeros(300, dtype=np.int64)
    pool = np.array(["t"], dtype=object)
    cols = encode_segment_blocks(terms, docs, tfs, np.zeros(300, np.int64),
                                 term_pool=pool, pos_flat=pos)
    out = []
    off = 0
    for i in range(len(cols["term"])):
        cnt = int(cols["count"][i])
        flat, _ = decode_block_positions(cols["positions"][i], tfs[off:off + cnt])
        out.append(flat)
        off += cnt
    assert np.concatenate(out).tolist() == pos.tolist()


def test_multiterm_constant_score(spark, searcher, golden):
    """Prefix/wildcard/range/set/fuzzy: CONSTANT_SCORE rewrite — k smallest
    matching docIDs, score == boost; expansion verified against the golden
    postings dict."""
    from lucene_spark.search.ast import MultiTermQuery

    cases = [
        (MultiTermQuery("prefix", "ba", boost=1.5),
         lambda t: t.startswith("ba")),
        (MultiTermQuery("wildcard", "b?d*"),
         lambda t: len(t) >= 3 and t[0] == "b" and t[2] == "d"),
        (MultiTermQuery("range", lower="da", upper="dd"),
         lambda t: "da" <= t <= "dd"),
        (MultiTermQuery("set", terms=("bada", "dala", "zzz")),
         lambda t: t in ("bada", "dala", "zzz")),
    ]  # fuzzy covered by test_fuzzy_expansion
    for q, pred in cases:
        got = searcher.search(q, 30)
        exp_docs = sorted(
            {int(d) for t, (docs, _) in golden.postings.items() if pred(t)
             for d in docs.tolist()}
        )[:30]
        assert [h.doc_id for h in got] == exp_docs, q
        assert all(h.score == q.boost for h in got)
        # count parity
        full = sorted(
            {int(d) for t, (docs, _) in golden.postings.items() if pred(t)
             for d in docs.tolist()}
        )
        assert searcher.count(q) == len(full)


def test_fuzzy_expansion(searcher, golden):
    """Fuzzy expansion uses Damerau-Levenshtein (FuzzyQuery.java:57
    transpositions=true): an adjacent swap counts as ONE edit."""
    from lucene_spark.search.ast import MultiTermQuery
    from lucene_spark.search.multiterm import damerau_levenshtein as dl

    for value, me in [("bada", 1), ("abda", 1), ("dala", 2)]:
        q = MultiTermQuery("fuzzy", value, max_edits=me)
        exp_docs = sorted(
            {int(d) for t, (docs, _) in golden.postings.items()
             if dl(t, value) <= me for d in docs.tolist()}
        )[:30]
        got = searcher.search(q, 30)
        assert [h.doc_id for h in got] == exp_docs, (value, me)


def test_synonym_blended_scoring(spark, searcher, golden):
    from lucene_spark.search.ast import SynonymQuery

    terms = (VOCAB[0], VOCAB[3])
    q = SynonymQuery(terms, boost=1.25)
    got = [(h.doc_id, h.score) for h in searcher.search(q, 60)]
    # expected: tf summed, df = max, one BM25 score
    tfsum = {}
    for t in terms:
        docs, tfs = golden.postings[t]
        for d, tf in zip(docs.tolist(), tfs.tolist()):
            tfsum[d] = tfsum.get(d, 0) + tf
    df_blend = max(golden.postings[t][0].size for t in terms)
    scorer = golden.similarity.scorer(1.25, golden.doc_count, golden.sum_ttf,
                                      [df_blend])
    docs = np.array(sorted(tfsum), dtype=np.int64)
    sc = scorer.score(np.array([tfsum[d] for d in docs.tolist()]),
                      golden.norms[docs])
    order = np.lexsort((docs, -sc.astype(np.float64)))[:60]
    exp = [(int(docs[i]), float(sc[i])) for i in order]
    assert got == exp


def test_dismax_max_scoring(spark, searcher, golden):
    from lucene_spark.search.ast import DisjunctionMaxQuery

    terms = (VOCAB[0], VOCAB[5])
    q = DisjunctionMaxQuery(terms)
    got = [(h.doc_id, h.score) for h in searcher.search(q, 60)]
    best = {}
    for t in terms:
        docs, tfs = golden.postings[t]
        scorer = golden.similarity.scorer(1.0, golden.doc_count,
                                          golden.sum_ttf, [docs.size])
        sc = scorer.score(tfs, golden.norms[docs])
        for d, s in zip(docs.tolist(), sc.tolist()):
            best[d] = max(best.get(d, 0.0), s)
    docs = np.array(sorted(best), dtype=np.int64)
    sc = np.array([best[d] for d in docs.tolist()], dtype=np.float32)
    order = np.lexsort((docs, -sc.astype(np.float64)))[:60]
    exp = [(int(docs[i]), float(sc[i])) for i in order]
    assert got == exp


def test_dismax_negative_scores(spark, index_dir, golden):
    """DisMax under a similarity that scores NEGATIVE (log-probability
    models like IndriDirichlet): per-doc max must be the true max of the
    sub-scores, not floored at 0."""
    from lucene_spark.search.ast import DisjunctionMaxQuery
    from lucene_spark.search.searcher import IndexSearcher

    # defined in-function so cloudpickle ships them by VALUE to executors
    def neg_score(tf, norm_code):
        return (-1.0 / (np.asarray(tf, dtype=np.float64) + 1.0)).astype(
            np.float32)

    class _NegScorer:
        nonnegative = False
        score = staticmethod(neg_score)

    class _NegSim:
        name = "neg_test"

        def scorer(self, boost, doc_count, sum_ttf, dfs, ttfs=None):
            return _NegScorer()

    terms = (VOCAB[0], VOCAB[5])
    hits = IndexSearcher(spark, index_dir, similarity=_NegSim()).search(
        DisjunctionMaxQuery(terms), 60)
    got = [(h.doc_id, h.score) for h in hits]
    best = {}
    for t in terms:
        docs, tfs = golden.postings[t]
        sc = neg_score(tfs, golden.norms[docs])
        for d, v in zip(docs.tolist(), sc.tolist()):
            best[d] = v if d not in best else max(best[d], v)
    assert all(v < 0 for v in best.values())  # every sub-score is negative
    docs = np.array(sorted(best), dtype=np.int64)
    sc = np.array([best[d] for d in docs.tolist()], dtype=np.float32)
    order = np.lexsort((docs, -sc.astype(np.float64)))[:60]
    exp = [(int(docs[i]), float(sc[i])) for i in order]
    assert got == exp


def test_build_manifest_swap_crash_recovery(tmp_path):
    """swap_build_manifest / recover_build_manifest: a crash between the
    two renames (only .prev left) is promoted back on next open; a crash
    after publish leaves the new dir winning."""
    import os

    from lucene_spark.indexing.builder import IndexBuilder

    idx = tmp_path / "idx"
    idx.mkdir()

    def mkdir_with(name, marker):
        d = idx / name
        d.mkdir()
        (d / marker).write_text("x")
        return d

    # normal swap: old live + fully-written tmp → tmp wins, no leftovers
    mkdir_with("build_manifest", "old")
    mkdir_with("build_manifest.tmp", "new")
    IndexBuilder.swap_build_manifest(str(idx), str(idx / "build_manifest.tmp"))
    assert os.path.exists(idx / "build_manifest" / "new")
    assert not os.path.exists(idx / "build_manifest.prev")
    assert not os.path.exists(idx / "build_manifest.tmp")

    # simulated crash between the renames: only .prev (the old live) exists
    os.rename(idx / "build_manifest", idx / "build_manifest.prev")
    p = IndexBuilder.recover_build_manifest(str(idx))
    assert os.path.exists(idx / "build_manifest" / "new")
    assert p == str(idx / "build_manifest")

    # recovery is a no-op when live exists (stale .prev ignored)
    mkdir_with("build_manifest.prev", "stale")
    IndexBuilder.recover_build_manifest(str(idx))
    assert os.path.exists(idx / "build_manifest" / "new")


def test_search_after_pagination(searcher):
    q = f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}"
    full = searcher.search(q, 30)
    page2 = searcher.search_after(q, after_count=10, k=10)
    assert [(h.doc_id, h.score) for h in page2] == \
        [(h.doc_id, h.score) for h in full[10:20]]


def test_boolean_with_phrase_clauses(spark, searcher, golden, corpus_pdf):
    """Mixed boolean (term + phrase clauses) ≡ brute-force goldens."""
    an = golden.analyzer
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pair = None
    for text in ordered["text"]:
        toks = an.tokenize_text(text)
        if len(toks) >= 2:
            pair = (toks[0], toks[1])
            break
    ph = f'"{pair[0]} {pair[1]}"'
    queries = [
        f"+{ph} {VOCAB[3]}",                 # MUST phrase + SHOULD term
        f"{ph} {VOCAB[0]}",                  # SHOULD phrase + SHOULD term
        f"+{VOCAB[0]} -{ph}",                # MUST term + MUST_NOT phrase
        f'+{ph} +"{VOCAB[0]} zzznotaterm"',  # required phrase that never matches
        f"{ph}^2.5 {VOCAB[5]}",              # boosted phrase clause
    ]
    for q in queries:
        exp = golden.search(q, 50)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
        assert got == exp, f"mixed boolean mismatch for {q!r}"


def test_damerau_levenshtein_unit():
    from lucene_spark.search.multiterm import damerau_levenshtein as dl

    assert dl("tabel", "table") == 1   # adjacent transposition = ONE edit
    assert dl("ca", "abc") == 2        # true DL, not OSA (which gives 3)
    assert dl("", "abc") == 3
    assert dl("kitten", "sitting") == 3
    assert dl("abc", "abc") == 0


def test_constant_score_block_order_soundness(spark, tmp_path):
    """A sparse leading block spanning a wide doc range must not trigger a
    premature early exit: CONSTANT_SCORE top-k = the k smallest matching
    docIDs (ADVICE r1: multiterm.py early break was unsound)."""
    import shutil

    from lucene_spark.indexing.builder import IndexBuilder

    n = 1200
    texts = []
    for i in range(n):
        if i % 100 == 0:
            texts.append("qqa filler")      # sparse term: docs 0,100,...,1100
        elif i < 100:
            texts.append("qqb filler")      # dense term: docs 1..99
        else:
            texts.append("filler")
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:06d}" for i in range(n)],
        "turn_idx": [0] * n, "role": ["user"] * n,
        "text": texts, "tool": [None] * n, "ts": [None] * n,
    })
    d = str(tmp_path / "csidx")
    shutil.rmtree(d, ignore_errors=True)
    IndexBuilder(spark, d, num_segments=1).build(spark.createDataFrame(pdf))
    s = IndexSearcher(spark, d)
    hits = s.search(ast.MultiTermQuery("prefix", "qq"), 3)
    assert [h.doc_id for h in hits] == [0, 1, 2]
    assert s.count(ast.MultiTermQuery("prefix", "qq")) == 12 + 99


def test_too_many_clauses(searcher):
    from lucene_spark.search.ast import MultiTermQuery
    from lucene_spark.search.multiterm import TooManyClauses, expand_terms

    with pytest.raises(TooManyClauses):
        expand_terms(searcher.reader, MultiTermQuery("prefix", "b"),
                     max_terms=3)


def test_boolean_with_multiterm_clauses(searcher, golden):
    """Boolean queries mixing scored term clauses with constant-score
    multiterm clauses (CONSTANT_SCORE rewrite) ≡ brute-force goldens."""
    queries = [
        f"{VOCAB[0]} ba*",       # SHOULD term + SHOULD prefix
        f"+{VOCAB[0]} ba*",      # MUST term + SHOULD prefix
        f"+ba* {VOCAB[3]}",      # MUST prefix + SHOULD term
        f"+{VOCAB[1]} -da*",     # MUST term + MUST_NOT prefix
        f"{VOCAB[0]} b?d*^2.5",  # boosted wildcard clause
        f"+zzzz* {VOCAB[0]}",    # never-matching required prefix → no hits
    ]
    for q in queries:
        exp = golden.search(q, 50)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
        assert got == exp, f"mixed multiterm mismatch for {q!r}"


def test_distributed_counts_match_search(searcher, golden, corpus_pdf):
    """count() must agree with exhaustive search on every query shape
    (phrase / synonym / dismax / mixed boolean take the distributed path)."""
    an = golden.analyzer
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pair = None
    for text in ordered["text"]:
        toks = an.tokenize_text(text)
        if len(toks) >= 2:
            pair = (toks[0], toks[1])
            break
    big = 10 ** 6
    cases = [
        ast.PhraseQuery(pair),
        searcher.parse(f'+"{pair[0]} {pair[1]}" {VOCAB[0]}'),
        searcher.parse(f"+{VOCAB[0]} ba*"),
    ]
    for q in cases:
        assert searcher.count(q) == len(golden.search(q, big)), q
    # synonym / dismax hit set = union of the terms' doc sets
    for terms in [(VOCAB[0], VOCAB[3]), (VOCAB[0], VOCAB[5])]:
        exp = np.unique(
            np.concatenate([golden.postings[t][0] for t in terms])
        ).size
        assert searcher.count(ast.SynonymQuery(terms)) == exp
        assert searcher.count(ast.DisjunctionMaxQuery(terms)) == exp


def test_sloppy_matcher_hand_goldens():
    """Per-doc sloppy freq vs hand-derived expectations from the reference
    algorithm (SloppyPhraseMatcher.java greedy minimal-window semantics)."""
    from lucene_spark.search.phrase import _sloppy_freq_doc

    def f(pls, slop):
        return _sloppy_freq_doc([np.array(p, dtype=np.int64) - i
                                 for i, p in enumerate(pls)], slop)

    # "a b" in doc "a b": one exact match, weight 1/(1+0)
    assert f([[0], [1]], 1) == 1.0
    # "a b" in doc "a x b": distance 1 → weight 1/2 (and no match at slop 0)
    assert f([[0], [2]], 1) == 0.5
    assert f([[0], [2]], 0) == 0.0
    # reversed order "b a" needs slop 2 → weight 1/3
    assert f([[1], [0]], 2) == float(np.float32(1.0 / 3.0))
    assert f([[1], [0]], 1) == 0.0
    # "a b a b" with slop 0 ≡ exact: two matches, weight 1 each
    assert f([[0, 2], [1, 3]], 0) == 2.0
    # 3-term "a b c" in "a b x c": window = 1 → 1/2
    assert f([[0], [1], [3]], 1) == 0.5


def test_sloppy_phrase_golden_identity(spark, searcher, golden, corpus_pdf):
    """Engine sloppy-phrase top-k ≡ goldens (independent positions stream);
    parser handles the ~N syntax."""
    an = golden.analyzer
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pairs, gapped = [], None
    for text in ordered["text"]:
        toks = an.tokenize_text(text)
        if len(toks) >= 2 and len(pairs) < 2:
            pairs.append((toks[0], toks[1]))
        if len(toks) >= 4 and gapped is None:
            gapped = (toks[0], toks[2])   # distance-1 pair → needs slop ≥ 1
        if len(pairs) >= 2 and gapped:
            break
    queries = [
        ast.PhraseQuery(pairs[0], slop=1),
        ast.PhraseQuery(pairs[1], slop=3),
        ast.PhraseQuery(gapped, slop=1),
        ast.PhraseQuery((pairs[0][1], pairs[0][0]), slop=2),  # reversed
    ]
    for q in queries:
        exp = golden.search(q, 50)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
        assert got == exp, f"sloppy mismatch for {q.terms} slop={q.slop}"
    # parser syntax "a b"~2 and count parity
    qs = f'"{pairs[0][0]} {pairs[0][1]}"~2'
    parsed = searcher.parse(qs)
    assert isinstance(parsed, ast.PhraseQuery) and parsed.slop == 2
    assert searcher.count(parsed) == len(golden.search(parsed, 10 ** 6))


def test_multiphrase_golden_identity(spark, searcher, golden, corpus_pdf):
    """MultiPhraseQuery (per-slot alternatives, union postings, summed idf
    over all terms) ≡ goldens, exact and sloppy."""
    an = golden.analyzer
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pairs = []
    for text in ordered["text"]:
        toks = an.tokenize_text(text)
        if len(toks) >= 2:
            pairs.append((toks[0], toks[1]))
        if len(pairs) >= 2:
            break
    (a1, b1), (a2, b2) = pairs[0], pairs[1]
    queries = [
        ast.MultiPhraseQuery(((a1, a2), (b1,))),
        ast.MultiPhraseQuery(((a1,), (b1, b2)), boost=1.5),
        ast.MultiPhraseQuery(((a1, a2), (b1, b2)), slop=1),
        ast.MultiPhraseQuery(((a1, "zzznotaterm"), (b1,))),
    ]
    for q in queries:
        exp = golden.search(q, 50)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
        assert got == exp, f"multiphrase mismatch for {q.slots} slop={q.slop}"
    # count parity on the sloppy variant
    q = queries[2]
    assert searcher.count(q) == len(golden.search(q, 10 ** 6))


def test_search_sorted_topfield(searcher, golden):
    """TopFieldCollector analogue: sort-by-dl top-k with docID tie-break."""
    q = f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}"
    match_ids = [h for h, _ in golden.search(q, 10 ** 6)]
    exp_desc = sorted(match_ids, key=lambda d: (-int(golden.dl[d]), d))[:30]
    got = searcher.search_sorted(searcher.parse(q), "dl", k=30, reverse=True)
    assert [d for d, _ in got] == exp_desc
    assert all(v == int(golden.dl[d]) for d, v in got)
    exp_asc = sorted(match_ids, key=lambda d: (int(golden.dl[d]), d))[:30]
    got_asc = searcher.search_sorted(searcher.parse(q), "dl", k=30,
                                     reverse=False)
    assert [d for d, _ in got_asc] == exp_asc


def test_constant_score_wrapper(searcher, golden):
    """Generic ConstantScoreQuery: k smallest matching docIDs, score = boost."""
    q = searcher.parse(f"+{VOCAB[1]} {VOCAB[5]} -{VOCAB[0]}")
    exp_ids = sorted(h for h, _ in golden.search(q, 10 ** 6))[:25]
    got = searcher.search(ast.ConstantScoreQuery(q, boost=2.5), 25)
    assert [h.doc_id for h in got] == exp_ids
    assert all(h.score == 2.5 for h in got)
    assert searcher.count(ast.ConstantScoreQuery(q)) == \
        len(golden.search(q, 10 ** 6))


def test_function_score(searcher, golden):
    """FunctionScoreQuery boostByValue: BM25 × ln(1+dl), f32 result."""
    from pyspark.sql import functions as F

    q = f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}"
    base = golden.search(q, 10 ** 6)
    exp = [
        (d, float(np.float32(float(np.float32(s)) *
                             np.log(1.0 + float(golden.dl[d])))))
        for d, s in base
    ]
    exp.sort(key=lambda t: (-t[1], t[0]))
    got = searcher.function_score(
        searcher.parse(q), F.log(F.lit(1.0) + F.col("dl").cast("double")), k=30
    )
    assert [(h.doc_id, h.score) for h in got] == exp[:30]


def test_constant_score_wrapper_generic_inners(searcher, golden, corpus_pdf):
    """ConstantScoreQuery must accept ANY inner query shape (Lucene's most
    common use wraps multiterm/phrase queries)."""
    an = golden.analyzer
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pair = None
    for text in ordered["text"]:
        toks = an.tokenize_text(text)
        if len(toks) >= 2:
            pair = (toks[0], toks[1])
            break
    # prefix inner
    q = ast.ConstantScoreQuery(ast.MultiTermQuery("prefix", "ba"), boost=0.3)
    exp = sorted({int(d) for t, (docs, _) in golden.postings.items()
                  if t.startswith("ba") for d in docs.tolist()})
    got = searcher.search(q, 20)
    assert [h.doc_id for h in got] == exp[:20]
    assert all(h.score == float(np.float32(0.3)) for h in got)
    assert searcher.count(q) == len(exp)
    # phrase inner
    qp = ast.ConstantScoreQuery(ast.PhraseQuery(pair), boost=2.0)
    exp_p = sorted(d for d, _ in golden.search(ast.PhraseQuery(pair), 10 ** 6))
    gotp = searcher.search(qp, 15)
    assert [h.doc_id for h in gotp] == exp_p[:15]
    assert searcher.count(qp) == len(exp_p)
    # match-all inner
    qa = ast.ConstantScoreQuery(ast.MatchAllDocsQuery())
    assert searcher.count(qa) == golden.doc_count
    assert [h.doc_id for h in searcher.search(qa, 5)] == [0, 1, 2, 3, 4]
    # mixed boolean inner (phrase clause)
    qm = ast.ConstantScoreQuery(searcher.parse(f'+"{pair[0]} {pair[1]}"'))
    assert searcher.count(qm) == len(exp_p)


def test_search_sorted_multi_key(searcher, golden, corpus_pdf):
    """Arbitrary Sort: multiple (field, reverse) keys with docID tie-break."""
    q = f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}"
    match_ids = [h for h, _ in golden.search(q, 10 ** 6)]
    ordered = corpus_pdf.sort_values(["conv_id", "turn_idx"],
                                     kind="mergesort").reset_index(drop=True)
    ti = ordered["turn_idx"].to_numpy()
    exp = sorted(match_ids,
                 key=lambda d: (-int(ti[d]), int(golden.dl[d]), d))[:25]
    got = searcher.search_sorted(
        searcher.parse(q), [("turn_idx", True), ("dl", False)], k=25)
    assert [t[0] for t in got] == exp
    assert all(t[1] == int(ti[t[0]]) and t[2] == int(golden.dl[t[0]])
               for t in got)


def test_highlight_snippets(spark):
    """Highlighter-lite: first-match window, <b> tags, per-term marking."""
    import pandas as pd

    from lucene_spark.search.highlight import highlight_df

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "zero one two TARGET four five six seven",
            "no match here at all",
            "target at the start",
            "a b c d e f g h i j target k",
        ],
    }))
    out = {r["doc_id"]: r["snippet"]
           for r in highlight_df(docs, ["target"], window=2).collect()}
    assert out[0] == "one two <b>target</b> four five"
    assert 1 not in out
    assert out[2] == "<b>target</b> at the start"
    assert out[3] == "i j <b>target</b> k"


def test_passage_highlight_best_passage(spark):
    """Passage highlighter: PassageScorer formulas over fixed token windows,
    top-1 passage per doc by (score DESC, start ASC) — brute-force parity,
    including a doc whose best passage is NOT the first window."""
    import math

    import numpy as np
    import pandas as pd

    from lucene_spark.search.highlight import passage_highlight_df

    P, K1, B, PIVOT = 4, 1.2, 0.75, 87.0
    texts = [
        # window 1 (q q x y) should outscore window 0 (one q)
        "q a b c q q x y",
        "no match in this one",
        "q r q r",          # both terms, single window
        "z z z z z z z q",  # match in a short tail window (plen < P)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    terms = ["q", "r"]

    def brute(text):
        toks = [t for t in text.lower().split()]
        dl = len(toks)
        ttf = {t: toks.count(t) for t in terms}
        best = None
        for pid in range((dl + P - 1) // P):
            start = pid * P
            window = toks[start:start + P]
            plen = len(window)
            s = 0.0
            for t in terms:
                freq = window.count(t)
                if freq == 0:
                    continue
                w = (K1 + 1) * math.log(
                    1 + (1 + dl / PIVOT + 0.5) / (ttf[t] + 0.5))
                tf = freq / (freq + K1 * ((1 - B) + B * plen / PIVOT))
                s += tf * w
            if s == 0.0:
                continue
            s = float(np.float32(s * (1 + 1 / math.log(PIVOT + start))))
            if best is None or s > best[1]:
                best = (start, s,
                        " ".join(f"<b>{x}</b>" if x in terms else x
                                 for x in window))
        return best

    got = {r["doc_id"]: (r["passage_start"], r["score"], r["snippet"])
           for r in passage_highlight_df(docs, terms,
                                         passage_len=P).collect()}
    exp = {i: brute(t) for i, t in enumerate(texts) if brute(t) is not None}
    assert got == exp
    assert got[0][0] == 4  # second window won
    assert 1 not in got


def test_sloppy_pair_vectorized_parity():
    """The vectorized 2-slot sloppy kernel is bit-identical to the faithful
    per-doc heap walk (SloppyPhraseMatcher port) across randomized position
    lists, including adjusted-position ties and chained tie groups."""
    from lucene_spark.search.phrase import _sloppy_freq_doc, _sloppy_pair_freqs

    rng = np.random.default_rng(7)
    for _ in range(500):
        n_docs = int(rng.integers(1, 8))
        doc_ids = np.arange(n_docs, dtype=np.int64)
        structs, per_doc = [], [[None, None] for _ in range(n_docs)]
        for slot in range(2):
            tfs = rng.integers(1, 6, size=n_docs).astype(np.int64)
            flat_parts = []
            for j in range(n_docs):
                pos = np.sort(rng.choice(np.arange(0, 15), size=tfs[j],
                                         replace=False)).astype(np.int64)
                flat_parts.append(pos)
                per_doc[j][slot] = pos - slot
            offs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
            structs.append((doc_ids, tfs, np.ones(n_docs, np.int64),
                            np.concatenate(flat_parts), offs))
        locs = [doc_ids, doc_ids]
        slop = int(rng.integers(0, 5))
        res = _sloppy_pair_freqs(structs, doc_ids, slop, locs)
        got = np.zeros(n_docs, dtype=np.float32)
        if res is not None:
            mask, fr = res
            got[mask] = fr
        want = np.array([_sloppy_freq_doc(per_doc[j], slop)
                         for j in range(n_docs)], dtype=np.float32)
        assert np.array_equal(got, want)


def test_sloppy_repeat_matcher():
    """Repeat-group sloppy matcher (SloppyPhraseMatcher.java:286-323 port):
    hand goldens, exact parity with the repeat-free walk on repeat-free
    inputs, and existence-parity with brute-force distinct-position
    enumeration on randomized repeated-term phrases."""
    from itertools import product

    from lucene_spark.search.phrase import (
        _sloppy_freq_doc,
        _sloppy_freq_doc_repeats,
        repeat_groups_of,
    )

    def brute_exists(raw_pls, offsets, slop):
        for combo in product(*[list(map(int, pl)) for pl in raw_pls]):
            if len(set(combo)) != len(combo):
                continue
            adj = [c - o for c, o in zip(combo, offsets)]
            if max(adj) - min(adj) <= slop:
                return True
        return False

    cases = [
        (["a", "b", "a"], {"a": [0, 2], "b": [1]}, 2, 1.0),
        (["a", "a"], {"a": [0, 1]}, 0, 1.0),
        (["a", "a"], {"a": [0, 2]}, 1, 0.5),
    ]
    for terms, posmap, slop, want in cases:
        raw = [np.array(posmap[t], dtype=np.int64) for t in terms]
        got = _sloppy_freq_doc_repeats(
            raw, list(range(len(terms))), repeat_groups_of(terms), slop)
        assert abs(got - want) < 1e-6, (terms, slop, got, want)

    rng = np.random.default_rng(3)
    for _ in range(300):
        k = int(rng.integers(2, 5))
        pls, raw = [], []
        for i in range(k):
            tf = int(rng.integers(1, 5))
            pos = np.sort(rng.choice(np.arange(0, 12), size=tf,
                                     replace=False)).astype(np.int64)
            raw.append(pos)
            pls.append(pos - i)
        slop = int(rng.integers(0, 5))
        assert abs(_sloppy_freq_doc(pls, slop)
                   - _sloppy_freq_doc_repeats(raw, list(range(k)), [], slop)) < 1e-7

    checked = 0
    for _ in range(1500):
        terms = list(rng.choice(list("ab"), size=int(rng.integers(2, 5))))
        if len(set(terms)) == len(terms):
            continue
        posmap = {}
        for t in set(terms):
            tf = int(rng.integers(1, 5))
            posmap[t] = np.sort(rng.choice(np.arange(0, 10), size=tf,
                                           replace=False)).astype(np.int64)
        if "a" in posmap and "b" in posmap:
            bpos = [p for p in posmap["b"]
                    if p not in set(posmap["a"].tolist())]
            if not bpos:
                continue
            posmap["b"] = np.array(bpos, dtype=np.int64)
        raw = [posmap[t] for t in terms]
        slop = int(rng.integers(0, 6))
        g = _sloppy_freq_doc_repeats(
            raw, list(range(len(terms))), repeat_groups_of(terms), slop) > 0
        assert g == brute_exists(raw, list(range(len(terms))), slop)
        checked += 1
    assert checked > 400


def test_search_sorted_index_order_early_termination(spark, searcher):
    """Sorting by an ascending prefix of the index sort routes through the
    early-terminating path (k smallest matching docIDs via block-decode
    early exit) and returns exactly what the exhaustive path returns."""
    from pyspark.sql import functions as F
    from lucene_spark.corpus import VOCAB

    q = searcher.parse(f"{VOCAB[0]} {VOCAB[3]}")
    early = searcher._search_sorted_early(q, ["conv_id"], 25)
    assert early is not None  # flat SHOULD boolean has a union form
    rows = (
        searcher.match_df(q)
        .join(searcher.reader.docs().select("doc_id", "conv_id"), "doc_id")
        .orderBy(F.asc("conv_id"), F.asc("doc_id")).limit(25).collect()
    )
    generic = [(int(r["doc_id"]), r["conv_id"]) for r in rows]
    assert searcher.search_sorted(q, [("conv_id", False)], k=25) == generic
    assert early == generic
    # descending / non-prefix sorts fall back (still correct)
    d1 = searcher.search_sorted(q, [("conv_id", True)], k=5)
    assert len(d1) == 5


def test_suggest_and_percolate(spark, searcher, corpus_pdf):
    """Suggest-lite ranks prefix completions by df; percolate-lite returns
    (query_id, doc_id) for every registered query matching each doc."""
    from lucene_spark.corpus import VOCAB
    from lucene_spark.search.suggest import percolate_df, suggest_terms

    pre = VOCAB[0][:2]
    got = suggest_terms(searcher.reader, pre, k=5)
    assert got and all(t.startswith(pre) for t, _ in got)
    assert [d for _, d in got] == sorted((d for _, d in got), reverse=True)

    qs = {"a": VOCAB[0], "b": f"+{VOCAB[0]} +{VOCAB[3]}"}
    rows = percolate_df(searcher, qs).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(int(r["doc_id"]))
    a = {h.doc_id for h in searcher.search(VOCAB[0], 10**6, mode="exhaustive")}
    assert by_q.get("a", set()) == a
    assert by_q.get("b", set()) <= a


def test_msearch_equals_individual_search(searcher):
    """Batched multi-query execution (one scan, one job) returns exactly
    what per-query search() returns — including fallback slots for
    non-flat shapes (phrase) and empty slots (absent MUST)."""
    queries = [
        VOCAB[0],
        f"{VOCAB[0]} {VOCAB[3]} {VOCAB[17]}",
        f"+{VOCAB[1]} {VOCAB[5]} -{VOCAB[0]}",
        f"{VOCAB[4]}^2.5 {VOCAB[9]}",
        f'"{VOCAB[0]} {VOCAB[3]}"',          # phrase → fallback slot
        f"+zzznotaterm {VOCAB[0]}",          # never matches → []
    ]
    batched = searcher.msearch(queries, k=25)
    assert len(batched) == len(queries)
    for q, got in zip(queries, batched):
        exp = searcher.search(q, 25)
        assert [(h.doc_id, h.score) for h in got] == \
            [(h.doc_id, h.score) for h in exp], q
    assert batched[-1] == []


def test_sloppy_lockstep_vectorized_parity():
    """The lockstep-batched ≥3-slot sloppy kernel is bit-identical to the
    faithful per-doc heap walk (SloppyPhraseMatcher port) across randomized
    position lists — 3..5 slots, ties, early exhaustion, slop 0..7."""
    from lucene_spark.search.phrase import (
        _sloppy_freq_doc,
        _sloppy_freqs_lockstep,
    )

    rng = np.random.default_rng(11)
    for _ in range(300):
        n_slots = int(rng.integers(3, 6))
        n_docs = int(rng.integers(1, 10))
        doc_ids = np.arange(n_docs, dtype=np.int64)
        structs = []
        per_doc = [[None] * n_slots for _ in range(n_docs)]
        for slot in range(n_slots):
            tfs = rng.integers(1, 7, size=n_docs).astype(np.int64)
            flat_parts = []
            for j in range(n_docs):
                pos = np.sort(rng.choice(np.arange(0, 25), size=tfs[j],
                                         replace=False)).astype(np.int64)
                flat_parts.append(pos)
                per_doc[j][slot] = pos - slot
            offs = np.concatenate([[0], np.cumsum(tfs)[:-1]]).astype(np.int64)
            structs.append((doc_ids, tfs, np.ones(n_docs, np.int64),
                            np.concatenate(flat_parts), offs))
        locs = [doc_ids] * n_slots
        slop = int(rng.integers(0, 8))
        res = _sloppy_freqs_lockstep(structs, doc_ids, locs, slop)
        got = np.zeros(n_docs, dtype=np.float32)
        if res is not None:
            mask, fr = res
            got[mask] = fr
        want = np.array([_sloppy_freq_doc(per_doc[j], slop)
                         for j in range(n_docs)], dtype=np.float32)
        assert np.array_equal(got, want)


def test_more_like_this(spark, searcher, corpus_pdf):
    """MLT term selection (MoreLikeThis.java:625-683): tf/df filters, the
    float32 tf×idf ranking with term-ASC tie-break, the max_query_terms
    cap, boost mode's score/bestScore weights, and that the top hit for a
    doc's own text is that doc (self-similarity sanity)."""
    import numpy as np

    from lucene_spark.search import ast as A

    text = corpus_pdf.iloc[0]["text"]
    q = searcher.mlt_query(text, min_term_freq=2, min_doc_freq=2,
                           max_query_terms=3)
    assert isinstance(q, A.BooleanQuery) and 0 < len(q.clauses) <= 3
    assert all(occ == A.SHOULD and c.boost == 1.0 for occ, c in q.clauses)
    # recompute selection independently
    toks = searcher.analyzer.tokenize_text(text)
    tf = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    cands = [t for t, f in tf.items() if f >= 2]
    stats = searcher.reader.term_stats(cands)
    n = searcher.reader.doc_count
    scored = sorted(
        ((-float(np.float32(np.float32(tf[t])
                            * np.float32(np.log((n + 1) / np.float64(st["df"] + 1))
                                         + 1.0))), t)
         for t, st in stats.items() if st["df"] >= 2),
    )
    want = [t for _, t in scored[:3]]
    assert [c.term for _, c in q.clauses] == want
    # boost mode: first term gets boost 1.0 (best/best), all in (0, 1]
    qb = searcher.mlt_query(text, min_term_freq=2, min_doc_freq=2,
                            max_query_terms=3, boost=True)
    boosts = [c.boost for _, c in qb.clauses]
    assert boosts[0] == 1.0 and all(0.0 < b <= 1.0 for b in boosts)
    # no qualifying terms → MatchNo-equivalent empty boolean
    q0 = searcher.mlt_query("zzzqx", min_term_freq=2, min_doc_freq=2)
    assert isinstance(q0, A.BooleanQuery) and not q0.clauses
    # self-similarity: doc 0's text retrieves doc 0 among the top hits
    # (not necessarily first — BM25 can prefer a doc with more of the
    # selected terms)
    hits = searcher.more_like_this(text, k=10, min_term_freq=2,
                                   min_doc_freq=2)
    assert hits and 0 in [h.doc_id for h in hits]


def test_common_terms_query(spark, searcher):
    """CommonTermsQuery rewrite (queries/CommonTermsQuery.java:173-258):
    df-threshold split into MUST(lowGroup) + SHOULD(highGroup), absent
    terms land low (null TermStates, :206-209), one-group edge cases
    return that group alone, fractional/absolute thresholds and group msm
    follow buildQuery/calcLowFreqMinimumNumberShouldMatch, and every hit
    matches the required low group (WAND ≡ exhaustive)."""
    from lucene_spark.search import ast as A

    stats = searcher.reader.term_stats(searcher.reader.sorted_terms("text"))
    n = searcher.reader.field_stats["text"]["doc_count"]
    by_df = sorted(stats.items(), key=lambda kv: (kv[1]["df"], kv[0]))
    rare, rare_df = by_df[0][0], by_df[0][1]["df"]
    hot, hot_df = by_df[-1][0], by_df[-1][1]["df"]
    assert rare_df < hot_df
    mtf = (rare_df + hot_df) / 2.0 / n  # fraction strictly between the dfs

    q = searcher.common_terms_query(f"{rare} {hot} zzqxmissing",
                                    max_term_frequency=mtf)
    assert isinstance(q, A.BooleanQuery) and len(q.clauses) == 2
    (o1, g1), (o2, g2) = q.clauses
    assert o1 == A.MUST and isinstance(g1, A.BooleanQuery)
    assert {c.term for _, c in g1.clauses} == {rare, "zzqxmissing"}
    assert all(o == A.SHOULD for o, _ in g1.clauses)
    assert o2 == A.SHOULD and isinstance(g2, A.BooleanQuery)
    assert {c.term for _, c in g2.clauses} == {hot}

    hits = searcher.search(q, k=15, mode="wand")
    assert hits
    hits_ex = searcher.search(q, k=15, mode="exhaustive")
    assert ([(h.doc_id, h.score) for h in hits]
            == [(h.doc_id, h.score) for h in hits_ex])
    # the low group is required: every hit contains the rare term
    low_docs = {int(r["doc_id"])
                for r in searcher.match_df(A.TermQuery(rare)).collect()}
    assert all(h.doc_id in low_docs for h in hits)

    # absolute threshold: cut == rare_df keeps rare low (df > cut strict)
    qa = searcher.common_terms_query(f"{rare} {hot}",
                                     max_term_frequency=float(rare_df))
    assert isinstance(qa.clauses[0][1], A.BooleanQuery)
    assert {c.term for _, c in qa.clauses[0][1].clauses} == {rare}
    # all-high (cut rounds to 0): pure SHOULD disjunction, no nesting
    qh = searcher.common_terms_query(f"{rare} {hot}",
                                     max_term_frequency=1e-9)
    assert {c.term for _, c in qh.clauses} == {rare, hot}
    assert all(o == A.SHOULD for o, _ in qh.clauses)
    assert all(isinstance(c, A.TermQuery) for _, c in qh.clauses)
    # all-low (absolute cut ≥ every df): the low group alone
    ql = searcher.common_terms_query(f"{rare} {hot}",
                                     max_term_frequency=float(n + 1))
    assert {c.term for _, c in ql.clauses} == {rare, hot}
    assert ql.min_should_match == 0
    # fractional group msm: round(0.5 · 2 terms) = 1; integer msm passes
    qm = searcher.common_terms_query(f"{rare} {hot}",
                                     max_term_frequency=float(n + 1),
                                     low_freq_msm=0.5)
    assert qm.min_should_match == 1
    qm2 = searcher.common_terms_query(f"{rare} {hot}",
                                      max_term_frequency=float(n + 1),
                                      low_freq_msm=2)
    assert qm2.min_should_match == 2
    # duplicates collapse; empty text → empty boolean (MatchNo-equivalent)
    qd = searcher.common_terms_query(f"{hot} {hot}",
                                     max_term_frequency=1e-9)
    assert isinstance(qd, A.TermQuery) or len(qd.clauses) == 1
    q0 = searcher.common_terms_query("")
    assert isinstance(q0, A.BooleanQuery) and not q0.clauses


def test_covering_query(spark, searcher):
    """CoveringQuery (sandbox/search/CoveringQuery.java + CoveringScorer
    Math.max(1, minMatch) clamp): per-doc dynamic minimum-match over mixed
    sub-query shapes, brute-checked from the per-clause score_df outputs
    and the docs table."""
    import collections

    from lucene_spark.search import ast as A

    stats = searcher.reader.term_stats(searcher.reader.sorted_terms("text"))
    hot = [t for t, _ in sorted(stats.items(),
                                key=lambda kv: -kv[1]["df"])[:3]]
    subs = [A.TermQuery(hot[0]), A.TermQuery(hot[1]),
            A.PhraseQuery((hot[0], hot[1]), slop=2)]
    expr = "CASE WHEN dl > 20 THEN 2 ELSE 1 END"
    cnt: collections.Counter = collections.Counter()
    ssum: dict = collections.defaultdict(float)
    for q in subs:
        p = searcher.score_df(q).toPandas()
        for d, s in zip(p["doc_id"], p["score"]):
            cnt[int(d)] += 1
            ssum[int(d)] += float(np.float32(s))
    dlm = {int(r["doc_id"]): int(r["dl"])
           for r in searcher.reader.docs().select("doc_id", "dl").collect()}
    want = sorted(
        ((d, float(np.float32(s))) for d, s in ssum.items()
         if cnt[d] >= max(1, 2 if dlm[d] > 20 else 1)),
        key=lambda t: (-t[1], t[0]))[:10]
    got = [(h.doc_id, h.score) for h in searcher.covering(subs, expr, k=10)]
    assert got == want
    # minMatch values < 1 clamp to 1 (CoveringScorer.java:138)
    g0 = [(h.doc_id, h.score)
          for h in searcher.covering([A.TermQuery(hot[0])], "0", k=5)]
    g1 = [(h.doc_id, h.score)
          for h in searcher.covering([A.TermQuery(hot[0])], "1", k=5)]
    assert g0 == g1 and g0
    # threshold above the clause count matches nothing; empty input too
    assert searcher.covering(subs, "7", k=5) == []
    assert searcher.covering([], "1", k=5) == []


def test_facet_sum_and_group_count(spark, searcher):
    """Facet value aggregation (TaxonomyFacetSumValueSource.java:38) and
    AllGroupsCollector.java:30 — brute-checked against a pandas recompute
    over match_df + the docs table, grouped by conv_id."""
    from lucene_spark.search import ast as A

    stats = searcher.reader.term_stats(searcher.reader.sorted_terms("text"))
    hot = max(stats.items(), key=lambda kv: kv[1]["df"])[0]
    q = A.BooleanQuery(((A.SHOULD, A.TermQuery(hot)),))
    docs = searcher.reader.docs().select("doc_id", "conv_id", "dl")
    got = {r["conv_id"]: int(r["s"])
           for r in searcher.facet_sum(
               q, docs.select("doc_id", "conv_id"), "conv_id").collect()}
    matched = {int(r["doc_id"]) for r in searcher.match_df(q).collect()}
    want: dict = {}
    for r in docs.collect():
        if int(r["doc_id"]) in matched:
            want[r["conv_id"]] = want.get(r["conv_id"], 0) + int(r["dl"])
    assert got == want
    n = searcher.count_groups(q, docs.select("doc_id", "conv_id"),
                              "conv_id")
    assert n == len(want) > 0


def test_range_syntax_and_exclusive_bounds(searcher):
    """Classic range syntax [a TO b] / {a TO b} (QueryParserBase
    getRangeQuery): mixed brackets, * open bounds, field prefixes; the
    exclusive expansion drops exactly the boundary terms."""
    from lucene_spark.search import ast as A
    from lucene_spark.search.multiterm import expand_terms

    p = searcher.parse("[alpha TO beta]")
    assert (p.kind, p.lower, p.upper, p.include_lower, p.include_upper) == (
        "range", "alpha", "beta", True, True)
    p2 = searcher.parse("{alpha TO beta]")
    assert (p2.include_lower, p2.include_upper) == (False, True)
    p3 = searcher.parse("[* TO beta}")
    assert (p3.lower, p3.upper, p3.include_upper) == (None, "beta", False)
    # expansion: exclusive bounds drop exactly the existing boundary terms
    inc = A.MultiTermQuery("range", lower="a", upper="zzzz")
    exc = A.MultiTermQuery("range", lower="a", upper="zzzz",
                           include_lower=False, include_upper=False)
    ti = expand_terms(searcher.reader, inc)
    te = expand_terms(searcher.reader, exc)
    drop = {t for t in ("a", "zzzz") if searcher.reader.has_term("text", t)}
    assert set(ti) - set(te) == drop
    # count parity with an explicit boundary term present
    terms = searcher.reader.sorted_terms("text")
    lo, hi = terms[1], terms[-2]
    n_inc = searcher.count(A.MultiTermQuery("range", lower=lo, upper=hi))
    n_exc = searcher.count(A.MultiTermQuery(
        "range", lower=lo, upper=hi,
        include_lower=False, include_upper=False))
    assert n_inc >= n_exc


def test_explain(searcher, golden):
    """explain(query, doc) (IndexSearcher.explain / Weight.explain): the
    per-clause breakdown sums bit-exactly to the search score for every
    top hit; prohibited-term docs and msm-failing docs report match=False
    with total 0."""
    queries = [VOCAB[0],
               f"+{VOCAB[1]} {VOCAB[5]} -{VOCAB[0]}",
               f"{VOCAB[4]}^2.5 {VOCAB[9]}"]
    for q in queries:
        for h in searcher.search(q, 8):
            ex = searcher.explain(q, h.doc_id)
            assert ex["match"] is True
            assert ex["total"] == h.score, (q, h.doc_id)
            assert all(c["df"] is not None for c in ex["clauses"])
    # doc containing the prohibited term → no match
    bad = searcher.search(VOCAB[0], 1)[0].doc_id
    ex = searcher.explain(f"+{VOCAB[1]} -{VOCAB[0]}", bad)
    assert ex["match"] is False and ex["total"] == 0.0
    # out-of-range docID → no match
    assert searcher.explain(VOCAB[0], 10**9)["match"] is False


def test_boolean_operator_syntax():
    """Classic operators (QueryParserBase.addClause, default OR): AND
    promotes the preceding default entity, NOT/! prohibit, parentheses
    flatten exactly — a required (a OR b) group becomes SHOULDs +
    min_should_match=1; inexact nestings raise."""
    from lucene_spark.analysis import SimpleAnalyzer
    from lucene_spark.search import ast as A

    an = SimpleAnalyzer()

    def occs(q):
        return [(o, c.term) for o, c in q.clauses]

    q = A.parse("a AND b", an)
    assert sorted(occs(q)) == [(A.MUST, "a"), (A.MUST, "b")]
    q = A.parse("a OR b AND c", an)  # AND binds b and c; a stays optional
    assert sorted(occs(q)) == [
        (A.MUST, "b"), (A.MUST, "c"), (A.SHOULD, "a")]
    q = A.parse("a AND NOT b", an)
    assert sorted(occs(q)) == [(A.MUST, "a"), (A.MUST_NOT, "b")]
    q = A.parse("!a b", an)
    assert sorted(occs(q)) == [(A.MUST_NOT, "a"), (A.SHOULD, "b")]
    # required group → msm=1, other clause MUST
    for s in ("(a b) AND c", "(a OR b) AND c", "+(a b) +c"):
        q = A.parse(s, an)
        assert q.min_should_match == 1, s
        assert sorted(occs(q)) == [
            (A.MUST, "c"), (A.SHOULD, "a"), (A.SHOULD, "b")], s
    # group boost distributes to members
    q = A.parse("(a b)^2 AND c", an)
    assert {c.boost for o, c in q.clauses if o == A.SHOULD} == {2.0}
    # prohibited group: de-Morgan
    q = A.parse("-(a b) c", an)
    assert sorted(occs(q)) == [
        (A.MUST_NOT, "a"), (A.MUST_NOT, "b"), (A.SHOULD, "c")]
    # redundant parens flatten silently
    q = A.parse("(a b) c", an)
    assert sorted(occs(q)) == [
        (A.SHOULD, "a"), (A.SHOULD, "b"), (A.SHOULD, "c")]
    # lowercase operators are plain terms
    q = A.parse("and or not", an)
    assert sorted(occs(q)) == [
        (A.SHOULD, "and"), (A.SHOULD, "not"), (A.SHOULD, "or")]
    # non-flattenable shapes become NESTED BooleanQuery clauses (round 4)
    q = A.parse("(a b) AND (c d)", an)
    nested = [c for o, c in q.clauses if isinstance(c, A.BooleanQuery)]
    assert len(nested) == 1 and nested[0].min_should_match == 1
    assert sorted(o for o, _ in q.clauses) == [A.MUST, A.SHOULD, A.SHOULD]
    q = A.parse("(+a b) AND c", an)
    nested = [c for o, c in q.clauses if isinstance(c, A.BooleanQuery)]
    assert len(nested) == 1
    assert sorted((o, t.term) for o, t in nested[0].clauses) == [
        (A.MUST, "a"), (A.SHOULD, "b")]


def test_operator_search_end_to_end(searcher, golden):
    """'(x OR y) AND z' through the kernel == brute-force filtered by the
    msm constraint."""
    import numpy as np

    x, y, z = VOCAB[3], VOCAB[17], VOCAB[0]
    q = searcher.parse(f"({x} OR {y}) AND {z}")
    got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
    # golden: score SHOULD x,y + MUST z, keep docs matching z and (x or y)
    exp_all = golden.search(f"+{z} {x} {y}", 10**6)
    xy_docs = set()
    for t in (x, y):
        if t in golden.postings:
            xy_docs.update(int(d) for d in golden.postings[t][0].tolist())
    exp = [(d, s) for d, s in exp_all if d in xy_docs][:50]
    assert got == exp


def test_shared_term_cache(spark, index_dir):
    """The driver-resident term dictionary is shared across reader
    instances of the same stats generation (one collect job, one copy) and
    evicted LRU past the keep bound."""
    from lucene_spark.search.reader import IndexReader

    IndexReader._SHARED_TERM_CACHE.clear()
    r1 = IndexReader(spark, index_dir)
    c1 = r1._term_cache()
    r2 = IndexReader(spark, index_dir)
    c2 = r2._term_cache()
    assert c1 is c2  # same dict object — no second collect
    assert len(IndexReader._SHARED_TERM_CACHE) == 1


def test_explain_phrase(searcher):
    """Phrase explain: summed-idf pseudo-term scoring, exact and sloppy
    freqs, f32 total bit-equal to the search score."""
    from lucene_spark.search.ast import PhraseQuery

    for q in (PhraseQuery((VOCAB[0], VOCAB[3])),
              PhraseQuery((VOCAB[0], VOCAB[3]), slop=2)):
        hits = searcher.search(q, 5)
        assert hits
        for h in hits:
            ex = searcher.explain(q, h.doc_id)
            assert ex["match"] is True and ex["total"] == h.score
            assert ex["phrase_freq"] > 0
        assert searcher.explain(q, 10 ** 9)["match"] is False


def test_explain_constant_score(searcher):
    """Constant-score shapes (multiterm / ConstantScoreQuery) explain as
    matched -> score == boost."""
    from lucene_spark.search import ast as A

    q = A.MultiTermQuery("prefix", "ba", boost=1.5)
    hits = searcher.search(q, 3)
    assert hits
    for h in hits:
        ex = searcher.explain(q, h.doc_id)
        assert ex["match"] is True and ex["total"] == h.score
    assert searcher.explain(q, 10 ** 9)["match"] is False
    cq = A.ConstantScoreQuery(A.TermQuery(VOCAB[0]), boost=2.0)
    h0 = searcher.search(cq, 1)[0]
    ex = searcher.explain(cq, h0.doc_id)
    assert ex["match"] and ex["total"] == h0.score


def test_document_lookup(searcher):
    """reader.document(docID) (StoredFields.document analogue): stored
    columns for a live doc, None past the end."""
    d = searcher.reader.document(3)
    assert d is not None and d["doc_id"] == 3 and "conv_id" in d
    assert searcher.reader.document(10 ** 9) is None


def test_sloppy_multiphrase_repeats():
    """Multi-term repeat groups (SloppyPhraseMatcher.java hasMultiTermRpts,
    :437-455 init + :286-323 advanceRpts): slots with intersecting term
    sets. The port is algorithm-faithful — including the greedy matcher's
    documented under-matching — so the contract tested is (a) hand goldens
    through the multi-term branch, (b) NO false positives vs brute-force
    distinct-assignment existence, (c) exact equality with the repeat-free
    walk when position lists never collide."""
    from itertools import product

    from lucene_spark.search.phrase import (
        _sloppy_freq_doc,
        _sloppy_freq_doc_repeats,
        slot_repeat_groups,
    )

    # (a) hand goldens
    # no collision possible, window = (11-1) - (7-0) = 3 → one match
    f = _sloppy_freq_doc_repeats(
        [np.array([7], np.int64), np.array([11], np.int64)],
        [0, 1], [[0, 1]], 3, multi_term=True)
    assert f == np.float32(1.0 / 4.0)
    # collision at init: both lists start at 2; lesser (slot1, adj 1)
    # advances and exhausts → greedy finds nothing even though slot0→3,
    # slot1→2 exists. This IS the reference behavior (advanceRepeatGroups
    # advances the lesser; exhaustion ends the doc).
    f = _sloppy_freq_doc_repeats(
        [np.array([2, 3, 5, 7], np.int64), np.array([2], np.int64)],
        [0, 1], [[0, 1]], 3, multi_term=True)
    assert f == 0.0
    # slot_repeat_groups: connected components by term-set intersection
    assert slot_repeat_groups([("a", "b"), ("b", "c"), ("d",)]) == [[0, 1]]
    assert slot_repeat_groups([("a",), ("b",)]) == []

    rng = np.random.default_rng(17)
    n_checked_eq = 0
    for _ in range(400):
        n_slots = int(rng.integers(2, 5))
        slop = int(rng.integers(0, 5))
        pls = [np.sort(rng.choice(np.arange(12),
                                  size=int(rng.integers(1, 5)),
                                  replace=False)).astype(np.int64)
               for _ in range(n_slots)]
        groups = [list(range(n_slots))]
        offsets = list(range(n_slots))
        got = _sloppy_freq_doc_repeats([p.copy() for p in pls], offsets,
                                       groups, slop, multi_term=True)

        def brute_exists():
            for combo in product(*[list(map(int, p)) for p in pls]):
                if len(set(combo)) != len(combo):
                    continue
                adj = [combo[i] - offsets[i] for i in range(n_slots)]
                if max(adj) - min(adj) <= slop:
                    return True
            return False

        # (b) no false positives
        if got > 0:
            assert brute_exists()
        # (c) collision-free inputs == the repeat-free walk exactly
        all_pos = [p for pl in pls for p in pl.tolist()]
        if len(set(all_pos)) == len(all_pos):
            want = _sloppy_freq_doc(
                [pls[i] - offsets[i] for i in range(n_slots)], slop)
            assert got == want
            n_checked_eq += 1
    assert n_checked_eq > 20  # the (c) branch actually exercised


def test_auto_mode_cost_based(searcher, golden):
    """mode='auto' (cost-based scorer selection): picks exhaustive for
    rare-term/huge-k shapes and wand for hot-term/small-k, and returns
    results identical to both fixed modes either way."""
    cache = searcher.reader._term_cache()
    by_df = sorted(((v["df"], t) for (f, t), v in cache.items()
                    if f == "text"))
    hot, rare = by_df[-1][1], by_df[0][1]
    wc_hot, _ = searcher._weighted_clauses(searcher.parse(hot))
    wc_rare, _ = searcher._weighted_clauses(searcher.parse(rare))
    assert searcher._pick_mode(wc_hot, 1) == "wand"
    assert searcher._pick_mode(wc_rare, 100) == "exhaustive"
    for q in (hot, rare, f"+{VOCAB[1]} {VOCAB[5]}"):
        for k in (5, 100):
            a = searcher.search(q, k, mode="auto")
            b = searcher.search(q, k, mode="wand")
            assert a == b, (q, k)


def test_explain_mixed_boolean(spark, index_dir):
    """Mixed-boolean explain (phrase + multiterm + term clauses): per-hit
    totals bit-equal to the kernel's scores; prohibited docs match=False."""
    s = IndexSearcher(spark, index_dir)
    hot, b, c = VOCAB[0], VOCAB[3], VOCAB[5]
    q = s.parse(f'+"{hot} {b}" {c} -{VOCAB[9]}')
    hits = s.search(q, 6)
    assert hits
    for h in hits:
        ex = s.explain(q, h.doc_id)
        assert ex["match"] is True and ex["total"] == h.score
        kinds = {cl["kind"] for cl in ex["clauses"]}
        assert "phrase" in kinds
    q2 = s.parse(f"+{hot} {b[:2]}*")
    for h in s.search(q2, 4):
        ex = s.explain(q2, h.doc_id)
        assert ex["match"] and ex["total"] == h.score
    # doc with the prohibited term
    bad = s.search(VOCAB[9], 1)[0].doc_id
    assert s.explain(q, bad)["match"] is False


# ---------------------------------------------------------------- nested ----

NESTED_QUERIES = [
    f"({VOCAB[0]} AND {VOCAB[3]}) OR ({VOCAB[5]} AND {VOCAB[9]})",
    f"+{VOCAB[0]} ({VOCAB[3]} OR ({VOCAB[5]} AND {VOCAB[9]}))",
    f"({VOCAB[0]} OR {VOCAB[3]}) AND ({VOCAB[5]} OR {VOCAB[9]})",
    f"+({VOCAB[0]} {VOCAB[3]}) {VOCAB[5]}",
    f"({VOCAB[0]} {VOCAB[3]} {VOCAB[5]})~2",
    f"(({VOCAB[0]} AND {VOCAB[3]}) OR {VOCAB[5]}) AND {VOCAB[1]}",
    f"({VOCAB[0]} AND -{VOCAB[3]}) OR ({VOCAB[5]}^2.0 AND {VOCAB[9]})",
    f'("{VOCAB[0]} {VOCAB[3]}" AND {VOCAB[5]}) OR {VOCAB[9]}',
    f"(zzznotaterm AND {VOCAB[0]}) OR {VOCAB[3]}",   # dead nested branch
    f"+(zzznotaterm AND {VOCAB[0]}) {VOCAB[3]}",     # dead required nested
]


def test_nested_boolean_vs_golden(searcher, golden):
    """Composed boolean trees (Boolean2ScorerSupplier analogy): engine ≡
    brute-force golden, bit-exact float32 scores + tie-break."""
    for q in NESTED_QUERIES:
        exp = golden.search(q, 150)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 150)]
        assert got == exp, f"nested mismatch for {q!r}"


def test_nested_boolean_randomized(searcher, golden):
    """TestBoolean2.randBoolQuery analogy: random recursive trees (depth ≤ 3,
    random occurs/boosts/msm) — engine ≡ golden on every tree."""
    import random

    rng = random.Random(421)
    terms = [VOCAB[i] for i in (0, 1, 3, 5, 9, 17, 40, 80, 800)] + ["zzzq"]

    def rand_tree(depth):
        n = rng.randint(1, 4)
        clauses = []
        for _ in range(n):
            occ = rng.choice([ast.SHOULD, ast.SHOULD, ast.MUST,
                              ast.MUST_NOT, ast.FILTER])
            if depth < 2 and rng.random() < 0.35:
                sub = rand_tree(depth + 1)
                clauses.append((occ, sub))
            else:
                boost = rng.choice([1.0, 1.0, 2.0, 0.5])
                clauses.append(
                    (occ, ast.TermQuery(rng.choice(terms), boost=boost)))
        msm = rng.choice([0, 0, 0, 1, 2])
        return ast.BooleanQuery(tuple(clauses), min_should_match=msm)

    checked = 0
    for _ in range(60):
        q = ast.normalize(rand_tree(0))
        if isinstance(q, ast.MatchNoDocsQuery):
            continue
        exp = golden.search(q, 100)
        got = [(h.doc_id, h.score) for h in searcher.search(q, 100)]
        assert got == exp, f"random nested mismatch for {q!r}"
        checked += 1
    assert checked >= 40


def test_msm_wand_equals_exhaustive(searcher, golden):
    """minShouldMatch ∈ {2, 3} end-to-end on the flat WAND path
    (WANDScorer.java:37-38): WAND ≡ exhaustive ≡ golden."""
    base = (VOCAB[0], VOCAB[3], VOCAB[5], VOCAB[9])
    for msm in (2, 3):
        q = ast.BooleanQuery(
            tuple((ast.SHOULD, ast.TermQuery(t)) for t in base),
            min_should_match=msm)
        a = searcher.search(q, 200, mode="exhaustive")
        b = searcher.search(q, 200, mode="wand")
        exp = golden.search(q, 200)
        assert a == b
        assert [(h.doc_id, h.score) for h in a] == exp
        # parser syntax round-trip
        qs = f"({' '.join(base)})~{msm}"
        c = searcher.search(qs, 200)
        assert c == a


def test_term_cache_invalidated_on_inplace_rebuild(spark, tmp_path):
    """A full rebuild over CHANGED data in the same driver process must not
    reuse the previous index's shared term dictionary (stale df/ttf —
    ADVICE r3 medium): the manifest build_id keys the cache."""
    import shutil

    from lucene_spark.indexing.builder import IndexBuilder
    from lucene_spark.search.reader import IndexReader

    d = str(tmp_path / "rebuild_idx")

    def build(texts):
        shutil.rmtree(d, ignore_errors=True)
        pdf = pd.DataFrame({
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts), "role": ["user"] * len(texts),
            "text": texts, "tool": [None] * len(texts),
            "ts": [None] * len(texts),
        })
        IndexBuilder(spark, d, num_segments=2).build(
            spark.createDataFrame(pdf))

    build(["apple pie", "apple tart", "banana"])
    r1 = IndexReader(spark, d)
    assert r1.term_stats(["apple"])["apple"]["df"] == 2
    build(["apple only"])  # rebuild in place, different stats
    r2 = IndexReader(spark, d)
    assert r2.term_stats(["apple"])["apple"]["df"] == 1
    assert "banana" not in r2.term_stats(["banana"])  # stale dict would hit


def test_keyword_range_bounds_not_lowercased():
    """lang:[EN TO FR] on a keyword field keeps uppercase bounds
    (StringField pass-through — ADVICE r3), default-field ranges still
    lowercase."""
    from lucene_spark.analysis import SimpleAnalyzer
    from lucene_spark.search import ast as A

    an = SimpleAnalyzer()
    q = A.parse("lang:[EN TO FR]", an, fields=("text", "lang"))
    assert (q.lower, q.upper, q.field) == ("EN", "FR", "lang")
    q2 = A.parse("[QUERY TO TABLE]", an, fields=("text", "lang"))
    assert (q2.lower, q2.upper, q2.field) == ("query", "table", "text")


def test_explain_filter_clause_required(searcher, golden):
    """FILTER clauses are required-but-scoreless: explain() must report
    match=False for docs missing the FILTER term (kernel parity —
    ADVICE r3)."""
    hot, rare = VOCAB[0], VOCAB[800]
    q = ast.BooleanQuery((
        (ast.SHOULD, ast.TermQuery(hot)),
        (ast.FILTER, ast.TermQuery(rare)),
    ))
    hits = searcher.search(q, 5)
    hit_docs = {h.doc_id for h in hits}
    assert hits
    for h in hits:
        ex = searcher.explain(q, h.doc_id)
        assert ex["match"] is True and ex["total"] == h.score
    # a doc with the hot term but NOT the rare FILTER term
    others = [h.doc_id for h in searcher.search(hot, 50)
              if h.doc_id not in hit_docs]
    assert others
    ex = searcher.explain(q, others[0])
    assert ex["match"] is False


def test_max_clause_count_parity(searcher):
    """IndexSearcher.maxClauseCount analogue (IndexSearcher.java:81):
    a boolean with more leaf clauses than the cap raises TooManyClauses;
    raising the cap (setMaxClauseCount) admits it. Constant-score
    multi-term clauses count as ONE clause (never per-term scorers)."""
    from lucene_spark.search.multiterm import TooManyClauses

    big = ast.BooleanQuery(tuple(
        (ast.SHOULD, ast.TermQuery(VOCAB[i % len(VOCAB)], boost=1 + i))
        for i in range(1025)))
    assert ast.count_leaf_clauses(big) == 1025
    with pytest.raises(TooManyClauses):
        searcher.search(big, 5)
    with pytest.raises(TooManyClauses):
        searcher.count(big)
    old = type(searcher).max_clause_count
    try:
        type(searcher).max_clause_count = 2048
        assert searcher.search(big, 5)  # runs under the raised cap
    finally:
        type(searcher).max_clause_count = old
    # multiterm = 1 clause; nested booleans recurse
    nested = ast.BooleanQuery((
        (ast.SHOULD, ast.BooleanQuery((
            (ast.MUST, ast.TermQuery(VOCAB[0])),
            (ast.MUST, ast.TermQuery(VOCAB[1]))))),
        (ast.SHOULD, ast.MultiTermQuery("prefix", VOCAB[2][:3])),
    ))
    assert ast.count_leaf_clauses(nested) == 3


def test_drill_sideways_semantics(searcher, spark):
    """Each dim's counts = base matches filtered by every OTHER dim's
    selection, own filter dropped; the drill-down set counts toward every
    dim (facet/DrillSideways.java:63). Verified against a brute-force
    recomputation from score_df."""
    from pyspark.sql import functions as F

    base = f"{VOCAB[0]} {VOCAB[3]}"
    match = {r["doc_id"] for r in searcher.score_df(base).collect()}
    n_docs = searcher.reader.doc_count
    # two synthetic single-valued dims over docIDs
    parity = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("value"))
    tri = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("value"))
    out = searcher.drill_sideways(
        base, {"parity": (parity, "even"), "tri": (tri, "t1")}).toPandas()

    import collections
    exp = collections.Counter()
    for d in match:
        if d % 3 == 1:                       # tri selection holds → count parity
            exp[("parity", "even" if d % 2 == 0 else "odd")] += 1
        if d % 2 == 0:                       # parity selection holds → count tri
            exp[("tri", f"t{d % 3}")] += 1
    got = {(r.dim, r.value): r.n for r in out.itertuples()}
    assert got == dict(exp)


def test_spell_suggest_cache_and_scan_paths_agree(searcher):
    """DirectSpellChecker-lite: both the driver-dictionary path and the
    pushdown-scan fallback return the same ranked corrections; input term
    excluded; ranking = (dist ASC, df DESC, term ASC)."""
    from lucene_spark.search.suggest import spell_suggest

    r = searcher.reader
    miss = VOCAB[0][:-1] + "x"              # one substitution off VOCAB[0]
    via_cache = spell_suggest(r, miss, k=5)
    assert via_cache and via_cache[0][0] == VOCAB[0]
    assert all(d1 <= d2 for (_, _, d1), (_, _, d2)
               in zip(via_cache, via_cache[1:]))
    cached = r._term_cache
    try:
        r._term_cache = lambda: None        # force the scan fallback
        via_scan = spell_suggest(r, miss, k=5)
    finally:
        r._term_cache = cached
    assert via_scan == via_cache
    # the exact term never suggests itself
    assert VOCAB[0] not in [t for t, _, _ in spell_suggest(r, VOCAB[0], k=5)]


def test_msearch_enforces_clause_limit(searcher):
    """msearch applies the same maxClauseCount cap as search()/count()."""
    from lucene_spark.search.multiterm import TooManyClauses

    big = " ".join(f"t{i}" for i in range(searcher.max_clause_count + 1))
    with pytest.raises(TooManyClauses):
        searcher.msearch([big], 5)


def test_filter_only_query_matches_score_zero(searcher, golden):
    """A FILTER-only boolean matches its docs with score 0 (BooleanWeight
    semantics) — engine ≡ golden; count agrees."""
    q = ast.BooleanQuery(((ast.FILTER, ast.TermQuery(VOCAB[0])),))
    got = [(h.doc_id, h.score) for h in searcher.search(q, 50)]
    exp = golden.search(q, 50)
    assert got == exp and got and all(s == 0.0 for _, s in got)
    assert searcher.count(q) == len(golden.search(q, 10**9))


def test_count_minshouldmatch(searcher, golden):
    """count() respects minShouldMatch with and without MUST clauses."""
    for q in (
        ast.BooleanQuery(((ast.SHOULD, ast.TermQuery(VOCAB[0])),
                          (ast.SHOULD, ast.TermQuery(VOCAB[3])),
                          (ast.SHOULD, ast.TermQuery(VOCAB[5]))),
                         min_should_match=2),
        ast.BooleanQuery(((ast.MUST, ast.TermQuery(VOCAB[1])),
                          (ast.SHOULD, ast.TermQuery(VOCAB[0])),
                          (ast.SHOULD, ast.TermQuery(VOCAB[3]))),
                         min_should_match=1),
    ):
        assert searcher.count(q) == len(golden.search(q, 10**9)), q


def test_rescore_brute_combine(searcher):
    """QueryRescorer: engine rescore ≡ brute combine of two verified search
    passes — first-pass top-N scores plus weight×second where the second
    query matches, f32-narrowed, re-sorted by (score DESC, docID ASC)."""
    first = searcher.parse(f"{VOCAB[0]} {VOCAB[3]} {VOCAB[5]}")
    second = searcher.parse(f"{VOCAB[1]} {VOCAB[7]}")
    top_n, k, w = 30, 10, 2.0
    fhits = searcher.search(first, k=top_n)
    smap = {h.doc_id: h.score for h in searcher.search(second, k=10**6)}
    comb = []
    for h in fhits:
        if h.doc_id in smap:
            s = float(np.float32(h.score + w * smap[h.doc_id]))
        else:
            s = h.score
        comb.append((h.doc_id, s))
    comb.sort(key=lambda t: (-t[1], t[0]))
    exp = comb[:k]
    got = [(h.doc_id, h.score) for h in
           searcher.rescore(first, second, k=k, top_n=top_n, weight=w)]
    assert got == exp


def test_rescore_weight_zero_keeps_first_pass(searcher):
    """weight=0 → combined score equals the first-pass score for every
    doc (still f32-narrowed through the combine for matched docs)."""
    first = searcher.parse(f"{VOCAB[0]} {VOCAB[3]}")
    second = searcher.parse(VOCAB[5])
    fhits = searcher.search(first, k=20)
    got = searcher.rescore(first, second, k=20, top_n=20, weight=0.0)
    assert {h.doc_id: h.score for h in got} == \
        {h.doc_id: h.score for h in fhits}


def test_rescore_no_first_pass_hits(searcher):
    assert searcher.rescore("zzznotaterm", VOCAB[0], k=5) == []


def test_phrase_prefix_matches_manual_multiphrase(searcher, golden):
    """phrase_prefix ≡ MultiPhraseQuery with the prefix manually expanded
    to the first max_expansions vocabulary terms in term order."""
    prefix = VOCAB[0][:2]
    vocab_sorted = sorted(golden.positions)
    exp = tuple(t for t in vocab_sorted if t.startswith(prefix))[:3]
    assert len(exp) >= 1
    got = searcher.phrase_prefix((VOCAB[3], prefix), k=50, max_expansions=3)
    want = searcher.search(
        ast.MultiPhraseQuery(((VOCAB[3],), exp)), k=50)
    assert [(h.doc_id, h.score) for h in got] == \
        [(h.doc_id, h.score) for h in want]


def test_phrase_prefix_truncates_at_max_expansions(searcher, golden):
    """max_expansions TRUNCATES in term order (the match_phrase_prefix
    contract) — a cap of 1 uses only the first matching term."""
    prefix = VOCAB[0][:1]
    vocab_sorted = sorted(golden.positions)
    matching = [t for t in vocab_sorted if t.startswith(prefix)]
    assert len(matching) >= 2  # the cap must actually bite
    got = searcher.phrase_prefix((VOCAB[3], prefix), k=50, max_expansions=1)
    want = searcher.search(
        ast.MultiPhraseQuery(((VOCAB[3],), (matching[0],))), k=50)
    assert [(h.doc_id, h.score) for h in got] == \
        [(h.doc_id, h.score) for h in want]


def test_phrase_prefix_no_expansion(searcher):
    assert searcher.phrase_prefix((VOCAB[0], "zzzz"), k=10) == []


def test_expand_prefix_sorted_paths_agree(searcher):
    """Driver-dict binary search ≡ distributed term-ordered pushdown scan."""
    prefix = VOCAB[0][:1]
    a = searcher._expand_prefix_sorted("text", prefix, 4)
    orig = searcher.reader.sorted_terms  # force the distributed path
    try:
        searcher.reader.sorted_terms = lambda field: None
        b = searcher._expand_prefix_sorted("text", prefix, 4)
    finally:
        searcher.reader.sorted_terms = orig
    assert a == b and 1 <= len(a) <= 4


def test_boost_by_query_brute(searcher):
    """boostByQuery ≡ brute combine: score ×boost where the doc is in the
    boost query's match set, unchanged elsewhere, f32-narrowed."""
    main = searcher.parse(f"{VOCAB[0]} {VOCAB[3]}")
    bq = searcher.parse(VOCAB[5])
    boost = 1.7
    base = searcher.search(main, k=10**6)
    bset = {h.doc_id for h in searcher.search(bq, k=10**6)}
    comb = [(h.doc_id,
             float(np.float32(h.score * boost)) if h.doc_id in bset
             else h.score)
            for h in base]
    comb.sort(key=lambda t: (-t[1], t[0]))
    got = [(h.doc_id, h.score) for h in
           searcher.boost_by_query(main, bq, boost, k=15)]
    assert got == comb[:15]
    assert any(d in bset for d, _ in got)  # the boost actually fired


def test_feature_score_saturation_brute(searcher, spark):
    """Saturation feature ≡ brute: f32(score + f32(w·dl/(dl+pivot))) —
    exact IEEE ops, bit-identical."""
    main = searcher.parse(f"{VOCAB[0]} {VOCAB[3]}")
    w, pivot = 0.8, 30.0
    dls = {int(r["doc_id"]): int(r["dl"])
           for r in searcher.reader.docs().select("doc_id", "dl").collect()}
    base = searcher.search(main, k=10**6)
    comb = []
    for h in base:
        dl = dls[h.doc_id]
        feat = np.float32(w * (dl / (dl + pivot)))
        comb.append((h.doc_id, float(np.float32(h.score + float(feat)))))
    comb.sort(key=lambda t: (-t[1], t[0]))
    got = [(h.doc_id, h.score) for h in
           searcher.feature_score(main, "dl", "saturation", k=15,
                                  weight=w, pivot=pivot)]
    assert got == comb[:15]


@pytest.mark.parametrize("fn,kw", [
    ("log", dict(weight=0.5, scaling=1.0)),
    ("sigmoid", dict(weight=0.6, pivot=25.0, exp_a=2.0)),
])
def test_feature_score_log_sigmoid_brute(searcher, fn, kw):
    """Log/sigmoid features ≡ brute within 1-ulp tolerance (libm ln/pow may
    differ across JVM vs numpy); ordering must still agree."""
    main = searcher.parse(f"{VOCAB[0]} {VOCAB[3]}")
    dls = {int(r["doc_id"]): int(r["dl"])
           for r in searcher.reader.docs().select("doc_id", "dl").collect()}
    base = searcher.search(main, k=10**6)
    comb = []
    for h in base:
        dl = float(dls[h.doc_id])
        if fn == "log":
            feat = kw["weight"] * np.log(kw["scaling"] + dl)
        else:
            sa = dl ** kw["exp_a"]
            feat = kw["weight"] * sa / (sa + kw["pivot"] ** kw["exp_a"])
        comb.append((h.doc_id,
                     float(np.float32(h.score + float(np.float32(feat))))))
    comb.sort(key=lambda t: (-t[1], t[0]))
    got = [(h.doc_id, h.score) for h in
           searcher.feature_score(main, "dl", fn, k=15, **kw)]
    assert [d for d, _ in got] == [d for d, _ in comb[:15]]
    for (_, a), (_, b) in zip(got, comb[:15]):
        assert a == pytest.approx(b, rel=1e-6)


def test_feature_score_unknown_fn(searcher):
    with pytest.raises(ValueError, match="feature function"):
        searcher.feature_score(VOCAB[0], "dl", "cube")


def test_score_df_phrase_matches_search(searcher, spark):
    """score_df on a phrase query ≡ the exhaustive phrase search path —
    the substrate rescore/boost/feature/grouping build on."""
    q = ast.PhraseQuery((VOCAB[0], VOCAB[3]), slop=2)
    want = {(h.doc_id, h.score) for h in searcher.search(q, k=10**6)}
    got = {(int(r["doc_id"]), float(np.float32(r["score"])))
           for r in searcher.score_df(q).collect()}
    assert got == want and got


def test_score_df_constant_shapes(searcher):
    """Multiterm / span / const-wrapped queries score as f32(boost) over
    their match set."""
    mt = ast.MultiTermQuery("prefix", value=VOCAB[0][:2], boost=2.5)
    rows = searcher.score_df(mt).collect()
    assert rows and all(
        r["score"] == float(np.float32(2.5)) for r in rows)
    sp = ast.SpanNearQuery((VOCAB[0], VOCAB[3]), slop=4, boost=1.5)
    rows = searcher.score_df(sp).collect()
    assert rows and all(
        r["score"] == float(np.float32(1.5)) for r in rows)
    assert {r["doc_id"] for r in rows} == \
        {h.doc_id for h in searcher.search(sp, k=10**6)}


def test_score_df_unsupported_shape_raises(searcher):
    with pytest.raises(NotImplementedError, match="exhaustive scoring"):
        searcher.score_df(
            ast.KnnQuery(vector=(0.0,) * 8, k=5)).collect()


def test_score_df_synonym_dismax_match_search(searcher):
    """Synonym / DisMax exhaustive score_df ≡ the top-k path at huge k."""
    for q in (ast.SynonymQuery((VOCAB[0], VOCAB[3])),
              ast.DisjunctionMaxQuery((VOCAB[0], VOCAB[3]),
                                      tie_breaker=0.3)):
        want = {(h.doc_id, h.score) for h in searcher.search(q, k=10**6)}
        got = {(int(r["doc_id"]), float(np.float32(r["score"])))
               for r in searcher.score_df(q).collect()}
        assert got == want and got, type(q).__name__


def test_rescore_by_phrase_second_pass(searcher):
    """The canonical QueryRescorer use: cheap bag-of-words first pass,
    phrase-proximity second pass — engine ≡ brute combine."""
    first = searcher.parse(f"{VOCAB[0]} {VOCAB[3]} {VOCAB[5]}")
    second = ast.PhraseQuery((VOCAB[0], VOCAB[3]), slop=1)
    top_n, k, w = 25, 10, 3.0
    fhits = searcher.search(first, k=top_n)
    smap = {h.doc_id: h.score for h in searcher.search(second, k=10**6)}
    comb = [(h.doc_id,
             float(np.float32(h.score + w * smap[h.doc_id]))
             if h.doc_id in smap else h.score)
            for h in fhits]
    comb.sort(key=lambda t: (-t[1], t[0]))
    got = [(h.doc_id, h.score) for h in
           searcher.rescore(first, second, k=k, top_n=top_n, weight=w)]
    assert got == comb[:k]
    assert any(d in smap for d, _ in got)  # the phrase boost actually fired


def test_count_leaf_clauses_list_slot_counted():
    """List-form SpanOr slots count every alternative (the tuple/list
    spellings are interchangeable in _span_run)."""
    q_t = ast.SpanNearQuery((("a", "b", "c"), "d"), slop=1)
    q_l = ast.SpanNearQuery((["a", "b", "c"], "d"), slop=1)
    assert ast.count_leaf_clauses(q_t) == ast.count_leaf_clauses(q_l) == 4


def test_search_match_all_docs(searcher):
    """search(MatchAllDocsQuery) returns the k smallest live docIDs at
    score f32(1.0) — same constant-score path as score_df/count."""
    hits = searcher.search(ast.MatchAllDocsQuery(), k=7)
    assert [h.doc_id for h in hits] == sorted(h.doc_id for h in hits)
    assert len(hits) == 7 and all(h.score == 1.0 for h in hits)
    assert hits[0].doc_id == 0


def test_search_sorted_after_keyset_pagination(searcher):
    """TopFieldCollector.searchAfter: paging with the previous page's last
    row reproduces the contiguous slices of the full sorted run — single
    and multi-field sorts, both directions."""
    q = searcher.parse(f"{VOCAB[0]} {VOCAB[3]}")
    for sort, rev in (("dl", True), ("dl", False),
                      ([("dl", False), ("turn_idx", True)], False)):
        full = searcher.search_sorted(q, sort, k=30, reverse=rev)
        assert len(full) >= 15
        p1 = searcher.search_sorted(q, sort, k=5, reverse=rev)
        p2 = searcher.search_sorted(q, sort, k=5, reverse=rev,
                                    after=p1[-1])
        p3 = searcher.search_sorted(q, sort, k=5, reverse=rev,
                                    after=p2[-1])
        assert p1 + p2 + p3 == full[:15], (sort, rev)


def test_search_sorted_after_bad_tuple_raises(searcher):
    with pytest.raises(ValueError, match="after must be"):
        searcher.search_sorted(VOCAB[0], "dl", k=5, after=(1,))


def test_term_vectors_match_reanalysis(searcher, corpus_pdf):
    """term_vectors (TermVectorsFormat analogue) ≡ re-analysis of the stored
    text: same terms, freqs, and 0-based Lucene token positions."""
    from collections import Counter

    from lucene_spark.analysis import get_analyzer

    an = get_analyzer("standard")
    pdf = corpus_pdf.sort_values(["conv_id", "turn_idx"],
                                 kind="mergesort").reset_index(drop=True)
    ids = [0, 3, len(pdf) // 2, len(pdf) - 1]
    tv = searcher.term_vectors(ids).toPandas()
    assert set(tv["doc_id"]) <= set(ids)
    for did in ids:
        toks = an.tokenize_text(pdf.loc[did, "text"])
        cnt = Counter(toks)
        sub = tv[tv["doc_id"] == did]
        assert {t: int(f) for t, f in zip(sub["term"], sub["freq"])} == dict(cnt)
        want_pos = {t: [i for i, x in enumerate(toks) if x == t] for t in cnt}
        got_pos = {r.term: [int(p) for p in r.positions.split()]
                   for r in sub.itertuples()}
        assert got_pos == want_pos
    assert searcher.term_vectors([]).count() == 0
    assert searcher.term_vectors([10 ** 12]).count() == 0  # out of range


def test_suggest_infix_paths_agree(searcher):
    """AnalyzingInfixSuggester-lite: driver-dictionary and pushdown-scan
    paths return the same (df DESC, term ASC) ranking; every result
    contains the substring anywhere (not just as a prefix)."""
    from lucene_spark.search.suggest import suggest_infix, suggest_terms

    r = searcher.reader
    via_cache = suggest_infix(r, "ar", k=8)
    assert via_cache and all("ar" in t for t, _ in via_cache)
    # strictly wider than the prefix suggester for the same needle
    pref = {t for t, _ in suggest_terms(r, "ar", k=10 ** 6)}
    assert {t for t, _ in via_cache} - pref, "expected a non-prefix match"
    assert all(d1 >= d2 for (_, d1), (_, d2) in zip(via_cache, via_cache[1:]))
    cached = r._term_cache
    try:
        r._term_cache = lambda: None        # force the scan fallback
        via_scan = suggest_infix(r, "ar", k=8)
    finally:
        r._term_cache = cached
    assert via_scan == via_cache


def test_phrase_wildcard_matches_manual_expansion(spark, index_dir):
    """PhraseWildcardQuery ≡ MultiPhraseQuery over the dictionary expansion
    (sandbox/search/PhraseWildcardQuery.java re-expressed fail-loud)."""
    from lucene_spark.search import ast as _ast
    from lucene_spark.search import multiterm as mt
    from lucene_spark.search.multiterm import TooManyClauses

    s = IndexSearcher(spark, index_dir)
    t0 = VOCAB[0]
    pat = VOCAB[1][:2] + "*"
    exp = mt.expand_terms_hybrid(
        s.reader, _ast.MultiTermQuery(kind="wildcard", value=pat), 1024)
    assert exp
    got = s.phrase_wildcard((t0, pat), k=20)
    want = s.search(_ast.MultiPhraseQuery(((t0,), tuple(exp))), k=20)
    assert [(h.doc_id, h.score) for h in got] == [
        (h.doc_id, h.score) for h in want]
    # literal + tuple slots pass through untouched
    got2 = s.phrase_wildcard(((t0,), exp[0]), k=5)
    want2 = s.search(_ast.MultiPhraseQuery(((t0,), (exp[0],))), k=5)
    assert [(h.doc_id, h.score) for h in got2] == [
        (h.doc_id, h.score) for h in want2]
    # empty expansion matches nothing; oversized expansion fails loud
    assert s.phrase_wildcard((t0, "zzzz*"), k=5) == []
    with pytest.raises(TooManyClauses):
        s.phrase_wildcard((t0, "*"), k=5, max_expansions=2)


def test_multi_range_query(spark, index_dir):
    """MultiRangeQuery: OR of ranges ≡ union of single-range filters,
    overlaps count once, live-docs respected, query intersection."""
    s = IndexSearcher(spark, index_dir)
    docs = {r["doc_id"]: r["dl"] for r in s.reader.docs().collect()}
    ranges = [(1, 8), (6, 15), (10_000, 20_000)]
    got = sorted(r["doc_id"] for r in
                 s.multi_range_df("dl", ranges).collect())
    want = sorted(i for i, dl in docs.items()
                  if any(lo <= dl <= hi for lo, hi in ranges))
    assert got == want and got
    assert s.multi_range_df("dl", []).count() == 0
    q = s.parse(VOCAB[0])
    match = {r["doc_id"] for r in s.match_df(q).collect()}
    inter = sorted(r["doc_id"] for r in
                   s.multi_range_df("dl", ranges, query=q).collect())
    assert inter == sorted(set(want) & match)


def test_freetext_suggester(spark):
    """FreeTextSuggester stupid backoff on a hand-computable corpus."""
    from lucene_spark.analysis import SimpleAnalyzer
    from lucene_spark.search.suggest import FreeTextSuggester

    rows = [
        (0, "a b c"), (1, "a b d"), (2, "a b d"), (3, "x b e"),
        (4, "b f"), (5, "q"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ft = FreeTextSuggester(spark, docs, SimpleAnalyzer(), grams=3)
    # key 'a b ' (ended): trigram ctx (a,b) cnt=3 → c:1/3, d:2/3
    # bigram ctx (b,) cnt=5 → c:0.4·1/5, d:0.4·2/5, e:0.4·1/5, f:0.4·1/5
    # unigram: all tokens, 0.16·cnt/tot (tot=15)
    got = dict(ft.lookup("a b ", num=20))
    assert got["d"] == 2 / 3 and got["c"] == 1 / 3
    assert got["e"] == 0.4 * (1 / 5) and got["f"] == 0.4 * (1 / 5)
    assert got["q"] == (0.4 * 0.4) * (1 / 15)  # unigram backoff level
    ranked = ft.lookup("a b ", num=3)
    assert [t for t, _ in ranked] == ["d", "c", "e"][:3] or \
           [t for t, _ in ranked][:2] == ["d", "c"]
    # fragment completion: 'a b d' (not ended) completes d* in ctx (a,b)
    frag = dict(ft.lookup("a b d", num=5))
    assert frag == {"d": 2 / 3}
    # insufficient context skips the trigram level WITHOUT backoff decay
    one = dict(ft.lookup("b ", num=20))
    assert one["d"] == 2 / 5  # bigram level at weight 1.0
    # unseen context still decays: 'zz ' → only unigram level at 0.4
    zz = dict(ft.lookup("zz ", num=20))
    assert zz["b"] == 0.4 * (5 / 15)
    with pytest.raises(ValueError):
        ft.lookup("   ")


def test_join_by_field_matches_brute(searcher):
    """JoinUtil value join (join/JoinUtil.java:90-118) ≡ brute per-value
    aggregation of the from-side scores across every ScoreMode."""
    q = searcher.parse(QUERIES[2])
    scores = {int(r["doc_id"]): np.float32(r["score"])
              for r in searcher.score_df(q).collect()}
    docs = {int(r["doc_id"]): r["conv_id"]
            for r in searcher.reader.docs()
                .select("doc_id", "conv_id").collect()}
    per_val: dict = {}
    for d, s in scores.items():
        per_val.setdefault(docs[d], []).append(s)
    for mode in ("max", "min", "total", "avg", "none"):
        if mode == "none":
            agg = {v: np.float32(1.0) for v in per_val}
        elif mode == "max":
            agg = {v: max(ss) for v, ss in per_val.items()}
        elif mode == "min":
            agg = {v: min(ss) for v, ss in per_val.items()}
        elif mode == "total":
            agg = {v: np.float32(sum(float(x) for x in ss))
                   for v, ss in per_val.items()}
        else:
            agg = {v: np.float32(sum(float(x) for x in ss) / len(ss))
                   for v, ss in per_val.items()}
        exp = sorted(((d, float(agg[v])) for d, v in docs.items()
                      if v in agg), key=lambda t: (-t[1], t[0]))[:25]
        got = [(h.doc_id, h.score) for h in searcher.join_by_field(
            q, "conv_id", "conv_id", k=25, score_mode=mode)]
        assert got == exp, f"score_mode={mode}"
    with pytest.raises(ValueError):
        searcher.join_by_field(q, "conv_id", "conv_id", score_mode="bogus")


def test_diversified_matches_greedy_reference(searcher):
    """Window-rank implementation ≡ the reference collector's greedy PQ
    insert/evict (DiversifiedTopDocsCollector.java:69-157), simulated:
    walk hits in (score DESC, docID ASC) order, keep a hit iff its key
    holds fewer than max_per_key kept hits, stop at k."""
    q = searcher.parse(QUERIES[2])
    scores = {int(r["doc_id"]): float(r["score"])
              for r in searcher.score_df(q).collect()}
    docs = {int(r["doc_id"]): r["conv_id"]
            for r in searcher.reader.docs()
                .select("doc_id", "conv_id").collect()}
    ranked = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
    for max_per in (1, 2, 3):
        for k in (10, 50):
            kept: list = []
            counts: dict = {}
            for d, s in ranked:
                key = docs[d]
                if counts.get(key, 0) < max_per:
                    kept.append((d, s))
                    counts[key] = counts.get(key, 0) + 1
                if len(kept) == k:
                    break
            got = [(h.doc_id, h.score) for h in searcher.diversified_search(
                q, "conv_id", max_per, k=k)]
            assert got == kept, f"max_per={max_per} k={k}"


def _hot_query(searcher):
    from lucene_spark.search import ast as A

    stats = searcher.reader.term_stats(searcher.reader.sorted_terms("text"))
    hot = max(stats.items(), key=lambda kv: kv[1]["df"])[0]
    return A.BooleanQuery(((A.SHOULD, A.TermQuery(hot)),))


def test_group_heads_matches_brute(searcher):
    """AllGroupHeadsCollector (grouping/AllGroupHeadsCollector.java:38):
    one head per conv_id group under (dl dir, docID ASC), brute-checked
    both directions."""
    q = _hot_query(searcher)
    docs = searcher.reader.docs().select("doc_id", "conv_id", "dl")
    matched = {int(r["doc_id"])
               for r in searcher.match_df(q).collect()}
    rows = [(int(r["doc_id"]), r["conv_id"], int(r["dl"]))
            for r in docs.collect() if int(r["doc_id"]) in matched]
    for ascending in (False, True):
        got = [(r["conv_id"], int(r["doc_id"]), int(r["v"]))
               for r in searcher.group_heads(
                   q, docs.select("doc_id", "conv_id"), "conv_id",
                   sort_expr="dl", ascending=ascending).collect()]
        want: dict = {}
        for d, g, v in rows:
            cur = want.get(g)
            key = (v if ascending else -v, d)
            if cur is None or key < (cur[0] if ascending else -cur[0],
                                     cur[1]):
                want[g] = (v, d)
        expect = sorted((g, d, v) for g, (v, d) in want.items())
        assert got == expect and got


def test_group_distinct_values_matches_brute(searcher):
    """DistinctValuesCollector (grouping/DistinctValuesCollector.java:28):
    per-conv_id COUNT(DISTINCT role) over the match set."""
    from pyspark.sql import functions as F

    q = _hot_query(searcher)
    docs = (searcher.reader.docs()
            .select("doc_id", "conv_id",
                    (F.col("turn_idx") % 3).alias("val")))
    matched = {int(r["doc_id"]) for r in searcher.match_df(q).collect()}
    got = {r["conv_id"]: int(r["n"])
           for r in searcher.group_distinct_values(
               q, docs.select("doc_id", "conv_id"), "conv_id",
               docs.select("doc_id", "val"), "val").collect()}
    want: dict = {}
    for r in docs.collect():
        if int(r["doc_id"]) in matched:
            want.setdefault(r["conv_id"], set()).add(int(r["val"]))
    assert got == {g: len(s) for g, s in want.items()} and got


def test_dv_stats_matches_brute(searcher):
    """DocValuesStats (misc/search/DocValuesStats.java:29-140): exact
    count/missing/min/max/sum plus closed-form mean/variance/stdev ==
    numpy's (Welford-equivalent) values; every 3rd doc missing from the
    value table exercises the missing counter (:31-66)."""
    import math as _m

    import numpy as np
    from pyspark.sql import functions as F

    q = _hot_query(searcher)
    vals_df = (searcher.reader.docs()
               .filter(F.col("doc_id") % 3 != 0).select("doc_id", "dl"))
    row = searcher.dv_stats(q, value_df=vals_df, value_col="dl").collect()[0]
    matched = {int(r["doc_id"]) for r in searcher.match_df(q).collect()}
    dls = {int(r["doc_id"]): int(r["dl"])
           for r in searcher.reader.docs().select("doc_id", "dl").collect()}
    have = np.array(sorted(dls[d] for d in matched if d % 3 != 0))
    assert int(row["count"]) == have.size
    assert int(row["missing"]) == sum(1 for d in matched if d % 3 == 0) > 0
    assert (int(row["vmin"]), int(row["vmax"])) == (have.min(), have.max())
    assert int(row["vsum"]) == have.sum()
    assert abs(float(row["mean"]) - have.mean()) < 1e-12
    assert abs(float(row["variance"]) - have.var()) < 1e-9
    assert abs(float(row["stdev"]) - _m.sqrt(have.var())) < 1e-9


def test_dv_terms_df_matches_brute(searcher):
    """DocValuesTermsQuery (sandbox/search/DocValuesTermsQuery.java:62):
    DV ∈ set post-filter, with and without a query intersection."""
    q = _hot_query(searcher)
    docs = searcher.reader.docs().select("doc_id", "conv_id")
    convs = {int(r["doc_id"]): r["conv_id"] for r in docs.collect()}
    vals = tuple(sorted(set(convs.values()))[:5])
    got_all = {int(r["doc_id"])
               for r in searcher.dv_terms_df(docs, "conv_id",
                                             vals).collect()}
    assert got_all == {d for d, cv in convs.items() if cv in vals}
    matched = {int(r["doc_id"]) for r in searcher.match_df(q).collect()}
    got_q = {int(r["doc_id"])
             for r in searcher.dv_terms_df(docs, "conv_id", vals,
                                           query=q).collect()}
    assert got_q == got_all & matched and got_q


def test_high_freq_terms_order(searcher):
    """HighFreqTerms (misc/HighFreqTerms.java:139-167): top-N by df and by
    ttf, equal frequencies break toward the larger term (the keep-highest
    PQ compares termtext ascending)."""
    ts = searcher.reader._term_stats_df.filter("field = 'text'").collect()
    stats = [(r["term"], int(r["df"]), int(r["ttf"])) for r in ts]
    for order, pick in (("df", 1), ("ttf", 2)):
        got = [(r["term"], int(r["df"]), int(r["ttf"]))
               for r in searcher.reader.high_freq_terms(
                   7, order=order).collect()]
        want = sorted(stats, key=lambda t: (-t[pick],
                                            tuple(-b for b in
                                                  t[0].encode())))[:7]
        assert got == want and len(got) == 7
    try:
        searcher.reader.high_freq_terms(5, order="bogus")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_parent_children_block_join(spark, searcher, golden, corpus_pdf):
    """ParentChildrenBlockJoinQuery (join/ParentChildrenBlockJoinQuery.java
    :40-57): children of ONE parent matching the child query, child-scored
    — ≡ the golden's full hit set filtered to the parent's rows."""
    q = f"{VOCAB[0]} {VOCAB[3]}"
    convs = list(corpus_pdf["conv_id"])
    all_hits = golden.search(q, k=len(convs))
    # pick a parent that actually has matching children
    parent = convs[all_hits[0][0]]
    want = [(d, s) for d, s in all_hits if convs[d] == parent][:10]
    got = searcher.parent_children(parent, q, k=10)
    assert [(h.doc_id, h.score) for h in got] == want
    # rare child query: parents without a matching child → empty
    rare = VOCAB[800]
    rare_hits = golden.search(rare, k=len(convs))
    miss = next(c for c in convs
                if not any(convs[d] == c for d, _ in rare_hits))
    assert searcher.parent_children(miss, rare, k=10) == []
    # unknown parent key → empty
    assert searcher.parent_children("c_no_such_conv", q, k=10) == []


def test_facet_double_ranges(spark, searcher, golden, corpus_pdf):
    """DoubleRangeFacetCounts (facet/range/DoubleRangeFacetCounts.java:45):
    per-edge inclusivity over a double expression ≡ brute counts."""
    q = f"{VOCAB[0]} {VOCAB[3]}"
    hits = {d for d, _ in golden.search(q, k=len(corpus_pdf))}
    dls = [len(golden.analyzer.tokenize_text(t or ""))
           for t in corpus_pdf["text"]]
    bounds = (("a", 0.0, True, 3.75, False), ("b", 3.75, True, 3.75, True),
              ("c", 2.0, False, 100.0, True), ("z", 500.0, True, 600.0, True))
    got = {r["range"]: r["n"] for r in
           searcher.facet_double_ranges(q, "dl / 4.0", bounds).collect()}
    for lb, lo, li, hi, hc in bounds:
        want = sum(
            1 for d in hits
            if (dls[d] / 4.0 >= lo if li else dls[d] / 4.0 > lo)
            and (dls[d] / 4.0 <= hi if hc else dls[d] / 4.0 < hi))
        assert got[lb] == want
    assert got["z"] == 0


def test_fuzzy_suggest(spark, searcher, corpus_pdf, golden):
    """FuzzySuggester-lite (suggest/analyzing/FuzzySuggester.java:66-91):
    prefix-DL matching ≡ brute over the vocabulary; min-length and
    exact-first rules."""
    from lucene_spark.search.multiterm import damerau_levenshtein
    from lucene_spark.search.suggest import fuzzy_suggest

    vocab = {}
    for t in corpus_pdf["text"]:
        for w in golden.analyzer.tokenize_text(t or ""):
            vocab[w] = vocab.get(w, set())
    dfs = {w: len(golden.postings[w][0]) for w in vocab}

    def brute(key, k, edits):
        pre, rest = key[:1], key[1:]
        out = []
        for t, df in dfs.items():
            if not t.startswith(pre):
                continue
            s = t[1:]
            hit = (s.startswith(rest) if edits == 0 else
                   any(damerau_levenshtein(s[:j], rest) <= edits
                       for j in range(len(s) + 1)))
            if hit:
                out.append((t, df))
        out.sort(key=lambda x: (not x[0] == key, -x[1], x[0]))
        return out[:k]

    typo = VOCAB[0][0] + VOCAB[0][2:]  # drop 2nd char: one deletion
    for key, edits in [(typo, 1), (VOCAB[3], 1), (VOCAB[0][:2], 0)]:
        got = fuzzy_suggest(searcher.reader, key, k=8)
        assert got == brute(key, 8, edits), key
    # the typo'd key recovers the original term
    assert any(t == VOCAB[0] for t, _ in fuzzy_suggest(
        searcher.reader, typo, k=8))
    # exact-first: an exact match ranks first even at lower df
    got = fuzzy_suggest(searcher.reader, VOCAB[3], k=8)
    assert got[0][0] == VOCAB[3]


def test_group_facets(spark, searcher, golden, corpus_pdf):
    """GroupFacetCollector (grouping/GroupFacetCollector.java:28): per
    facet value the number of DISTINCT groups with >=1 matching doc —
    each group counts a value once, prefix filter honored."""
    from pyspark.sql import functions as F

    q = f"{VOCAB[0]} {VOCAB[3]}"
    hits = {d for d, _ in golden.search(q, k=len(corpus_pdf))}
    roles = list(corpus_pdf["role"])
    convs = list(corpus_pdf["conv_id"])
    meta = spark.createDataFrame(
        [(i, convs[i], roles[i]) for i in range(len(convs))],
        "doc_id long, conv_id string, role string")
    got = {r["role"]: r["n"] for r in
           searcher.group_facets(q, meta, "conv_id", "role").collect()}
    want = {}
    for d in hits:
        want.setdefault(roles[d], set()).add(convs[d])
    assert got == {v: len(g) for v, g in want.items()}
    # facet prefix filter
    pre = sorted(want)[0][:1]
    got_p = {r["role"]: r["n"] for r in searcher.group_facets(
        q, meta, "conv_id", "role", facet_prefix=pre).collect()}
    assert got_p == {v: len(g) for v, g in want.items()
                     if v.startswith(pre)}


def test_profile(searcher):
    """QueryProfiler surface (sandbox/search/QueryProfilerIndexSearcher):
    hits identical to search(), phases sum to the total, plan facts."""
    q = f"{VOCAB[0]} {VOCAB[3]}"
    prof = searcher.profile(q, k=10)
    assert prof["hits"] == searcher.search(q, k=10)
    bd = prof["breakdown"]
    assert set(bd) == {"parse_rewrite_sec", "create_weight_sec",
                       "execute_merge_sec"}
    assert all(v >= 0 for v in bd.values())
    assert prof["total_sec"] == pytest.approx(sum(bd.values()), rel=1e-9)
    assert prof["mode"] in ("wand", "exhaustive")
    assert prof["leaf_clauses"] == 2
    # non-flat shape still profiles (mode reported as 'other')
    prof2 = searcher.profile(ast.SpanNearQuery((VOCAB[0], VOCAB[3]),
                                               slop=3), k=5)
    assert prof2["mode"] == "other" and prof2["hits"]
