"""The four entry points agree on every postings shape of the searcher's
query-shape table.

``search``, ``count``, ``match_df`` and ``score_df`` all run a query through
the same shape table (``IndexSearcher._SHAPES``), each asking for its own
output: the hit count equals the match set's size and the exhaustive
(doc_id, score) frame's size, and the top-k equals the (score DESC,
doc_id ASC) top-k of that frame — on the driver path and, with a bound of
0, on the Spark path.
"""

import pytest

from lucene_spark.corpus import VOCAB
from lucene_spark.search import ast
from lucene_spark.search import intervals as iv
from lucene_spark.search.executor import SegmentExecutor
from lucene_spark.search.searcher import IndexSearcher

A, B, C, D = VOCAB[0], VOCAB[3], VOCAB[7], VOCAB[11]


def _shapes():
    """shape name -> query, one per row of the shape table (and every
    MultiTermQuery kind)."""
    mt = ast.MultiTermQuery
    return {
        "term": A,
        "flat_or": f"{A} {B} {C}",
        "flat_must_not": f"+{A} {B} -{C}",
        "mixed_phrase": f'{C} "{A} {B}"',
        "mixed_prefix": f"+{A} {D[:2]}*",
        "mixed_nested": f"+{A} ({B} OR {C})",
        "phrase": f'"{A} {B}"',
        "sloppy_phrase": f'"{A} {B}"~4',
        "multiphrase": ast.MultiPhraseQuery(((A, C), (B,))),
        "span_near": ast.SpanNearQuery((A, B), slop=4, in_order=False),
        "span_first": ast.SpanFirstQuery((A, B), end=15, slop=4),
        "span_not": ast.SpanNotQuery((A, B), exclude=C, slop=4),
        "span_containing": ast.SpanContainingQuery((A, B), little=C,
                                                   slop=8),
        "span_within": ast.SpanWithinQuery((A, B), little=C, slop=8),
        "automaton": ast.TermAutomatonQuery(
            transitions=((0, 1, A), (0, 1, C), (1, 2, B)), n_states=3,
            accept=(2,)),
        "interval": ast.IntervalQuery(iv.Ordered((A, B), max_gaps=6)),
        "prefix": mt("prefix", A[:2], boost=1.5),
        "wildcard": mt("wildcard", f"{A[0]}*{A[-1]}"),
        "regexp": mt("regexp", f"{A[:2]}.*"),
        "fuzzy": mt("fuzzy", A[:-1] + "x", max_edits=1),
        "range": mt("range", lower=A, upper=B),
        "set": mt("set", terms=(A, C, "zzz-not-a-term")),
        "synonym": ast.SynonymQuery((A, C)),
        "dismax": ast.DisjunctionMaxQuery((A, B), tie_breaker=0.1),
    }


@pytest.mark.parametrize("bound", ["default", 0])
def test_entry_points_agree_on_every_shape(spark, index_dir, monkeypatch,
                                           bound):
    if bound != "default":
        monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", bound)
    s = IndexSearcher(spark, index_dir)
    for name, q in _shapes().items():
        q = s.parse(q) if isinstance(q, str) else q
        n = s.count(q)
        assert n > 0, name
        assert s.match_df(q).count() == n, name
        rows = s.score_df(q).collect()
        assert len(rows) == n, name
        ranked = sorted(((r["doc_id"], r["score"]) for r in rows),
                        key=lambda h: (-h[1], h[0]))
        for k in (7, n + 1):
            got = [(h.doc_id, h.score) for h in s.search(q, k)]
            assert got == ranked[:k], (name, k)
