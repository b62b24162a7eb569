"""TermAutomatonQuery: engine DAG kernel vs brute NFA simulation over the
corpus token streams (``sandbox/.../TermAutomatonQuery.java`` semantics:
term arcs consume their term's position, ANY arcs advance unconditionally,
match anywhere, leading/trailing ANY forbidden)."""

import numpy as np
import pytest

from lucene_spark.corpus import VOCAB
from lucene_spark.goldens import BruteForceIndex
from lucene_spark.search import ast
from lucene_spark.search.automaton import validate_automaton
from lucene_spark.search.executor import DOCS
from lucene_spark.search.searcher import IndexSearcher


@pytest.fixture(scope="module")
def golden(corpus_pdf):
    return BruteForceIndex(corpus_pdf)


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return IndexSearcher(spark, index_dir)


def brute_automaton_docs(golden, transitions, n_states, accept):
    """Per-doc NFA simulation over position-indexed term maps."""
    accept = set(accept)
    terms = {t for _, _, s in transitions if s is not None
             for t in (s if isinstance(s, tuple) else (s,))}
    # doc -> pos -> set(term) (one term per position here)
    occ: dict = {}
    docs = set()
    for t in terms:
        for d, ps in golden.positions.get(t, {}).items():
            docs.add(d)
            for p in ps:
                occ.setdefault(d, {}).setdefault(p, set()).add(t)
    out = []
    for d in sorted(docs):
        dmax = max(occ[d]) if occ[d] else -1
        # reach[(state, pos)] BFS — tiny automata, tiny docs
        frontier = {(0, p) for p in range(dmax + 1)}
        seen = set(frontier)
        hit = False
        while frontier and not hit:
            nxt = set()
            for state, pos in frontier:
                for u, v, s in transitions:
                    if u != state:
                        continue
                    if s is None:
                        cand = (v, pos + 1)
                    else:
                        names = s if isinstance(s, tuple) else (s,)
                        if not (occ[d].get(pos, set()) & set(names)):
                            continue
                        cand = (v, pos + 1)
                        if v in accept:
                            hit = True
                    if cand not in seen and cand[1] <= dmax + 2:
                        seen.add(cand)
                        nxt.add(cand)
            frontier = nxt
        if hit:
            out.append(d)
    return out


AUTOMATA = [
    # fast (scan|join): plain adjacency with alternatives
    (((0, 1, "fast"), (1, 2, ("scan", "join"))), 3, (2,)),
    # fast ANY scan: interior any arc
    (((0, 1, "fast"), (1, 2, None), (2, 3, "scan")), 4, (3,)),
    # branch of different lengths: fast scan | fast ANY ANY scan
    (((0, 1, "fast"), (1, 4, "scan"),
      (1, 2, None), (2, 3, None), (3, 4, "scan")), 5, (4,)),
    # two accept states
    (((0, 1, "hash"), (1, 2, "join"), (1, 3, "scan")), 4, (2, 3)),
    # single-arc automaton
    (((0, 1, "merge"),), 2, (1,)),
]


@pytest.mark.parametrize("transitions,n_states,accept", AUTOMATA)
def test_engine_matches_brute(searcher, golden, transitions, n_states,
                              accept):
    q = ast.TermAutomatonQuery(transitions=transitions, n_states=n_states,
                               accept=accept)
    run = searcher._automaton_run(q, DOCS)
    got = sorted(r["doc_id"] for r in run.df().collect()) \
        if run is not None else []
    want = brute_automaton_docs(golden, transitions, n_states, accept)
    assert got == want
    assert searcher.count(q) == len(want)
    if want:
        hits = searcher.search(q, k=5)
        assert [h.doc_id for h in hits] == want[:5]
        assert all(h.score == 1.0 for h in hits)


def test_randomized_vs_brute(searcher, golden):
    rng = np.random.default_rng(7)
    words = [w for w in VOCAB if w in golden.positions][:20]
    for _ in range(15):
        n = int(rng.integers(2, 5))
        transitions = []
        for i in range(n):
            if 0 < i < n - 1 and rng.random() < 0.3:
                transitions.append((i, i + 1, None))
            else:
                k = int(rng.integers(1, 3))
                pick = tuple(rng.choice(words, size=k, replace=False))
                transitions.append(
                    (i, i + 1, pick if len(pick) > 1 else pick[0]))
        # optional skip arc (a shorter alternative path)
        if n >= 3 and rng.random() < 0.5:
            transitions.append((0, n, str(rng.choice(words))))
        q = ast.TermAutomatonQuery(transitions=tuple(transitions),
                                   n_states=n + 1, accept=(n,))
        run = searcher._automaton_run(q, DOCS)
        got = sorted(r["doc_id"] for r in run.df().collect()) \
            if run is not None else []
        want = brute_automaton_docs(golden, tuple(transitions), n + 1, (n,))
        assert got == want, f"transitions={transitions}"


def test_validation():
    with pytest.raises(ValueError, match="lead with an ANY"):
        validate_automaton(((0, 1, None), (1, 2, "x")), 3, (2,))
    with pytest.raises(ValueError, match="end with an ANY"):
        validate_automaton(((0, 1, "x"), (1, 2, None)), 3, (2,))
    with pytest.raises(NotImplementedError, match="acyclic"):
        validate_automaton(((0, 1, "x"), (1, 1, "y")), 2, (1,))
    with pytest.raises(ValueError, match="accept state"):
        validate_automaton(((0, 1, "x"),), 2, ())
    with pytest.raises(ValueError, match="cannot be an accept"):
        validate_automaton(((0, 1, "x"),), 2, (0, 1))
