"""MultiReader federated search — ``core/index/MultiReader.java`` +
``IndexSearcher`` over a composite reader.

Semantics reproduced:

- **docBase mapping** (``core/index/BaseCompositeReader.java`` readerBase):
  sub-index i's local docIDs map to global IDs by adding the cumulative
  doc count of the sub-indexes before it, in constructor order.
- **Combined collection statistics**
  (``core/search/IndexSearcher.java`` termStatistics /
  collectionStatistics over a composite reader): docFreq and
  totalTermFreq sum across sub-indexes, docCount and sumTotalTermFreq
  likewise — so BM25/idf weights are computed from the UNION corpus and
  results are bit-identical to searching one merged index.
- **merge**: per-sub-index top-k lists merge by (score DESC, global docID
  ASC) — the ``TopDocs.merge`` tie-break.

Execution: each sub-index runs its own distributed per-segment kernels
(nothing is re-indexed or copied); the driver only injects the combined
stats (``reader.term_stats_override`` + ``stats_doc_count/sum_ttf``) and
merges k rows per sub-index. At 100 TB this is the federated-search
shape: N independent indexes, one O(k·N) merge.

Documented v1 cuts: keyword-field constant scoring and KNN clauses use
per-sub-index auxiliary stats/tables (attach vectors per sub-searcher);
multiterm expansions run per sub-index (constant-score — only liveness
matters, so results are unaffected).
"""

from __future__ import annotations

import numpy as np

from lucene_spark.search import ast
from lucene_spark.search.searcher import IndexSearcher, ScoreDoc, _topk_hits


def _collect_terms(q, out: dict):
    """Gather every stats-bearing (field, term) from an AST tree."""
    if isinstance(q, ast.TermQuery):
        out.setdefault(q.field, set()).add(q.term)
    elif isinstance(q, (ast.PhraseQuery, ast.SynonymQuery,
                        ast.DisjunctionMaxQuery)):
        out.setdefault(q.field, set()).update(q.terms)
    elif isinstance(q, ast.MultiPhraseQuery):
        out.setdefault(q.field, set()).update(
            t for slot in q.slots for t in slot)
    elif isinstance(q, ast.SPAN_QUERY_TYPES):
        for slot in q.terms:
            if isinstance(slot, (tuple, list)):
                out.setdefault(q.field, set()).update(slot)
            else:
                out.setdefault(q.field, set()).add(slot)
    elif isinstance(q, ast.ConstantScoreQuery):
        _collect_terms(q.query, out)
    elif isinstance(q, ast.BooleanQuery):
        for _occ, sub in q.clauses:
            _collect_terms(sub, out)
    # MultiTermQuery / MatchAll / MatchNo / Knn carry no named terms


class MultiIndexSearcher:
    """Search several independent indexes as one logical index."""

    def __init__(self, spark, index_dirs, similarity=None):
        if not index_dirs:
            raise ValueError("at least one index dir required")
        self.searchers = [IndexSearcher(spark, d, similarity)
                          for d in index_dirs]
        self.doc_bases = []
        base = 0
        for s in self.searchers:
            self.doc_bases.append(base)
            base += s.reader.doc_count
        self.doc_count = base
        sum_ttf = sum(s.reader.sum_ttf for s in self.searchers)
        for s in self.searchers:
            s.reader.stats_doc_count = self.doc_count
            s.reader.stats_sum_ttf = sum_ttf
        self.analyzer = self.searchers[0].analyzer

    def parse(self, query_str: str):
        return self.searchers[0].parse(query_str)

    def _combined_stats(self, q) -> dict:
        """{field: {term: combined df/ttf/max_tf}} across sub-indexes —
        raw per-index stats are read with the override masked off."""
        by_field: dict[str, set] = {}
        _collect_terms(q, by_field)
        combined: dict[str, dict] = {}
        for s in self.searchers:
            saved, s.reader.term_stats_override = (
                s.reader.term_stats_override, None)
            try:
                for f, ts in by_field.items():
                    got = s.reader.term_stats(sorted(ts), field=f)
                    agg = combined.setdefault(f, {})
                    for t, st in got.items():
                        a = agg.setdefault(
                            t, {"df": 0, "ttf": 0, "max_tf": 0})
                        a["df"] += st["df"]
                        a["ttf"] += st["ttf"]
                        a["max_tf"] = max(a["max_tf"],
                                          st.get("max_tf", 0))
            finally:
                s.reader.term_stats_override = saved
        return combined

    def _run(self, fn_name: str, query, *args, **kw):
        """Run one searcher method per sub-index under the combined-stats
        override, yielding (sub_result, doc_base) pairs."""
        combined = self._combined_stats(query)
        out = []
        for s, base in zip(self.searchers, self.doc_bases):
            s.reader.term_stats_override = combined
            try:
                out.append((getattr(s, fn_name)(query, *args, **kw), base))
            finally:
                s.reader.term_stats_override = None
        return out

    def search(self, query, k: int = 10, mode: str = "wand"
               ) -> list[ScoreDoc]:
        """Top-k over the composite: per-sub-index top-k under combined
        stats, merged by (score DESC, global docID ASC)."""
        if isinstance(query, str):
            query = self.parse(query)
        query = ast.normalize(query)
        parts = self._run("search", query, k, mode=mode)
        hits = [(h.doc_id + base, h.score) for sub, base in parts for h in sub]
        return _topk_hits([d for d, _ in hits], [s for _, s in hits], k)

    def count(self, query) -> int:
        """TotalHitCount over the composite — per-sub-index counts summed
        (hit sets are disjoint by construction)."""
        if isinstance(query, str):
            query = self.parse(query)
        query = ast.normalize(query)
        return sum(n for n, _base in self._run("count", query))

    def document(self, doc_id: int):
        """Global-docID stored-fields lookup: resolve the owning sub-index
        from the docBases (BaseCompositeReader.readerIndex), then that
        reader's document()."""
        i = int(np.searchsorted(np.asarray(self.doc_bases + [self.doc_count],
                                           dtype=np.int64),
                                doc_id, side="right")) - 1
        if i < 0 or doc_id >= self.doc_count:
            return None
        doc = self.searchers[i].reader.document(doc_id - self.doc_bases[i])
        if doc is not None and "doc_id" in doc:
            doc = {**doc, "doc_id": int(doc_id)}  # re-base to global
        return doc
