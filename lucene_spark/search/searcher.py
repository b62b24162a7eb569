"""IndexSearcher — parse → weight → per-segment kernel fan-out → merge.

Mirrors the reference query lifecycle (``core/search/IndexSearcher.java:507``):
rewrite/normalize on the driver, global statistics bound once
(segmentation-independent, :943-958), per-segment execution in parallel
(LeafSlice analogy), exact ``TopDocs.merge`` reduce with the
(score DESC, doc_id ASC) tie-break. The per-segment executor is either the
block-max WAND kernel (mode="wand", TOP_SCORES analogy) or the same kernel
unpruned (mode="exhaustive", the CheckHits-style oracle — TestWANDScorer
checks WAND == naive disjunction; our pytest does the same).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_spark.analysis import get_analyzer
from lucene_spark.search import ast
from lucene_spark.search.executor import (BLOCK_COUNTERS, COUNT, DOCS,
                                          SCORED, SegmentRun, hits_frame)
from lucene_spark.search.phrase import local_rows
from lucene_spark.search.reader import IndexReader
from lucene_spark.search.wand import ClauseSpec, keyed_rows, segment_topk
from lucene_spark.similarity import BM25Similarity, norm_cache

F32 = np.float32

# DocValuesStats closed-form mean/variance over exact int64 sums (n, vsum,
# _ssq) — ONE shared SQL expression string evaluated by both the engine
# (F.expr) and the DuckDB oracle, so both sides compute identical doubles
# (misc/search/DocValuesStats.java:124-137; Welford ≡ this in exact
# arithmetic). count = 0 → NULL (the reference leaves mean/variance 0 when
# nothing accumulated; gates run on non-empty match sets).
DV_MEAN_SQL = ("(CAST(vsum AS DOUBLE) / CAST(count AS DOUBLE))")
DV_VARIANCE_SQL = (
    "((CAST(_ssq AS DOUBLE) - (CAST(vsum AS DOUBLE) * CAST(vsum AS DOUBLE))"
    " / CAST(count AS DOUBLE)) / CAST(count AS DOUBLE))")


@dataclass(frozen=True)
class ScoreDoc:
    doc_id: int
    score: float  # exact float32 value


class ConstScorer:
    """Constant per-doc score contribution for keyword (StringField) clauses
    inside scoring booleans. The constant is the ACTIVE similarity evaluated
    the way the reference scores an omitNorms / DOCS-only field
    (``LeafSimScorer.getNormValue``: missing norms ⇒ encoded norm 1L, i.e.
    dl = 1; ``PostingsEnum.freq()`` on DOCS-only ⇒ 1) against the keyword
    field's OWN collection statistics (``IndexSearcher.java:943-958``) — so
    `text:foo OR role:assistant` adds the true BM25 weight of the role term,
    not a bare boost. Indexes whose field_stats predate the per-keyword-field
    rows fall back to the constant == boost approximation."""

    def __init__(self, const: float):
        self.weight = F32(const)

    def score(self, tfs, norms):
        return np.full(np.asarray(tfs).shape[0], self.weight, dtype=F32)


# missing norms read as encoded norm 1 (dl = 1) and DOCS-only freq reads as 1
KW_NORM_CODE = 1
KW_TF = 1


def _has_docset(clauses) -> bool:
    return any(
        c["kind"] == "docset"
        or (c["kind"] == "nested" and _has_docset(c["clauses"]))
        for c in clauses
    )


def _has_matchall(clauses) -> bool:
    return any(
        c["kind"] == "matchall"
        or (c["kind"] == "nested" and _has_matchall(c["clauses"]))
        for c in clauses
    )


def _slice_docsets(clauses, lo: int, hi: int):
    """Mask every docset clause (recursively) to the segment doc range
    [lo, hi) — docset docIDs are global, each segment task keeps its own.
    A matchall clause (MatchAllDocsQuery inside a boolean —
    ``core/search/MatchAllDocsQuery.java`` constant weight) materializes
    HERE as the segment's full docID range at its constant score: the
    slice runs inside each segment task, so the arange is executor-local
    and O(segment docs) — the same all-docs iteration the reference's
    scorer does per leaf."""
    out = []
    for c in clauses:
        if c["kind"] == "docset":
            m = (c["docs"] >= lo) & (c["docs"] < hi)
            out.append({**c, "docs": c["docs"][m],
                        "scores": c["scores"][m]})
        elif c["kind"] == "matchall":
            docs = np.arange(lo, hi, dtype=np.int64)
            out.append({"occur": c["occur"], "kind": "docset", "docs": docs,
                        "scores": np.full(docs.size, np.float32(c["weight"]),
                                          dtype=np.float32),
                        "weight": c["weight"]})
        elif c["kind"] == "nested":
            out.append({**c, "clauses": _slice_docsets(c["clauses"], lo, hi)})
        else:
            out.append(c)
    return out


def keyword_const_score(similarity, boost: float, field_stats: dict | None,
                        st: dict) -> np.float32:
    """Float32 constant a keyword-field term clause contributes per matching
    doc under the given similarity (see :class:`ConstScorer`)."""
    if not field_stats or not field_stats.get("doc_count"):
        return F32(boost)  # legacy index: no per-keyword-field stats row
    scorer = similarity.scorer(boost, field_stats["doc_count"],
                               field_stats["sum_ttf"], [st["df"]],
                               ttfs=[st["ttf"]])
    return F32(scorer.score(np.array([KW_TF]), np.array([KW_NORM_CODE]))[0])


# postings columns the flat-boolean WAND kernel reads
FLAT_COLS = ["field", "term", "first_doc", "last_doc", "count", "doc_gaps",
             "tfs", "norms", "max_tf", "impact_tfs", "impact_norms"]
# postings columns of the positional kernels (phrase, span, automaton,
# interval); the mixed-boolean kernel adds ``field``
POS_COLS = ["term", "first_doc", "last_doc", "count", "doc_gaps", "tfs",
            "norms", "positions"]

def _flat_topk_kernel(items, k: int, prune: bool, sep: str):
    """Executor kernel: each query's per-segment ``segment_topk`` over the
    segment's rows; ``items`` = [(qid, (specs, msm)), ...]."""

    def kernel(seg, rows):
        rows = keyed_rows(rows, sep)
        qi, dd, ss = [], [], []
        for qid, (specs, msm) in items:
            st: dict = {}
            d, s = segment_topk(rows, specs, k, msm, prune=prune,
                                deleted=seg.deleted, stats=st)
            seg.add_counts(st)
            qi.append(np.full(d.size, qid, np.int64))
            dd.append(d)
            ss.append(s)
        return {"qid": np.concatenate(qi), "doc_id": np.concatenate(dd),
                "score": np.concatenate(ss).astype(np.float32)}

    return kernel


# postings columns of the payload kernels
PAYLOAD_COLS = ["first_doc", "last_doc", "count", "doc_gaps", "tfs",
                "payloads"]


def _payload_rows(rows):
    """(docs, tfs, flat payloads) of a term's blocks in one batched decode
    (payload buffers carry no cross-block state, so a per-posting reduceat
    over the chained flat array is exact)."""
    from lucene_spark.indexing.blocks import (decode_blocks_batch,
                                              decode_posting_bufs)

    d, tf, _ = decode_blocks_batch(
        rows["first_doc"], rows["last_doc"], rows["count"].astype(np.int64),
        list(rows["doc_gaps"]), list(rows["tfs"]))
    return d, tf, decode_posting_bufs(list(rows["payloads"]))


def _run_counters(stats: list[dict]) -> dict | None:
    """One executor run's per-pack counters (``task_stats``) summed."""
    if not stats:
        return None
    out = {"where": stats[0]["where"], "packs": len(stats),
           "segments": sum(len(e["segments"]) for e in stats)}
    for key in ("row_groups", "row_groups_read", "row_groups_cached",
                "bytes_cached", "postings_rows", "postings_bytes",
                "read_ms", "kernel_ms", *BLOCK_COUNTERS):
        out[key] = sum(e[key] for e in stats)
    return out


def _topk_hits(hits: pd.DataFrame, k: int) -> list[ScoreDoc]:
    """TopDocs.merge over collected (doc_id, score) rows: the exact global
    tie-break (score DESC, doc_id ASC), first k."""
    d = hits["doc_id"].to_numpy(np.int64)
    s = hits["score"].to_numpy(np.float32)
    order = np.lexsort((d, -s.astype(np.float64)))[:k]
    return [ScoreDoc(int(d[i]), float(s[i])) for i in order]


class IndexSearcher:
    #: total leaf clauses allowed per query tree — Lucene's
    #: ``IndexSearcher.maxClauseCount`` (``core/search/IndexSearcher.java:81``,
    #: default 1024; settable like ``setMaxClauseCount``). Enforced on every
    #: search()/count()/msearch() entry AFTER normalization, counting
    #: constant-score multi-term clauses as 1 (they never materialize
    #: per-term scorers) — see :func:`ast.count_leaf_clauses`. Separate
    #: EXPANSION cap: a standalone MultiTermQuery past 100k matched terms
    #: falls back to the driver-free semi-join plan, but a multi-term
    #: clause INSIDE a boolean raises TooManyClauses there (the mixed
    #: kernel needs the term list; documented limit).
    max_clause_count = 1024

    def __init__(self, spark, index_dir: str,
                 similarity: BM25Similarity | None = None,
                 commit: str | None = None):
        from lucene_spark.search.querycache import LRUQueryCache

        self.spark = spark
        self.reader = IndexReader(spark, index_dir, commit=commit)
        self.similarity = similarity or BM25Similarity()
        self.analyzer = get_analyzer(self.reader.manifest["analyzer"])
        self.query_cache = LRUQueryCache()
        self.vectors = None  # (doc_id, embedding) doc-values DF (set_vectors)
        self.geo = None  # (doc_id, lat, lon) doc-values DF (set_geo)

    def _segment_doc_bounds(self) -> dict:
        """seg → (lo, hi) global docID range, from the manifest offsets."""
        offs = sorted(self.reader.offsets.items(), key=lambda kv: kv[1])
        out = {}
        for i, (seg, lo) in enumerate(offs):
            hi = offs[i + 1][1] if i + 1 < len(offs) else np.iinfo(np.int64).max
            out[int(seg)] = (int(lo), int(hi))
        return out

    def set_vectors(self, vectors_df, hnsw_dir: str | None = None):
        """Attach a (doc_id, embedding array<float>) doc-values DataFrame —
        the per-field vector storage of ``Lucene95HnswVectorsFormat``
        re-expressed as a columnar side table. Required for KnnQuery.
        ``hnsw_dir``: optional pre-built per-segment HNSW adjacency
        (``simsearch.build_hnsw`` over this table) enabling
        ``strategy="hnsw"``."""
        self.vectors = vectors_df
        self.hnsw_dir = hnsw_dir
        return self

    def knn_search(self, query_vec, k: int = 10, filter=None,
                   strategy: str = "exact"):
        """K nearest docs to ``query_vec`` as [(doc_id, dot)], pre-filtered
        by the optional ``filter`` query AST (KnnFloatVectorQuery:44
        semantics: k nearest AMONG the filter's matches)."""
        rows = self._collect(self.knn_df(query_vec, k, filter, strategy))
        return [(int(r["doc_id"]), int(r["dot"])) for r in rows]

    def knn_df(self, query_vec, k: int = 10, filter=None,
               strategy: str = "exact"):
        """DataFrame (doc_id, dot) form of :meth:`knn_search` — stays
        distributed until the caller collects/limits."""
        from lucene_spark.search.knn import knn_topk_df

        if self.vectors is None:
            raise ValueError("no vectors attached — call set_vectors() first")
        filter_df = None
        if filter is not None:
            if isinstance(filter, str):
                filter = self.parse(filter)
            filter_df = self.match_df(filter)
        return knn_topk_df(self.vectors, query_vec, k, filter_df, strategy,
                           hnsw_dir=getattr(self, "hnsw_dir", None),
                           spark=self.spark)

    def hybrid_rrf_df(self, query, query_vec, k: int = 10,
                      n_each: int = 100, k_rrf: int = 60):
        """Hybrid lexical+vector retrieval via reciprocal-rank fusion:
        ``rrf(d) = Σ_list 1/(k_rrf + rank_d(list))`` over the BM25 top-n
        and the KNN top-n (the standard hybrid-search combiner for a
        KnnFloatVectorQuery running beside a text query; Lucene exposes
        the same shape through TopDocs reciprocal-rank utilities in
        ``demo/knn`` usage — semantics, not a port). Returns
        (doc_id, rrf DOUBLE), rrf DESC / doc_id ASC, LIMIT k.

        Scale: each list is its own bounded top-n (the WAND path and the
        pushdown-pruned vector scan); fusion touches ≤ 2·n_each rows — a
        driver-trivial plan regardless of corpus size. Determinism: each
        doc gets ≤ 2 IEEE-double contributions (one per list), so the sum
        is order-insensitive and hash-exact vs the SQL oracle."""
        from pyspark.sql import Window, functions as F

        hits = self.search(query, k=n_each, mode="auto")
        bm = self.spark.createDataFrame(
            [(int(h.doc_id), i + 1) for i, h in enumerate(hits)] or
            [(None, None)], "doc_id long, rk int").filter(
                F.col("doc_id").isNotNull())
        wk = Window.orderBy(F.desc("dot"), F.asc("doc_id"))
        kn = (self.knn_df(query_vec, k=n_each)
              .withColumn("rk", F.row_number().over(wk)))
        contrib = (
            bm.select("doc_id",
                      (F.lit(1.0) / (F.lit(k_rrf) + F.col("rk"))).alias("c"))
            .unionByName(kn.select(
                "doc_id",
                (F.lit(1.0) / (F.lit(k_rrf) + F.col("rk"))).alias("c")))
        )
        return (contrib.groupBy("doc_id").agg(F.sum("c").alias("rrf"))
                .orderBy(F.desc("rrf"), F.asc("doc_id")).limit(k))

    def set_geo(self, geo_df, lat_col: str = "lat", lon_col: str = "lon"):
        """Attach a (doc_id, lat, lon) geo doc-values DataFrame —
        ``LatLonPoint`` / ``LatLonDocValuesField`` storage re-expressed as
        a columnar side table. Coordinates are quantized through the
        GeoEncodingUtils int32 encode/decode roundtrip on attach (what
        Lucene stores, ``core/geo/GeoEncodingUtils.java``)."""
        from lucene_spark.search import geo

        self.geo = geo.attach_geo(geo_df, lat_col, lon_col)
        return self

    def geo_distance_df(self, center_lat: float, center_lon: float,
                        radius_m: float, query=None):
        """``LatLonPoint.newDistanceQuery`` analogue
        (``core/document/LatLonPoint.java``): distributed (doc_id) match
        set of docs whose point lies within ``radius_m`` meters of the
        center — bounding-box pre-filter (pure comparisons, prunes before
        trig) then exact haversine, one scan, no shuffle. Optional
        ``query`` intersects with that query's match set (the
        filtered-geo-query composition)."""
        from lucene_spark.search import geo

        if self.geo is None:
            raise ValueError("no geo attached — call set_geo() first")
        out = geo.distance_filter(self.geo, center_lat, center_lon,
                                  radius_m)
        if query is not None:
            if isinstance(query, str):
                query = self.parse(query)
            out = out.join(self.match_df(query), "doc_id", "left_semi")
        return out

    def geo_sort_df(self, query, center_lat: float, center_lon: float,
                    k: int | None = None):
        """``LatLonDocValuesField.newDistanceSort`` analogue: the query's
        match set ordered by haversine meters ASC (doc_id ASC tie-break);
        returns (doc_id, dist_m DOUBLE). One distributed join + TakeOrdered
        at k."""
        from lucene_spark.search import geo

        if self.geo is None:
            raise ValueError("no geo attached — call set_geo() first")
        if isinstance(query, str):
            query = self.parse(query)
        return geo.distance_sorted(self.geo, self.match_df(query),
                                   center_lat, center_lon, k)

    def multi_range_df(self, col: str, ranges, query=None):
        """``MultiRangeQuery`` (``sandbox/search/MultiRangeQuery.java``:
        matches points inside ANY of a set of ranges in one field —
        disjunction executed as a single pass, not N separate range
        queries). ``ranges``: [(lo, hi)] inclusive bounds. One docs-table
        scan with OR'd BETWEEN predicates (Catalyst folds overlapping
        bounds; pushdown-able) — no union, no shuffle. Optional ``query``
        intersects with its match set. Returns (doc_id)."""
        from functools import reduce

        from pyspark.sql import functions as F

        if not ranges:
            return self.spark.createDataFrame([], "doc_id long")
        cond = reduce(lambda a, b: a | b,
                      [F.col(col).between(lo, hi) for lo, hi in ranges])
        out = (self.reader.docs(live_only=True)
               .filter(cond).select("doc_id"))
        if query is not None:
            if isinstance(query, str):
                query = self.parse(query)
            out = out.join(self.match_df(query), "doc_id", "left_semi")
        return out

    def field_exists_df(self, field: str | None = None, value_df=None,
                        value_col: str = "value", query=None):
        """``FieldExistsQuery`` (``core/search/FieldExistsQuery.java:37``):
        constant-score docs that HAVE a value for the field. Two variants,
        exactly one selected:

        * ``value_df`` — the doc-values iterator variant
          (``getDocValuesDocIdSetIterator`` ``:49-77``): live docs present
          in the (doc_id, value) side table with a non-null value; one
          pushdown-able IsNotNull scan + live semi-join, no shuffle.
        * ``field`` — the norms variant for an indexed field (``:125``,
          ``hasNorms`` branch): the union of the field's postings docs —
          the same doc set the norms iterator walks. Executed as the
          empty-prefix MultiTermQuery (every term of the field; the
          existing hybrid pushdown / semi-join machinery and live-docs
          filtering apply).

        Optional ``query`` intersects via left-semi join. Returns
        (doc_id)."""
        from pyspark.sql import functions as F

        if (value_df is None) == (field is None):
            raise ValueError("exactly one of field= / value_df= required")
        if value_df is not None:
            out = (value_df.filter(F.col(value_col).isNotNull())
                   .select("doc_id").distinct()
                   .join(self.reader.docs(live_only=True).select("doc_id"),
                         "doc_id", "left_semi"))
        else:
            out = self.match_df(ast.MultiTermQuery("prefix", "",
                                                   field=field))
        if query is not None:
            if isinstance(query, str):
                query = self.parse(query)
            out = out.join(self.match_df(ast.normalize(query)),
                           "doc_id", "left_semi")
        return out

    def sort_by_doc_value_df(self, query, field: str, k: int | None = None,
                             default: int = 0, ascending: bool = True):
        """Sort a query's match set by an UPDATED numeric doc-values field
        (SortField over a ``updateNumericDocValue``'d field — the
        docValuesGen overlay is the value source). ``default`` fills docs
        the update chain never touched (SortField.setMissingValue).
        Returns (doc_id, value) ordered (value, doc_id ASC tie-break) —
        one sparse left join + TakeOrdered at k, fully distributed."""
        from pyspark.sql import functions as F

        dv = self.reader.numeric_doc_values(field)
        if dv is None:
            raise ValueError(f"no doc-values updates for field {field!r}")
        if isinstance(query, str):
            query = self.parse(query)
        out = (
            self.match_df(query).join(dv, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("value", F.lit(int(default)))
                    .cast("long").alias("value"))
            .orderBy(F.asc("value") if ascending else F.desc("value"),
                     F.asc("doc_id"))
        )
        return out.limit(int(k)) if k is not None else out

    def _collect(self, plan):
        """Execute a serving-path plan: a prepared executor run
        (:class:`SegmentRun` — in the driver or as one Spark stage by its
        planned read, a pandas frame back), else a DataFrame without AQE
        (see session.no_aqe)."""
        from lucene_spark.session import no_aqe

        if isinstance(plan, SegmentRun):
            return plan.collect()
        with no_aqe(self.spark):
            return plan.collect()

    def parse(self, query_str: str):
        kw = tuple(self.reader.manifest.get("keyword_fields", []))
        return ast.parse(query_str, self.analyzer, fields=("text",) + kw)

    FIELD_SEP = "\x1f"  # kernel clause key = field + SEP + term

    # -- weights ------------------------------------------------------------
    def _weighted_clauses(self, query):
        """Resolve stats → ClauseSpecs (each carrying its similarity scorer).
        None → no match.

        Multi-field: clauses on keyword fields (any field != "text") score a
        per-term CONSTANT under the active similarity (freq=1, dl=1, the
        keyword field's own collection stats — :func:`keyword_const_score`),
        exactly like the reference scores TermQuery on an omitNorms field;
        MUST keeps its required-AND-scoring semantics (BooleanQuery.java —
        MUST is not FILTER), explicit FILTER stays scoreless.
        """
        q = ast.normalize(query)
        if isinstance(q, ast.MatchNoDocsQuery):
            return None
        if isinstance(q, ast.TermQuery):
            q = ast.BooleanQuery(((ast.SHOULD, q),))
        if not isinstance(q, ast.BooleanQuery):
            raise NotImplementedError(
                f"exhaustive scoring of {type(q).__name__} is not supported "
                "here — supported: flat term booleans (WAND kernel), "
                "phrase/multiphrase (positions kernel), constant-score "
                "shapes (multiterm/span/const-wrapped); use search() for "
                "top-k on every shape"
            )
        occ_clauses = list(q.clauses)
        if any(not isinstance(tq, ast.TermQuery) for _, tq in occ_clauses):
            raise NotImplementedError(
                "phrase/multiterm clauses inside boolean queries are handled "
                "by the mixed path (_search_boolean_mixed)"
            )
        by_field: dict[str, list[str]] = {}
        for _, tq in occ_clauses:
            by_field.setdefault(tq.field, []).append(tq.term)
        stats = {}
        for f, ts in by_field.items():
            stats.update({(f, t): v for t, v
                          in self.reader.term_stats(ts, field=f).items()})
        if self.reader.doc_count == 0:
            return None
        specs: list[ClauseSpec] = []
        for occur, tq in occ_clauses:
            const_score = (tq.field != "text"
                           and occur in (ast.MUST, ast.SHOULD))
            st = stats.get((tq.field, tq.term))
            if st is None or st["df"] == 0:
                if occur in (ast.MUST, ast.FILTER):
                    return None  # required term absent from corpus
                continue  # absent SHOULD / MUST_NOT clauses never match
            if const_score:
                # df1: artificial df = ttf = 1 (NearestFuzzyQuery.java:199)
                kst = {"df": 1, "ttf": 1} if tq.df1 else st
                scorer = ConstScorer(keyword_const_score(
                    self.similarity, tq.boost,
                    self.reader.field_stats.get(tq.field), kst))
                w = scorer.weight
            elif occur in (ast.MUST, ast.SHOULD):
                # df1: artificial df = ttf = 1 (NearestFuzzyQuery.java:199)
                scorer = self.reader.similarity_scorer(
                    self.similarity, tq.boost,
                    [1 if tq.df1 else st["df"]],
                    ttfs=[1 if tq.df1 else st["ttf"]],
                )
                w = scorer.weight
            else:
                scorer, w = None, F32(0.0)
            specs.append(
                ClauseSpec(tq.field + self.FIELD_SEP + tq.term, occur, w,
                           scorer, df=int(st["df"]))
            )
        if not specs:
            return None
        if not any(c.occur in (ast.MUST, ast.SHOULD, ast.FILTER) for c in specs):
            return None  # only prohibited clauses survived
        return specs, q.min_should_match

    # a block-max bound pass only pays for itself when the candidate set
    # is much larger than the heap — below this candidates/k ratio the
    # exhaustive kernel wins (it skips the impact screen entirely)
    AUTO_PRUNE_RATIO = 32

    def _pick_mode(self, specs, k: int) -> str:
        """Cost-based scorer selection (the ``TopScoreDocCollector``
        hitsThresholdChecker / cost() trade in
        ``core/search/scorers``): estimate the candidate count as the sum
        of the scoring/required clauses' dfs (each df = that term's
        posting-list cost(), ``TermScorer.cost``) and prune only when it
        dwarfs k — for tiny candidate sets the impact-screen bookkeeping
        costs more than scoring everything (WAND ≡ exhaustive results
        either way, pytest-pinned; only the plan changes)."""
        est = sum(c.df for c in specs
                  if c.occur in (ast.MUST, ast.SHOULD))
        return "wand" if est > self.AUTO_PRUNE_RATIO * k else "exhaustive"

    def _check_clause_limit(self, query) -> None:
        """Raise ``TooManyClauses`` when the normalized tree exceeds
        :attr:`max_clause_count` (``IndexSearcher.java`` rewrite-time check
        via the TooManyNestedClauses visitor)."""
        from lucene_spark.search.multiterm import TooManyClauses

        n = ast.count_leaf_clauses(query)
        if n > self.max_clause_count:
            raise TooManyClauses(
                f"query has {n} leaf clauses, over max_clause_count="
                f"{self.max_clause_count} (IndexSearcher.setMaxClauseCount "
                f"analogue: set IndexSearcher.max_clause_count to raise)")

    # -- search -------------------------------------------------------------
    def search(self, query, k: int = 10, mode: str = "wand") -> list[ScoreDoc]:
        """Top-k hits. ``query``: AST node or classic-syntax string;
        ``mode``: "wand" (block-max pruned), "exhaustive", or "auto"
        (cost-based pick — see :meth:`_pick_mode`)."""
        if isinstance(query, str):
            query = self.parse(query)
        query = ast.normalize(query)
        self._check_clause_limit(query)
        if isinstance(query, (ast.ConstantScoreQuery,
                              ast.MatchAllDocsQuery)):
            # k smallest matching docIDs, score == boost (ties → docID asc);
            # match set stays distributed for ANY inner query shape,
            # TakeOrdered reduces to k. MatchAllDocsQuery scores every live
            # doc at f32(boost) (MatchAllDocsQuery.java constant weight).
            inner = (query.query if isinstance(query, ast.ConstantScoreQuery)
                     else query)
            rows = self._collect(
                self.match_df(inner).orderBy("doc_id").limit(k)
            )
            b = float(F32(getattr(query, "boost", 1.0)))
            return [ScoreDoc(int(r["doc_id"]), b) for r in rows]
        if isinstance(query, (*ast.SPAN_QUERY_TYPES, ast.TermAutomatonQuery)):
            # constant-score span / automaton queries: the k smallest
            # matching docIDs (ties → docID asc), each segment's k smallest
            # collected, score == boost
            run = (self._automaton_match(query, k=k)
                   if isinstance(query, ast.TermAutomatonQuery)
                   else self._span_match(query, k=k))
            if run is None:
                return []
            docs = np.sort(self._collect(run)["doc_id"].to_numpy())[:k]
            b = float(F32(query.boost))
            return [ScoreDoc(int(d), b) for d in docs]
        if isinstance(query, ast.IntervalQuery):
            return self._search_intervals(query, k)
        if isinstance(query, ast.KnnQuery):
            # standalone KNN: k nearest docs, scored with the DOT_PRODUCT
            # similarity scaling (KnnFloatVectorQuery top-level semantics)
            from lucene_spark.search.knn import knn_similarity_f32

            pairs = self.knn_search(query.vector, query.k, query.filter,
                                    query.strategy)
            hits = [ScoreDoc(d, float(knn_similarity_f32(dot, query.boost)))
                    for d, dot in pairs]
            hits.sort(key=lambda h: (-h.score, h.doc_id))
            return hits[:k]
        if isinstance(query, ast.PhraseQuery):
            return self._search_phrase(query, k)
        if isinstance(query, ast.MultiPhraseQuery):
            return self._search_multiphrase(query, k)
        if isinstance(query, ast.MultiTermQuery):
            from lucene_spark.search.multiterm import constant_score_topk

            return constant_score_topk(self.reader,
                                       self._multiterm_source(query), k,
                                       query.boost)
        if isinstance(query, ast.SynonymQuery):
            from lucene_spark.search.multiterm import synonym_topk

            return synonym_topk(self.reader, self.similarity, query, k)
        if isinstance(query, ast.DisjunctionMaxQuery):
            from lucene_spark.search.multiterm import dismax_topk

            return dismax_topk(self.reader, self.similarity, query, k)
        if isinstance(query, ast.BooleanQuery) and any(
            not isinstance(sub, ast.TermQuery) for _, sub in query.clauses
        ):
            return self._search_boolean_mixed(query, k)
        wc = self._weighted_clauses(query)
        if wc is None:
            return []
        if mode == "auto":
            mode = self._pick_mode(wc[0], k)
        return _topk_hits(self._collect(
            self._flat_topk([(0, wc)], k, prune=mode == "wand")), k)

    def msearch(self, queries, k: int = 10, mode: str = "wand"):
        """Batched multi-query top-k: N queries, ONE postings read, ONE
        Spark job (the ``MultiSearcher`` / msearch serving pattern,
        re-expressed Spark-first: at serving scale per-query latency is
        dominated by the per-job scheduling floor, which a batch pays once).

        The in-task read takes the UNION of every query's (field, term)
        set; the per-segment kernel then runs each query's WAND top-k over
        the shared decoded rows. Term and flat-boolean queries
        batch; any other shape (phrase, multiterm, constant-score, …) falls
        back to its regular ``search()`` path and still fills its slot.
        Returns ``[[ScoreDoc, ...], ...]`` aligned with ``queries``.
        """
        parsed = []
        for q in queries:
            q = self.parse(q) if isinstance(q, str) else q
            q = ast.normalize(q)
            self._check_clause_limit(q)  # same cap as search()/count()
            parsed.append(q)
        results: list = [None] * len(parsed)
        batched: dict[int, tuple] = {}
        for i, q in enumerate(parsed):
            flat = (isinstance(q, ast.TermQuery)
                    or (isinstance(q, ast.BooleanQuery)
                        and all(isinstance(s, ast.TermQuery)
                                for _, s in q.clauses)))
            if not flat:
                results[i] = self.search(q, k, mode=mode)
                continue
            wc = self._weighted_clauses(q)
            if wc is None:
                results[i] = []
            else:
                batched[i] = wc
        if not batched:
            return results
        out = self._collect(self._flat_topk(sorted(batched.items()), k,
                                            prune=mode == "wand"))
        for qid in batched:
            results[qid] = _topk_hits(out[out["qid"] == qid], k)
        return results

    def _flat_topk(self, items, k: int, prune: bool) -> SegmentRun:
        """(qid, doc_id, score) per-segment top-k rows of the flat term
        booleans ``items`` = [(qid, (specs, msm)), ...] — ONE executor run
        whose read covers the union of every query's terms, the kernel
        shared by :meth:`search` (one item) and :meth:`msearch`."""
        specs = [c for _qid, (sp, _msm) in items for c in sp]
        return self.reader.segment_executor().prepare(
            self._spec_field_terms(specs), FLAT_COLS,
            _flat_topk_kernel(items, k, prune, self.FIELD_SEP),
            "qid long, doc_id long, score float")

    def _flat_scored(self, specs, msm, count: bool = False,
                     segments=None) -> SegmentRun:
        """Every hit of a flat term boolean: (doc_id, score) rows, or with
        ``count`` one hit count per segment (billions of hits never leave
        their segment's task) — the unpruned ``segment_topk`` with k past
        doc_count, shared by :meth:`score_df` and :meth:`count`.
        ``segments`` restricts the run to those segment ids."""
        big = self.reader.doc_count + 1
        sep = self.FIELD_SEP

        def kernel(seg, rows):
            d, s = segment_topk(keyed_rows(rows, sep), specs, big, msm,
                                prune=False, deleted=seg.deleted)
            return hits_frame(d, s, count)

        return self.reader.segment_executor().prepare(
            self._spec_field_terms(specs), FLAT_COLS, kernel,
            COUNT if count else SCORED, segments=segments)

    # hybrid multiterm execution: small expansions resolve on the driver
    # (zero jobs against the resident dict) and reach the postings read as a
    # literal term set — row-group min/max pruning reads only the matched
    # terms' blocks. Only past this cap does execution fall back to the
    # semi-join that scans the whole field's postings.
    MULTITERM_EXPAND_CAP = 1024

    def _multiterm_source(self, q: ast.MultiTermQuery):
        """The postings source of a MultiTermQuery: ``{field: terms}`` when
        the expansion resolves on the driver (small expansions), the
        semi-join postings DataFrame past MULTITERM_EXPAND_CAP, None when
        the expansion is provably empty."""
        from lucene_spark.search.multiterm import (
            TooManyClauses,
            expand_terms_hybrid,
            matched_terms_df,
        )

        try:
            terms = expand_terms_hybrid(self.reader, q,
                                        self.MULTITERM_EXPAND_CAP)
        except TooManyClauses:
            return self.reader.postings_semijoin(
                matched_terms_df(self.reader, q), q.field
            )
        return {q.field: terms} if terms else None

    def _spec_field_terms(self, specs) -> dict[str, list[str]]:
        field_terms: dict[str, list[str]] = {}
        for c in specs:
            f, t = c.term.split(self.FIELD_SEP, 1)
            field_terms.setdefault(f, []).append(t)
        return field_terms

    def _mixed_clauses(self, q: ast.BooleanQuery, match_only: bool = False):
        """Resolve a mixed boolean (terms + phrases + multiterm expansions +
        NESTED booleans) into field-aware kernel clause dicts. Returns None
        when the query can never match, else
        (clauses, cache, msm, field_terms, need_positions).

        Field handling mirrors ``_weighted_clauses``: term clauses on keyword
        fields score a per-term constant under the similarity (freq=1, dl=1,
        keyword-field collection stats — :func:`keyword_const_score`) and
        keep their occur. MultiTermQuery clauses take the CONSTANT_SCORE rewrite:
        the clause matches the union of its expanded terms' doc sets and
        contributes ``boost`` (``ConstantScoreQuery`` semantics).

        Nested BooleanQuery clauses resolve recursively into
        ``{"kind": "nested", "clauses": [...], "msm": n}`` dicts — the kernel
        evaluates the inner boolean to a per-segment (doc, float32-score)
        array and treats it as one virtual clause, mirroring
        ``Boolean2ScorerSupplier`` composing sub-scorers
        (``core/search/BooleanQuery.java:519-545`` keeps non-flattenable
        sub-booleans as scorer children). A nested node that can never match
        (required term absent) prunes like an absent term clause.
        """
        from lucene_spark.search.multiterm import expand_terms_hybrid

        scoring_sim = self.similarity
        if not isinstance(scoring_sim, BM25Similarity):
            if match_only:
                scoring_sim = BM25Similarity()  # weights are discarded
            else:
                raise NotImplementedError(
                    "mixed boolean clauses (phrase/multiterm) score with "
                    "BM25 only; term-only booleans accept any similarity"
                )
        sep = self.FIELD_SEP
        state = {"need_positions": False}
        by_field: dict[str, set] = {}

        def flatten(bq: ast.BooleanQuery):
            """AST boolean → recursive (occur, kind, field, terms, boost,
            slop, sub) spec list; collects stats terms / positions flag."""
            out = []
            for occur, sub in bq.clauses:
                if isinstance(sub, ast.PhraseQuery):
                    state["need_positions"] = True
                    by_field.setdefault(sub.field, set()).update(sub.terms)
                    out.append((occur, "phrase", sub.field, tuple(sub.terms),
                                sub.boost, int(sub.slop), None))
                elif isinstance(sub, ast.TermQuery):
                    by_field.setdefault(sub.field, set()).add(sub.term)
                    out.append((occur, "term1" if sub.df1 else "term",
                                sub.field, (sub.term,), sub.boost, 0, None))
                elif isinstance(sub, ast.SynonymQuery):
                    # SynonymQuery as a BooleanClause (the QueryBuilder
                    # analyzeGraphBoolean span shape — see syngraph.py):
                    # blended weight computed in build() from member stats
                    if sub.field != "text":
                        raise NotImplementedError(
                            "synonym clauses blend analyzed-field stats; "
                            "keyword fields are unanalyzed")
                    terms = tuple(dict.fromkeys(sub.terms))
                    by_field.setdefault(sub.field, set()).update(terms)
                    out.append((occur, "synonym", sub.field, terms,
                                sub.boost, 0, None))
                elif isinstance(sub, ast.MultiTermQuery):
                    terms = tuple(expand_terms_hybrid(self.reader, sub,
                                                      max_terms=100_000))
                    if not terms:
                        if occur in (ast.MUST, ast.FILTER):
                            return None
                        continue
                    out.append((occur, "const", sub.field, terms,
                                sub.boost, 0, None))
                elif isinstance(sub, ast.SpanNearQuery):
                    # span clause inside a boolean — SpanQuery IS a Query
                    # in the reference (spans/SpanNearQuery.java:41 used as
                    # any BooleanClause); constant-score under the span v1
                    # cut, like the standalone path
                    state["need_positions"] = True
                    slots = tuple(
                        tuple(t) if isinstance(t, (tuple, list)) else (t,)
                        for t in sub.terms)
                    by_field.setdefault(sub.field, set()).update(
                        t for slot in slots for t in slot)
                    out.append((occur, "span", sub.field, slots,
                                sub.boost, int(sub.slop),
                                bool(sub.in_order)))
                elif isinstance(sub, ast.IntervalQuery):
                    # IntervalQuery clause — any Query composes as a
                    # BooleanClause in the reference; contributes its
                    # saturation score per matching doc (IntervalScorer)
                    from lucene_spark.search import intervals as iv

                    state["need_positions"] = True
                    by_field.setdefault(sub.field, set()).update(
                        iv.source_terms(sub.source))
                    out.append((occur, "interval", sub.field, (sub.source,),
                                sub.boost, 0, float(sub.pivot)))
                elif isinstance(sub, ast.BooleanQuery):
                    inner = flatten(sub)
                    if inner is None or not inner:
                        if occur in (ast.MUST, ast.FILTER):
                            return None  # required sub-boolean never matches
                        continue
                    out.append((occur, "nested", None, (),
                                1.0, sub.min_should_match, inner))
                elif isinstance(sub, ast.MatchAllDocsQuery):
                    # MatchAllDocsQuery as a boolean clause (the
                    # SimpleQueryParser NOT-wrapper shape,
                    # queryparser/simple/SimpleQueryParser.java:440-447):
                    # matches every live doc at constant f32(boost)
                    # (MatchAllDocsQuery.java constant weight). Expanded to
                    # the segment's docID range inside each segment task
                    # (_slice_docsets) — never materialized on the driver.
                    out.append((occur, "matchall", None, (),
                                sub.boost, 0, None))
                elif isinstance(sub, ast.KnnQuery):
                    # KnnQuery clause: pre-resolve to its k (doc, score)
                    # pairs (the DocAndScoreQuery rewrite) and inject as a
                    # docset clause — sliced per segment at execution
                    from lucene_spark.search.knn import knn_similarity_f32

                    pairs = self.knn_search(sub.vector, sub.k, sub.filter,
                                            sub.strategy)
                    if not pairs:
                        if occur in (ast.MUST, ast.FILTER):
                            return None
                        continue
                    docs = np.array([p[0] for p in pairs], dtype=np.int64)
                    srt = np.argsort(docs)
                    scs = np.array(
                        [float(knn_similarity_f32(p[1], sub.boost))
                         for p in pairs], dtype=np.float32)[srt]
                    out.append((occur, "docset", None, (),
                                1.0, 0, (docs[srt], scs)))
                else:
                    raise NotImplementedError(
                        "unsupported clause type in boolean query: "
                        f"{type(sub).__name__}"
                    )
            return out

        flat = flatten(q)
        if flat is None or self.reader.doc_count == 0 or not flat:
            return None
        stats = {}
        for f, ts in by_field.items():
            stats.update({(f, t): v for t, v
                          in self.reader.term_stats(sorted(ts), field=f).items()})

        def df_of(f, t):
            return stats.get((f, t), {}).get("df", 0)

        field_terms: dict[str, list] = {}

        def build(specs):
            """Spec list → kernel clause dicts; None = can never match."""
            clauses = []
            for occur, kind, f, terms, boost, slop, sub in specs:
                if kind == "docset":
                    clauses.append({"occur": occur, "kind": "docset",
                                    "docs": sub[0], "scores": sub[1],
                                    "weight": 0.0})
                    continue
                if kind == "matchall":
                    clauses.append({"occur": occur, "kind": "matchall",
                                    "weight": float(F32(boost))})
                    continue
                if kind == "nested":
                    inner = build(sub)
                    if inner is None or not any(
                        c["occur"] in (ast.MUST, ast.SHOULD, ast.FILTER)
                        for c in (inner or ())
                    ):
                        if occur in (ast.MUST, ast.FILTER):
                            return None
                        continue
                    clauses.append({"occur": occur, "kind": "nested",
                                    "clauses": inner, "msm": slop,
                                    "weight": 0.0})
                    continue
                if kind == "span":
                    # a slot dies only when EVERY SpanOr alternative is
                    # corpus-absent; dead required slot → clause never
                    # matches (same rule as the standalone span path)
                    live_slots = tuple(
                        tuple(t for t in slot if df_of(f, t) > 0)
                        for slot in terms)
                    if any(not s for s in live_slots):
                        if occur in (ast.MUST, ast.FILTER):
                            return None
                        continue
                    for slot in live_slots:
                        field_terms.setdefault(f, []).extend(slot)
                    w = (float(F32(boost))
                         if occur in (ast.MUST, ast.SHOULD) else 0.0)
                    clauses.append({
                        "occur": occur, "kind": "span", "field": f,
                        "slots": tuple(tuple(f + sep + t for t in slot)
                                       for slot in live_slots),
                        "slop": slop, "in_order": bool(sub),
                        "weight": w,
                    })
                    continue
                if kind == "interval":
                    from lucene_spark.search import intervals as iv

                    source = terms[0]
                    # a slot dies only when EVERY alternative is absent;
                    # dead slot → the interval conjunction never matches
                    dead = any(
                        all(df_of(f, t) == 0
                            for t in (s if isinstance(s, tuple) else (s,)))
                        for s in iv.source_slots(source))
                    if dead:
                        if occur in (ast.MUST, ast.FILTER):
                            return None
                        continue
                    field_terms.setdefault(f, []).extend(
                        iv.source_terms(source))
                    clauses.append({
                        "occur": occur, "kind": "interval", "field": f,
                        "source": iv.prefix_terms(source, f + sep),
                        "source_raw": source,
                        "pivot": float(sub),
                        "weight": (float(boost)
                                   if occur in (ast.MUST, ast.SHOULD)
                                   else 0.0),
                    })
                    continue
                if kind == "synonym":
                    # blended stats: df = max over PRESENT members, absent
                    # members drop silently (SynonymQuery builds its
                    # TermStates from the terms that exist)
                    present = tuple(t for t in terms if df_of(f, t) > 0)
                    if not present:
                        if occur in (ast.MUST, ast.FILTER):
                            return None
                        continue
                    if occur in (ast.MUST, ast.SHOULD):
                        scorer = self.reader.similarity_scorer(
                            scoring_sim, boost,
                            [max(df_of(f, t) for t in present)])
                        w = float(scorer.weight)
                    else:
                        w = 0.0
                    field_terms.setdefault(f, []).extend(present)
                    clauses.append({
                        "occur": occur, "kind": "synonym", "field": f,
                        "terms": tuple(f + sep + t for t in present),
                        "weight": w, "slop": 0})
                    continue
                kw_term = f != "text" and kind in ("term", "term1")
                if f != "text" and kind == "phrase" and occur == ast.MUST:
                    occur = ast.FILTER  # keyword phrase = pure filter
                if kind != "const":
                    if not all(df_of(f, t) > 0 for t in terms):
                        if occur in (ast.MUST, ast.FILTER):
                            return None  # required clause can never match
                        continue  # absent SHOULD / MUST_NOT never matches
                if kw_term and occur in (ast.MUST, ast.SHOULD):
                    # term1: artificial df = ttf = 1 for SCORING only
                    # (NearestFuzzyQuery.java:199-212 newTermQuery)
                    kind_stats = ({"df": 1, "ttf": 1} if kind == "term1"
                                  else stats[(f, terms[0])])
                    kind = "const"  # constant similarity score, occur kept
                    w = float(keyword_const_score(
                        scoring_sim, boost, self.reader.field_stats.get(f),
                        kind_stats))
                elif kind == "const":
                    w = float(boost)
                elif occur in (ast.MUST, ast.SHOULD):
                    scorer = self.reader.similarity_scorer(
                        scoring_sim, boost,
                        [1] if kind == "term1"
                        else [df_of(f, t) for t in terms]
                    )
                    w = float(scorer.weight)
                else:
                    w = 0.0
                kind = "term" if kind == "term1" else kind
                field_terms.setdefault(f, []).extend(terms)
                clauses.append({"occur": occur, "kind": kind, "field": f,
                                "terms": tuple(f + sep + t for t in terms),
                                "weight": w, "slop": slop})
            return clauses

        clauses = build(flat)
        need_positions = state["need_positions"]
        if clauses is None or not clauses or not any(
            c["occur"] in (ast.MUST, ast.SHOULD, ast.FILTER) for c in clauses
        ):
            return None
        # avgdl is a COLLECTION statistic — use the scorer-visible stats
        # (overridden to the union corpus under a MultiIndexSearcher)
        cache = norm_cache(
            np.float32(self.reader.stats_sum_ttf
                       / float(self.reader.stats_doc_count)),
            F32(scoring_sim.k1), F32(scoring_sim.b),
        )
        return clauses, cache, q.min_should_match, field_terms, need_positions

    def _mixed_segment(self, q: ast.BooleanQuery, k,
                       count_only: bool = False,
                       match_only: bool = False) -> SegmentRun | None:
        """Per-segment rows for a mixed boolean: (doc_id, score) top-k rows,
        or — with ``count_only`` — one hit-count row per segment (the
        distributed TotalHitCount path: billions of hits never leave their
        segment's task)."""
        from lucene_spark.search.phrase import segment_boolean_mixed

        mc = self._mixed_clauses(q, match_only=match_only)
        if mc is None:
            return None
        clauses, cache, msm, field_terms, need_positions = mc
        if need_positions and not self.reader.manifest.get("positions", False):
            raise ValueError("index was built without positions")
        sep = self.FIELD_SEP
        # docset clauses (pre-resolved KNN) hold GLOBAL docIDs across all
        # segments — each task keeps only its own range so the driver merge
        # never sees the same doc from two segments. matchall clauses need
        # the same coverage map: they expand to the segment's docID range
        # inside each task (_slice_docsets), so hi must be the REAL segment
        # end (clamped to doc_count — the last segment's manifest bound is
        # open-ended). Both can match in segments holding NONE of the
        # query's terms, so the executor then visits every segment (zero
        # postings rows there): a whole-segment matchall complement stays
        # executor-local, never on the driver.
        has_ma = _has_matchall(clauses)
        seg_hi = (self._segment_doc_bounds()
                  if _has_docset(clauses) or has_ma else None)
        if seg_hi is not None and has_ma:
            dc = self.reader.doc_count
            seg_hi = {s: (lo, min(hi, dc)) for s, (lo, hi) in seg_hi.items()}
        top = None if count_only else k

        def kernel(seg, rows):
            cl = (_slice_docsets(clauses, *seg_hi[seg.id])
                  if seg_hi is not None else clauses)
            d, s = segment_boolean_mixed(keyed_rows(rows, sep), cl, cache,
                                         top, msm, deleted=seg.deleted,
                                         offset=seg.offset)
            return hits_frame(d, s, count_only)

        return self.reader.segment_executor().prepare(
            field_terms, ["field"] + POS_COLS, kernel,
            COUNT if count_only else SCORED,
            every_segment=seg_hi is not None)

    def _search_boolean_mixed(self, q: ast.BooleanQuery, k: int) -> list[ScoreDoc]:
        """Boolean queries whose clauses mix terms with phrases and/or
        multi-term expansions (exhaustive; phrase clauses have no block-max
        bound yet, so no pruning)."""
        run = self._mixed_segment(q, k)
        if run is None:
            return []
        return _topk_hits(self._collect(run), k)

    def _phrase_plan(self, q):
        """Shared setup for phrase-shaped queries: stats-check the terms and
        return ({field: terms}, scorer, kernel) — None when a required term
        (or an entire slot) is corpus-absent. PhraseQuery scores as one
        pseudo-term with summed idf (PhraseWeight); MultiPhraseQuery sums idf
        over ALL present terms of all slots (MultiPhraseQuery.java:226-245)."""
        if isinstance(q, ast.PhraseQuery):
            from lucene_spark.search.phrase import segment_phrase_postings

            terms = list(q.terms)
            stats = self.reader.term_stats(terms, field=q.field)
            if any(t not in stats or stats[t]["df"] == 0 for t in terms):
                return None
            scorer = self.reader.similarity_scorer(
                self.similarity, q.boost, [stats[t]["df"] for t in terms]
            )
            slop = int(q.slop)
            return (
                {q.field: terms}, scorer,
                lambda rows: segment_phrase_postings(rows, terms, slop),
            )
        from lucene_spark.search.phrase import segment_multiphrase_postings

        all_terms = [t for slot in q.slots for t in slot]
        stats = self.reader.term_stats(all_terms, field=q.field)

        def df_of(t):
            return stats.get(t, {}).get("df", 0)

        present_slots = tuple(
            tuple(t for t in slot if df_of(t) > 0) for slot in q.slots
        )
        if any(not s for s in present_slots):
            return None
        dfs = [df_of(t) for slot in present_slots for t in slot]
        scorer = self.reader.similarity_scorer(self.similarity, q.boost, dfs)
        fetch = sorted({t for slot in present_slots for t in slot})
        slop = int(q.slop)
        return (
            {q.field: fetch}, scorer,
            lambda rows: segment_multiphrase_postings(
                rows, present_slots, slop),
        )

    def _search_phrase(self, q: ast.PhraseQuery, k: int) -> list[ScoreDoc]:
        """Phrase top-k (exact or sloppy): docID leapfrog + positions verify
        per segment. Sloppy freq = float32 Σ 1/(1+matchLength)."""
        plan = self._phrase_plan(q)
        if plan is None:
            return []
        return self._run_phrase_kernel(*plan, k=k)

    def _search_multiphrase(self, q: ast.MultiPhraseQuery, k: int):
        """MultiPhraseQuery top-k: union postings per slot."""
        plan = self._phrase_plan(q)
        if plan is None:
            return []
        return self._run_phrase_kernel(*plan, k=k)

    def _phrase_scored(self, field_terms, scorer, kernel, k=None,
                       segments=None, out: str = SCORED) -> SegmentRun:
        """The executor run of a phrase-shaped query: per-segment
        positions kernel + similarity scoring over ``field_terms``. ``out``
        is the schema: SCORED (doc_id, score) rows, DOCS the bare match
        set, COUNT one hit count per segment. ``k`` truncates scored rows
        per segment (the top-k path); ``None`` keeps every matching doc
        (the exhaustive score_df substrate). ``segments`` restricts the
        run to those segment ids."""
        if not self.reader.manifest.get("positions", False):
            raise ValueError("index was built without positions; "
                             "rebuild with IndexBuilder(..., positions=True)")

        def run_segment(seg, rows):
            d, f, nm = seg.live(*kernel(rows))
            if out != SCORED or d.size == 0:
                return hits_frame(d, count=out == COUNT)
            return hits_frame(d, scorer.score(f, nm), k=k)

        return self.reader.segment_executor().prepare(
            field_terms, POS_COLS, run_segment, out, segments=segments)

    def _run_phrase_kernel(self, field_terms, scorer, kernel, k: int):
        """Top-k driver merge over :meth:`_phrase_scored` (k rows per
        segment collected, never the full match set)."""
        return _topk_hits(self._collect(
            self._phrase_scored(field_terms, scorer, kernel, k=k)), k)

    def _span_match(self, q, count: bool = False,
                    k: int | None = None) -> SegmentRun | None:
        """The executor run of span matches (SpanNear / SpanFirst /
        SpanNot / SpanContaining / SpanWithin): the (doc_id) match set (a
        segment's ``k`` smallest docIDs when ``k`` is set), or with
        ``count`` one hit count per segment — per-segment kernel
        fan-out (``phrase.segment_span_near``), None when a required term
        is absent from the corpus (a required sub-span can never match)."""
        from lucene_spark.search.phrase import segment_span_near

        terms = [tuple(t) if isinstance(t, (tuple, list)) else t
                 for t in q.terms]
        max_end = int(q.end) if isinstance(q, ast.SpanFirstQuery) else None
        exclude = q.exclude if isinstance(q, ast.SpanNotQuery) else None
        pre = int(q.pre) if exclude is not None else 0
        post = int(q.post) if exclude is not None else 0
        contain = (q.little if isinstance(q, (ast.SpanContainingQuery,
                                              ast.SpanWithinQuery))
                   else None)
        # a slot is a term or a tuple of SpanOr alternatives — a required
        # sub-span is dead only when EVERY alternative is corpus-absent
        flat = [t for slot in terms
                for t in (slot if isinstance(slot, tuple) else (slot,))]
        check = sorted(set(flat) | ({contain} if contain else set()))
        stats = self.reader.term_stats(check, field=q.field)
        for slot in terms:
            names = slot if isinstance(slot, tuple) else (slot,)
            if all(stats.get(t, {}).get("df", 0) == 0 for t in names):
                return None
        if contain and stats.get(contain, {}).get("df", 0) == 0:
            return None  # the required little span can never match
        if not self.reader.manifest.get("positions", False):
            raise ValueError("index was built without positions")
        fetch = sorted(set(flat) | ({exclude} if exclude else set())
                       | ({contain} if contain else set()))
        slop, in_order = int(q.slop), bool(q.in_order)

        def kernel(seg, rows):
            # the kernel keys by docID * 2^34 — feed SEGMENT-LOCAL docIDs
            # (bounded by segment size, never 2^29+) and offset the result,
            # so global docIDs past 537M can't overflow the int64 keys
            d = segment_span_near(local_rows(rows, seg.offset), terms, slop,
                                  in_order, max_end=max_end, exclude=exclude,
                                  pre=pre, post=post, contain=contain)
            return hits_frame(seg.live(d + seg.offset), count=count, k=k)

        return self.reader.segment_executor().prepare(
            {q.field: fetch}, POS_COLS, kernel, COUNT if count else DOCS)

    def _automaton_match(self, q: "ast.TermAutomatonQuery",
                         count: bool = False,
                         k: int | None = None) -> SegmentRun | None:
        """The executor run of TermAutomatonQuery matches (the match set —
        a segment's ``k`` smallest docIDs when ``k`` is set — or with
        ``count`` one hit count per segment) — per-segment DAG
        kernel fan-out (``automaton.segment_term_automaton``). None when
        NO query term exists in the corpus (every path needs at least one
        term arc, so nothing can accept)."""
        from lucene_spark.search.automaton import (
            segment_term_automaton,
            validate_automaton,
        )

        transitions = tuple(
            (int(u), int(v), tuple(s) if isinstance(s, list) else s)
            for u, v, s in q.transitions)
        validate_automaton(transitions, int(q.n_states), tuple(q.accept))
        flat = sorted({t for _, _, slot in transitions if slot is not None
                       for t in (slot if isinstance(slot, tuple) else (slot,))})
        stats = self.reader.term_stats(flat, field=q.field)
        present = [t for t in flat if stats.get(t, {}).get("df", 0) > 0]
        if not present:
            return None
        if not self.reader.manifest.get("positions", False):
            raise ValueError("index was built without positions")
        n_states, accept = int(q.n_states), tuple(q.accept)

        def kernel(seg, rows):
            # segment-LOCAL docIDs into the kernel (doc·2^34 keys), offset out
            d = segment_term_automaton(local_rows(rows, seg.offset),
                                       transitions, n_states, accept)
            return hits_frame(seg.live(d + seg.offset), count=count, k=k)

        return self.reader.segment_executor().prepare(
            {q.field: present}, POS_COLS, kernel, COUNT if count else DOCS)

    def interval_scored_df(self, q: ast.IntervalQuery):
        """(doc_id, score) DataFrame of an IntervalQuery's full match set
        (None when a required sub-source is corpus-absent)."""
        run = self._interval_scored(q)
        return None if run is None else run.df()

    def _interval_scored(self, q: ast.IntervalQuery, k=None,
                         out: str = SCORED) -> SegmentRun | None:
        """The executor run of an IntervalQuery: (doc_id, score) rows — a
        segment's top ``k`` when set, else its full match set — or with
        ``out=COUNT`` one hit count per segment. Per-segment
        minimal-interval kernel fan-out
        (``intervals.segment_interval_postings``,
        ``queries/intervals/IntervalScorer.java:69-75`` sloppy-freq +
        ``IntervalScoreFunction.java:56-72`` saturation). None when a
        required sub-source is corpus-absent (the conjunction can never
        match)."""
        from lucene_spark.search import intervals as iv

        source = q.source
        slots = iv.source_slots(source)
        terms = iv.source_terms(source)
        stats = self.reader.term_stats(terms, field=q.field)
        for slot in slots:
            names = slot if isinstance(slot, tuple) else (slot,)
            if all(stats.get(t, {}).get("df", 0) == 0 for t in names):
                return None  # a required sub-source can never match
        if not self.reader.manifest.get("positions", False):
            raise ValueError("index was built without positions")
        pivot, boost = float(q.pivot), float(q.boost)

        def kernel(seg, rows):
            # segment-LOCAL docIDs into the kernel (its doc·2^34 composite
            # keys must not see global IDs past 2^29), offset the result
            d, sc = iv.segment_interval_postings(local_rows(rows, seg.offset),
                                                 source, pivot, boost)
            d, sc = seg.live(d + seg.offset, sc)
            return (hits_frame(d, count=True) if out == COUNT
                    else hits_frame(d, sc, k=k))

        return self.reader.segment_executor().prepare(
            {q.field: terms}, POS_COLS, kernel, out)

    def _search_intervals(self, q: ast.IntervalQuery, k: int):
        """Top-k IntervalQuery hits: per-segment scored kernel, k rows per
        segment collected, driver merge (score DESC, docID ASC)."""
        run = self._interval_scored(q, k=k)
        return [] if run is None else _topk_hits(self._collect(run), k)

    def _phrase_count(self, q) -> int:
        """Distributed phrase / multiphrase hit count: one count row per
        segment (a hot phrase at 10^12 scale matches billions of docs —
        never collected)."""
        plan = self._phrase_plan(q)
        if plan is None:
            return 0
        return self._count_rows(self._phrase_scored(*plan, out=COUNT))

    def _count_rows(self, run: SegmentRun | None) -> int:
        """The sum of a COUNT run's per-segment hit counts (0 for None)."""
        return 0 if run is None else int(self._collect(run)["n"].sum())

    def count(self, query) -> int:
        """TotalHitCountCollector analogy — exact hit count, distributed on
        every query shape: per-segment counts summed, never the doc lists."""
        if isinstance(query, str):
            query = self.parse(query)
        query = ast.normalize(query)
        self._check_clause_limit(query)
        if isinstance(query, ast.MultiTermQuery):
            from lucene_spark.search.multiterm import constant_score_count

            return constant_score_count(self.reader,
                                        self._multiterm_source(query))
        if isinstance(query, (ast.SynonymQuery, ast.DisjunctionMaxQuery)):
            # hit set = union of the terms' doc sets (scores don't affect it)
            from lucene_spark.search.multiterm import constant_score_count

            return constant_score_count(self.reader,
                                        self._present_terms(query))
        if isinstance(query, ast.ConstantScoreQuery):
            # the wrapper keeps its inner query's match set
            if isinstance(query.query, ast.MatchAllDocsQuery):
                return int(self.match_df(query.query).count())
            return self.count(query.query)
        if isinstance(query, ast.SPAN_QUERY_TYPES):
            return self._count_rows(self._span_match(query, count=True))
        if isinstance(query, ast.TermAutomatonQuery):
            return self._count_rows(self._automaton_match(query, count=True))
        if isinstance(query, ast.IntervalQuery):
            return self._count_rows(self._interval_scored(query, out=COUNT))
        if isinstance(query, ast.KnnQuery):
            # standalone KNN (also: a single-MUST boolean normalize
            # collapses to): hit count = size of the k-bounded rewrite set
            return len(self.knn_search(query.vector, query.k, query.filter,
                                       query.strategy))
        if isinstance(query, (ast.PhraseQuery, ast.MultiPhraseQuery)):
            return self._phrase_count(query)
        if isinstance(query, ast.BooleanQuery) and any(
            not isinstance(s, ast.TermQuery) for _, s in query.clauses
        ):
            # counts are similarity-independent → match_only lets non-BM25
            # searchers count mixed booleans too
            return self._count_rows(self._mixed_segment(
                query, None, count_only=True, match_only=True))
        wc = self._weighted_clauses(query)
        if wc is None:
            return 0
        # distributed count: per-segment hit counts summed (never ships the
        # doc list to the driver — a hot term at 10^12 scale matches billions)
        return self._count_rows(self._flat_scored(*wc, count=True))

    def _present_terms(self, q):
        """``{field: terms}`` of a synonym / dismax query's corpus-present
        terms (None when none is present) — the union-postings source of
        its match set."""
        terms = list(dict.fromkeys(q.terms))
        stats = self.reader.term_stats(terms, field=q.field)
        present = [t for t in terms if stats.get(t, {}).get("df", 0) > 0]
        return {q.field: present} if present else None

    def facet_ranges(self, query, col: str, bounds):
        """Numeric-range facet counts
        (``facet/range/LongRangeFacetCounts.java:41``): per-range hit counts
        of the query's match set over a numeric doc-values column.

        ``bounds``: [(label, lo, hi)] inclusive ranges (may overlap, like
        LongRange). Plan shape: distributed match set → INNER theta-join
        with the tiny ranges table BROADCAST on the build (right) side →
        groupBy(label) count; empty ranges are then restored by an
        equi-left-join FROM the ranges table onto the (≤ len(bounds)-row)
        count table. A left-outer theta-join with the ranges table on the
        preserved side would force Spark to broadcast the unbounded match
        side instead — the inner+backfill shape keeps the broadcast on the
        small table at any match-set size.
        """
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        match = self.match_df(ast.normalize(query))
        docs = self.reader.docs().select(
            "doc_id", F.col(col).cast("long").alias("_fv"))
        j = match.join(docs, "doc_id")
        rdf = self.spark.createDataFrame(
            [(str(lb), int(lo), int(hi)) for lb, lo, hi in bounds],
            "range string, lo long, hi long",
        )
        counts = (
            j.join(F.broadcast(rdf),
                   (j["_fv"] >= rdf["lo"]) & (j["_fv"] <= rdf["hi"]))
            .groupBy("range")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            rdf.select("range")
            .join(F.broadcast(counts), "range", "left")
            .select("range", F.coalesce("n", F.lit(0)).alias("n"))
            .orderBy("range")
        )

    def facet_double_ranges(self, query, expr: str, bounds):
        """Double-range facet counts
        (``facet/range/DoubleRangeFacetCounts.java:45`` over a
        DoubleValuesSource, ``facet/range/DoubleRange.java:28-69``):
        per-range hit counts of an arbitrary DOUBLE expression over the
        match set. ``expr``: any Spark SQL expression over docs columns
        (the DoubleValuesSource analogue); ``bounds``: (label, min,
        min_inclusive, max, max_inclusive) — ranges may overlap.

        The reference maps doubles to sortable longs
        (``NumericUtils.doubleToSortableLong``, exclusive edges via
        nextUp/nextDown) and counts with inclusive long compares; direct
        IEEE double compares are order-isomorphic to the sortable mapping
        on non-NaN values and exclude NaN either way, so the results are
        identical. Same inner-broadcast-theta-join + backfill plan as
        :meth:`facet_ranges` (the broadcast stays on the tiny ranges table
        at any match-set size)."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        match = self.match_df(ast.normalize(query))
        docs = self.reader.docs().select(
            "doc_id", F.expr(expr).cast("double").alias("_fv"))
        j = match.join(docs, "doc_id")
        rdf = self.spark.createDataFrame(
            [(str(lb), float(lo), bool(li), float(hi), bool(hc))
             for lb, lo, li, hi, hc in bounds],
            "range string, lo double, lo_inc boolean, "
            "hi double, hi_inc boolean",
        )
        lo_ok = F.when(rdf["lo_inc"], j["_fv"] >= rdf["lo"]) \
                 .otherwise(j["_fv"] > rdf["lo"])
        hi_ok = F.when(rdf["hi_inc"], j["_fv"] <= rdf["hi"]) \
                 .otherwise(j["_fv"] < rdf["hi"])
        counts = (
            j.join(F.broadcast(rdf), lo_ok & hi_ok)
            .groupBy("range")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            rdf.select("range")
            .join(F.broadcast(counts), "range", "left")
            .select("range", F.coalesce("n", F.lit(0)).alias("n"))
            .orderBy("range")
        )

    def facet_sum(self, query, group_df, group_col: str,
                  value_expr: str = "dl"):
        """Facet value aggregation — the TaxonomyFacetSumValueSource /
        association-facets analogue (``lucene/facet/src/java/org/apache/
        lucene/facet/taxonomy/TaxonomyFacetSumValueSource.java:38``,
        ``TaxonomyFacetSumIntAssociations.java``): per-label SUM of a
        doc-values expression over the query's match set, instead of plain
        hit counts.

        ``group_df``: a (doc_id, <group_col>) label table (the ordinal→
        label mapping); ``value_expr``: a Spark SQL expression over the
        docs-table columns (``dl``, ``turn_idx``, …). Plan shape: match set
        → docs join for the value → label join → groupBy(label) sum; all
        Catalyst, nothing collected."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        m = self.match_df(ast.normalize(query))
        j = (m.join(self.reader.docs(), "doc_id")
             .select("doc_id", F.expr(value_expr).cast("long").alias("_v"))
             .join(group_df, "doc_id"))
        return (j.groupBy(group_col)
                .agg(F.sum("_v").alias("s"))
                .orderBy(group_col))

    def count_groups(self, query, group_df, group_col: str) -> int:
        """AllGroupsCollector (``lucene/grouping/src/java/org/apache/
        lucene/search/grouping/AllGroupsCollector.java:30``): the number of
        DISTINCT groups that contain at least one match — the group-count
        companion to the top-docs-per-group collectors. One distributed
        count-distinct over the match-set join; a single long returns."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        m = self.match_df(ast.normalize(query))
        row = (m.join(group_df, "doc_id")
               .agg(F.countDistinct(group_col).alias("n")).collect())
        return int(row[0]["n"]) if row else 0

    def profile(self, query, k: int = 10) -> dict:
        """Query profiling — the sandbox QueryProfiler surface
        (``sandbox/search/QueryProfilerIndexSearcher.java``,
        ``ProfilerCollector.java``, ``QueryProfilerTimingType.java``):
        run the query and return wall-clock timings per phase plus plan
        facts. Phases map the reference's timing types onto this engine's
        lifecycle: CREATE_WEIGHT ≈ parse + normalize + stats resolution
        (driver-side), NEXT_DOC/SCORE ≈ the distributed execute + driver
        merge (one number — per-segment kernels run inside Spark tasks).

        Returns {"hits", "mode", "leaf_clauses", "breakdown": {phase:
        seconds}, "total_sec", "executor"} — a diagnostic wrapper; results
        are identical to :meth:`search` (pytest-pinned). ``executor`` sums
        the per-pack counters of the query's last executor run (None when
        it ran none): where it ran, packs, segments, row groups in the
        files and read, postings rows and bytes, kernel ms, and for flat
        term booleans the WAND block counters (blocks kept, exactly
        bounded, decoded)."""
        import time

        t0 = time.perf_counter()
        if isinstance(query, str):
            query = self.parse(query)
        q = ast.normalize(query)
        t_parse = time.perf_counter()
        mode = "other"
        wc = None
        if isinstance(q, ast.BooleanQuery) and not any(
            not isinstance(sub, ast.TermQuery) for _, sub in q.clauses
        ) or isinstance(q, ast.TermQuery):
            wc = self._weighted_clauses(q)
            if wc is not None:
                mode = self._pick_mode(wc[0], k)
        ex = self.reader.segment_executor()
        before = ex.last_run
        t_weight = time.perf_counter()
        hits = self.search(q, k=k)
        t_exec = time.perf_counter()
        stats = ex.task_stats() if ex.last_run != before else []
        return {
            "hits": hits,
            "mode": mode,
            "leaf_clauses": ast.count_leaf_clauses(q),
            "breakdown": {
                "parse_rewrite_sec": t_parse - t0,
                "create_weight_sec": t_weight - t_parse,
                "execute_merge_sec": t_exec - t_weight,
            },
            "total_sec": t_exec - t0,
            "executor": _run_counters(stats),
        }

    def group_facets(self, query, group_df, group_col: str,
                     facet_col: str, facet_prefix: str | None = None):
        """GroupFacetCollector (``lucene/grouping/src/java/org/apache/
        lucene/search/grouping/GroupFacetCollector.java:28``,
        ``TermGroupFacetCollector``): per facet value, the number of
        DISTINCT groups with ≥1 matching doc carrying that value — each
        group counts a facet value once however many of its docs match
        (the collector's unique group/facet-ord pair counting). Optional
        ``facet_prefix`` filters values like the reference's facetPrefix.

        ONE distributed agg: match set → docs join → countDistinct(group)
        per facet value; partial aggregation collapses a group's repeat
        (group, facet) pairs map-side before the shuffle. Returns
        (facet value, n) ordered by value."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        m = self.match_df(ast.normalize(query))
        j = m.join(group_df.select("doc_id", group_col, facet_col),
                   "doc_id")
        if facet_prefix is not None:
            j = j.filter(F.col(facet_col).startswith(facet_prefix))
        return (j.groupBy(facet_col)
                .agg(F.countDistinct(group_col).cast("long").alias("n"))
                .orderBy(facet_col))

    def group_heads(self, query, group_df, group_col: str,
                    sort_expr: str = "dl", ascending: bool = False):
        """AllGroupHeadsCollector (``lucene/grouping/src/java/org/apache/
        lucene/search/grouping/AllGroupHeadsCollector.java:38``): the
        'head' document of EVERY group under a within-group sort — one row
        per group containing ≥1 match, as (group, doc_id, sort value).
        The collector replaces a head only on a strictly competitive
        compare, so equal sort keys keep the earlier (lower-docID) doc —
        docID ASC tie-break here. ``sort_expr`` is a Spark SQL expression
        over the docs-table columns. ONE window + rn=1 filter, all
        Catalyst, nothing collected."""
        from pyspark.sql import Window, functions as F

        if isinstance(query, str):
            query = self.parse(query)
        m = self.match_df(ast.normalize(query))
        v = (m.join(self.reader.docs(), "doc_id")
             .select("doc_id", F.expr(sort_expr).cast("long").alias("v"))
             .join(group_df, "doc_id"))
        key = F.asc("v") if ascending else F.desc("v")
        w = Window.partitionBy(group_col).orderBy(key, F.asc("doc_id"))
        return (v.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(group_col, "doc_id", "v")
                .orderBy(group_col))

    def group_distinct_values(self, query, group_df, group_col: str,
                              value_df, value_col: str):
        """DistinctValuesCollector (``lucene/grouping/src/java/org/apache/
        lucene/search/grouping/DistinctValuesCollector.java:28``): per
        group, the number of DISTINCT values of a second (count) field
        among that group's matching docs. ``group_df``/``value_df`` are
        (doc_id, col) doc-values side tables. One distributed two-key
        aggregation — count-distinct shuffles once on the group key."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        m = self.match_df(ast.normalize(query))
        return (m.join(group_df, "doc_id").join(value_df, "doc_id")
                .groupBy(group_col)
                .agg(F.countDistinct(value_col).alias("n"))
                .orderBy(group_col))

    def dv_stats(self, query, value_df=None, value_col: str = "dl"):
        """DocValuesStats / DocValuesStatsCollector (``misc/src/java/org/
        apache/lucene/misc/search/DocValuesStats.java:29-140``,
        ``DocValuesStatsCollector.java:28``): statistics of a numeric doc
        value over the query's match set — one row (count, missing, vmin,
        vmax, vsum, mean, variance, stdev). ``value_df``: optional
        (doc_id, <value_col>) side table; matched docs absent from it count
        as ``missing`` (docs without the DV field, ``:31-66``). Default =
        the docs table's ``value_col`` column (missing = 0).

        The reference accumulates mean/variance online (Welford,
        ``LongDocValuesStats.doAccumulate`` ``:165-170``) — run-order-
        dependent in floating point, which cannot reproduce across
        partitionings. Count/sum/sum-of-squares aggregate EXACTLY in int64
        here, then mean = s/n and variance = (ssq − s²/n)/n evaluate in one
        deterministic double expression — equal to Welford in exact
        arithmetic, order-independent at any scale."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        m = self.match_df(ast.normalize(query))
        if value_df is None:
            value_df = (self.reader.docs()
                        .select("doc_id",
                                F.expr(value_col).cast("long").alias("_v")))
        else:
            value_df = value_df.select(
                "doc_id", F.col(value_col).cast("long").alias("_v"))
        j = m.join(value_df, "doc_id", "left")
        agg = j.agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.count("_v").alias("count"),
            F.min("_v").alias("vmin"),
            F.max("_v").alias("vmax"),
            F.sum("_v").alias("vsum"),
            F.sum(F.col("_v") * F.col("_v")).alias("_ssq"),
        )
        return agg.select(
            F.col("count").cast("long").alias("count"),
            (F.col("n_matched") - F.col("count")).cast("long")
            .alias("missing"),
            F.col("vmin").cast("long").alias("vmin"),
            F.col("vmax").cast("long").alias("vmax"),
            F.col("vsum").cast("long").alias("vsum"),
            F.col("_ssq").cast("long").alias("_ssq"),
        ).select(
            "count", "missing", "vmin", "vmax", "vsum",
            F.expr(DV_MEAN_SQL).alias("mean"),
            F.expr(DV_VARIANCE_SQL).alias("variance"),
            F.expr(f"sqrt({DV_VARIANCE_SQL})").alias("stdev"),
        )

    def dv_terms_df(self, value_df, value_col: str, values, query=None):
        """DocValuesTermsQuery (``lucene/sandbox/src/java/org/apache/
        lucene/sandbox/search/DocValuesTermsQuery.java:62``): docs whose
        doc value equals ANY of ``values`` — the random-access doc-values
        filter (the reference's stated use-case is exactly this post-filter
        shape vs a TermInSetQuery over the inverted index). Constant-score
        match set (doc_id); ``values`` folds into one In(...) predicate
        (pushdown-able); optional ``query`` intersects via semi-join."""
        from pyspark.sql import functions as F

        out = (value_df
               .filter(F.col(value_col).isin(list(values)))
               .select("doc_id"))
        if query is not None:
            if isinstance(query, str):
                query = self.parse(query)
            out = out.join(self.match_df(ast.normalize(query)),
                           "doc_id", "left_semi")
        return out

    def geo_box_df(self, min_lat: float, max_lat: float, min_lon: float,
                   max_lon: float, query=None):
        """``LatLonPoint.newBoxQuery`` analogue (``core/document/
        LatLonPoint.java`` newBoxQuery): distributed (doc_id) match set of
        docs whose quantized point lies inside the lat/lon rectangle —
        pure comparisons (no trig), one scan, no shuffle; the query bounds
        snap to the int32 grid exactly like GeoEncodingUtils
        encodeCeil/encode. ``min_lon > max_lon`` crosses the antimeridian.
        Optional ``query`` intersects with that query's match set."""
        from lucene_spark.search import geo

        if self.geo is None:
            raise ValueError("no geo attached — call set_geo() first")
        out = geo.box_filter(self.geo, min_lat, max_lat, min_lon, max_lon)
        if query is not None:
            if isinstance(query, str):
                query = self.parse(query)
            out = out.join(self.match_df(ast.normalize(query)),
                           "doc_id", "left_semi")
        return out

    def blended_search(self, terms, k: int = 10, field: str = "text",
                       tie_breaker: float = 0.01, rewrite: str = "dismax"):
        """BlendedTermQuery (``core/search/BlendedTermQuery.java:270-301``):
        blend index statistics across the terms — every term's docFreq
        becomes the MAX docFreq and its totalTermFreq the SUM
        (``:281-291``), then rewrite to a DisjunctionMaxQuery with
        tie_breaker 0.01 (``DISJUNCTION_MAX_REWRITE``, ``:189``) or to a
        SHOULD-only BooleanQuery (``BOOLEAN_REWRITE``, ``:137``) scored
        with the blended stats. Blending happens on the driver (a stats
        override installed for the one plan build — weights bake into the
        clause specs before execution, zero extra distributed work);
        corpus-absent terms keep their null TermStates and contribute
        nothing, exactly like the reference's unregistered leaf states
        (``adjustFrequencies``, ``:313-327``). v1: unit per-term boosts
        (the builder's boost array is a documented cut)."""
        uniq = list(dict.fromkeys(terms))
        stats = self.reader.term_stats(uniq, field=field)
        present = [t for t in uniq
                   if stats.get(t, {}).get("df", 0) > 0]
        if not present:
            return []
        bdf = max(stats[t]["df"] for t in present)
        bttf = sum(stats[t]["ttf"] for t in present)
        ov = {t: {**stats[t], "df": bdf, "ttf": bttf} for t in present}
        saved = self.reader.term_stats_override
        self.reader.term_stats_override = {field: ov}
        try:
            if rewrite == "dismax":
                q = ast.DisjunctionMaxQuery(tuple(present),
                                            tie_breaker=float(tie_breaker),
                                            field=field)
            elif rewrite == "boolean":
                q = ast.BooleanQuery(tuple(
                    (ast.SHOULD, ast.TermQuery(t, field)) for t in present))
            else:
                raise ValueError(f"unknown rewrite method: {rewrite!r}")
            return self.search(q, k)
        finally:
            self.reader.term_stats_override = saved

    def fuzzy_blended_search(self, term: str, k: int = 10,
                             field: str = "text", max_edits: int = 2,
                             prefix_length: int = 0,
                             max_expansions: int = 50):
        """FuzzyQuery under its DEFAULT rewrite —
        ``TopTermsBlendedFreqScoringRewrite`` (``core/search/FuzzyQuery.java:56-61``
        ``defaultMaxExpansions = 50`` → ``defaultRewriteMethod``), the path a
        plain ``new FuzzyQuery(term)`` search takes in the reference (unlike
        our constant-score ``MultiTermQuery("fuzzy", …)`` which models the
        explicit CONSTANT_SCORE rewrite):

        1. Enumerate dictionary terms within Damerau-Levenshtein (optimal
           string alignment) ``max_edits`` of the query term; each carries a
           similarity boost ``ed == 0 → 1.0f`` else
           ``1.0f − ed / min(|term|, |query|)`` in float32
           (``FuzzyTermsEnum.java:236-256``).
        2. Keep the top ``min(max_expansions, 1024)`` by (boost DESC, term
           bytes ASC) — the ``TopTermsRewrite`` priority queue
           (``TopTermsRewrite.java:118-121``, ``ScoreTerm.compareTo:209-211``;
           max size capped by ``IndexSearcher.getMaxClauseCount()``,
           ``MultiTermQuery.java:210-213``). Negative boosts rank in the
           queue untruncated but clamp to 0 at query build
           (``TopTermsRewrite.java:168-171``).
        3. Blend index stats across the kept terms — every clause scores
           with df = MAX docFreq, ttf = Σ ttf (``BlendedTermQuery.java:281-291``)
           — then combine as a SHOULD-only BooleanQuery of boosted
           TermQueries (``BlendedTermQuery.BOOLEAN_REWRITE`` :137-147, boost
           wrap :296-299), executed by the standard WAND kernel.
        """
        from lucene_spark.search import multiterm as mt

        cand = mt.expand_terms(
            self.reader,
            ast.MultiTermQuery("fuzzy", term, max_edits=max_edits,
                               field=field))
        pre = term[:prefix_length]
        qlen = len(term)
        scored = []
        for t in cand:
            if prefix_length and not t.startswith(pre):
                continue
            ed = 0 if t == term else mt.damerau_levenshtein(t, term)
            boost = (np.float32(1.0) if ed == 0 else
                     np.float32(1.0)
                     - np.float32(ed) / np.float32(min(len(t), qlen)))
            scored.append((float(boost), t))
        # PQ order: boost DESC, smaller term bytes win ties
        scored.sort(key=lambda bt: (-bt[0], bt[1]))
        kept = scored[:min(int(max_expansions), 1024)]
        if not kept:
            return []
        stats = self.reader.term_stats([t for _, t in kept], field=field)
        bdf = max(stats[t]["df"] for _, t in kept)
        bttf = sum(stats[t]["ttf"] for _, t in kept)
        ov = {t: {**stats[t], "df": bdf, "ttf": bttf} for _, t in kept}
        saved = self.reader.term_stats_override
        self.reader.term_stats_override = {field: ov}
        try:
            q = ast.BooleanQuery(tuple(
                (ast.SHOULD, ast.TermQuery(t, field, boost=max(0.0, b)))
                for b, t in kept))
            return self.search(q, k)
        finally:
            self.reader.term_stats_override = saved

    def fuzzy_like_this(self, query_text: str, k: int = 10,
                        field: str = "text", max_edits: int = 2,
                        prefix_length: int = 0, max_num_terms: int = 50,
                        max_variants: int = 50):
        """FuzzyLikeThisQuery
        (``sandbox/src/java/org/apache/lucene/sandbox/queries/
        FuzzyLikeThisQuery.java:192-330``): fuzzify EVERY analyzed source
        term, keep the best differentiating variants, and search them as a
        SHOULD boolean — FuzzyQuery × MoreLikeThis with the reference's
        special scoring factors:

        1. Per source term (deduped, ``processedTerms``): dictionary
           variants within OSA-DL ``max_edits`` sharing ``prefix_length``,
           each with the FuzzyTermsEnum boost (ed==0 → 1f else
           1f − ed/min(len)); top ``MAX_VARIANTS_PER_TERM`` (=50) by
           (boost DESC, term ASC) (`ScoreTermQueue.lessThan`).
        2. Variant score = f32(f32(boost²) · ClassicSimilarity.idf(df_src,
           N)) where df_src is the SOURCE term's df — variants deliberately
           do NOT use their own idf ("this would favour rarer terms eg
           misspellings", class javadoc) — falling back to the INTEGER
           average of all enumerated variants' dfs when the source is
           corpus-absent (:237-241). Divergence documented: the engine
           enumerates every DL-window candidate (no competitive-boost
           enumeration pruning), which can only perturb this df==0
           fallback.
        3. Keep the global top ``max_num_terms`` by (score DESC, term ASC)
           and search them as SHOULD TermQueries with boost = score and
           ARTIFICIAL df = ttf = 1 (``newTermQuery``'s TermStates hack
           :262-274 — the ``df1`` flag), grouped per source term (groups
           are pure-SHOULD so the normalize flatten preserves the
           reference's no-coord semantics).
        """
        from lucene_spark.search import multiterm as mt

        tokens = list(dict.fromkeys(
            self.analyzer.tokenize_text(query_text)))
        n_docs = self.reader.stats_doc_count
        global_q: list[tuple[float, str, str]] = []  # (score, variant, src)
        for src in tokens:
            cand = mt.expand_terms(
                self.reader,
                ast.MultiTermQuery("fuzzy", src, max_edits=max_edits,
                                   field=field))
            pre = src[:prefix_length]
            scored = []
            for t in cand:
                if prefix_length and not t.startswith(pre):
                    continue
                ed = 0 if t == src else mt.damerau_levenshtein(t, src)
                boost = (np.float32(1.0) if ed == 0 else
                         np.float32(1.0) - np.float32(ed)
                         / np.float32(min(len(t), len(src))))
                scored.append((float(boost), t))
            if not scored:
                continue
            stats = self.reader.term_stats([t for _, t in scored],
                                           field=field)
            df_src = stats.get(src, {}).get("df", 0)
            if df_src == 0:
                # integer average of ALL enumerated variants' dfs
                df_src = (sum(stats[t]["df"] for _, t in scored)
                          // len(scored))
            scored.sort(key=lambda bt: (-bt[0], bt[1]))
            idf = np.float32(
                math.log((n_docs + 1) / float(df_src + 1)) + 1.0)
            for b, t in scored[:max_variants]:
                score = float(np.float32(
                    np.float32(np.float32(b) * np.float32(b)) * idf))
                global_q.append((score, t, src))
        if not global_q:
            return []
        global_q.sort(key=lambda x: (-x[0], x[1]))
        kept = global_q[:max_num_terms]
        groups: dict[str, list] = {}
        for score, t, src in kept:
            groups.setdefault(src, []).append((score, t))
        subs = []
        for src in sorted(groups):
            vs = groups[src]
            clauses = tuple(
                (ast.SHOULD, ast.TermQuery(t, field, boost=s, df1=True))
                for s, t in vs)
            subs.append(clauses[0][1] if len(vs) == 1
                        else ast.BooleanQuery(clauses))
        q = ast.BooleanQuery(tuple((ast.SHOULD, s) for s in subs))
        return self.search(q, k)

    def multiterm_scored_search(self, q: "ast.MultiTermQuery", k: int = 10,
                                max_clause_count: int = 1024):
        """``MultiTermQuery.SCORING_BOOLEAN_REWRITE``
        (``core/search/ScoringRewrite.java:44-79``): expand the multi-term
        query against the term dictionary and score each matched term as its
        OWN SHOULD TermQuery — true per-term df/idf, no blending, no
        constant score. Exceeding ``IndexSearcher.getMaxClauseCount()``
        (1024, ``core/search/IndexSearcher.java:81``) raises
        ``TooManyClauses`` exactly like ``checkMaxClauseCount`` (:75-79) —
        never silently truncates; ``max_clause_count`` mirrors
        ``IndexSearcher.setMaxClauseCount``. Terms enumerate in dictionary order
        (``TermCollectingRewrite``); the per-doc sum is order-exact (f32
        addends in a double accumulator).

        Documented divergence: a non-unit ``q.boost`` is applied per clause
        (weight = f32(boost·idf)) rather than as the reference's outer
        BoostQuery wrap (f32(boost·f32(Σ))) — identical at boost == 1, at
        most one rounding apart otherwise.
        """
        from lucene_spark.search import multiterm as mt

        terms = mt.expand_terms_hybrid(self.reader, q,
                                       max_terms=int(max_clause_count))
        if not terms:
            return []
        bq = ast.BooleanQuery(tuple(
            (ast.SHOULD, ast.TermQuery(t, q.field, boost=q.boost))
            for t in sorted(terms)))
        return self.search(bq, k)

    def geo_polygon_df(self, lats, lons, query=None):
        """``LatLonPoint.newPolygonQuery`` analogue (``core/document/
        LatLonPoint.java`` newPolygonQuery → ``core/geo/Polygon2D.java``
        PNPOLY containment): distributed (doc_id) match set of docs whose
        quantized point lies inside the polygon — bbox conjunct + one
        crossing-parity comparison chain, all Catalyst codegen, one scan,
        no shuffle. Optional ``query`` intersects via left-semi join."""
        from lucene_spark.search import geo

        if self.geo is None:
            raise ValueError("no geo attached — call set_geo() first")
        out = geo.polygon_filter(self.geo, lats, lons)
        if query is not None:
            if isinstance(query, str):
                query = self.parse(query)
            out = out.join(self.match_df(ast.normalize(query)),
                           "doc_id", "left_semi")
        return out

    def term_vectors(self, doc_ids, field: str = "text"):
        """Per-document term vectors — the TermVectorsFormat analogue
        (``core/codecs/lucene90/compressing/Lucene90CompressingTermVectorsFormat``,
        read path ``IndexReader.termVectors().get(docID)`` /
        ``core/index/TermVectors.java``): for each GLOBAL docID in
        ``doc_ids``, every (term, freq, positions) of its indexed field —
        the transpose of the inverted index restricted to a bounded doc
        set. Returns a DataFrame (doc_id, term, freq, positions) with
        positions space-joined ("" when the index stores none); deleted
        docs yield no rows (live-docs semantics, like ``document()``).

        Plan shape: ONE executor run over the segments covering the
        requested docs, reading the field's row groups (pruned on the
        ``field`` statistics), per-segment numpy kernel — blocks screened
        by [first_doc, last_doc] overlap before any decode, survivors
        batch-decoded (``decode_doc_ids_batch``, one C pass) and
        intersected with the target set; positions decode only for blocks
        that actually contain a match. Cost is O(postings of touched
        segments) read + O(matches) work — the same access shape Lucene
        pays when term vectors are derived rather than stored.
        """
        from lucene_spark.indexing.blocks import (
            decode_doc_ids_batch, decode_positions_batch,
            decode_posting_bufs)

        ids = sorted({int(x) for x in doc_ids})
        schema = "doc_id long, term string, freq int, positions string"
        targets = {}
        for s, (lo, hi) in self._segment_doc_bounds().items():
            glob = np.asarray([d for d in ids if lo <= d < hi], np.int64)
            if glob.size:
                targets[int(s)] = glob

        def kernel(seg, rows):
            tgt = seg.live(targets[seg.id])
            if tgt.size == 0:
                return {}
            keep = ((rows["last_doc"] >= tgt[0])
                    & (rows["first_doc"] <= tgt[-1]))
            if not keep.any():
                return {}
            rows = {c: v[keep] for c, v in rows.items()}
            counts = rows["count"].astype(np.int64)
            docs, starts = decode_doc_ids_batch(
                rows["first_doc"], rows["last_doc"], counts,
                list(rows["doc_gaps"]))
            tfs = decode_posting_bufs(list(rows["tfs"]))
            hit = np.isin(docs, tgt)
            if not hit.any():
                return {}
            blk_of = np.repeat(np.arange(counts.size), counts)
            hidx = np.flatnonzero(hit)
            pos_col = np.full(hidx.size, "", dtype=object)
            pos_bufs = rows["positions"]
            if pos_bufs.size and pos_bufs[0] is not None:
                # decode positions only for blocks holding a match, in one
                # batched pass; ``post`` lists those blocks' postings
                hb = np.unique(blk_of[hidx])
                cnt = counts[hb]
                post = (np.repeat(starts[hb] - (np.cumsum(cnt) - cnt), cnt)
                        + np.arange(int(cnt.sum())))
                flat, toff = decode_positions_batch(list(pos_bufs[hb]),
                                                    tfs[post])
                p0 = toff[np.searchsorted(post, hidx)]
                pos_col[:] = [" ".join(map(str, flat[a:a + n].tolist()))
                              for a, n in zip(p0.tolist(),
                                              tfs[hidx].tolist())]
            return {"doc_id": docs[hidx], "term": rows["term"][blk_of[hidx]],
                    "freq": tfs[hidx].astype("int32"), "positions": pos_col}

        return self.reader.segment_executor().run(
            {field: None}, ["term", "first_doc", "last_doc", "count",
                            "doc_gaps", "tfs", "positions"],
            kernel, schema, segments=sorted(targets))

    def combined_field_df(self, terms, fields, norm_fields=None):
        """CombinedFieldQuery — the BM25F-style cross-field scorer
        (``lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
        CombinedFieldQuery.java``): score ``terms`` against several fields
        AS IF their contents were one combined field.

        Reference semantics reproduced exactly:
        - pseudo term stats over every (term, field) pair: df = MAX of the
          per-pair docFreqs, ttf = Σ weight·ttf (:328-345);
        - pseudo collection stats: docCount/maxDoc/sumDocFreq = MAX over
          fields, sumTotalTermFreq = Σ weight·sumTTF (:355-370);
        - per-doc freq = Σ weight·tf over all pairs, as float32
          (``WeightedDisiWrapper.freq``, :453-488);
        - per-doc norm = SmallFloat reencode of round(Σ weight·decoded
          norm) over ``norm_fields`` (``MultiNormsLeafSimScorer.java:
          141-153``); fields with omitted norms (our keyword fields, like
          Lucene's StringField) contribute freq but no norm — the default
          ``norm_fields`` is the main text field only.

        ``fields``: {field: weight}. Returns an exhaustive (doc_id, score)
        DataFrame (every matching doc). Plan shape: ONE multi-field
        executor run (in-task row-group pruning on field and term) →
        per-segment numpy kernel (batch block decode, one weighted
        bincount, float32 BM25) → k-free distributed output; the driver
        touches only statistics.
        """
        from lucene_spark.indexing.blocks import (
            decode_doc_ids_batch, decode_posting_bufs)
        from lucene_spark.smallfloat import LENGTH_TABLE, int_to_byte4

        fields = dict(fields)
        if norm_fields is None:
            norm_fields = {self.reader.field: fields.get(self.reader.field, 1.0)}
        else:
            norm_fields = {f: fields[f] for f in norm_fields}
        terms = list(dict.fromkeys(terms))

        # ---- driver: pseudo stats (CombinedFieldWeight ctor) ------------
        pseudo_df, pseudo_ttf = 0, 0.0
        for f, w in fields.items():
            st = self.reader.term_stats(terms, field=f)
            for t in terms:
                s = st.get(t)
                if s and s["df"] > 0:
                    pseudo_df = max(pseudo_df, s["df"])
                    pseudo_ttf += float(w) * s["ttf"]
        schema = "doc_id long, score float"
        if pseudo_df == 0:
            return self.spark.createDataFrame([], schema)
        doc_count = sum_ttf = 0
        for f, w in fields.items():
            fs = self.reader.field_stats.get(f)
            if fs:
                doc_count = max(doc_count, fs["doc_count"])
                sum_ttf += float(w) * fs["sum_ttf"]
        scorer = self.similarity.scorer(
            1.0, doc_count, int(sum_ttf), [pseudo_df],
            ttfs=[max(1, int(pseudo_ttf))])

        index_dir = self.reader.index_dir
        weights = {f: float(w) for f, w in fields.items()}
        nfields = {f: float(w) for f, w in norm_fields.items()}
        main = self.reader.field

        def kernel(seg, rows):
            import pyarrow.dataset as pds

            dt = pds.dataset(f"{index_dir}/docs/seg={seg.id}").to_table(
                columns=["doc_id", "norm"])
            dids = dt.column("doc_id").to_numpy()
            n = int(dids.max()) + 1 if len(dids) else 0
            if n == 0:
                return {}
            # combined norm per local doc (MultiFieldNormValues.advanceExact:
            # Math.round == floor(x + 0.5), then intToByte4 re-encode)
            nv = np.zeros(n, dtype=np.float32)
            seg_norms = np.zeros(n, dtype=np.int64)
            seg_norms[dids] = dt.column("norm").to_numpy()
            if main in nfields:
                nv += np.float32(nfields[main]) * LENGTH_TABLE[seg_norms]
            comb_norm = int_to_byte4(np.floor(nv + 0.5).astype(np.int64))

            counts = rows["count"].astype(np.int64)
            docs, _starts = decode_doc_ids_batch(
                rows["first_doc"], rows["last_doc"], counts,
                list(rows["doc_gaps"]))
            tfs = decode_posting_bufs(list(rows["tfs"]))
            wrow = pd.Series(rows["field"]).map(weights).to_numpy(np.float32)
            wpost = np.repeat(wrow, counts)
            freq = np.zeros(n, dtype=np.float32)
            np.add.at(freq, docs - seg.offset, wpost * tfs.astype(np.float32))
            hit = freq > 0
            if seg.deleted is not None:
                hit[seg.deleted - seg.offset] = False
            hidx = np.flatnonzero(hit)
            if hidx.size == 0:
                return {}
            sc = scorer.score(freq[hidx], comb_norm[hidx])
            return hits_frame(hidx + seg.offset, np.asarray(sc))

        return self.reader.segment_executor().run(
            {f: terms for f in fields},
            ["field", "first_doc", "last_doc", "count", "doc_gaps", "tfs"],
            kernel, schema)

    def combined_field(self, terms, fields, k: int = 10,
                       norm_fields=None):
        """Top-k CombinedFieldQuery hits: (score DESC, doc_id ASC)."""
        from pyspark.sql import functions as F

        rows = (self.combined_field_df(terms, fields, norm_fields)
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k).collect())
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def facet_paths(self, query, path_df, topn: int | None = None):
        """Hierarchical (taxonomy) facet counts
        (``facet/taxonomy/TaxonomyFacetCounts`` + ``FacetsCollector.java:49``):
        counts of the query's match set per taxonomy path PREFIX — matching
        a doc under ``a/b/c`` increments ``a``, ``a/b``, and ``a/b/c``, like
        the taxonomy ordinal rollup.

        ``path_df``: (doc_id, path) with '/'-separated paths. Plan: match
        set join → JVM-side prefix explode (transform∘sequence∘slice, no
        Python) → one groupBy. Returns (path, depth, n) ordered by
        (depth, n DESC, path) — ``topn`` caps each depth (getTopChildren).
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        match = self.match_df(ast.normalize(query))
        j = match.join(path_df, "doc_id").withColumn(
            "_parts", F.split(F.col("path"), "/"))
        prefixes = j.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_parts")),
                    lambda i: F.array_join(F.slice("_parts", 1, i), "/"),
                )
            ).alias("path")
        )
        counts = (
            prefixes.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("depth", F.size(F.split(F.col("path"), "/")))
        )
        if topn is not None:
            w = Window.partitionBy("depth").orderBy(
                F.desc("n"), F.asc("path"))
            counts = (counts.withColumn("_r", F.row_number().over(w))
                      .filter(F.col("_r") <= topn).drop("_r"))
        return counts.select("path", "depth", "n").orderBy(
            "depth", F.desc("n"), "path")

    def drill_sideways(self, base_query, dims):
        """DrillSideways facet counts (``facet/DrillSideways.java:63``):
        given a base query and ONE selected value per dimension, count each
        dimension's values over the docs matching the base query AND every
        OTHER dimension's selection — its own filter dropped, so a faceted
        UI can show sibling counts next to the current drill-down.

        ``dims``: {dim_name: (dim_df, selected_value)} with ``dim_df`` =
        (doc_id, value) single-valued per doc. Returns (dim, value, n)
        ordered by (dim, value).

        Plan shape (DrillSidewaysScorer's near-miss trick, one pass): the
        base match set left-joins each dim's value map once, a per-doc
        satisfied-selections counter ``n_sat`` is a pure projection, and dim
        d's sideways set is the rows where the OTHER dims' selections all
        hold (``n_sat - sat_d == |D| - 1``). The per-dim groupBys union into
        one plan — the base match set and the joins are computed once, never
        per-dim.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        if isinstance(base_query, str):
            base_query = self.parse(base_query)
        names = list(dims)
        j = self.match_df(ast.normalize(base_query))
        for name, (ddf, _sel) in dims.items():
            cols = ddf.columns
            j = j.join(
                ddf.select(F.col(cols[0]).alias("doc_id"),
                           F.col(cols[1]).alias(f"_v_{name}")),
                "doc_id", "left")
        nsat = reduce(
            lambda a, b: a + b,
            [F.when(F.col(f"_v_{n}") == F.lit(dims[n][1]), 1).otherwise(0)
             for n in names])
        j = j.withColumn("_nsat", nsat)
        full = len(names) - 1
        parts = []
        for n in names:
            sat_n = F.when(
                F.col(f"_v_{n}") == F.lit(dims[n][1]), 1).otherwise(0)
            parts.append(
                j.filter((F.col("_nsat") - sat_n) == full)
                .filter(F.col(f"_v_{n}").isNotNull())
                .groupBy(F.col(f"_v_{n}").alias("value"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(n).alias("dim"), "value", "n"))
        return reduce(lambda a, b: a.unionAll(b), parts).orderBy("dim", "value")

    def _segs_for_docs(self, doc_ids) -> list[int]:
        """Segment ids whose docID range intersects ``doc_ids`` — the
        rescore second pass touches ≤ top_n docs, so on a many-segment
        index only a handful of segments are read."""
        ids = np.asarray(sorted(int(x) for x in doc_ids), dtype=np.int64)
        return [s for s, (lo, hi) in self._segment_doc_bounds().items()
                if ((ids >= lo) & (ids < hi)).any()]

    def score_df(self, query, doc_ids=None):
        """Exhaustive (doc_id, score) DataFrame of ALL matching docs.

        The FacetsCollector / grouping substrate: stays distributed (no
        driver collect) so downstream groupBy / window / join run as plain
        Spark plans.

        Shape dispatch: flat term booleans score through the WAND kernel
        (exhaustive mode); phrase / multiphrase through the positions
        kernel; constant-score shapes (multiterm / const-wrapped / span)
        through their match set at score = f32(boost). Shapes whose
        exhaustive scoring would need the mixed top-k path (nested mixed
        booleans, KNN) raise NotImplementedError with the supported list.

        ``doc_ids`` (optional, bounded — the rescore second pass): restrict
        scoring to those docs; the executor reads only the segments
        covering them and the output filters to the exact set.
        """
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        nq = ast.normalize(query)
        df = self._score_df_impl(nq, doc_ids)
        if doc_ids is not None:
            df = df.where(F.col("doc_id").isin([int(x) for x in doc_ids]))
        return df

    def _score_df_impl(self, nq, doc_ids=None):
        from pyspark.sql import functions as F

        segs = self._segs_for_docs(doc_ids) if doc_ids is not None else None
        if isinstance(nq, (ast.PhraseQuery, ast.MultiPhraseQuery)):
            plan = self._phrase_plan(nq)
            df = plan and self._phrase_scored(*plan, segments=segs).df()
        elif isinstance(nq, (ast.SynonymQuery, ast.DisjunctionMaxQuery)):
            from lucene_spark.search.multiterm import (
                dismax_scored,
                synonym_scored,
            )

            build = (synonym_scored if isinstance(nq, ast.SynonymQuery)
                     else dismax_scored)
            run = build(self.reader, self.similarity, nq)
            df = run and run.df()
        elif isinstance(nq, (ast.MultiTermQuery, ast.ConstantScoreQuery,
                             ast.MatchAllDocsQuery) + ast.SPAN_QUERY_TYPES):
            # CONSTANT_SCORE shapes: match set at score = f32(boost)
            boost = float(F32(getattr(nq, "boost", 1.0)))
            if isinstance(nq, ast.SPAN_QUERY_TYPES):
                run = self._span_match(nq)
                m = run and run.df()
            else:
                m = self.match_df(nq)
            df = None if m is None else m.select(
                "doc_id", F.lit(boost).cast("float").alias("score"))
        else:
            wc = self._weighted_clauses(nq)
            df = wc and self._flat_scored(*wc, segments=segs).df()
        return df if df is not None else self.spark.createDataFrame([], SCORED)

    def match_df(self, query):
        """Distributed (doc_id) DataFrame of the docs matching ANY query
        shape — the match-set substrate for ConstantScoreQuery and
        set-algebra composition. Live-docs filtering applied throughout.

        Hot filters are memoized through the :class:`LRUQueryCache`
        analogue: the SECOND use of the same normalized query persists its
        match set, so repeated keyword/multiterm filters hit executor
        storage instead of re-decoding postings (LRUQueryCache.java +
        UsageTrackingQueryCachingPolicy)."""
        q = ast.normalize(query)
        if isinstance(q, ast.MatchNoDocsQuery) or self.reader.doc_count == 0:
            return self.spark.createDataFrame([], "doc_id long")
        if isinstance(q, ast.ConstantScoreQuery):
            return self.match_df(q.query)
        try:
            hash(q)  # frozen dataclasses: structural hash/equality
        except TypeError:
            return self._match_df_impl(q)
        return self.query_cache.get_or_build(
            q, lambda: self._match_df_impl(q))

    def _match_df_impl(self, q):
        if isinstance(q, ast.MatchAllDocsQuery):
            return self.reader.docs(live_only=True).select("doc_id")
        if isinstance(q, (ast.MultiTermQuery, ast.SynonymQuery,
                          ast.DisjunctionMaxQuery)):
            from lucene_spark.search.multiterm import matching_docs_df

            return matching_docs_df(
                self.reader, self._multiterm_source(q)
                if isinstance(q, ast.MultiTermQuery)
                else self._present_terms(q))
        if isinstance(q, (ast.PhraseQuery, ast.MultiPhraseQuery)):
            plan = self._phrase_plan(q)
            if plan is None:
                return self.spark.createDataFrame([], DOCS)
            return self._phrase_scored(*plan, out=DOCS).df()
        if isinstance(q, ast.BooleanQuery) and any(
            not isinstance(sub, ast.TermQuery) for _, sub in q.clauses
        ):
            # match sets are similarity-independent: score mixed clauses
            # with BM25 regardless of the searcher's similarity (the
            # weights are discarded)
            run = self._mixed_segment(q, None, match_only=True)
            if run is None:
                return self.spark.createDataFrame([], "doc_id long")
            return run.df().select("doc_id")
        return self.score_df(q).select("doc_id")

    def covering_df(self, queries, min_match: str):
        """CoveringQuery (``lucene/sandbox/src/java/org/apache/lucene/
        sandbox/search/CoveringQuery.java:47-60`` + ``CoveringScorer.java:
        136-141``): match docs where at least ``minMatch`` of the
        sub-queries match, with ``minMatch`` read PER DOC from a values
        source — here ``min_match`` is a Spark SQL expression over the
        docs-table columns (``dl``, ``turn_idx``, …), clamped to ≥ 1
        exactly like ``CoveringScorer`` (``Math.max(1, value)``,
        :138). Score = f32(double Σ of the matching sub-queries' float32
        scores) (``CoveringScorer.score``).

        Plan shape: one ``score_df`` segment-kernel scan per sub-query,
        UNION ALL, a single groupBy(doc_id) shuffle for the (count, sum)
        aggregate, then a doc_id join against the docs table for the
        values source — every step a plain Catalyst plan; nothing
        collected. Sub-queries may be any exhaustively-scorable shape
        (terms, flat booleans, phrases, …).
        """
        from functools import reduce

        from pyspark.sql import functions as F

        if not queries:
            return self.spark.createDataFrame([], "doc_id long, score float")
        dfs = []
        for q in queries:
            if isinstance(q, str):
                q = self.parse(q)
            dfs.append(self.score_df(q))
        u = reduce(lambda a, b: a.unionByName(b), dfs)
        agg = u.groupBy("doc_id").agg(
            F.count("*").alias("n_matched"),
            F.sum(F.col("score").cast("double")).alias("ssum"))
        thresh = F.greatest(F.lit(1).cast("long"),
                            F.expr(min_match).cast("long"))
        return (agg.join(self.reader.docs(), "doc_id")
                .where(F.col("n_matched") >= thresh)
                .select("doc_id",
                        F.col("ssum").cast("float").alias("score")))

    def covering(self, queries, min_match: str, k: int = 10):
        """Top-k of :meth:`covering_df` with the standard
        (score DESC, docID ASC) tie-break."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.covering_df(queries, min_match)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def function_score_df(self, query, value_col, combine: str = "multiply"):
        """FunctionScoreQuery analogue (``lucene/queries`` FunctionScoreQuery
        + DoubleValuesSource expressions): rescore the match set by a
        doc-values expression — ``value_col`` is a Catalyst Column over the
        docs-table columns (``dl``, ``turn_idx``, …), evaluated JVM-side.

        ``combine='multiply'`` → new = f32(double(score) × double(expr))
        (boostByValue); ``'replace'`` → new = f32(expr) (fromExpression).
        Returns a distributed (doc_id, score float) DataFrame.
        """
        from pyspark.sql import functions as F

        if combine == "multiply":
            joined = self.score_df(query).join(self.reader.docs(), "doc_id")
            ns = (F.col("score").cast("double")
                  * value_col.cast("double")).cast("float")
        elif combine == "replace":
            # scores are discarded → match_df supports every query shape
            joined = self.match_df(query).join(self.reader.docs(), "doc_id")
            ns = value_col.cast("float")
        else:
            raise ValueError(f"unknown combine mode: {combine}")
        return joined.select("doc_id", ns.alias("score"))

    def function_score(self, query, value_col, k: int = 10,
                       combine: str = "multiply") -> list[ScoreDoc]:
        """Top-k of :meth:`function_score_df` with the standard
        (score DESC, docID ASC) tie-break."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.function_score_df(query, value_col, combine)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        )
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def _bound_expression(self, query, expression: str):
        """Shared compile-and-bind step for expression scoring/sorting:
        returns (match-set joined to docs columns, the expression as ONE
        Catalyst Column). ``_score`` binds the query's score; every other
        variable binds the same-named docs-table column; unbound variables
        raise at compile time (SimpleBindings contract)."""
        from pyspark.sql import functions as F

        from lucene_spark.search.expressions import (
            ExpressionError,
            compile_expression,
        )

        compiled = compile_expression(expression)
        joined = self.score_df(query).join(self.reader.docs(), "doc_id")
        cols = set(joined.columns)
        bindings = {}
        for name in compiled.variables():
            col = "score" if name == "_score" else name
            if col not in cols:
                raise ExpressionError(f"unbound variable: {name!r}")
            bindings[name] = F.col(col)
        return joined, compiled.to_column(bindings)

    def expression_score_df(self, query, expression: str):
        """Compiled score expression (``lucene/expressions``
        ``JavascriptCompiler.java:138`` + ``SimpleBindings``): parse a
        JS-subset source string, bind ``_score`` to the query's BM25 score
        and every other variable to the same-named docs-table column, and
        rescore the match set — new score = f32(expr evaluated in double).
        The whole expression is ONE Catalyst Column tree (JVM-side,
        whole-stage codegen); unbound variables raise at compile time."""
        joined, col = self._bound_expression(query, expression)
        return joined.select("doc_id", col.cast("float").alias("score"))

    def sort_by_expression_df(self, query, expression: str):
        """Expression SORT (``lucene/expressions``
        ``Expression.getSortField`` / ``ExpressionComparator``): the match
        set with the expression as a DOUBLE sort key (SortField.DOUBLE
        comparator semantics — no f32 narrowing, unlike the rescore
        path). Distributed (doc_id, sortkey) DataFrame."""
        joined, col = self._bound_expression(query, expression)
        return joined.select("doc_id", col.cast("double").alias("sortkey"))

    def search_sorted_by_expression(self, query, expression: str,
                                    k: int = 10, ascending: bool = True):
        """Top-k of the match set ordered by a compiled expression
        (ties → docID asc) — the expression analogue of sort-by-field.
        Returns (doc_id, sortkey) tuples."""
        from pyspark.sql import functions as F

        df = self.sort_by_expression_df(query, expression)
        key = F.asc("sortkey") if ascending else F.desc("sortkey")
        rows = self._collect(df.orderBy(key, F.asc("doc_id")).limit(k))
        return [(int(r["doc_id"]), float(r["sortkey"])) for r in rows]

    def expression_score(self, query, expression: str,
                         k: int = 10) -> list[ScoreDoc]:
        """Top-k of :meth:`expression_score_df` with the standard
        (score DESC, docID ASC) tie-break."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.expression_score_df(query, expression)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        )
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def rescore_df(self, first_query, second_query, top_n: int = 100,
                   weight: float = 1.0):
        """QueryRescorer (``core/search/QueryRescorer.java:38-104``): take
        the top-``top_n`` hits of ``first_query``, score ``second_query``
        over just those docs, and combine — new score =
        f32(first + weight·second) when the second query matches the doc,
        else the first-pass score unchanged (the ``combine`` contract:
        ``score += weight * secondPassScore``, double product narrowed to
        float). Returns the (doc_id, score) DataFrame, un-sorted.

        Scale shape: the first pass is k-bounded (a TopDocs array, ≤ top_n
        rows on the driver — same bound as every top-k merge); the second
        pass is ONE distributed score_df plan segment-pruned and filtered
        to those docs (≤ top_n rows collected); the combine is driver-side
        over ≤ top_n rows."""
        if isinstance(first_query, str):
            first_query = self.parse(first_query)
        if isinstance(second_query, str):
            second_query = self.parse(second_query)
        combined = self._rescore_rows(first_query, second_query, top_n,
                                      weight)
        return self.spark.createDataFrame(
            [(d, s) for d, s in combined], "doc_id long, score double")

    def _rescore_rows(self, first_query, second_query, top_n, weight):
        """Two jobs, both k-bounded: (1) first-pass top-``top_n`` search;
        (2) second query scored ONLY over those docs (segment-pruned scan +
        exact doc filter, ≤ top_n rows collected). The combine itself is
        driver-side numpy over ≤ top_n rows — no join or distributed sort
        job for a result that is by construction tiny."""
        hits = self.search(first_query, k=top_n)
        if not hits:
            return []
        ids = [int(h.doc_id) for h in hits]
        second = {int(r["doc_id"]): np.float32(r["score"])
                  for r in self._collect(
                      self.score_df(second_query, doc_ids=ids))}
        out = []
        for h in hits:
            s2 = second.get(int(h.doc_id))
            if s2 is None:
                out.append((int(h.doc_id), float(h.score)))
            else:
                out.append((int(h.doc_id),
                            float(np.float32(h.score
                                             + float(weight) * float(s2)))))
        return out

    def rescore(self, first_query, second_query, k: int = 10,
                top_n: int = 100, weight: float = 1.0) -> list[ScoreDoc]:
        """Top-k rescored hits re-sorted by (score DESC, docID ASC)
        — ``QueryRescorer.rescore``'s final sort comparator."""
        if isinstance(first_query, str):
            first_query = self.parse(first_query)
        if isinstance(second_query, str):
            second_query = self.parse(second_query)
        rows = self._rescore_rows(first_query, second_query, top_n, weight)
        rows.sort(key=lambda t: (-t[1], t[0]))
        return [ScoreDoc(d, s) for d, s in rows[:k]]

    def _expand_prefix_sorted(self, field: str, prefix: str,
                              n: int) -> list[str]:
        """First ``n`` dictionary terms with ``prefix``, in unsigned-UTF-8
        term order (the term-dict enumeration order,
        ``MultiPhraseQuery.java`` javadoc's ``IndexReader.terms(Term)``
        walk). TRUNCATES at ``n`` — the ``max_expansions`` contract of
        phrase-prefix matching, unlike multi-term expansion which raises.

        Driver path: binary search over the resident sorted dictionary
        (zero Spark jobs). Fallback: term-ordered pushdown scan with
        ``LIMIT n`` (Spark string order is UTF-16 code-unit order — equal
        to code-point order for BMP text; supplementary-plane prefixes are
        a documented approximation)."""
        import bisect

        terms = self.reader.sorted_terms(field)
        if terms is not None:
            lo = bisect.bisect_left(terms, prefix)
            out = []
            for i in range(lo, min(len(terms), lo + n)):
                if not terms[i].startswith(prefix):
                    break
                out.append(terms[i])
            return out
        from lucene_spark.search.multiterm import matched_terms_df
        from lucene_spark.session import no_aqe

        q = ast.MultiTermQuery("prefix", value=prefix, field=field)
        with no_aqe(self.spark):
            rows = (matched_terms_df(self.reader, q)
                    .orderBy("term").limit(n).collect())
        return [r["term"] for r in rows]

    def phrase_prefix(self, terms, k: int = 10, max_expansions: int = 50,
                      field: str = "text", boost: float = 1.0,
                      slop: int = 0) -> list[ScoreDoc]:
        """Phrase-prefix search (``core/search/MultiPhraseQuery.java``
        javadoc's prefix use-case — "phrases like ``app*`` matching
        ``Microsoft app*``"): the LAST element of ``terms`` is a prefix,
        expanded to its first ``max_expansions`` dictionary terms in term
        order, and the result runs as a MultiPhraseQuery (union postings at
        the last slot, idf summed over all expanded terms). An expansion
        that matches nothing → no hits."""
        exp = tuple(self._expand_prefix_sorted(field, terms[-1],
                                               int(max_expansions)))
        if not exp:
            return []
        slots = tuple((t,) for t in terms[:-1]) + (exp,)
        return self.search(
            ast.MultiPhraseQuery(slots, field=field, boost=boost,
                                 slop=slop), k)

    def phrase_wildcard(self, slots, k: int = 10,
                        max_expansions: int = 1024, field: str = "text",
                        boost: float = 1.0, slop: int = 0) -> list[ScoreDoc]:
        """PhraseWildcardQuery
        (``sandbox/search/PhraseWildcardQuery.java``): a phrase whose
        slots may be multi-term queries. Each slot is a literal term, a
        tuple of alternatives, a ``*``/``?`` wildcard pattern string, or
        any ``ast.MultiTermQuery``; multi-term slots expand against the
        term dictionary and the phrase runs as a MultiPhraseQuery (union
        postings per slot, idf summed over every slot term —
        ``MultiPhraseQuery.java:234,303``).

        Divergence from Lucene, documented: PhraseWildcardQuery BOUNDS
        expansion at maxMultiTermExpansions by truncating segment-by-
        segment (result set depends on segmentation); we keep the engine's
        fail-loud contract instead — past ``max_expansions`` this raises
        TooManyClauses rather than silently truncating, so results are
        segmentation-independent. An empty expansion matches nothing
        (same as Lucene's no-match segment)."""
        from lucene_spark.search import multiterm as mt

        out_slots = []
        for s in slots:
            if isinstance(s, tuple):
                out_slots.append(s)
                continue
            if isinstance(s, str):
                if not any(c in s for c in "*?"):
                    out_slots.append((s,))
                    continue
                s = ast.MultiTermQuery(kind="wildcard", value=s, field=field)
            if not isinstance(s, ast.MultiTermQuery):
                raise TypeError(f"unsupported slot: {s!r}")
            exp = mt.expand_terms_hybrid(self.reader, s,
                                         int(max_expansions))
            if not exp:
                return []
            out_slots.append(tuple(exp))
        return self.search(
            ast.MultiPhraseQuery(tuple(out_slots), field=field, boost=boost,
                                 slop=slop), k)

    def boost_by_query_df(self, query, boost_query, boost: float):
        """``FunctionScoreQuery.boostByQuery``
        (``queries/function/FunctionScoreQuery.java:83-101``): the main
        query's score is multiplied by ``boost`` on docs that match
        ``boost_query``, left unchanged elsewhere (the
        MultiplicativeBoostValuesSource contract: value = matched ? boost
        : 1, product computed in double, narrowed to float). Returns the
        distributed (doc_id, score) DataFrame.

        Scale shape: one score plan joined to one match plan on doc_id —
        both stay distributed; no driver materialization."""
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        if isinstance(boost_query, str):
            boost_query = self.parse(boost_query)
        main = self.score_df(query)
        bm = (self.match_df(boost_query).select("doc_id")
              .withColumn("_bq_hit", F.lit(1)))
        return (main.join(bm, "doc_id", "left")
                .select(
                    "doc_id",
                    F.when(F.col("_bq_hit").isNull(), F.col("score"))
                    .otherwise((F.col("score").cast("double")
                                * F.lit(float(boost)))
                               .cast("float").cast("double"))
                    .alias("score")))

    def boost_by_query(self, query, boost_query, boost: float,
                       k: int = 10) -> list[ScoreDoc]:
        """Top-k of :meth:`boost_by_query_df`, (score DESC, docID ASC)."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.boost_by_query_df(query, boost_query, boost)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    # FeatureField score functions (core/document/FeatureField.java):
    # value computed in double, narrowed to float per the SimScorer
    # contract. The feature S is a numeric docs-table column (doc values)
    # — the parquet analogue of FeatureField's term-frequency-encoded
    # static feature.
    _FEATURE_FNS = ("log", "saturation", "sigmoid")

    def feature_score_df(self, query, feature_col: str = "dl",
                         fn: str = "saturation", weight: float = 1.0,
                         pivot: float = 1.0, exp_a: float = 1.0,
                         scaling: float = 1.0):
        """FeatureField blending (``core/document/FeatureField.java``): the
        canonical ``MUST(text) SHOULD(feature)`` boolean — match set = the
        main query's matches; new score = f32(f32(main) + f32(feature)),
        the BooleanScorer double-sum-then-narrow contract. Feature score:

        - ``log``:        weight × ln(scaling + S)   (LogFunction)
        - ``saturation``: weight × S/(S + pivot)     (SaturationFunction)
        - ``sigmoid``:    weight × S^a/(S^a + pivot^a) (SigmoidFunction)
        """
        from pyspark.sql import functions as F

        if fn not in self._FEATURE_FNS:
            raise ValueError(f"unknown feature function: {fn}")
        if isinstance(query, str):
            query = self.parse(query)
        s = F.col(feature_col).cast("double")
        w = F.lit(float(weight))
        if fn == "log":
            feat = w * F.log(F.lit(float(scaling)) + s)
        elif fn == "saturation":
            feat = w * s / (s + F.lit(float(pivot)))
        else:
            sa = F.pow(s, F.lit(float(exp_a)))
            feat = w * sa / (sa + F.pow(F.lit(float(pivot)),
                                        F.lit(float(exp_a))))
        joined = self.score_df(query).join(self.reader.docs(), "doc_id")
        ns = (F.col("score").cast("double")
              + feat.cast("float").cast("double")).cast("float")
        return joined.select("doc_id", ns.cast("double").alias("score"))

    PAYLOAD_FNS = ("max", "min", "sum", "avg")

    def payload_score_df(self, term: str, fn: str = "max",
                         field: str = "text",
                         include_span_score: bool = False,
                         boost: float = 1.0):
        """PayloadScoreQuery over one span-term query —
        ``queries/payloads/PayloadScoreQuery.java:46-76`` with the
        Max/Min/Average/Sum payload functions
        (``MaxPayloadFunction.java`` et al.: per-doc fold over the
        occurrences' payloads; ``docScore`` = the fold when ≥1 payload was
        seen). Payloads are the integer per-occurrence values the
        ``delimited_payload`` chain indexed (``PayloadDecoder`` integer
        analogue: payload int → float).

        ``include_span_score=True`` multiplies by the wrapped span's score,
        which under the engine's constant-score span v1 cut is
        ``f32(boost)`` (the reference multiplies by the real SpanScorer
        score — documented divergence). Returns a distributed
        (doc_id, score float) DataFrame; per-segment numpy kernel, one
        executor run over the term's row groups, nothing collected."""

        if fn not in self.PAYLOAD_FNS:
            raise ValueError(f"fn must be one of {self.PAYLOAD_FNS}")
        if not self.reader.manifest.get("payloads", False):
            raise ValueError(
                "index was built without payloads; rebuild with "
                "IndexBuilder(..., analyzer='delimited_payload')")
        span_mult = float(F32(boost)) if include_span_score else None

        def kernel(seg, rows):
            d, tf, pay = _payload_rows(rows)
            pay = pay.astype(np.float32)
            offs = np.concatenate([[0], np.cumsum(tf)[:-1]]).astype(np.int64)
            if fn == "max":
                s = np.maximum.reduceat(pay, offs)
            elif fn == "min":
                s = np.minimum.reduceat(pay, offs)
            else:
                s = np.add.reduceat(pay, offs).astype(np.float32)
                if fn == "avg":
                    s = (s / tf.astype(np.float32)).astype(np.float32)
            s = s.astype(np.float32)
            if span_mult is not None:
                s = (s * np.float32(span_mult)).astype(np.float32)
            return hits_frame(*seg.live(d, s))

        return self.reader.segment_executor().run(
            {field: [term]}, PAYLOAD_COLS, kernel, SCORED)

    def payload_score(self, term: str, fn: str = "max", k: int = 10,
                      field: str = "text",
                      include_span_score: bool = False,
                      boost: float = 1.0) -> list[ScoreDoc]:
        """Top-k of :meth:`payload_score_df`, (score DESC, docID ASC)."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.payload_score_df(term, fn, field, include_span_score,
                                  boost)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return [ScoreDoc(int(r["doc_id"]), float(r["score"]))
                for r in rows]

    _PAYLOAD_OPS = {"eq": np.equal, "gt": np.greater,
                    "gte": np.greater_equal, "lt": np.less,
                    "lte": np.less_equal}

    def span_payload_check_df(self, term: str, value: int, op: str = "eq",
                              field: str = "text"):
        """SpanPayloadCheckQuery over one span-term query —
        ``queries/payloads/SpanPayloadCheckQuery.java:48-99`` with the INT
        payload type and the EQ/GT/GTE/LT/LTE match operations: the doc
        matches when some occurrence of ``term`` carries a payload
        satisfying ``payload <op> value``. v1 cut: single-term spans only
        (the reference checks each position of a composite span against a
        payload list — composite spans are a documented gap), constant
        score like the engine's other span queries. Returns the
        distributed (doc_id) match set."""

        if op not in self._PAYLOAD_OPS:
            raise ValueError(f"op must be one of {sorted(self._PAYLOAD_OPS)}")
        if not self.reader.manifest.get("payloads", False):
            raise ValueError(
                "index was built without payloads; rebuild with "
                "IndexBuilder(..., analyzer='delimited_payload')")
        cmp = self._PAYLOAD_OPS[op]
        val = np.int64(value)

        def kernel(seg, rows):
            d, tf, flat = _payload_rows(rows)
            offs = np.concatenate([[0], np.cumsum(tf)[:-1]]).astype(np.int64)
            ok = cmp(flat, val)
            # any-occurrence-per-posting: count of hits in each posting's
            # payload slice > 0 (one global reduceat over all blocks)
            hits = np.add.reduceat(ok.astype(np.int64), offs) > 0
            return hits_frame(seg.live(d[hits]))

        return self.reader.segment_executor().run(
            {field: [term]}, PAYLOAD_COLS, kernel, DOCS)

    def span_payload_check(self, term: str, value: int, op: str = "eq",
                           k: int = 10, field: str = "text",
                           boost: float = 1.0) -> list[ScoreDoc]:
        """Top-k of :meth:`span_payload_check_df` — k smallest matching
        docIDs at f32(boost) (constant-score span contract)."""
        rows = self._collect(
            self.span_payload_check_df(term, value, op, field)
            .orderBy("doc_id").limit(k))
        b = float(F32(boost))
        return [ScoreDoc(int(r["doc_id"]), b) for r in rows]

    def feature_score(self, query, feature_col: str = "dl",
                      fn: str = "saturation", k: int = 10,
                      weight: float = 1.0, pivot: float = 1.0,
                      exp_a: float = 1.0,
                      scaling: float = 1.0) -> list[ScoreDoc]:
        """Top-k of :meth:`feature_score_df`, (score DESC, docID ASC)."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.feature_score_df(query, feature_col, fn, weight, pivot,
                                  exp_a, scaling)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    @property
    def _INDEX_SORT_PREFIXES(self):
        """Ascending sort-key prefixes of the INDEX sort — eligible for
        early termination. docID order is row_number over
        ``(*manifest.index_sort, conv_id, turn_idx)`` — the default build
        sorts by (conv_id, turn_idx); a build with
        ``IndexBuilder(..., index_sort=(col,…))``
        (``IndexWriterConfig.setIndexSort``) prepends its columns, so
        sort-by-that-column queries early-terminate instead."""
        seq = list(dict.fromkeys(
            list(self.reader.manifest.get("index_sort", []))
            + ["conv_id", "turn_idx"]))
        return tuple(tuple((f, False) for f in seq[:i])
                     for i in range(1, len(seq) + 1))

    def _search_sorted_early(self, query, fields, k: int):
        """Early-terminating sort-by-index-order — the
        ``IndexWriterConfig.setIndexSort`` + ``TopFieldCollector``
        early-exit analogue (``core/search/TopFieldCollector.java``
        ``canEarlyTerminate``): when the requested sort is an ascending
        prefix of the index sort, the k first matching docIDs ARE the
        top-k, so per-segment execution decodes leading posting blocks only
        until the k smallest docIDs are provably complete (the
        ``constant_score_topk`` early exit) instead of materializing the
        full match set. Returns None when the query shape has no union
        postings form (callers fall back to the exhaustive path)."""
        from pyspark.sql import functions as F

        from lucene_spark.search.multiterm import constant_score_topk

        q = ast.normalize(query)
        if isinstance(q, ast.TermQuery):
            postings = {q.field: [q.term]}
        elif isinstance(q, ast.MultiTermQuery):
            postings = self._multiterm_source(q)
        elif (isinstance(q, ast.BooleanQuery)
              and all(occ == ast.SHOULD and isinstance(sub, ast.TermQuery)
                      for occ, sub in q.clauses)
              and q.min_should_match <= 1):
            postings = {}
            for _occ, sub in q.clauses:
                postings.setdefault(sub.field, []).append(sub.term)
        else:
            return None  # no union-postings form → exhaustive path
        hits = constant_score_topk(self.reader, postings, k, 1.0)
        ids = [h.doc_id for h in hits]
        if not ids:
            return []
        rows = self._collect(
            self.reader.docs()
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", *fields)
        )
        by_id = {int(r["doc_id"]): r for r in rows}
        return [tuple([i] + [by_id[i][f] for f in fields])
                for i in sorted(by_id)]

    def search_sorted(self, query, sort_field, k: int = 10,
                      reverse: bool = True, after: tuple | None = None
                      ) -> list[tuple]:
        """Sort-by-field top-k — the ``TopFieldCollector`` analogue
        (``core/search/TopFieldCollector.java``), supporting an arbitrary
        Sort: ``sort_field`` is one doc-values column name (``dl``,
        ``turn_idx``, ``conv_id``, …; ``reverse`` flips it) or a list of
        ``(field, reverse)`` pairs evaluated in order; the final tie-break
        is always docID ascending (the Lucene rule).

        ``after`` is the LAST row tuple of the previous page
        ``(doc_id, field_value_1[, …])`` — keyset pagination
        (``TopFieldCollector.searchAfter`` / ``FieldDoc`` semantics): only
        rows strictly after it in the sort order are returned, so pages
        never repeat or skip under concurrent-ish reads and page N costs
        the same one TakeOrdered pass as page 0.

        Plan shape: the match set stays distributed (``score_df``), joins
        the doc-values columns, and reduces via Spark's
        TakeOrderedAndProject (per-partition top-k, no global sort shuffle)
        — the plan you want at 10^12 docs. Returns
        [(doc_id, field_value_1[, field_value_2, ...]), ...].
        """
        from pyspark.sql import functions as F

        if isinstance(query, str):
            query = self.parse(query)
        keys = ([(sort_field, reverse)] if isinstance(sort_field, str)
                else [(f, bool(r)) for f, r in sort_field])
        fields = [f for f, _ in keys]
        if fields == ["_doc"]:
            # SortField.Type.DOC (sort by docID — on a sorted index,
            # ascending docID IS the index sort): early-terminate when
            # ascending and the query shape allows, else one bounded
            # orderBy over the distributed match set
            rev = keys[0][1]
            if after is None and not rev:
                early = self._search_sorted_early(query, [], k)
                if early is not None:
                    return early
            m = self.match_df(query)
            if after is not None:
                m = m.filter(F.col("doc_id") < int(after[0]) if rev
                             else F.col("doc_id") > int(after[0]))
            rows = self._collect(
                m.orderBy(F.desc("doc_id") if rev else F.asc("doc_id"))
                .limit(k))
            return [(int(r["doc_id"]),) for r in rows]
        if after is None and tuple(keys) in self._INDEX_SORT_PREFIXES:
            early = self._search_sorted_early(query, fields, k)
            if early is not None:
                return early
        # match_df supports every query shape (scores are discarded anyway)
        matches = self.match_df(query)
        docs = self.reader.docs().select("doc_id", *fields)
        joined = matches.join(docs, "doc_id")
        if after is not None:
            if len(after) != len(fields) + 1:
                raise ValueError(
                    f"after must be (doc_id, {', '.join(fields)})")
            # lexicographic strictly-after predicate over
            # (field_1, …, field_n, doc_id) honoring per-field direction
            avals = list(after[1:]) + [int(after[0])]
            parts = [(F.col(f), F.lit(v), rev)
                     for (f, rev), v in zip(keys, avals[:-1])]
            parts.append((F.col("doc_id"), F.lit(avals[-1]), False))
            pred = None
            eq_prefix = None
            for col, lit, rev in parts:
                gt = col < lit if rev else col > lit
                term = gt if eq_prefix is None else eq_prefix & gt
                pred = term if pred is None else pred | term
                eq = col == lit
                eq_prefix = eq if eq_prefix is None else eq_prefix & eq
            joined = joined.where(pred)
        order = [
            (F.col(f).desc() if rev else F.col(f).asc()) for f, rev in keys
        ] + [F.col("doc_id").asc()]
        rows = self._collect(joined.orderBy(*order).limit(k))
        return [tuple([int(r["doc_id"])] + [r[f] for f in fields])
                for r in rows]

    def join_conversations_df(self, query, score_mode: str = "max"):
        """Block-join / JoinUtil analogue (``lucene/join/.../JoinUtil.java``
        ``createJoinQuery`` + ``ToParentBlockJoinQuery`` score modes): child
        (turn) hits aggregate to parent (conversation) hits.

        Plan shape: distributed child match+score set joins the docs table
        on doc_id (co-partitionable at scale), then a map-side-combined
        groupBy(conv_id) — billions of child hits reduce to one row per
        matched conversation, never collected. Returns (conv_id,
        score float32) distributed. ``score_mode``: max | min | sum | avg
        (Max/Min are float32-exact; Sum/Avg accumulate in double and cast)."""
        from pyspark.sql import functions as F

        aggs = {"max": F.max, "min": F.min, "sum": F.sum, "avg": F.avg}
        if score_mode not in aggs:
            raise ValueError(f"unknown score_mode: {score_mode}")
        scores = self.score_df(query)
        docs = self.reader.docs().select("doc_id", "conv_id")
        return (
            scores.join(docs, "doc_id")
            .groupBy("conv_id")
            .agg(aggs[score_mode]("score").cast("float").alias("score"))
        )

    def join_conversations(self, query, k: int = 10,
                           score_mode: str = "max") -> list[tuple]:
        """Top-k parent conversations of :meth:`join_conversations_df`,
        tie-break (score DESC, conv_id ASC)."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.join_conversations_df(query, score_mode)
            .orderBy(F.desc("score"), F.asc("conv_id")).limit(k)
        )
        return [(r["conv_id"], float(r["score"])) for r in rows]

    def parent_children_df(self, parent_key, child_query,
                           key_field: str = "conv_id"):
        """``ParentChildrenBlockJoinQuery`` analogue
        (``join/ParentChildrenBlockJoinQuery.java:40-57``): all child (turn)
        docs of ONE parent conversation that match ``child_query``, scored
        by the child query — the "expand one hit's children" half of the
        block-join module (``join_conversations_df`` is the to-parent half,
        ``join_by_field_df`` the value-join half).

        Plan shape: the single parent's children come from one
        pushdown-filtered docs scan (``key_field = parent_key`` reaches the
        parquet reader), broadcast into a semi-join against the distributed
        child score plan — a bounded (one conversation) join, one scan per
        side, no shuffle of the score set."""
        from pyspark.sql import functions as F

        scores = self.score_df(child_query)
        kids = (
            self.reader.docs(live_only=True)
            .filter(F.col(key_field) == parent_key)
            .select("doc_id")
        )
        return scores.join(F.broadcast(kids), "doc_id")

    def parent_children(self, parent_key, child_query, k: int = 10,
                        key_field: str = "conv_id") -> list[ScoreDoc]:
        """Top-k children of :meth:`parent_children_df`, tie-break
        (score DESC, docID ASC)."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.parent_children_df(parent_key, child_query, key_field)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        )
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def join_by_field_df(self, from_query, from_field: str, to_field: str,
                         score_mode: str = "max"):
        """Query-time value join (``lucene/join/.../JoinUtil.java:90-118``
        ``createJoinQuery`` + ``TermsIncludingScoreQuery``): every doc whose
        ``to_field`` equals some ``from_field`` value of a doc matching
        ``from_query``, scored by the per-value aggregate of the from-side
        scores (ScoreMode Max / Min / Total / Avg / None).

        Plan shape: ONE distributed from-side score plan joins the docs
        table on doc_id (docID-aligned), reduces to one row per join value
        (map-side combine — billions of from-hits collapse to the distinct
        value set before any shuffle), then joins the to-side docs on the
        value. Nothing is collected to the driver; with a selective
        from-query AQE turns the value join into a broadcast, otherwise it
        shuffles on the value key — both are the plans a 1000-executor
        cluster wants. This is the single-valued-field form
        (``multipleValuesPerDocument=false``); Max/Min aggregate
        float32-exact, Total/Avg accumulate in double then narrow (the
        reference sums in float ordinal-encounter order — order-dependent,
        documented divergence), None = constant 1.0 (the TermsQuery
        rewrite when no scores are kept). Returns (doc_id, score float32)
        distributed, live-docs filtered on both sides.
        """
        from pyspark.sql import functions as F

        if isinstance(from_query, str):
            from_query = self.parse(from_query)
        docs = self.reader.docs(live_only=True)
        if score_mode == "none":
            vals = (
                self.match_df(from_query)
                .join(docs.select("doc_id", from_field), "doc_id")
                .select(F.col(from_field).alias("_jv")).distinct()
                .withColumn("score", F.lit(1.0).cast("float"))
            )
        else:
            aggs = {"max": F.max, "min": F.min, "total": F.sum,
                    "avg": F.avg}
            if score_mode not in aggs:
                raise ValueError(f"unknown score_mode: {score_mode}")
            vals = (
                self.score_df(from_query)
                .join(docs.select("doc_id", from_field), "doc_id")
                .groupBy(F.col(from_field).alias("_jv"))
                .agg(aggs[score_mode]("score").cast("float").alias("score"))
            )
        to_docs = docs.select("doc_id", F.col(to_field).alias("_jv"))
        return to_docs.join(vals, "_jv").select("doc_id", "score")

    def join_by_field(self, from_query, from_field: str, to_field: str,
                      k: int = 10, score_mode: str = "max") -> list[ScoreDoc]:
        """Top-k docs of :meth:`join_by_field_df`, tie-break
        (score DESC, docID ASC) like every other collector."""
        from pyspark.sql import functions as F

        rows = self._collect(
            self.join_by_field_df(from_query, from_field, to_field,
                                  score_mode)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        )
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def diversified_topk_df(self, query, key_field: str,
                            max_per_key: int, k: int):
        """DiversifiedTopDocsCollector analogue
        (``lucene/misc/.../search/DiversifiedTopDocsCollector.java:69-157``):
        top-k hits with at most ``max_per_key`` results per ``key_field``
        value. The reference's greedy PQ insert/evict (insert when the key
        group has capacity, evict the group's weakest when a stronger
        same-key hit arrives) admits exactly the docs that are within their
        key's local top-``max_per_key`` by (score, docID) — so the
        declarative form is a per-key rank filter then a global top-k,
        which Spark runs as one partial-aggregating window + TakeOrdered
        (no driver-side PQ, no collect).
        """
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        if isinstance(query, str):
            query = self.parse(query)
        scores = self.score_df(query)
        docs = self.reader.docs(live_only=True).select("doc_id", key_field)
        w = (Window.partitionBy(key_field)
             .orderBy(F.desc("score"), F.asc("doc_id")))
        return (
            scores.join(docs, "doc_id")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(max_per_key))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(int(k))
        )

    def diversified_search(self, query, key_field: str, max_per_key: int,
                           k: int = 10) -> list[ScoreDoc]:
        """Collected form of :meth:`diversified_topk_df`."""
        rows = self._collect(
            self.diversified_topk_df(query, key_field, max_per_key, k))
        return [ScoreDoc(int(r["doc_id"]), float(r["score"])) for r in rows]

    def search_after(self, query, after_count: int, k: int = 10,
                     mode: str = "wand") -> list[ScoreDoc]:
        """Keyset pagination (``TopScoreDocCollector.java:163-184`` analogy):
        hits ranked after the first ``after_count``."""
        return self.search(query, k=after_count + k, mode=mode)[after_count:]

    def mlt_query(self, text: str, *, field: str = "text",
                  max_query_terms: int = 25, min_term_freq: int = 2,
                  min_doc_freq: int = 5, max_doc_freq: int | None = None,
                  max_num_tokens: int = 5000, boost: bool = False,
                  boost_factor: float = 1.0):
        """MoreLikeThis term selection — the ``like(Reader)`` form
        (``lucene/queries/src/java/org/apache/lucene/queries/mlt/
        MoreLikeThis.java:878-881,625-683``): analyze ``text``, keep terms
        with tf ≥ min_term_freq and min_doc_freq ≤ df (≤ max_doc_freq),
        score each float32 ``tf × idf`` with the Classic idf
        ``(float)(ln((docCount+1)/(df+1)) + 1.0)``
        (``ClassicSimilarity.java:62-64``), and build a SHOULD-only
        BooleanQuery over the best ``max_query_terms`` terms
        (``createQuery``, MoreLikeThis.java:592-611; default unboosted per
        DEFAULT_BOOST=false). The reference's PQ leaves equal-score order
        unspecified; this engine pins the tie-break to term ASC so results
        are deterministic and SQL-oracle-able.

        All driver-side work is O(|text| + selected terms): tokenize one
        string, df lookups through the resident term dictionary — no
        cluster job runs until the returned query executes.
        """
        import numpy as np

        toks = self.analyzer.tokenize_text(text)[:max_num_tokens]
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        cands = sorted(t for t, f in tf.items() if f >= min_term_freq)
        stats = self.reader.term_stats(cands, field=field)
        n_docs = self.reader.field_stats.get(field, {}).get(
            "doc_count", self.reader.doc_count) or self.reader.doc_count
        scored = []
        for t in cands:
            st = stats.get(t)
            if st is None:
                continue
            df = st["df"]
            if df < min_doc_freq or (max_doc_freq is not None
                                     and df > max_doc_freq):
                continue
            idf = np.float32(np.log((n_docs + 1) / np.float64(df + 1))
                             + 1.0)
            scored.append((np.float32(np.float32(tf[t]) * idf), t))
        scored.sort(key=lambda x: (-float(x[0]), x[1]))
        top = scored[:max_query_terms]
        if not top:
            return ast.BooleanQuery(())
        best = float(top[0][0])
        clauses = []
        for s, t in top:
            tq = ast.TermQuery(t, field=field)
            if boost:
                tq = tq.boosted(float(np.float32(boost_factor)
                                      * np.float32(float(s) / best)))
            clauses.append((ast.SHOULD, tq))
        return ast.BooleanQuery(tuple(clauses))

    def more_like_this(self, text: str, k: int = 10, **mlt_opts):
        """Top-k docs most similar to ``text``: :meth:`mlt_query` term
        selection, then the standard scored search (WAND-pruned)."""
        return self.search(self.mlt_query(text, **mlt_opts), k=k)

    def common_terms_query(self, text: str, *, field: str = "text",
                           max_term_frequency: float = 0.01,
                           low_freq_occur=ast.SHOULD,
                           high_freq_occur=ast.SHOULD,
                           low_freq_msm: float = 0.0,
                           high_freq_msm: float = 0.0):
        """CommonTermsQuery rewrite — the df-adaptive stopword-free query
        (``lucene/queries/src/java/org/apache/lucene/queries/
        CommonTermsQuery.java:46-60,173-258``): analyze ``text``, look up
        each distinct term's df through the resident term dictionary, split
        at the threshold (``buildQuery``, :211-219: high iff
        ``maxTermFrequency >= 1 ? df > maxTermFrequency
        : df > round(maxTermFrequency * maxDoc)``; terms absent from the
        index land in the low group like a null TermStates, :206-209), and
        compose:

        * both groups non-empty → ``MUST(lowGroup) + SHOULD(highGroup)``
          (:246-252) — rare terms gate the match, common terms only add
          score;
        * one group empty → that group's BooleanQuery alone (:233-244).

        Group msm follows ``calcLowFreqMinimumNumberShouldMatch``
        (:260-276): applied only when the group occur is SHOULD, fractional
        values resolve to ``round(msm * n_group_terms)``.

        Divergence (documented): duplicate query terms collapse to one
        clause (the reference's Multiset keeps duplicates and scores them
        twice); ``maxDoc`` is the field's doc_count (identical here — every
        transcript turn has text). All work is driver-side: one tokenize +
        one term-dict lookup; no cluster job until the returned query runs.
        """
        seen: set[str] = set()
        terms = [t for t in self.analyzer.tokenize_text(text)
                 if not (t in seen or seen.add(t))]
        if not terms:
            return ast.BooleanQuery(())
        stats = self.reader.term_stats(terms, field=field)
        n_docs = self.reader.field_stats.get(field, {}).get(
            "doc_count", self.reader.doc_count) or self.reader.doc_count
        if max_term_frequency >= 1.0:
            cut = float(max_term_frequency)
        else:  # Java Math.round = floor(x + 0.5) — positive args only here
            cut = float(int(max_term_frequency * n_docs + 0.5))
        low, high = [], []
        for t in terms:
            st = stats.get(t)
            (high if st is not None and st["df"] > cut else low).append(t)

        def _msm(msm: float, n: int, occur) -> int:
            if occur != ast.SHOULD or msm <= 0:
                return 0
            return int(msm) if msm >= 1.0 else int(msm * n + 0.5)

        def _group(ts, occur, msm):
            return ast.BooleanQuery(
                tuple((occur, ast.TermQuery(t, field)) for t in ts),
                min_should_match=_msm(msm, len(ts), occur))

        low_q = _group(low, low_freq_occur, low_freq_msm)
        high_q = _group(high, high_freq_occur, high_freq_msm)
        if not low:
            return high_q
        if not high:
            return low_q
        return ast.BooleanQuery(((ast.MUST, low_q), (ast.SHOULD, high_q)))

    def explain(self, query, doc_id: int) -> dict:
        """Score explanation for one document — the
        ``IndexSearcher.explain(Query, int)`` analogue
        (``core/search/IndexSearcher.java`` / ``Weight.explain``): a dict
        with ``match``, float32 ``total``, and one entry per clause holding
        the stats that produced its contribution (occur, df, ttf, weight,
        tf, norm code, decoded length, float32 score).

        Flat term/boolean queries only (the shapes the clause kernel
        scores); the work is one pushed-down postings fetch for the query's
        terms in the doc's segment plus one docs-row lookup.
        """
        import numpy as np
        from pyspark.sql import functions as F

        from lucene_spark.indexing.blocks import decode_block

        if isinstance(query, str):
            query = self.parse(query)
        query = ast.normalize(query)
        if isinstance(query, ast.PhraseQuery):
            return self._explain_phrase(query, doc_id)
        if isinstance(query, (ast.MultiTermQuery, ast.ConstantScoreQuery,
                              ast.MatchAllDocsQuery) + ast.SPAN_QUERY_TYPES):
            # CONSTANT_SCORE shapes (multiterm rewrite, const wrapper,
            # match-all, span family): matched → score == boost
            from pyspark.sql import functions as F

            b = float(np.float32(getattr(query, "boost", 1.0)))
            hit = bool(self.match_df(query)
                       .filter(F.col("doc_id") == int(doc_id)).take(1))
            return {"doc_id": int(doc_id), "match": hit,
                    "total": b if hit else 0.0,
                    "clauses": [{"kind": type(query).__name__,
                                 "occur": ast.MUST,
                                 "score": b if hit else None}]}
        if isinstance(query, ast.BooleanQuery) and any(
            not isinstance(sub, ast.TermQuery) for _, sub in query.clauses
        ):
            return self._explain_mixed(query, doc_id)
        wc = self._weighted_clauses(query)
        base = {"doc_id": int(doc_id), "match": False,
                "total": 0.0, "clauses": []}
        if wc is None:
            return base
        specs, msm = wc
        loc = self._doc_location(doc_id)
        if loc is None:
            return base  # deleted or out of range
        seg, local, norm_code, dlen = loc

        sep = self.FIELD_SEP
        by_field: dict[str, list[str]] = {}
        for c in specs:
            f, t = c.term.split(sep, 1)
            by_field.setdefault(f, []).append(t)
        tf_of: dict[tuple, int] = {}
        for f, ts in by_field.items():
            rows = (self.reader.postings(ts, field=f)
                    .filter((F.col("seg") == int(seg))
                            & (F.col("first_doc") <= local)
                            & (F.col("last_doc") >= local))
                    .select("term", "first_doc", "count",
                            "doc_gaps", "tfs")
                    .collect())
            for r in rows:
                docs, tfs = decode_block(
                    r["first_doc"], r["count"], r["doc_gaps"], r["tfs"])
                j = np.searchsorted(docs, local)
                if j < docs.size and docs[j] == local:
                    tf_of[(f, r["term"])] = int(tfs[j])

        total = np.float64(0.0)  # f64 sum -> one f32 cast, the kernel's order
        n_must = n_must_hit = n_should = n_should_hit = 0
        prohibited_hit = False
        any_scoring_hit = False
        stats_of = {}
        for f, ts in by_field.items():
            stats_of.update({(f, t): v for t, v in
                             self.reader.term_stats(ts, field=f).items()})
        for c in specs:
            f, t = c.term.split(sep, 1)
            tf = tf_of.get((f, t), 0)
            st = stats_of.get((f, t), {})
            entry = {"field": f, "term": t, "occur": c.occur,
                     "df": st.get("df"), "ttf": st.get("ttf"),
                     "weight": float(c.weight), "tf": tf,
                     "norm": norm_code, "dlen": dlen, "score": 0.0}
            if c.occur == ast.MUST_NOT:
                if tf > 0:
                    prohibited_hit = True
                    entry["score"] = None
                base["clauses"].append(entry)
                continue
            if c.occur in (ast.MUST, ast.FILTER):
                # FILTER is required-but-scoreless — the kernel counts it in
                # req_per_term (wand.py:76-81), so explain must too (ADVICE r3)
                n_must += 1
                n_must_hit += tf > 0
            elif c.occur == ast.SHOULD:
                n_should += 1
                n_should_hit += tf > 0
            if tf > 0 and c.scorer is not None:
                s = np.float32(c.scorer.score(
                    np.array([tf], dtype=np.int64),
                    np.array([norm_code], dtype=np.int64))[0])
                entry["score"] = float(s)
                total = total + np.float64(s)
                any_scoring_hit = True
            elif tf > 0:
                any_scoring_hit = True  # FILTER clause matched
            base["clauses"].append(entry)
        matched = (not prohibited_hit and n_must_hit == n_must
                   and n_should_hit >= (msm or 0)
                   and (any_scoring_hit or n_must > 0))
        if n_must == 0 and n_should > 0 and n_should_hit == 0:
            matched = False
        base["match"] = bool(matched)
        base["total"] = float(np.float32(total)) if matched else 0.0
        return base

    def _doc_location(self, doc_id: int):
        """(seg, local docID, norm_code, decoded length) for a live global
        docID, or None."""
        import numpy as np
        from pyspark.sql import functions as F

        from lucene_spark.smallfloat import byte4_to_int

        seg, docbase = None, 0
        for s, off in sorted(self.reader.offsets.items(),
                             key=lambda kv: kv[1]):
            if off <= doc_id:
                seg, docbase = s, off
        if seg is None:
            return None
        drow = (self.reader.docs(live_only=True)
                .filter(F.col("doc_id") == int(doc_id))
                .select("dl", "norm").collect())
        if not drow:
            return None
        norm_code = int(drow[0]["norm"])
        return (int(seg), int(doc_id) - int(docbase), norm_code,
                int(byte4_to_int(np.array([norm_code]))[0]))

    def _explain_phrase(self, q, doc_id: int) -> dict:
        """Phrase-query explain: the phrase scores as ONE pseudo-term with
        summed idf (PhraseWeight semantics); the breakdown reports each
        term's df plus the matched phrase freq (float32 Σ 1/(1+matchLength)
        when sloppy)."""
        import numpy as np

        from lucene_spark.search.phrase import segment_phrase_postings

        base = {"doc_id": int(doc_id), "match": False, "total": 0.0,
                "clauses": []}
        terms = list(q.terms)
        stats = self.reader.term_stats(terms, field=q.field)
        if any(t not in stats or stats[t]["df"] == 0 for t in terms):
            return base
        loc = self._doc_location(doc_id)
        if loc is None:
            return base
        seg, local, norm_code, dlen = loc
        from pyspark.sql import functions as F

        rows = (self.reader.postings(terms, field=q.field)
                .filter(F.col("seg") == seg).drop("doc_offset").toPandas())
        docs, freqs, _norms = segment_phrase_postings(rows, terms,
                                                      slop=int(q.slop))
        j = np.searchsorted(docs, local)
        freq = float(freqs[j]) if (j < docs.size and docs[j] == local) else 0.0
        scorer = self.reader.similarity_scorer(
            self.similarity, q.boost, [stats[t]["df"] for t in terms])
        for t in terms:
            base["clauses"].append({
                "field": q.field, "term": t, "occur": ast.MUST,
                "df": stats[t]["df"], "ttf": stats[t]["ttf"],
                "weight": float(scorer.weight), "tf": None,
                "norm": norm_code, "dlen": dlen, "score": None})
        base["phrase_freq"] = freq
        if freq > 0.0:
            dt = np.float32 if q.slop else np.int64
            s = np.float32(scorer.score(
                np.array([freq], dtype=dt),
                np.array([norm_code], dtype=np.int64))[0])
            base["match"] = True
            base["total"] = float(s)
        return base

    def _explain_mixed(self, q, doc_id: int) -> dict:
        """Mixed-boolean explain (phrase / multiterm / keyword clauses
        inside a boolean): per-clause contributions computed for ONE doc
        with the same float32 formula as the mixed kernel
        (:func:`segment_boolean_mixed`)."""
        import numpy as np
        from pyspark.sql import functions as F

        from lucene_spark.search.phrase import segment_phrase_postings

        base = {"doc_id": int(doc_id), "match": False, "total": 0.0,
                "clauses": []}
        mc = self._mixed_clauses(q)
        if mc is None:
            return base
        clauses, cache, msm, _field_terms, _need_positions = mc
        loc = self._doc_location(doc_id)
        if loc is None:
            return base
        seg, local, norm_code, dlen = loc
        sep = self.FIELD_SEP
        inv = np.float32(cache[norm_code & 0xFF])

        # one pushed-down postings fetch per field for this segment
        # (recursing into nested boolean clauses; docset clauses carry
        # pre-resolved docs, no postings needed)
        by_field: dict[str, set] = {}

        def _collect_fields(cls):
            for c in cls:
                if c["kind"] == "nested":
                    _collect_fields(c["clauses"])
                elif c["kind"] == "span":
                    f = c["field"]
                    ts = [t.split(sep, 1)[1] for slot in c["slots"]
                          for t in slot]
                    by_field.setdefault(f, set()).update(ts)
                elif c["kind"] == "interval":
                    from lucene_spark.search import intervals as iv

                    by_field.setdefault(c["field"], set()).update(
                        iv.source_terms(c["source_raw"]))
                elif c["kind"] not in ("docset", "matchall"):
                    f = c["field"]
                    ts = [t.split(sep, 1)[1] for t in c["terms"]]
                    by_field.setdefault(f, set()).update(ts)

        _collect_fields(clauses)
        rows_of = {}
        for f, ts in by_field.items():
            df = (self.reader.postings(sorted(ts), field=f)
                  .filter(F.col("seg") == seg).drop("doc_offset"))
            rows_of[f] = df.toPandas()

        def tf_of(f, t):
            from lucene_spark.indexing.blocks import decode_block

            pdf = rows_of[f]
            m = pdf[(pdf["term"] == t) & (pdf["first_doc"] <= local)
                    & (pdf["last_doc"] >= local)]
            for _, r in m.iterrows():
                docs, tfs = decode_block(r["first_doc"], r["count"],
                                         r["doc_gaps"], r["tfs"])
                j = np.searchsorted(docs, local)
                if j < docs.size and docs[j] == local:
                    return int(tfs[j])
            return 0

        def _eval_list(cls, node_msm):
            """(entries, matched, f32 total) for one clause list — the
            recursive mirror of phrase._eval_boolean, so nested boolean and
            docset (KNN) clauses explain exactly like they score."""
            total = np.float64(0.0)
            n_req = n_req_hit = n_should = n_should_hit = 0
            prohibited = False
            any_hit = False
            entries = []
            for c in cls:
                occ = c["occur"]
                if c["kind"] == "nested":
                    sub, sub_match, sub_total = _eval_list(
                        c["clauses"], c.get("msm", 0))
                    freq = 1.0 if sub_match else 0.0
                    s = np.float32(sub_total)
                    entry = {"kind": "nested", "occur": occ, "freq": freq,
                             "clauses": sub, "score": None}
                elif c["kind"] == "docset":
                    docs = np.asarray(c["docs"], dtype=np.int64)
                    j = int(np.searchsorted(docs, int(doc_id)))
                    hit = j < docs.size and int(docs[j]) == int(doc_id)
                    freq = 1.0 if hit else 0.0
                    s = np.float32(c["scores"][j]) if hit else np.float32(0)
                    entry = {"kind": "docset", "occur": occ, "freq": freq,
                             "score": None}
                elif c["kind"] == "matchall":
                    # MatchAllDocsQuery clause: every live doc matches at
                    # the constant f32 weight (the explained doc passed
                    # _doc_location's live check above)
                    freq = 1.0
                    s = np.float32(c["weight"])
                    entry = {"kind": "matchall", "occur": occ, "freq": freq,
                             "weight": float(s), "score": None}
                elif c["kind"] == "span":
                    # span clause: constant-score membership for this doc,
                    # same kernel as the distributed path (rows here carry
                    # RAW terms and segment-local docIDs)
                    from lucene_spark.search.phrase import segment_span_near

                    raw_slots = [tuple(t.split(sep, 1)[1] for t in slot)
                                 for slot in c["slots"]]
                    d = segment_span_near(rows_of[c["field"]], raw_slots,
                                          c["slop"], c["in_order"])
                    hit = bool(np.isin(local, d).any())
                    freq = 1.0 if hit else 0.0
                    s = np.float32(c["weight"]) if hit else np.float32(0)
                    entry = {"kind": "span", "occur": occ, "freq": freq,
                             "weight": float(np.float32(c["weight"])),
                             "score": None}
                elif c["kind"] == "interval":
                    # IntervalQuery clause: saturation score for this doc
                    # from the minimal-interval kernel
                    from lucene_spark.search.intervals import (
                        segment_interval_postings,
                    )

                    d, sarr = segment_interval_postings(
                        rows_of[c["field"]], c["source_raw"], c["pivot"],
                        c["weight"])
                    j = int(np.searchsorted(d, local))
                    hit = j < d.size and int(d[j]) == int(local)
                    freq = 1.0 if hit else 0.0
                    s = np.float32(sarr[j]) if hit else np.float32(0)
                    entry = {"kind": "interval", "occur": occ, "freq": freq,
                             "pivot": c["pivot"], "score": None}
                else:
                    f = c["field"]
                    raw_terms = [t.split(sep, 1)[1] for t in c["terms"]]
                    w = np.float32(c["weight"])
                    if c["kind"] == "phrase":
                        docs, freqs, _nm = segment_phrase_postings(
                            rows_of[f], raw_terms, c.get("slop", 0))
                        j = np.searchsorted(docs, local)
                        freq = float(freqs[j]) if (
                            j < docs.size and docs[j] == local) else 0.0
                    elif c["kind"] == "const":
                        freq = (1.0 if any(tf_of(f, t) for t in raw_terms)
                                else 0.0)
                    elif c["kind"] == "synonym":
                        # blended pseudo-term: freq = Σ member tf
                        freq = float(sum(tf_of(f, t) for t in raw_terms))
                    else:
                        freq = float(tf_of(f, raw_terms[0]))
                    if c["kind"] == "const":
                        s = w
                    else:
                        tf32 = np.float32(freq)
                        denom = np.float32(np.float32(1.0)
                                           + np.float32(tf32 * inv))
                        s = np.float32(w - np.float32(w / denom))
                    entry = {"field": f, "kind": c["kind"], "occur": occ,
                             "terms": raw_terms if len(raw_terms) > 1
                             else raw_terms[0],
                             "weight": float(w), "freq": freq,
                             "norm": norm_code, "dlen": dlen, "score": None}
                if occ == ast.MUST_NOT:
                    if freq > 0:
                        prohibited = True
                    entries.append(entry)
                    continue
                if occ in (ast.MUST, ast.FILTER):
                    n_req += 1
                    n_req_hit += freq > 0
                elif occ == ast.SHOULD:
                    n_should += 1
                    n_should_hit += freq > 0
                if freq > 0:
                    any_hit = True
                    if occ in (ast.MUST, ast.SHOULD):
                        entry["score"] = float(s)
                        total = total + np.float64(s)
                entries.append(entry)
            matched = (not prohibited and n_req_hit == n_req
                       and n_should_hit >= (node_msm or 0) and any_hit
                       and (n_req > 0
                            or n_should_hit >= max(1, node_msm or 0)))
            return entries, bool(matched), float(np.float32(total))

        entries, matched, total32 = _eval_list(clauses, msm)
        base["clauses"] = entries
        base["match"] = matched
        base["total"] = total32 if matched else 0.0
        return base
