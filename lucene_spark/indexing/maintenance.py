"""Index maintenance: deletes (live docs) and segment compaction.

Mirrors the reference's mutation model, Spark-first:

- **delete-by-term** (``core/index/IndexWriter.java:1468-1530``,
  ``Lucene90LiveDocsFormat``): deletes never touch postings — each segment
  gets a side parquet of DELETED local docIDs
  (``live_docs/seg=N/part-0.parquet``); absent file = all live. Readers load
  the (tiny) per-segment deleted set inside the per-segment kernel and
  exclude those docs before top-k/count. As in Lucene, collection/term
  statistics are NOT updated by deletes — docFreq counts deleted docs until
  a merge rewrites the segment (``IndexWriter`` semantics) — so scores match
  Lucene's deleted-docs behavior, and match a fresh build only after
  ``compact``.

- **compaction** (``core/index/SegmentMerger.java:104-160``,
  ``core/index/TieredMergePolicy.java:89-95`` in spirit): consecutive small
  segments are merged into one, deleted docs dropped and docIDs renumbered
  densely (exactly Lucene's merge renumbering,
  ``SegmentMerger``/``MergeState.DocMap``). Merging is distributed — one
  Spark task per merge run decodes the run's posting blocks, remaps docIDs,
  re-encodes 128-doc blocks, and writes the merged segment files directly
  (same executor-write pattern as the build's invert pass). Stats are
  recomputed afterwards (the point where deletes leave the statistics).

docID invariant after compact: global docID = row_number over the surviving
docs in (conv_id, turn_idx) order − 1, i.e. identical to a fresh build of
the surviving corpus.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_spark.indexing import tableio
from lucene_spark.indexing.blocks import (
    codec_id,
    encode_segment_blocks,
)
from lucene_spark.indexing.builder import (
    DOCS_SCHEMA,
    POSTINGS_SCHEMA,
    IndexBuilder,
    _atomic_write_parquet,
)

LIVE_SCHEMA = pa.schema([("doc_id", pa.int64())])  # DELETED local docIDs


def deleted_for_segment(index_dir: str, seg: int,
                        live_dir: str = "live_docs") -> np.ndarray:
    """Sorted local docIDs deleted in ``seg`` (empty when none). Runs inside
    executor kernels — index storage is shared, same as the build's direct
    segment writes. ``live_dir`` is the manifest-published generation dir
    (deletes are copy-on-write: a new generation becomes visible only via
    the atomic manifest commit)."""
    path = f"{index_dir}/{live_dir}/seg={seg}/part-0.parquet"
    if not os.path.exists(path):
        return np.zeros(0, dtype=np.int64)
    arr = pq.read_table(path).column("doc_id").to_numpy()
    return np.asarray(arr, dtype=np.int64)


def write_deleted(index_dir: str, seg: int, doc_ids: np.ndarray,
                  live_dir: str = "live_docs"):
    arr = np.unique(np.asarray(doc_ids, dtype=np.int64))
    tbl = pa.Table.from_pydict({"doc_id": arr}, schema=LIVE_SCHEMA)
    _atomic_write_parquet(
        tbl, f"{index_dir}/{live_dir}/seg={seg}/part-0.parquet")


def live_dir_of(manifest: dict) -> str:
    """The manifest-published live-docs generation dir."""
    return manifest.get("live_dir", "live_docs")


def _next_live_gen(index_dir: str, m: dict) -> int:
    """Disk-scan live-docs generation allocation — never reuse a
    post-rollback orphan generation's name (it may be snapshot-pinned)."""
    from lucene_spark.indexing import commits

    return commits.next_generation(index_dir, m, ("live_docs",), "live_gen")


class IndexMaintenance:
    def __init__(self, spark, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        # manifest I/O shares the builder's helpers (one commit protocol)
        self._builder = IndexBuilder(spark, index_dir)

    def _manifest(self) -> dict:
        return self._builder._load_manifest()

    def _save_manifest(self, m: dict):
        self._builder._save_manifest(m)

    # -- deletes ------------------------------------------------------------
    def stage_deletes(self, term: str, field: str = "text") -> dict:
        """Copy-on-write delete marking: build a NEW live-docs generation
        containing every existing deleted set plus the docs matching
        ``(field, term)``, without touching the published generation — inert
        until a caller flips the manifest ``live_dir`` pointer (so open
        readers and pre-commit crashes never see partial deletes, even on an
        index that already has deletes).

        Only manifest-live segments are scanned (inert dirs from a crashed
        compaction are ignored). Returns the manifest fields to publish:
        ``{live_dir, live_gen, has_deletes, deleted_count, newly_deleted}``
        — ``deleted_count`` is an absolute recount, so a replayed epoch
        publishes the same correct state (idempotent).
        """
        from pyspark.sql import functions as F

        index_dir = self.index_dir
        m = self._manifest()
        old_live = live_dir_of(m)
        gen = _next_live_gen(index_dir, m)
        out_live = f"live_docs.g{gen}"
        segs = sorted(int(x) for x in m["offsets"])
        postings = (
            self.spark.read.parquet(f"{index_dir}/postings")
            .filter((F.col("field") == field) & (F.col("term") == term)
                    & F.col("seg").isin(segs))
        )
        cols = ["first_doc", "last_doc", "count", "doc_gaps"]

        def run_segment(pdf: pd.DataFrame) -> pd.DataFrame:
            from lucene_spark.indexing.blocks import decode_doc_ids_batch

            seg = int(pdf["seg"].iloc[0])
            # one batched decode across all of the term's blocks — a hot
            # term's delete touches thousands of blocks per segment
            docs, _ = decode_doc_ids_batch(
                pdf["first_doc"].to_numpy(), pdf["last_doc"].to_numpy(),
                pdf["count"].to_numpy(), list(pdf["doc_gaps"].to_numpy()))
            hit = np.unique(docs)
            old = deleted_for_segment(index_dir, seg, old_live)
            new = np.union1d(old, hit)
            write_deleted(index_dir, seg, new, out_live)
            return pd.DataFrame({"seg": [seg], "n_new": [int(new.size - old.size)],
                                 "n_total": [int(new.size)]})

        out = (
            postings.select("seg", *cols)
            .groupBy("seg")
            .applyInPandas(run_segment, "seg int, n_new long, n_total long")
            .collect()
        )
        written = {int(r["seg"]): (int(r["n_new"]), int(r["n_total"]))
                   for r in out}
        # copy forward segments with existing deletes but no new matches
        total = sum(t for _n, t in written.values())
        n_new = sum(n for n, _t in written.values())
        for seg in segs:
            if seg in written:
                continue
            old = deleted_for_segment(index_dir, seg, old_live)
            if old.size:
                write_deleted(index_dir, seg, old, out_live)
                total += int(old.size)
        return {"live_dir": out_live, "live_gen": gen,
                "has_deletes": total > 0, "deleted_count": total,
                "newly_deleted": n_new}

    def _gc_live_generations(self, keep: set):
        """Remove live-docs generation dirs not in ``keep`` (post-commit;
        keep the previous generation too so open readers stay valid).
        Generations pinned by a commit snapshot are always kept."""
        import glob

        from lucene_spark.indexing import commits

        keep = set(keep) | commits.protected(self.index_dir)["live"]
        for p in glob.glob(f"{self.index_dir}/live_docs*"):
            if os.path.basename(p) not in keep:
                shutil.rmtree(p, ignore_errors=True)

    def delete_by_term(self, term: str, field: str = "text") -> int:
        """Mark every doc containing ``(field, term)`` deleted and commit
        (atomic manifest pointer flip to a new live-docs generation).
        Returns the number of newly deleted docs."""
        staged = self.stage_deletes(term, field)
        m = self._manifest()
        old_live = live_dir_of(m)
        m["live_dir"] = staged["live_dir"]
        m["live_gen"] = staged["live_gen"]
        m["has_deletes"] = staged["has_deletes"]
        m["deleted_count"] = staged["deleted_count"]
        self._save_manifest(m)  # commit point: readers opened after see it
        # keep the previous generation for already-open readers
        self._gc_live_generations(keep={staged["live_dir"], old_live})
        return staged["newly_deleted"]

    def delete_by_query(self, query, searcher=None) -> int:
        """``IndexWriter.deleteDocuments(Query...)``: mark every doc
        matching ``query`` (ANY supported shape — boolean, phrase,
        multiterm, …) deleted and commit atomically. The match set stays
        distributed end-to-end (searcher.match_df → broadcast range join →
        per-segment live-docs write)."""
        from lucene_spark.search.searcher import IndexSearcher

        s = searcher or IndexSearcher(self.spark, self.index_dir)
        staged = stage_deletes_matchset(self, s.match_df(query))
        return _commit_staged_deletes(self, staged)

    # -- numeric doc-values updates ------------------------------------------
    def update_numeric_doc_value(self, field: str, value: int,
                                 term: str | None = None,
                                 term_field: str = "text",
                                 query=None, searcher=None) -> int:
        """``IndexWriter.updateNumericDocValue(Term, String field, long)``
        (``core/index/IndexWriter.java``; generation files =
        ``DocValuesFieldUpdates`` / ``.dvu``): assign ``value`` to the
        doc-values ``field`` of every doc matching ``term`` (or an
        arbitrary ``query`` match set) WITHOUT reindexing. Writes one
        sparse generation dir; the atomic manifest replace is the commit
        point (inert before it, crash-safe). Returns docs updated; a
        no-match update is a no-op (no generation, no commit).

        Scale: the match set stays distributed (searcher.match_df → one
        projection → one parquet write); readers overlay the sparse chain
        (see ``indexing/docvalues.py``) — nothing corpus-sized moves."""
        from pyspark.sql import functions as F

        from lucene_spark.indexing import docvalues
        from lucene_spark.search import ast as _ast
        from lucene_spark.search.searcher import IndexSearcher

        if (term is None) == (query is None):
            raise ValueError("exactly one of term= / query= is required")
        s = searcher or IndexSearcher(self.spark, self.index_dir)
        q = _ast.TermQuery(term, term_field) if term is not None else query
        m = self._manifest()
        gen_dir = docvalues.next_gen_dir(self.index_dir, m, field)
        out = s.match_df(q).select(
            "doc_id", F.lit(int(value)).cast("long").alias("value"))
        out.write.mode("overwrite").parquet(f"{self.index_dir}/{gen_dir}")
        n = self.spark.read.parquet(f"{self.index_dir}/{gen_dir}").count()
        if n == 0:
            shutil.rmtree(f"{self.index_dir}/{gen_dir}", ignore_errors=True)
            return 0
        dv = dict(m.get("dv_updates", {}))
        dv[field] = list(dv.get(field, [])) + [gen_dir]
        m["dv_updates"] = dv
        self._save_manifest(m)  # commit point
        return int(n)

    def _gc_dv_generations(self, keep: set):
        """Remove doc-values generation dirs not in ``keep`` and not
        referenced by any pinned commit snapshot (post-commit GC, same
        policy as live-docs/stats generations)."""
        import glob

        from lucene_spark.indexing import commits

        prot = set()
        for mm in commits.list_snapshots(self.index_dir).values():
            for gens in mm.get("dv_updates", {}).values():
                prot |= set(gens)
        for p in glob.glob(f"{self.index_dir}/dv/*"):
            rel = "dv/" + os.path.basename(p)
            if rel not in keep and rel not in prot:
                shutil.rmtree(p, ignore_errors=True)

    def gc_orphan_segments(self) -> list[int]:
        """Remove ``seg=N`` dirs referenced by neither the live manifest nor
        any commit snapshot — the inert leftovers of ``rollback`` (segments
        committed after the restored commit) and of crashed append attempts.
        ``IndexFileDeleter`` refCount-0 semantics
        (``core/index/IndexFileDeleter.java:66``). Safe under disk-scan id
        allocation (:func:`commits.next_segment_base`): ids are never
        reused, so an orphan can never be a future commit's in-flight data
        written to a recycled id. Driver-side metadata pass only."""
        from lucene_spark.indexing import commits

        m = self._manifest()
        keep = {int(s) for s in m.get("offsets", {})} \
            | commits.protected(self.index_dir)["segs"]
        removed: set[int] = set()
        for table in ("postings", "docs"):
            base = f"{self.index_dir}/{table}"
            if not os.path.isdir(base):
                continue
            for n in os.listdir(base):
                if not n.startswith("seg="):
                    continue
                try:
                    sid = int(n[4:])
                except ValueError:
                    continue
                if sid not in keep:
                    shutil.rmtree(f"{base}/{n}", ignore_errors=True)
                    removed.add(sid)
        return sorted(removed)

    # -- compaction ---------------------------------------------------------
    def plan_merges(self, target_rows: int) -> list[list[int]]:
        """Greedy tiered plan: consecutive runs in GLOBAL DOC ORDER (the
        manifest's doc_offset order — segment ids are opaque after a
        compaction assigns fresh ones) whose total LIVE rows fit in
        ``target_rows``; singleton runs are kept only when the segment has
        deletes to purge."""
        m = self._manifest()
        segs = [int(s) for s, _off in
                sorted(m["offsets"].items(), key=lambda kv: int(kv[1]))]
        bm = tableio.read_table(
            IndexBuilder.recover_build_manifest(self.index_dir),
            columns=["segment", "rows_in"]).to_pydict()
        rows = dict(zip(bm["segment"], bm["rows_in"]))
        ld = live_dir_of(m)
        # one deleted-docs read per segment, reused by the singleton filter
        n_del = {s: deleted_for_segment(self.index_dir, s, ld).size
                 for s in segs}
        live = {s: rows[s] - n_del[s] for s in segs}
        runs, cur, cur_rows = [], [], 0
        for s in segs:
            if cur and cur_rows + live[s] > target_rows:
                runs.append(cur)
                cur, cur_rows = [], 0
            cur.append(s)
            cur_rows += live[s]
        if cur:
            runs.append(cur)
        return [r for r in runs if len(r) > 1 or any(n_del[s] for s in r)]

    def compact(self, target_rows: int = 1_000_000) -> dict:
        """Merge small/deleted segments (one distributed task per run),
        renumber docIDs densely, recompute stats. Equivalent to a fresh
        build of the surviving docs (same docID assignment, same scores).

        Commit protocol: merged segments are written under FRESH segment ids
        and the new stats under a fresh generation dir — both inert to
        readers (the offsets join and the manifest stats pointer ignore
        them) — so the atomic ``manifest.json`` replace is the SINGLE commit
        point. A crash at any earlier moment leaves the old index fully
        intact; old segment dirs and stats generations are garbage-collected
        only after the commit (a crash between commit and GC leaves inert
        stale dirs that the next maintenance pass removes).
        """
        from pyspark.sql import functions as F

        runs = self.plan_merges(target_rows)
        if not runs:
            return {"merged_runs": 0}
        index_dir = self.index_dir
        spark = self.spark
        # re-encode merged blocks with the index's own codec (a pfor index
        # stays pfor through compaction)
        codec = codec_id(self._manifest().get("postings_codec", "varint"))
        manifest = self._manifest()
        live_dir = live_dir_of(manifest)
        bm_rows = tableio.read_table(
            IndexBuilder.recover_build_manifest(index_dir)).to_pylist()
        rows_in = {int(r["segment"]): int(r["rows_in"]) for r in bm_rows}
        old_order = [int(x) for x, _ in
                     sorted(manifest["offsets"].items(),
                            key=lambda kv: int(kv[1]))]
        from lucene_spark.indexing import commits as _commits

        # disk-scan allocation: merged-run ids must not collide with ANY
        # seg dir on disk (post-rollback orphans may be snapshot-pinned)
        base = _commits.next_segment_base(index_dir, manifest)
        run_of = {s: i for i, run in enumerate(runs) for s in run}
        run_list = [list(run) for run in runs]
        new_ids = [base + i for i in range(len(runs))]
        seg_rows = {s: rows_in[s] for run in runs for s in run}

        def run_remap(run_id: int):
            """(bases, live_run_ids): run-local docID remap inputs."""
            segs = run_list[run_id]
            bases, acc = {}, 0
            for s in segs:
                bases[s] = acc
                acc += seg_rows[s]
            dele = [deleted_for_segment(index_dir, s, live_dir) + bases[s]
                    for s in segs]
            deleted = (np.concatenate(dele) if dele
                       else np.zeros(0, np.int64))
            live = np.setdiff1d(np.arange(acc, dtype=np.int64), deleted,
                                assume_unique=True)
            return bases, live

        # --- merge docs tables (one task per run) --------------------------
        docs = spark.read.parquet(f"{index_dir}/docs")
        run_map_expr = F.create_map(
            *[x for s, r in run_of.items() for x in (F.lit(s), F.lit(r))]
        )
        docs_in = docs.filter(F.col("seg").isin(list(run_of))) \
            .withColumn("run", run_map_expr[F.col("seg")])

        def merge_docs(pdf: pd.DataFrame) -> pd.DataFrame:
            run_id = int(pdf["run"].iloc[0])
            bases, live = run_remap(run_id)
            # order by run-local docID (DOC order — after a prior compaction
            # assigned fresh ids, segment-id order no longer matches it)
            run_ids = pdf["doc_id"].to_numpy() + pdf["seg"].map(bases).to_numpy()
            order = np.argsort(run_ids, kind="stable")
            pdf = pdf.iloc[order]
            run_ids = run_ids[order]
            keep = np.isin(run_ids, live)
            sub = pdf.loc[keep]
            tbl = pa.Table.from_pydict(
                {
                    "doc_id": np.arange(int(keep.sum()), dtype=np.int64),
                    "conv_id": sub["conv_id"].to_numpy(dtype=object),
                    "turn_idx": sub["turn_idx"].to_numpy().astype(np.int32),
                    "dl": sub["dl"].to_numpy().astype(np.int32),
                    "norm": sub["norm"].to_numpy().astype(np.int32),
                },
                schema=DOCS_SCHEMA,
            )
            _atomic_write_parquet(
                tbl,
                f"{index_dir}/docs/seg={new_ids[run_id]}/part-0.parquet")
            return pd.DataFrame({"run": [run_id], "rows": [int(keep.sum())]})

        doc_counts = {
            int(r["run"]): int(r["rows"])
            for r in docs_in.groupBy("run")
            .applyInPandas(merge_docs, "run int, rows long").collect()
        }

        # --- merge postings (one task per run) -----------------------------
        postings = spark.read.parquet(f"{index_dir}/postings")
        post_in = postings.filter(F.col("seg").isin(list(run_of))) \
            .withColumn("run", run_map_expr[F.col("seg")])
        pcols = ["seg", "field", "term", "block_id", "first_doc", "last_doc",
                 "count", "doc_gaps", "tfs", "norms", "positions"]
        # a delimited_payload index keeps its per-occurrence payloads (the
        # .pay analogue) through the merge, in the builder's schema
        has_pay = bool(manifest.get("payloads", False))
        schema = POSTINGS_SCHEMA
        if has_pay:
            pcols.append("payloads")
            schema = schema.append(pa.field("payloads", pa.binary()))

        def merge_postings(pdf: pd.DataFrame) -> pd.DataFrame:
            from lucene_spark.indexing.blocks import (decode_blocks_batch,
                                                      decode_posting_bufs,
                                                      decode_positions_batch)

            run_id = int(pdf["run"].iloc[0])
            bases, live = run_remap(run_id)
            new_seg = new_ids[run_id]
            pos_of = {sg: i for i, sg in enumerate(run_list[run_id])}
            out_parts, field_cols = [], []
            # per field: decode blocks in (term, RUN-POSITION, block) order —
            # run position is doc order (segment-id order is not, once a
            # prior compaction assigned fresh ids), so the concatenation is
            # (term, new docID)-sorted and remapping stays monotone. All of
            # a field's blocks decode in ONE batched pass (no per-block
            # Python loop — merges read every posting of the index).
            for fval, fpdf in pdf.groupby("field", sort=True):
                fpdf = fpdf.assign(_pos=fpdf["seg"].map(pos_of))
                fpdf = fpdf.sort_values(["term", "_pos", "block_id"])
                has_pos = any(len(p) > 0 for p in fpdf["positions"])
                counts = fpdf["count"].to_numpy().astype(np.int64)
                d, tf, nm, _ = decode_blocks_batch(
                    fpdf["first_doc"].to_numpy(), fpdf["last_doc"].to_numpy(),
                    counts, list(fpdf["doc_gaps"].to_numpy()),
                    list(fpdf["tfs"].to_numpy()),
                    list(fpdf["norms"].to_numpy()))
                d = d + np.repeat(
                    fpdf["seg"].map(bases).to_numpy(np.int64), counts)
                keep = np.isin(d, live)
                if not keep.any():
                    continue
                terms_flat = np.repeat(fpdf["term"].to_numpy(object), counts)
                pos_flat = pay_flat = None
                if has_pos:
                    flat, _ = decode_positions_batch(
                        list(fpdf["positions"].to_numpy()), tf)
                    pos_flat = flat[np.repeat(keep, tf)].astype(np.int64)
                # keyword fields carry empty payload buffers
                if has_pay and any(len(p) for p in fpdf["payloads"]):
                    pay = decode_posting_bufs(list(fpdf["payloads"]))
                    pay_flat = pay[np.repeat(keep, tf)]
                cols = encode_segment_blocks(
                    terms_flat[keep],
                    np.searchsorted(live, d[keep]).astype(np.int64),
                    tf[keep].astype(np.int64),
                    nm[keep].astype(np.int64),
                    pos_flat=pos_flat,
                    payload_flat=pay_flat,
                    codec=codec,
                )
                if has_pay and pay_flat is None:
                    cols["payloads"] = [b""] * len(cols["term"])
                out_parts.append(cols)
                field_cols.append(
                    np.full(len(cols["term"]), fval, dtype=object))
            if not out_parts:
                tbl = pa.Table.from_pydict(
                    {k: [] for k in schema.names}, schema=schema)
                _atomic_write_parquet(
                    tbl, f"{index_dir}/postings/seg={new_seg}/part-0.parquet")
                return pd.DataFrame({"run": [run_id], "blocks": [0]})
            merged = {
                k: sum((list(p[k]) for p in out_parts), [])
                for k in out_parts[0]
            }
            n_blocks = len(merged["term"])
            tbl = pa.Table.from_pydict(
                {"field": np.concatenate(field_cols), **merged},
                schema=schema,
            )
            _atomic_write_parquet(
                tbl, f"{index_dir}/postings/seg={new_seg}/part-0.parquet")
            return pd.DataFrame({"run": [run_id], "blocks": [n_blocks]})

        post_in.select("run", *pcols).groupBy("run").applyInPandas(
            merge_postings, "run int, blocks long"
        ).collect()

        # --- survivors in global doc order; fresh ids replace their runs ---
        survivors = []  # (seg_id, rows, fingerprint)
        for s in old_order:
            if s in run_of:
                run = run_list[run_of[s]]
                if s == run[0]:
                    # merged fingerprint is unknowable (source rows were
                    # re-numbered / partially deleted) → 0 forces a later
                    # resume to re-invert: conservative, always correct
                    survivors.append((new_ids[run_of[s]],
                                      doc_counts.get(run_of[s], 0), 0))
            else:
                survivors.append((s, rows_in[s],
                                  None))  # keep existing fingerprint row

        fps = {int(r["segment"]): int(r["fingerprint"]) for r in bm_rows}
        offsets, acc = {}, 0
        mrows = []
        for s, n, fp in survivors:
            offsets[s] = acc
            acc += n
            mrows.append({"segment": s,
                          "fingerprint": fps[s] if fp is None else fp,
                          "rows_in": n, "doc_offset": offsets[s],
                          "terms": -1, "blocks": -1, "wall_ms": 0,
                          "status": "merged" if fp is not None else "ok"})

        # stats: full recompute over the SURVIVOR segments into a fresh
        # generation dir — the moment deleted docs leave the statistics
        # (Lucene merge semantics); published by the manifest commit below
        gen = _commits.next_generation(
            index_dir, manifest, ("term_stats", "field_stats"), "stats_gen")
        survivor_ids = [s for s, _n, _fp in survivors]
        self._builder._write_stats(acc, suffix=f".g{gen}", segs=survivor_ids)
        sdirs = {"term_stats": f"term_stats.g{gen}",
                 "field_stats": f"field_stats.g{gen}"}

        # the new build_manifest keeps the OLD manifest-live rows alongside
        # the merged rows: a crash between this swap and the manifest commit
        # leaves every old segment fully described; extra rows are inert and
        # self-healed by the next compact (filtered to manifest segments)
        live_old = {int(x) for x in manifest["offsets"]}
        old_rows = [r for r in bm_rows if int(r["segment"]) in live_old]
        tmp = f"{index_dir}/build_manifest.tmp"
        tableio.write_table(old_rows + mrows, tableio.BUILD_MANIFEST_SCHEMA,
                            tmp)
        # crash-safe swap (rename-aside, never rmtree-the-live-dir): a crash
        # anywhere before the manifest commit below leaves the old index
        # fully readable — the .prev dir is promoted back on next open
        IndexBuilder.swap_build_manifest(index_dir, tmp)

        # --- fold doc-values update chains onto the renumbered docIDs ------
        # (Lucene merges fold the .dvu chain into the merged segment's doc
        # values). Old→new docID recovery is exact through the (conv_id,
        # turn_idx) doc identity — the docID invariant holds on both sides.
        # Deleted docs simply find no join partner and their values drop.
        dv_fields = dict(manifest.get("dv_updates", {}))
        new_dv: dict = {}
        old_dv_dirs = {g for gens in dv_fields.values() for g in gens}
        if dv_fields:
            from lucene_spark.indexing import docvalues as _dv

            all_docs = spark.read.parquet(f"{index_dir}/docs")
            old_offsets = {int(k): int(v)
                           for k, v in manifest["offsets"].items()}
            odf = spark.createDataFrame(
                list(old_offsets.items()), "seg int, off long")
            ndf = spark.createDataFrame(
                list(offsets.items()), "seg int, noff long")
            old_map = (
                all_docs.filter(F.col("seg").isin(list(old_offsets)))
                .join(F.broadcast(odf), "seg")
                .select((F.col("doc_id") + F.col("off")).alias("old_gid"),
                        "conv_id", "turn_idx"))
            new_map = (
                all_docs.filter(F.col("seg").isin(list(offsets)))
                .join(F.broadcast(ndf), "seg")
                .select((F.col("doc_id") + F.col("noff")).alias("doc_id"),
                        "conv_id", "turn_idx"))
            idmap = old_map.join(new_map, ["conv_id", "turn_idx"]) \
                .select("old_gid", "doc_id")
            for fld in sorted(dv_fields):
                merged = _dv.merged_doc_values(spark, index_dir, manifest,
                                               fld)
                # fresh generation number past the existing chain — old
                # gens stay intact for readers holding the old manifest
                out_dir = _dv.next_gen_dir(index_dir, manifest, fld)
                (merged.withColumnRenamed("doc_id", "old_gid")
                 .join(idmap, "old_gid").select("doc_id", "value")
                 .write.mode("overwrite")
                 .parquet(f"{index_dir}/{out_dir}"))
                new_dv[fld] = [out_dir]
            manifest["dv_updates"] = new_dv

        manifest["offsets"] = {str(s): o for s, o in sorted(offsets.items())}
        manifest["doc_count"] = acc
        manifest["num_segments"] = len(offsets)
        old_sdirs = self._builder._stats_dirs(manifest)
        manifest["deleted_count"] = 0
        manifest["has_deletes"] = False
        manifest["live_dir"] = "live_docs"
        manifest["stats_dirs"] = sdirs
        manifest["stats_gen"] = gen
        self._save_manifest(manifest)  # THE commit point

        # --- post-commit GC: old run segments, live docs, old stats gens ---
        # (the immediately-previous stats generation is kept so readers
        # opened just before the commit keep a consistent view)
        from lucene_spark.indexing import commits

        pinned = commits.protected(index_dir)["segs"]
        for run in runs:
            for s in run:
                if s in pinned:  # referenced by a commit snapshot
                    continue
                for sub in ("docs", "postings"):
                    shutil.rmtree(f"{index_dir}/{sub}/seg={s}",
                                  ignore_errors=True)
        self._gc_live_generations(keep={live_dir})
        self._builder._gc_stats_generations(
            keep=set(sdirs.values()) | set(old_sdirs.values()))
        # keep the pre-fold dv generations too (open readers hold the old
        # manifest); the next compact removes them
        self._gc_dv_generations(
            keep={g for gens in new_dv.values() for g in gens} | old_dv_dirs)
        # sweep rollback / crashed-append orphans under the same policy
        # (keep = live manifest ∪ snapshot-pinned)
        self.gc_orphan_segments()
        return {"merged_runs": len(runs), "doc_count": acc,
                "num_segments": len(offsets)}


def stage_deletes_matchset(mnt: "IndexMaintenance", match_df) -> dict:
    """Copy-on-write delete staging from an arbitrary DISTRIBUTED match set
    (global doc_id rows) — the ``deleteDocuments(Query)`` substrate
    (``core/index/IndexWriter.java`` deleteDocuments(Query...)). Same
    commit contract as :meth:`IndexMaintenance.stage_deletes`: a new inert
    live-docs generation, published only by the manifest flip."""
    from pyspark.sql import functions as F

    index_dir = mnt.index_dir
    m = mnt._manifest()
    old_live = live_dir_of(m)
    gen = _next_live_gen(index_dir, m)
    out_live = f"live_docs.g{gen}"
    offs = sorted(((int(s), int(o)) for s, o in m["offsets"].items()),
                  key=lambda kv: kv[1])
    # (seg, lo, hi) global docID ranges — a broadcast range join maps the
    # match set back to (seg, local) without any driver-side doc list
    bounds = []
    for i, (s, o) in enumerate(offs):
        hi = offs[i + 1][1] if i + 1 < len(offs) else (1 << 62)
        bounds.append((s, o, hi))
    bdf = mnt.spark.createDataFrame(bounds, "seg int, lo long, hi long")
    matched = (
        match_df.join(
            F.broadcast(bdf),
            (F.col("doc_id") >= F.col("lo")) & (F.col("doc_id") < F.col("hi")))
        .select("seg", (F.col("doc_id") - F.col("lo")).alias("local"))
    )

    def run_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg"].iloc[0])
        hit = np.unique(pdf["local"].to_numpy(dtype=np.int64))
        old = deleted_for_segment(index_dir, seg, old_live)
        new = np.union1d(old, hit)
        write_deleted(index_dir, seg, new, out_live)
        return pd.DataFrame({"seg": [seg], "n_new": [int(new.size - old.size)],
                             "n_total": [int(new.size)]})

    out = (
        matched.groupBy("seg")
        .applyInPandas(run_segment, "seg int, n_new long, n_total long")
        .collect()
    )
    written = {int(r["seg"]): (int(r["n_new"]), int(r["n_total"]))
               for r in out}
    total = sum(t for _n, t in written.values())
    n_new = sum(n for n, _t in written.values())
    for seg, _o in offs:
        if seg in written:
            continue
        old = deleted_for_segment(index_dir, seg, old_live)
        if old.size:
            write_deleted(index_dir, seg, old, out_live)
            total += int(old.size)
    return {"live_dir": out_live, "live_gen": gen,
            "has_deletes": total > 0, "deleted_count": total,
            "newly_deleted": n_new}


def _commit_staged_deletes(mnt: "IndexMaintenance", staged: dict) -> int:
    m = mnt._manifest()
    old_live = live_dir_of(m)
    m["live_dir"] = staged["live_dir"]
    m["live_gen"] = staged["live_gen"]
    m["has_deletes"] = staged["has_deletes"]
    m["deleted_count"] = staged["deleted_count"]
    mnt._save_manifest(m)
    mnt._gc_live_generations(keep={staged["live_dir"], old_live})
    return staged["newly_deleted"]
