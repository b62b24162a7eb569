"""Incremental / streaming index maintenance — segment appends.

The near-real-time story of the reference (``core/search/SearcherManager.java``
/ ``DirectoryReader.openIfChanged``: new flushes publish new segments, readers
re-open a newer point-in-time view) mapped to Spark: each micro-batch becomes
one-or-more NEW immutable segments appended after the existing ones; the
manifest rewrite is the commit point (``segments_N`` analogy — readers opened
after the atomic manifest replace see the new segments, open readers keep
their view).

docID semantics are exactly Lucene's: arrival order. Batch b's documents get
docIDs after everything already committed, ordered by (conv_id, turn_idx)
within the batch (``core/index/DocumentsWriterPerThread.java:242`` —
``processDocument(numDocsInRAM++, doc)``).

Exactly-once: ``foreachBatch`` may replay a batch after failure; the manifest
records applied epoch ids and ``append`` is a no-op for an epoch it has
already committed (idempotent sink + Spark source checkpointing = end-to-end
exactly-once).
"""

from __future__ import annotations

import os

from lucene_spark.indexing import tableio
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.indexing.partitioning import (
    collision_free_skeys,
    plan_boundaries,
    segment_col,
    skey_col,
)


class IncrementalIndexer:
    """Append micro-batches of transcripts to an on-disk index.

    ``auto_compact_segments`` (the ConcurrentMergeScheduler analogue,
    ``core/index/ConcurrentMergeScheduler.java`` — merge work triggered by
    writer activity, not an operator): when an append leaves more than this
    many segments, the tiered merge policy runs inline after the commit,
    compacting consecutive small runs up to ``auto_compact_rows`` live rows
    per merged segment. 0 disables (the default — batch jobs drive
    ``jobs/maintain.py`` instead). The compaction is itself a single atomic
    manifest commit, so a crash between append and auto-compact just leaves
    an uncompacted (valid) index."""

    # stats generations surviving GC beyond the current one — readers opened
    # within the last N appends keep valid file pointers (ADVICE r2 #4)
    GC_KEEP_GENERATIONS = 4

    def __init__(self, spark, index_dir: str, analyzer: str = "standard",
                 rows_per_segment: int = 31_250, positions: bool = True,
                 auto_compact_segments: int = 0,
                 auto_compact_rows: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self.analyzer = analyzer
        self.rows_per_segment = rows_per_segment
        self.positions = positions
        self.auto_compact_segments = int(auto_compact_segments)
        self.auto_compact_rows = auto_compact_rows or rows_per_segment * 8
        self._builder = IndexBuilder(spark, index_dir, analyzer=analyzer,
                                     positions=positions)

    def _maybe_compact(self, result: dict) -> dict:
        """Post-commit merge-scheduler hook (see class docstring)."""
        if not self.auto_compact_segments:
            return result
        m = self._builder._load_manifest()
        if m is None or m.get("num_segments", 0) <= self.auto_compact_segments:
            return result
        from lucene_spark.indexing.maintenance import IndexMaintenance

        out = IndexMaintenance(self.spark, self.index_dir).compact(
            target_rows=self.auto_compact_rows)
        result["auto_compacted"] = {
            "merged_runs": out.get("merged_runs", 0),
            "num_segments": out.get("num_segments"),
        }
        return result

    def append(self, batch_df, epoch_id: int | None = None,
               extra_manifest: dict | None = None) -> dict:
        """Append one batch as new segments. Idempotent per epoch_id.
        ``extra_manifest``: extra fields published by the same atomic
        manifest commit (the update-document path's delete flags)."""
        from pyspark.sql import functions as F

        from lucene_spark.indexing import builder as B

        b = self._builder
        manifest = b._load_manifest()
        if manifest is None:
            # first batch bootstraps a normal build; applied_epochs rides
            # the build's OWN manifest save (one commit — a second save
            # would open a crash window where an epoch-0 replay re-appends
            # the already-built batch)
            n = batch_df.count()
            b.num_segments = max(1, n // self.rows_per_segment)
            res = b.build(batch_df, extra_manifest={
                "applied_epochs":
                    [] if epoch_id is None else [int(epoch_id)],
            })
            return self._maybe_compact(res)
        applied = manifest.get("applied_epochs", [])
        if epoch_id is not None and int(epoch_id) in applied:
            return {"doc_count": manifest["doc_count"], "built": 0,
                    "reused": 0, "skipped_epoch": int(epoch_id)}

        n = batch_df.count()
        if n == 0:
            return {"doc_count": manifest["doc_count"], "built": 0, "reused": 0}
        nseg = max(1, n // self.rows_per_segment)
        boundaries = plan_boundaries(batch_df, nseg)
        nseg = len(boundaries) + 1
        # disk-scan allocation: never reuse a segment id still on disk
        # (post-rollback orphans may be pinned by other commit snapshots)
        from lucene_spark.indexing import commits as _commits

        base_seg = _commits.next_segment_base(self.index_dir, manifest)
        skeys = collision_free_skeys(nseg)

        with_seg = batch_df.withColumn("segment", segment_col(boundaries)) \
            .withColumn("segment", (F.col("segment") + F.lit(base_seg)).cast("int"))
        shuffled = (
            with_seg.select("segment", "conv_id", "turn_idx", "text")
            .withColumn("skey", skey_col([0] * base_seg + skeys))
            .repartition(nseg, "skey")
            .drop("skey")
            .sortWithinPartitions("segment", "conv_id", "turn_idx")
        )
        invert = B._make_invert_fn(self.index_dir, self.analyzer, self.positions)
        metrics = shuffled.mapInPandas(invert, B.METRICS_SCHEMA).collect()
        rows = sorted((r.asDict() for r in metrics), key=lambda r: r["segment"])

        offsets = {int(k): int(v) for k, v in manifest["offsets"].items()}
        acc = manifest["doc_count"]
        for r in rows:
            offsets[r["segment"]] = acc
            acc += r["rows_in"]
            r["doc_offset"] = offsets[r["segment"]]

        self._extend_build_manifest(rows)

        # incremental stats merge: new segments only (stats are sums), not
        # an O(index-size) full rewrite per micro-batch. Written to a NEW
        # generation dir; the manifest replace below is the SINGLE commit
        # point that publishes segments + stats + epoch together, so a
        # replayed epoch never double-counts (exactly-once preserved).
        old_sdirs = b._stats_dirs(manifest)
        # disk-scan generation number (never reuse a post-rollback orphan's
        # name — another snapshot may pin it; see commits.next_generation)
        gen = _commits.next_generation(
            self.index_dir, manifest, ("term_stats", "field_stats"),
            "stats_gen")
        sdirs = b._merge_stats([r["segment"] for r in rows],
                               suffix=f".g{gen}", doc_count=acc)
        manifest["doc_count"] = acc
        manifest["offsets"] = {str(k): v for k, v in sorted(offsets.items())}
        manifest["num_segments"] = len(offsets)
        manifest["stats_dirs"] = sdirs
        manifest["stats_gen"] = gen
        if extra_manifest:
            manifest.update(extra_manifest)
        if epoch_id is not None:
            manifest["applied_epochs"] = applied + [int(epoch_id)]
        b._save_manifest(manifest)  # atomic commit point
        # post-commit GC — keep a WINDOW of recent generations so readers
        # opened up to GC_KEEP_GENERATIONS appends ago stay valid (an open
        # reader pins its generation's files lazily); older readers must
        # re-open, the documented NRT contract (SearcherManager re-open)
        keep = set(sdirs.values()) | set(old_sdirs.values())
        for g in range(max(1, gen - self.GC_KEEP_GENERATIONS), gen):
            keep |= {f"term_stats.g{g}", f"field_stats.g{g}"}
        if gen - self.GC_KEEP_GENERATIONS <= 0:
            keep |= {"term_stats", "field_stats"}
        b._gc_stats_generations(keep=keep)
        return self._maybe_compact(
            {"doc_count": acc, "built": len(rows), "reused": 0})

    def _extend_build_manifest(self, rows: list[dict]):
        """Add ``rows`` to the build_manifest (lineage) and publish it with
        the crash-safe swap. Idempotent under epoch replay: rows for
        re-appended segment ids replace any half-committed rows from a
        crashed attempt instead of duplicating."""
        live = IndexBuilder.recover_build_manifest(self.index_dir)
        new_ids = {int(r["segment"]) for r in rows}
        prev = (tableio.read_table(live).to_pylist()
                if os.path.isdir(live) else [])
        tmp = f"{self.index_dir}/build_manifest.tmp"
        tableio.write_table(
            [r for r in prev if int(r["segment"]) not in new_ids] + rows,
            tableio.BUILD_MANIFEST_SCHEMA, tmp)
        IndexBuilder.swap_build_manifest(self.index_dir, tmp)

    def update(self, batch_df, delete_term: str, delete_field: str = "text",
               epoch_id: int | None = None) -> dict:
        """``updateDocument`` analogue (``core/index/IndexWriter.java:1468-1530``):
        atomically delete every EXISTING doc containing
        ``(delete_field, delete_term)`` and append ``batch_df`` — the
        append's single manifest commit publishes the deletes and the new
        segments together. As in Lucene, the delete applies only to docs
        present before the update; the appended docs are untouched even if
        they contain the term. Idempotent per epoch (live-docs marking is a
        set union; the append is content-idempotent)."""
        from lucene_spark.indexing.maintenance import IndexMaintenance, live_dir_of

        b = self._builder
        manifest = b._load_manifest()
        if manifest is None:
            return self.append(batch_df, epoch_id=epoch_id)
        applied = manifest.get("applied_epochs", [])
        if epoch_id is not None and int(epoch_id) in applied:
            return {"doc_count": manifest["doc_count"], "built": 0,
                    "reused": 0, "skipped_epoch": int(epoch_id)}
        mnt = IndexMaintenance(self.spark, self.index_dir)
        # copy-on-write staging: a NEW live-docs generation, invisible until
        # the commit flips the pointer. deleted_count is an absolute recount,
        # so a crashed-then-replayed epoch republishes the same state — no
        # lost deletes and no double counting.
        staged = mnt.stage_deletes(delete_term, field=delete_field)
        n_del = staged.pop("newly_deleted")
        old_live = live_dir_of(manifest)
        if batch_df.count() == 0:  # pure-delete update
            m = b._load_manifest()
            m.update(staged)
            if epoch_id is not None:
                m["applied_epochs"] = applied + [int(epoch_id)]
            b._save_manifest(m)
            out = {"doc_count": m["doc_count"], "built": 0, "reused": 0}
        else:
            out = self.append(batch_df, epoch_id=epoch_id,
                              extra_manifest=staged)
        # keep the same GC_KEEP_GENERATIONS window the stats GC honors:
        # a reader opened up to K appends ago still holds its pinned
        # live-docs generation (keeping only {new, previous} deleted a
        # 2-generation-old reader's point-in-time view mid-query)
        gen = int(staged.get("live_gen", 0))
        keep = {staged["live_dir"], old_live} | {
            f"live_docs.g{g}"
            for g in range(max(1, gen - self.GC_KEEP_GENERATIONS + 1), gen)
        }
        if gen - self.GC_KEEP_GENERATIONS + 1 <= 0:
            keep.add("live_docs")  # the unsuffixed gen-0 dir
        mnt._gc_live_generations(keep=keep)
        out["deleted"] = n_del
        return out

    def add_indexes(self, src_dir: str) -> dict:
        """``IndexWriter.addIndexes(Directory...)`` analogue
        (``core/index/IndexWriter.java`` addIndexes — the Directory variant
        COPIES the source segments as-is, no re-analysis or merge): the
        source index's segment partitions are copied into this index under
        renumbered ``seg=N`` ids with shifted docBases, then stats merge
        incrementally exactly like an append and ONE atomic manifest
        replace publishes segments + stats + offsets together.

        Constraints (both checked): the source must be delete-free (run
        ``compact()`` on it first — the copy variant does not rewrite
        postings, so it cannot apply live-docs) and must share the
        field/analyzer/positions/keyword-field configuration. Like Lucene's
        addIndexes, the call is NOT idempotent — calling twice adds the
        documents twice.

        Scale shape: pure file copies (no shuffle, no re-tokenize, no
        postings rewrite) + the O(new segments + dictionary) stats merge —
        the same cost Lucene pays copying segment files between
        directories.
        """
        import json
        import shutil

        b = self._builder
        manifest = b._load_manifest()
        if manifest is None:
            raise ValueError("target index has no manifest — build it first")
        with open(f"{src_dir}/manifest.json", encoding="utf-8") as f:
            src = json.load(f)
        if src.get("has_deletes"):
            raise NotImplementedError(
                "addIndexes from an index with deletes — compact() the "
                "source first (the Directory copy variant cannot apply "
                "live-docs)")
        if src.get("dv_updates"):
            raise NotImplementedError(
                "addIndexes from an index with doc-values updates — the "
                "copy variant does not remap the source's dv generation "
                "docIDs (compact-fold support lives on the target side "
                "only)")
        for k in ("field", "analyzer", "positions", "keyword_fields"):
            if manifest.get(k) != src.get(k):
                raise ValueError(
                    f"config mismatch on {k!r}: "
                    f"{manifest.get(k)!r} != {src.get(k)!r}")
        from lucene_spark.indexing import commits as _commits

        # disk-scan allocation (see append path): ids disjoint from every
        # seg dir on disk, incl. post-rollback orphans pinned by snapshots
        base_seg = _commits.next_segment_base(self.index_dir, manifest)
        src_offs = sorted(((int(k), int(v)) for k, v in src["offsets"].items()),
                          key=lambda kv: kv[1])
        offsets = {int(k): int(v) for k, v in manifest["offsets"].items()}
        doc_count = int(manifest["doc_count"])
        new_ids, seg_map = [], {}
        for i, (s, off) in enumerate(src_offs):
            new = base_seg + i
            seg_map[s] = (new, doc_count + off)
            for table in ("postings", "docs"):
                sp = f"{src_dir}/{table}/seg={s}"
                dp = f"{self.index_dir}/{table}/seg={new}"
                if os.path.isdir(dp):  # crashed earlier attempt
                    shutil.rmtree(dp)
                shutil.copytree(sp, dp)
            offsets[new] = doc_count + off
            new_ids.append(new)

        # lineage: remap the source's build_manifest rows into ours
        src_bm = IndexBuilder.recover_build_manifest(src_dir)
        if os.path.isdir(src_bm):
            rows = tableio.read_table(src_bm).to_pylist()
            for r in rows:
                r["segment"], r["doc_offset"] = seg_map[int(r["segment"])]
            self._extend_build_manifest(rows)

        old_sdirs = b._stats_dirs(manifest)
        # disk-scan generation number (never reuse a post-rollback orphan's
        # name — another snapshot may pin it; see commits.next_generation)
        gen = _commits.next_generation(
            self.index_dir, manifest, ("term_stats", "field_stats"),
            "stats_gen")
        manifest["doc_count"] = doc_count + int(src["doc_count"])
        sdirs = b._merge_stats(new_ids, suffix=f".g{gen}",
                               doc_count=manifest["doc_count"])
        manifest["offsets"] = {str(k): v for k, v in sorted(offsets.items())}
        manifest["num_segments"] = len(offsets)
        manifest["stats_dirs"] = sdirs
        manifest["stats_gen"] = gen
        b._save_manifest(manifest)  # atomic commit point
        keep = set(sdirs.values()) | set(old_sdirs.values())
        for g in range(max(1, gen - self.GC_KEEP_GENERATIONS), gen):
            keep |= {f"term_stats.g{g}", f"field_stats.g{g}"}
        if gen - self.GC_KEEP_GENERATIONS <= 0:
            keep |= {"term_stats", "field_stats"}
        b._gc_stats_generations(keep=keep)
        return {"doc_count": manifest["doc_count"], "built": 0, "reused": 0,
                "copied_segments": len(new_ids)}

    # -- Structured Streaming sink -----------------------------------------
    def foreach_batch(self):
        """``df.writeStream.foreachBatch(indexer.foreach_batch())``."""
        def fn(batch_df, epoch_id):
            self.append(batch_df, epoch_id=epoch_id)

        return fn

    def write_stream(self, stream_df, checkpoint_dir: str, **trigger):
        """Attach the indexer as a streaming sink (exactly-once with the
        source checkpoint)."""
        return (
            stream_df.writeStream
            .foreachBatch(self.foreach_batch())
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )
