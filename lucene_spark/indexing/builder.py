"""Distributed inverted-index build — one wide shuffle, segment-per-partition.

Execution shape (designed for 10^12 turns / 1000 executors, tested on local[32]):

1. **Plan**: deterministic hash-sample of the sort key ``(conv_id, turn_idx)``
   (single light columnar scan) → range boundaries, persisted in
   ``manifest.json`` so re-runs and resumes partition identically
   (``partitioning.plan_boundaries``).
2. **Invert pass** — the ONLY full scan of the corpus on a fresh build:
   assign ``segment`` (Arrow searchsorted UDF) and a collision-free shuffle
   key (``partitioning.collision_free_skeys`` — exactly one segment per
   shuffle partition, no balls-in-bins stragglers), ``repartition`` +
   ``sortWithinPartitions(conv_id, turn_idx)``, then one Arrow ``mapInPandas``
   that tokenizes, inverts in memory (the DWPT analogy:
   ``core/index/DocumentsWriterPerThread.java:242``), and writes the segment's
   ``docs`` + 128-block ``postings`` parquet directly (pyarrow, atomic
   rename). Only tiny metric rows flow back to Spark.

   **docIDs are segment-local** in the files; the manifest stores each
   segment's global ``doc_offset`` (cumulative row counts in segment order —
   global docID = offset + local == row_number over (conv_id, turn_idx) - 1,
   the SURVEY §1.2 invariant). Readers add the offset at scan time. This is
   what lets a fresh build run without a separate counting pass, and lets a
   resume reuse every unchanged segment even when an *earlier* segment grew.

   Hot-term skew: postings are NEVER shuffled by term — each segment holds its
   own doc-range slice of every hot term's posting list, so a billion-doc term
   costs each task at most its per-segment share. The term-keyed shuffles that
   remain (term_stats) move pre-aggregated counts only.
3. **Stats**: ``term_stats`` is ONE Spark aggregation of the postings
   metadata columns (column-pruned scan with a schema declared from a
   footer, whole-stage codegen, AQE on) and ONE sorted write, ~500k terms
   per file. While the footers' postings row total — an upper bound on
   distinct terms — is under 500k, that is one file with no ``count()`` job
   and no range exchange. ``field_stats`` comes from the dictionary just written (one
   tiny per-field Σdf/Σttf aggregation; the text docCount is Σ ``rows_in``,
   which the build already holds) and is written on the driver, as is
   ``build_manifest`` (``tableio.write_table``). A 4-segment build runs 9
   Spark jobs: plan 3, invert 2, term_stats 2, field_stats 2.

Checkpoint/resume: ``build_manifest`` records per-segment
``(fingerprint, rows_in, doc_offset, terms, blocks, wall_ms, status)``.
A resume runs a cheap fingerprint pass (md5-xor per segment, same function the
invert pass records) and re-inverts only segments whose content fingerprint
changed or whose files are missing; offsets are recomputed for all segments.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_spark.analysis import get_analyzer
from lucene_spark.indexing import tableio
from lucene_spark.indexing.blocks import (POSTINGS_FORMAT, codec_id,
                                           encode_segment_blocks)
from lucene_spark.indexing.partitioning import (
    collision_free_skeys,
    plan_boundaries,
    segment_col,
    skey_col,
    sort_key_expr,
)
from lucene_spark.smallfloat import int_to_byte4

FIELD = "text"

# bump when the stats tables' derivation changes (a resumed build whose
# manifest carries an older version recomputes stats even with zero segment
# changes — self-heals cached indexes); v2 = per-keyword-field field_stats
STATS_VERSION = 2

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),  # segment-LOCAL; global = manifest offset + local
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("dl", pa.int32()),
        ("norm", pa.int32()),
    ]
)

POSTINGS_SCHEMA = pa.schema(
    [
        ("field", pa.string()),
        ("term", pa.string()),
        ("block_id", pa.int32()),
        ("first_doc", pa.int64()),  # segment-local
        ("last_doc", pa.int64()),   # segment-local
        ("count", pa.int32()),
        ("ttf", pa.int64()),
        ("max_tf", pa.int32()),
        ("doc_gaps", pa.binary()),
        ("tfs", pa.binary()),
        ("norms", pa.binary()),
        ("positions", pa.binary()),  # per-posting delta varints (the ".pos")
        ("impact_tfs", pa.list_(pa.int32())),
        ("impact_norms", pa.list_(pa.int32())),
    ]
)

METRICS_SCHEMA = (
    "segment int, fingerprint long, rows_in long, "
    "terms long, blocks long, wall_ms long, status string"
)

# dictionary terms per term_stats file
TERMS_PER_FILE = 500_000


def _to_signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def rows_fingerprint(conv_id, turn_idx, text, extra_cols=()) -> int:
    """Order-independent content fingerprint: xor of per-row 64-bit hashes.

    Vectorized end-to-end (pandas str concat + ``hash_pandas_object``'s
    C siphash with its fixed default key — deterministic across runs and
    processes). Computed identically by the invert pass (fresh build) and
    the light resume pass. ``extra_cols``: additional per-row value arrays
    (keyword fields) folded into the hash.
    """
    def as_str(col):
        return pd.Series(col, dtype="object").fillna("").astype(str)

    s = (
        as_str(conv_id)
        .str.cat(pd.Series(turn_idx).astype(str), sep="\x01")
        .str.cat(as_str(text), sep="\x01")
    )
    for col in extra_cols:
        s = s.str.cat(as_str(col), sep="\x01")
    h = pd.util.hash_pandas_object(s, index=False).to_numpy(dtype=np.uint64)
    acc = int(np.bitwise_xor.reduce(h)) if h.size else 0
    return _to_signed64(acc)


def _term_stats_agg(postings):
    """df/ttf/max_tf per (field, term) over posting-block rows."""
    from pyspark.sql import functions as F

    return postings.groupBy("field", "term").agg(
        F.sum("count").cast("long").alias("df"),
        F.sum("ttf").cast("long").alias("ttf"),
        F.max("max_tf").cast("int").alias("max_tf"),
    )


def segment_skew(metrics_rows: list[dict]) -> dict:
    """Build skew summary of per-segment metric rows: wall time and rows,
    max and median, and how many segments a resume reused."""
    wall = [int(r["wall_ms"]) for r in metrics_rows] or [0]
    rows = [int(r["rows_in"]) for r in metrics_rows] or [0]
    return {
        "wall_ms_max": max(wall),
        "wall_ms_median": float(np.median(wall)),
        "rows_max": max(rows),
        "rows_median": float(np.median(rows)),
        "reused": sum(r["status"] == "reused" for r in metrics_rows),
    }


def _atomic_write_parquet(table: pa.Table, path: str, row_group_size: int = 4096):
    """Write with small row groups: postings are sorted by (term, block) so
    row-group min/max stats prune non-query terms at scan time (the .tip
    analogue) — smaller groups = finer pruning."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp, row_group_size=row_group_size, compression="zstd")
    os.replace(tmp, path)


def _invert_segment(seg: int, pdf: pd.DataFrame, index_dir: str,
                    analyzer_name: str, positions: bool = True,
                    keyword_fields: tuple = (),
                    index_sort: tuple = (),
                    codec: int = 0) -> dict:
    """Invert one fully-accumulated, key-sorted segment and write its files."""
    t0 = time.time()
    analyzer = get_analyzer(analyzer_name)
    n = len(pdf)
    fingerprint = rows_fingerprint(
        pdf["conv_id"].to_numpy(), pdf["turn_idx"].to_numpy(),
        pdf["text"].to_numpy(),
        [pdf[f].to_numpy() for f in keyword_fields],
    )
    # byte-level tokenize → sorted unique-term pool + int codes (no per-token
    # Python objects; the pool is byte-ordered == Lucene term order)
    has_payloads = bool(getattr(analyzer, "payloads", False))
    tok_payload = None
    if has_payloads:
        # payload chain (DelimitedPayloadTokenFilter analogue): per-token
        # integer payloads ride along, aligned with the token stream
        uniq_terms, codes, dl, tok_pos, tok_payload = (
            analyzer.tokenize_ids_payload(pdf["text"],
                                          with_positions=positions))
    elif positions:
        uniq_terms, codes, dl, tok_pos = analyzer.tokenize_ids(
            pdf["text"], with_positions=True
        )
    else:
        uniq_terms, codes, dl = analyzer.tokenize_ids(pdf["text"])
        tok_pos = None
    norms = int_to_byte4(dl).astype(np.int64)

    docs_schema = DOCS_SCHEMA
    docs_cols = {
        "doc_id": np.arange(n, dtype=np.int64),
        "conv_id": pdf["conv_id"].to_numpy(dtype=object),
        "turn_idx": pdf["turn_idx"].to_numpy().astype(np.int32),
        "dl": dl.astype(np.int32),
        "norm": norms.astype(np.int32),
    }
    for c in index_sort:
        # index-sort columns persist as doc values (Lucene requires sort
        # fields to be doc values) so sorted search can return/filter them
        docs_schema = docs_schema.append(pa.field(c, pa.int64()))
        docs_cols[c] = pdf[c].to_numpy().astype(np.int64)
    docs_tbl = pa.Table.from_pydict(docs_cols, schema=docs_schema)
    _atomic_write_parquet(docs_tbl, f"{index_dir}/docs/seg={seg}/part-0.parquet")

    # tf over (term_code, local_doc) as one int64 key — a single stable sort
    # replaces the object-keyed hash groupby; stability keeps each posting's
    # positions in ascending order for the positions encoder
    flat_docs = np.repeat(np.arange(n, dtype=np.int64), dl)
    key = codes * np.int64(max(n, 1)) + flat_docs
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    change = np.empty(key_s.size, dtype=bool)
    if key_s.size:
        change[0] = True
        change[1:] = key_s[1:] != key_s[:-1]
    posting_starts = np.flatnonzero(change)
    uc = key_s[posting_starts]
    tf_arr = np.diff(np.concatenate([posting_starts, [key_s.size]])).astype(np.int64)
    term_codes = uc // max(n, 1)
    d_arr = uc % max(n, 1)
    pos_flat = tok_pos[order] if tok_pos is not None else None
    payload_flat = tok_payload[order] if tok_payload is not None else None
    cols = encode_segment_blocks(
        term_codes, d_arr, tf_arr, norms[d_arr],
        term_pool=uniq_terms, pos_flat=pos_flat, payload_flat=payload_flat,
        codec=codec,
    )
    n_blocks = len(cols["term"])
    field_col = [np.full(n_blocks, FIELD, dtype=object)]
    col_parts = [cols]

    # keyword fields (StringField/KeywordField analogy): one atomic token per
    # doc, tf=1, norms omitted (Lucene omitNorms → constant-score semantics)
    for kf in keyword_fields:
        vals = pdf[kf].to_numpy(dtype=object)
        present = np.flatnonzero(np.array([v is not None for v in vals]))
        if present.size == 0:
            continue
        sub = vals[present]
        kw_uniq, kw_codes = np.unique(sub.astype(str), return_inverse=True)
        order_k = np.argsort(kw_codes * np.int64(max(n, 1)) + present, kind="stable")
        kcols = encode_segment_blocks(
            kw_codes[order_k].astype(np.int64),
            present[order_k].astype(np.int64),
            np.ones(present.size, dtype=np.int64),
            np.ones(present.size, dtype=np.int64),
            term_pool=np.array(kw_uniq, dtype=object),
            codec=codec,
        )
        if has_payloads:  # keyword fields carry no payloads
            kcols["payloads"] = [b""] * len(kcols["term"])
        field_col.append(np.full(len(kcols["term"]), kf, dtype=object))
        col_parts.append(kcols)

    merged = (
        {k: sum((list(p[k]) for p in col_parts), []) for k in col_parts[0]}
        if len(col_parts) > 1 else cols
    )
    n_blocks = len(merged["term"])
    schema = (POSTINGS_SCHEMA.append(pa.field("payloads", pa.binary()))
              if has_payloads else POSTINGS_SCHEMA)
    postings_tbl = pa.Table.from_pydict(
        {"field": np.concatenate(field_col), **merged},
        schema=schema,
    )
    _atomic_write_parquet(postings_tbl, f"{index_dir}/postings/seg={seg}/part-0.parquet")
    n_terms = int(uniq_terms.size)
    return {
        "segment": int(seg),
        "fingerprint": int(fingerprint),
        "rows_in": int(n),
        "terms": n_terms,
        "blocks": n_blocks,
        "wall_ms": int((time.time() - t0) * 1000),
        "status": "ok",
    }


def _make_invert_fn(index_dir: str, analyzer_name: str, positions: bool = True,
                    keyword_fields: tuple = (), index_sort: tuple = (),
                    codec: int = 0):
    def invert(iterator):
        cur_seg = None
        buf: list[pd.DataFrame] = []
        results = []

        def flush():
            if cur_seg is None:
                return
            pdf = pd.concat(buf, ignore_index=True)
            results.append(
                _invert_segment(cur_seg, pdf, index_dir, analyzer_name,
                                positions, keyword_fields, index_sort, codec)
            )

        for pdf in iterator:
            for seg_val, grp in pdf.groupby("segment", sort=True):
                seg_val = int(seg_val)
                if cur_seg is not None and seg_val != cur_seg:
                    flush()
                    buf = []
                cur_seg = seg_val
                buf.append(grp)
        flush()
        if results:
            yield pd.DataFrame(results)

    return invert


def _make_fingerprint_fn(keyword_fields: tuple = ()):
    """Light resume pass: per-(partition, segment) partial (rows, fp)."""
    def fp(iterator):
        counts: dict[int, int] = {}
        fps: dict[int, int] = {}
        for pdf in iterator:
            for seg_val, grp in pdf.groupby("segment", sort=False):
                s = int(seg_val)
                counts[s] = counts.get(s, 0) + len(grp)
                fps[s] = _to_signed64(
                    fps.get(s, 0)
                    ^ rows_fingerprint(
                        grp["conv_id"].to_numpy(),
                        grp["turn_idx"].to_numpy(),
                        grp["text"].to_numpy(),
                        [grp[f].to_numpy() for f in keyword_fields],
                    )
                )
        if counts:
            yield pd.DataFrame(
                {
                    "segment": list(counts),
                    "rows_in": [counts[s] for s in counts],
                    "fp": [fps[s] for s in counts],
                }
            )

    return fp


class IndexBuilder:
    """Build (or resume) a transcript index at ``index_dir``."""

    def __init__(self, spark, index_dir: str, analyzer: str = "standard",
                 num_segments: int | None = None, positions: bool = True,
                 keyword_fields: tuple = (), index_sort: tuple = (),
                 postings_codec: str = "varint"):
        self.spark = spark
        self.index_dir = index_dir
        self.analyzer = analyzer
        self.num_segments = num_segments or spark.sparkContext.defaultParallelism
        self.positions = positions
        self.keyword_fields = tuple(keyword_fields)
        #: packed-int codec for posting buffers; "varint" (north-rule
        #: default) or "pfor" (PForUtil-parity opt-in, indexing/pfor.py)
        self.postings_codec = postings_codec
        codec_id(postings_codec)  # validate early
        #: ``IndexWriterConfig.setIndexSort`` analogue
        #: (``core/index/IndexWriterConfig.java`` setIndexSort +
        #: ``Lucene90SortedDocValuesFormat`` sorted segments): docIDs are
        #: assigned in ``(*index_sort, conv_id, turn_idx)`` ascending order
        #: — segment ranges, in-segment order, and therefore the
        #: early-termination prefix all follow the sort. v1: non-negative
        #: integer input columns, ascending only (documented cut).
        self.index_sort = tuple(index_sort)

    # -- manifest helpers ---------------------------------------------------
    @property
    def _manifest_path(self):
        return f"{self.index_dir}/manifest.json"

    def _load_manifest(self):
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return None

    def _save_manifest(self, m: dict):
        os.makedirs(self.index_dir, exist_ok=True)
        tmp = f"{self._manifest_path}.tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)

    # -- build --------------------------------------------------------------
    def build(self, transcripts, resume: bool = False,
              extra_manifest: dict | None = None) -> dict:
        """Build (or resume) the index so it reflects ``transcripts``.

        A build is AUTHORITATIVE: the result equals a fresh index of the
        source corpus, so any live-docs state from earlier deletes/updates
        is cleared (stale per-segment deleted ids would be meaningless
        against re-inverted segments) and streaming epoch history resets.
        ``extra_manifest`` fields publish in the SAME atomic manifest save
        as the build itself (the streaming bootstrap's applied_epochs must
        not need a second commit — a crash between two saves would let an
        epoch replay double-index the first batch).
        """
        from pyspark.sql import functions as F

        phase_t: dict[str, float] = {}
        t0 = time.time()
        manifest = self._load_manifest() if resume else None
        if manifest is not None and (manifest.get("index_sort", [])
                                     != list(self.index_sort)):
            # index-sort change invalidates every segment's in-segment
            # ORDER, which the order-independent fingerprints cannot
            # see — treat as a fresh build
            manifest, resume = None, False
        if manifest is not None and (
                manifest.get("postings_format") != POSTINGS_FORMAT
                or manifest.get("postings_codec", "varint")
                != self.postings_codec):
            # buffer-layout or codec change: every cached segment's posting
            # bytes are in the wrong format — rebuild from scratch (the
            # segments_N analogue of an index-format major-version bump)
            manifest, resume = None, False
        if manifest is not None:
            boundaries = manifest["boundaries"]
        else:
            boundaries = plan_boundaries(transcripts, self.num_segments,
                                         index_sort=self.index_sort)
        phase_t["plan"] = time.time() - t0
        nseg = len(boundaries) + 1
        skeys = collision_free_skeys(nseg)

        with_seg = transcripts.withColumn(
            "segment", segment_col(boundaries, self.index_sort))

        # resume: light fingerprint pass decides which segments to re-invert
        done: dict[int, dict] = {}
        if resume and os.path.isdir(
                self.recover_build_manifest(self.index_dir)):
            fp_rows = (
                with_seg.select("segment", "conv_id", "turn_idx", "text",
                                *self.keyword_fields, *self.index_sort)
                .mapInPandas(_make_fingerprint_fn(self.keyword_fields),
                             "segment int, rows_in long, fp long")
                .groupBy("segment")
                .agg(F.sum("rows_in").alias("rows_in"), F.expr("bit_xor(fp)").alias("fp"))
                .collect()
            )
            seg_fp = {r["segment"]: (r["fp"] or 0) for r in fp_rows}
            prev = tableio.read_table(
                f"{self.index_dir}/build_manifest").to_pylist()
            for r in prev:
                s = r["segment"]
                if (
                    r["status"] in ("ok", "reused")
                    and s in seg_fp
                    and seg_fp[s] == r["fingerprint"]
                    and os.path.exists(f"{self.index_dir}/postings/seg={s}/part-0.parquet")
                ):
                    done[s] = {
                        "segment": s, "fingerprint": r["fingerprint"],
                        "rows_in": r["rows_in"], "terms": r["terms"],
                        "blocks": r["blocks"], "wall_ms": 0, "status": "reused",
                    }
            present = sorted(seg_fp)
        else:
            present = None  # fresh build: discovered by the invert pass

        t0 = time.time()
        work = with_seg
        if done:
            todo = [s for s in present if s not in done]
            work = with_seg.filter(F.col("segment").isin(todo))
        metrics_rows = list(done.values())
        if present is None or len(metrics_rows) < len(present):
            shuffled = (
                work.select("segment", "conv_id", "turn_idx", "text",
                            *self.keyword_fields, *self.index_sort)
                .withColumn("skey", skey_col(skeys))
                .repartition(nseg, "skey")
                .drop("skey")
                .sortWithinPartitions("segment", *self.index_sort,
                                      "conv_id", "turn_idx")
            )
            invert = _make_invert_fn(self.index_dir, self.analyzer,
                                     self.positions, self.keyword_fields,
                                     self.index_sort,
                                     codec_id(self.postings_codec))
            metrics = shuffled.mapInPandas(invert, METRICS_SCHEMA).collect()
            metrics_rows.extend(r.asDict() for r in metrics)
        phase_t["invert"] = time.time() - t0

        # global docID offsets: cumulative row counts in segment (= key) order
        metrics_rows.sort(key=lambda r: r["segment"])
        offsets, acc = {}, 0
        for r in metrics_rows:
            offsets[r["segment"]] = acc
            acc += r["rows_in"]

        tableio.write_table(
            [{**r, "doc_offset": offsets[r["segment"]]} for r in metrics_rows],
            tableio.BUILD_MANIFEST_SCHEMA, f"{self.index_dir}/build_manifest")

        t0 = time.time()
        dropped = self._drop_stale_segments(set(offsets))
        built_any = any(r["status"] == "ok" for r in metrics_rows)
        prev_sdirs = self._stats_dirs(manifest or {})
        stats_rewritten = (
            built_any
            or dropped > 0  # a vanished segment changes df/ttf/doc_count
            or prev_sdirs != {"term_stats": "term_stats",
                              "field_stats": "field_stats"}
            or (manifest or {}).get("stats_version", 0) != STATS_VERSION
            or not os.path.isdir(f"{self.index_dir}/term_stats")
        )
        if stats_rewritten:
            # no-op resumes on a default-generation index leave every file
            # untouched (open readers keep their point-in-time view); any
            # other state (new segments, or stats living in an append/compact
            # generation dir) gets a full recompute into the default dirs
            self._write_stats(acc)
        phase_t["stats"] = time.time() - t0
        # build identity: a gen-0 stats rewrite reuses the 'term_stats' dir
        # name, so the reader's shared dictionary cache needs a fresh key
        # after every in-place rebuild (stale df/ttf otherwise — ADVICE r3);
        # no-op resumes keep the old id so open readers' cache stays warm
        import uuid

        build_id = ((manifest or {}).get("build_id")
                    if not stats_rewritten else None) or uuid.uuid4().hex
        self._save_manifest(
            {
                "version": 2,
                "build_id": build_id,
                "postings_format": POSTINGS_FORMAT,
                "postings_codec": self.postings_codec,
                "field": FIELD,
                "analyzer": self.analyzer,
                "positions": self.positions,
                "payloads": bool(getattr(get_analyzer(self.analyzer),
                                         "payloads", False)),
                "keyword_fields": list(self.keyword_fields),
                "index_sort": list(self.index_sort),
                "num_segments": nseg,
                "boundaries": boundaries,
                "doc_count": acc,
                "offsets": {str(k): v for k, v in offsets.items()},
                "stats_dirs": {"term_stats": "term_stats",
                               "field_stats": "field_stats"},
                "stats_version": STATS_VERSION,
                "stats_gen": 0,
                "segments_built": sum(1 for r in metrics_rows if r["status"] == "ok"),
                "segments_reused": len(done),
                **(extra_manifest or {}),
            }
        )
        self._gc_stats_generations(keep={"term_stats", "field_stats"})
        # authoritative rebuild: clear live-docs generations (their local
        # docIDs refer to the pre-rebuild segmentation)
        import glob
        import shutil as _sh

        from lucene_spark.indexing import commits as _commits

        for p in glob.glob(f"{self.index_dir}/live_docs*"):
            _sh.rmtree(p, ignore_errors=True)
        # a full rebuild is authoritative (OpenMode.CREATE): snapshots of
        # the pre-rebuild index reference re-inverted segment ids and are
        # dropped with the live-docs state
        _commits.clear(self.index_dir)
        return {
            "doc_count": acc,
            "built": sum(1 for r in metrics_rows if r["status"] == "ok"),
            "reused": len(done),
            "phase_sec": {k: round(v, 3) for k, v in phase_t.items()},
            "segments": segment_skew(metrics_rows),
        }

    def _gc_stats_generations(self, keep: set):
        """Remove stats generation dirs no longer referenced by the manifest
        (post-commit garbage collection; stale gens are never read).
        Generations pinned by a commit snapshot are always kept
        (SnapshotDeletionPolicy semantics — see ``indexing/commits.py``)."""
        import glob
        import shutil

        from lucene_spark.indexing import commits

        keep = set(keep) | commits.protected(self.index_dir)["stats"]
        for p in glob.glob(f"{self.index_dir}/term_stats*") + glob.glob(
                f"{self.index_dir}/field_stats*"):
            if os.path.basename(p) not in keep:
                shutil.rmtree(p, ignore_errors=True)

    @staticmethod
    def swap_build_manifest(index_dir: str, tmp: str):
        """Publish a fully-written build_manifest directory ``tmp`` over the
        live one with NO window where neither exists un-recoverably: the
        live dir is atomically renamed to ``.prev`` (never rmtree'd while
        still live), the new one atomically renamed in, then ``.prev`` is
        dropped. A crash between the two renames leaves ``.prev`` intact —
        :meth:`recover_build_manifest` promotes it back on next open."""
        import shutil

        live = f"{index_dir}/build_manifest"
        prev = live + ".prev"
        shutil.rmtree(prev, ignore_errors=True)
        if os.path.isdir(live):
            os.replace(live, prev)
        os.replace(tmp, live)
        shutil.rmtree(prev, ignore_errors=True)

    @staticmethod
    def recover_build_manifest(index_dir: str) -> str:
        """Path of the live build_manifest, promoting a crash-orphaned
        ``.prev`` back into place first (see :meth:`swap_build_manifest`)."""
        live = f"{index_dir}/build_manifest"
        prev = live + ".prev"
        if not os.path.isdir(live) and os.path.isdir(prev):
            os.replace(prev, live)
        return live

    def _drop_stale_segments(self, live: set) -> int:
        """Remove segment dirs from earlier builds that no longer exist
        (shrunk corpus / changed segment count) so readers never see them.
        Returns the number of dropped segment dirs — a nonzero drop forces a
        stats rewrite even when every surviving segment was byte-reused."""
        import glob
        import shutil

        dropped = 0
        for sub in ("docs", "postings"):
            for p in glob.glob(f"{self.index_dir}/{sub}/seg=*"):
                try:
                    s = int(p.rsplit("=", 1)[1])
                except ValueError:
                    continue
                if s not in live:
                    shutil.rmtree(p, ignore_errors=True)
                    dropped += 1
        return dropped

    def _replace_dir(self, tmp: str, dst: str):
        import shutil

        shutil.rmtree(dst, ignore_errors=True)
        os.replace(tmp, dst)

    def _stats_dirs(self, manifest: dict | None = None) -> dict:
        """Current stats dir names (manifest pointer, legacy defaults)."""
        m = manifest if manifest is not None else (self._load_manifest() or {})
        sd = m.get("stats_dirs", {})
        return {"term_stats": sd.get("term_stats", "term_stats"),
                "field_stats": sd.get("field_stats", "field_stats")}

    def _merge_stats(self, new_segs: list, suffix: str,
                     doc_count: int) -> dict:
        """Incremental stats maintenance for appends: aggregate ONLY the new
        segments' postings (partition-pruned scan over ``seg=N`` dirs) and
        merge with the CURRENT stats generation — df/ttf are sums and max_tf
        a max, so the merge is exact. O(new data + dictionary) per
        micro-batch instead of an O(whole index) rewrite. ``doc_count``:
        the index's doc count once the new segments are in.

        Writes ``term_stats{suffix}`` / ``field_stats{suffix}`` WITHOUT
        touching the live generation; the caller publishes the returned dir
        names by flipping ``manifest["stats_dirs"]`` in its single atomic
        manifest commit. Replay-safe: a crashed epoch leaves the pointer on
        the old generation, and the replay recomputes this generation from
        it (same inputs → same output; exactly-once preserved).
        """
        from pyspark.sql import functions as F

        cur = self._stats_dirs()
        out = {"term_stats": f"term_stats{suffix}",
               "field_stats": f"field_stats{suffix}"}
        segs = {int(s) for s in new_segs}
        files = [f for f in tableio.parquet_files(f"{self.index_dir}/postings")
                 if tableio.segment_of(f) in segs]
        old_path = f"{self.index_dir}/{cur['term_stats']}"
        delta = _term_stats_agg(
            tableio.read_df(self.spark, f"{self.index_dir}/postings", "seg")
            .filter(F.col("seg").isin(sorted(segs))))
        merged = (
            tableio.read_df(self.spark, old_path).unionByName(delta)
            .groupBy("field", "term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("ttf").cast("long").alias("ttf"),
                F.max("max_tf").cast("int").alias("max_tf"),
            )
        )
        # merged terms <= old terms + new postings rows
        bound = tableio.num_rows(tableio.parquet_files(old_path)
                                 + files, stop_at=TERMS_PER_FILE)
        self._write_term_stats(merged, bound,
                               f"{self.index_dir}/{out['term_stats']}")
        self._write_field_stats(out, doc_count)
        return out

    def _write_stats(self, doc_count: int, suffix: str = "",
                     segs: list | None = None):
        """Full stats recompute into ``term_stats{suffix}`` /
        ``field_stats{suffix}``: one aggregation of the postings and one
        write, then ``field_stats`` from the dictionary just written.
        ``segs`` restricts the scan to the given segment ids (compaction
        recomputes over survivors only); ``doc_count`` is those segments'
        Σ ``rows_in`` — the text field's docCount, held by every caller, so
        the docs table is never scanned."""
        from pyspark.sql import functions as F

        out = {"term_stats": f"term_stats{suffix}",
               "field_stats": f"field_stats{suffix}"}
        ts_path = f"{self.index_dir}/{out['term_stats']}"
        files = tableio.parquet_files(f"{self.index_dir}/postings")
        if segs is not None:
            keep = {int(s) for s in segs}
            files = [f for f in files if tableio.segment_of(f) in keep]
        if not files:
            # empty corpus → empty index: materialize a zero-row dictionary
            tableio.write_table([], tableio.TERM_STATS_SCHEMA, ts_path)
        else:
            postings = tableio.read_df(self.spark,
                                       f"{self.index_dir}/postings", "seg")
            if segs is not None:
                postings = postings.filter(F.col("seg").isin(sorted(keep)))
            # distinct terms <= postings rows (every term has >= 1 block)
            self._write_term_stats(
                _term_stats_agg(postings),
                tableio.num_rows(files, stop_at=TERMS_PER_FILE), ts_path)
        self._write_field_stats(out, doc_count)

    def _write_term_stats(self, term_stats, bound: int, path: str):
        """Write the dictionary ``term_stats`` sorted by (field, term), one
        file per ~``TERMS_PER_FILE`` terms (tiny dicts → one footer to read
        per lookup; huge dicts keep range pruning). ``bound`` >= its row
        count: below ``TERMS_PER_FILE`` the file count is 1 — no count job
        and no range exchange; above it the exact count sizes the range
        partitioning."""
        if bound < TERMS_PER_FILE:
            parts = term_stats.coalesce(1)
        else:
            term_stats = term_stats.persist()  # counted, then written
            parts = term_stats.repartitionByRange(
                max(1, term_stats.count() // TERMS_PER_FILE), "field", "term")
        (
            parts.sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .parquet(path)
        )
        if bound >= TERMS_PER_FILE:
            term_stats.unpersist()

    def _write_field_stats(self, dirs: dict, doc_count: int):
        """``field_stats`` from the dictionary in ``dirs["term_stats"]``:
        one tiny per-field aggregation of Σdf and Σttf, written on the
        driver.

        Text field: docCount = ``doc_count``; sumTotalTermFreq = Σttf, the
        reference's definition (``BM25Similarity.java:109-111``), equal to
        Σdl by construction (every token is one term code and one tf unit
        in ``_invert_segment``). Keyword (StringField) fields are
        single-valued with tf=1 per doc, so docCount(field) = Σdf and
        sumTotalTermFreq(field) = Σttf — the per-field CollectionStatistics
        Lucene resolves for DOCS-only fields (IndexSearcher.java:943-958)."""
        from pyspark.sql import functions as F

        sums = {
            r["field"]: (int(r["sum_df"]), int(r["sum_ttf"]))
            for r in tableio.read_df(
                self.spark, f"{self.index_dir}/{dirs['term_stats']}")
            .groupBy("field")
            .agg(F.sum("df").cast("long").alias("sum_df"),
                 F.sum("ttf").cast("long").alias("sum_ttf"))
            .collect()
        }
        sum_df, sum_ttf = sums.pop(FIELD, (0, 0))
        rows = [{"field": FIELD, "doc_count": int(doc_count),
                 "sum_ttf": sum_ttf, "sum_df": sum_df}]
        rows += [{"field": f, "doc_count": d, "sum_ttf": t, "sum_df": d}
                 for f, (d, t) in sorted(sums.items())]
        tableio.write_table(rows, tableio.FIELD_STATS_SCHEMA,
                            f"{self.index_dir}/{dirs['field_stats']}")
