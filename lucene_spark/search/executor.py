"""SegmentExecutor — the one-stage, one-wave per-segment serving path.

Postings are stored one ``seg=N`` directory per segment, so a per-segment
kernel never needs Spark to regroup rows by segment. The executor runs a
query as ``spark.range(n, numPartitions=n).mapInPandas(task)``: one stage of
``n = min(cores, segments)`` Python tasks, no scan stage and no
``Exchange hashpartitioning(seg)`` in front of the kernel. Segments are
packed onto the tasks largest-first by their postings file bytes.

Inside a task, pyarrow reads the segment's postings files — the listing the
reader's DataFrame resolved at open, restricted to the manifest's segments,
so orphan ``seg=N`` dirs and segments appended after the reader opened stay
invisible — and reads only the row groups whose ``[min, max]`` statistics of
``field`` and ``term`` can hold a query term (the files are sorted by term,
so this is the term-index pruning the Spark scan did with its pushed-down
``In(term, …)``). The surviving rows are filtered to the exact
``(field == f) & term ∈ terms`` set and handed to the kernel.

The kernel contract: every per-segment postings kernel of the searcher is
written once, as ``kernel(seg, rows) -> pandas.DataFrame``.

- ``rows`` maps each requested column to a numpy array of the segment's
  matching postings rows, with GLOBAL ``first_doc``/``last_doc`` (int64,
  the segment's docBase added).
- ``seg`` is a :class:`Segment`: its id, its docBase ``offset`` and its
  GLOBAL deleted docIDs. Kernels whose keys are built from docIDs
  (doc·2^34 composite keys in the span, automaton and interval kernels)
  subtract ``seg.offset`` to work on segment-local docIDs and add it back
  to their result; :meth:`Segment.live` drops deleted docs.
- The kernel returns one of three shapes (:func:`hits_frame`): the match
  set (``DOCS``), scored hits (``SCORED``), or one hit count (``COUNT``).
- ``every_segment=True`` also visits the segments that hold none of the
  query's terms, with zero-row ``rows`` — docset (pre-resolved KNN) and
  match-all clauses of a boolean match there too.
- A field mapped to ``None`` instead of a term list reads every term of the
  field (row groups pruned on the ``field`` statistics only).
- A postings DataFrame in place of ``{field: terms}``
  (``IndexReader.postings_semijoin``, the expansion past the driver cap
  that never materializes its term list) runs the SAME kernel through
  :meth:`SegmentExecutor.run_df`, the one plan in ``search/`` that still
  groups rows by segment.

Every task reports its counters (row groups in the files, row groups read
and which, postings rows and bytes, kernel ms) through one accumulator per
executor; :meth:`SegmentExecutor.task_stats` returns them per run.
"""

from __future__ import annotations

import bisect
import itertools
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.accumulators import AccumulatorParam

from lucene_spark.indexing.tableio import segment_of


@dataclass(frozen=True)
class Segment:
    """What a kernel knows about the segment it runs on."""

    id: int
    offset: int  # docBase: global docID = offset + segment-local docID
    deleted: np.ndarray | None  # GLOBAL deleted docIDs; None = no deletes

    def live(self, docs, *aligned):
        """``docs`` (GLOBAL ids) without the segment's deleted docs — or,
        with ``aligned`` arrays, the tuple of ``docs`` and each of them
        masked the same way."""
        if docs.size and self.deleted is not None and self.deleted.size:
            m = ~np.isin(docs, self.deleted)
            docs, aligned = docs[m], tuple(a[m] for a in aligned)
        return (docs, *aligned) if aligned else docs


# kernel output schemas: the match set, scored hits, one count per segment
DOCS = "doc_id long"
SCORED = "doc_id long, score float"
COUNT = "n long"


def hits_frame(docs, scores=None, count: bool = False, k=None):
    """A kernel's output frame: one hit-count row (``count``), else the
    (doc_id) match set, or (doc_id, score) rows when ``scores`` are given
    — the segment's top ``k`` (score DESC, doc_id ASC) when ``k`` is set."""
    if count:
        return pd.DataFrame({"n": [int(docs.size)]})
    if scores is None:
        return pd.DataFrame({"doc_id": docs})
    if k is not None:
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        docs, scores = docs[order], scores[order]
    return pd.DataFrame({"doc_id": docs, "score": scores.astype(np.float32)})


class _TaskStatsParam(AccumulatorParam):
    """List-of-dicts accumulator, bounded to the newest entries so a
    long-serving driver does not grow without limit."""

    KEEP = 4096

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a = list(a) + list(b)
        return a[-self.KEEP:]


def pack_segments(sizes: dict, n: int) -> list[list[int]]:
    """Greedy largest-first packing of segments onto ``n`` tasks by size;
    ties go to the lowest task index, so the packing is deterministic."""
    bins: list[list[int]] = [[] for _ in range(n)]
    load = [0] * n
    for seg in sorted(sizes, key=lambda s: (-sizes[s], s)):
        i = min(range(n), key=lambda j: (load[j], j))
        bins[i].append(seg)
        load[i] += sizes[seg]
    return [sorted(b) for b in bins if b]


def _may_hold(stats, values: list[str]) -> bool:
    """Whether a row group whose column statistics are ``stats`` can hold
    any of the sorted ``values`` (missing statistics: assume it can)."""
    if stats is None or not stats.has_min_max:
        return True
    i = bisect.bisect_left(values, stats.min)
    return i < len(values) and values[i] <= stats.max


def _read_segment_postings(seg: int, uris, field_terms: dict,
                          columns: list[str], counters: dict):
    """The rows of segment ``seg``'s files ``uris`` whose (field, term) is
    in ``field_terms`` (``{field: sorted terms}``, ``None`` = every term of
    the field), as a pyarrow Table of ``columns`` (None when no row
    matches). Reads only the row groups whose field and term statistics
    overlap the query, and adds what it read to ``counters`` (``read``
    lists ``[seg, file index, row group]``)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyarrow import fs

    fields = sorted(field_terms)
    read_cols = list(dict.fromkeys(["field", "term", *columns]))
    parts = []
    for fi, uri in enumerate(uris):
        filesystem, path = fs.FileSystem.from_uri(uri)
        with pq.ParquetFile(path, filesystem=filesystem) as pf:
            md = pf.metadata
            names = [md.schema.column(i).name
                     for i in range(md.num_columns)]
            f_idx, t_idx = names.index("field"), names.index("term")
            keep = []
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                fst = g.column(f_idx).statistics
                tst = g.column(t_idx).statistics
                if g.num_rows and any(_may_hold(fst, [f])
                                      and (field_terms[f] is None
                                           or _may_hold(tst, field_terms[f]))
                                      for f in fields):
                    keep.append(rg)
            counters["row_groups"] += md.num_row_groups
            counters["row_groups_read"] += len(keep)
            counters["read"].extend([seg, fi, rg] for rg in keep)
            if keep:
                parts.append(pf.read_row_groups(keep, columns=read_cols))
    if not parts:
        return None
    tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
    mask = None
    for f in fields:
        m = pc.equal(tbl["field"], f)
        if field_terms[f] is not None:
            m = pc.and_(m, pc.is_in(tbl["term"],
                                    value_set=pa.array(field_terms[f])))
        mask = m if mask is None else pc.or_(mask, m)
    tbl = tbl.filter(mask).select(columns)
    counters["postings_rows"] += tbl.num_rows
    counters["postings_bytes"] += tbl.nbytes
    return tbl if tbl.num_rows else None


def _segment(s: int, off: int, dload) -> Segment:
    return Segment(s, off, dload(s) + off if dload else None)


def _empty_rows(columns: list[str]) -> dict:
    return {c: np.zeros(0, np.int64 if c in ("first_doc", "last_doc")
                        else object) for c in columns}


def _globalize(rows: dict, off: int) -> dict:
    """``first_doc``/``last_doc`` as GLOBAL int64 docIDs."""
    for col in ("first_doc", "last_doc"):
        if col in rows:
            rows[col] = rows[col].astype(np.int64) + np.int64(off)
    return rows


class SegmentExecutor:
    """Runs a per-segment kernel over the postings of driver-resolved terms
    as one stage of packed Python tasks (see module doc)."""

    def __init__(self, reader):
        from pyarrow import fs

        self.reader = reader
        self.spark = reader.spark
        files: dict[int, list[str]] = {}
        for uri in reader._postings_df.inputFiles():
            seg = segment_of(uri)
            if seg in reader.offsets:
                files.setdefault(seg, []).append(uri)
        self.files = {s: sorted(v) for s, v in sorted(files.items())}

        def size(uri):
            filesystem, path = fs.FileSystem.from_uri(uri)
            return filesystem.get_file_info(path).size or 0

        sizes = {s: sum(size(u) for u in v) for s, v in self.files.items()}
        n = min(self.spark.sparkContext.defaultParallelism, len(sizes))
        self.packs = pack_segments(sizes, n) if n else []
        self._acc = self.spark.sparkContext.accumulator([], _TaskStatsParam())
        self._runs = itertools.count()
        self.last_run = None

    def run(self, field_terms, columns: list[str], kernel, schema: str,
            segments=None, every_segment: bool = False):
        """DataFrame of ``kernel(segment, rows)`` over every segment holding
        postings of ``field_terms`` (``{field: terms}``; ``None`` terms =
        the whole field; a postings DataFrame runs through :meth:`run_df`).
        The kernel returns a pandas DataFrame matching ``schema`` (see the
        module doc for the contract). Segments without matching rows reach
        the kernel only with ``every_segment`` (zero-row ``rows``).
        ``segments`` restricts the run to those segment ids."""
        if not isinstance(field_terms, dict):
            return self.run_df(field_terms, columns, kernel, schema)
        field_terms = {f: None if ts is None else sorted(set(ts))
                       for f, ts in field_terms.items()
                       if ts is None or len(ts)}
        packs = self.packs
        if segments is not None:
            keep = {int(s) for s in segments}
            packs = [p for p in ([s for s in p if s in keep] for p in packs)
                     if p]
        if (not field_terms and not every_segment) or not packs:
            return self.spark.createDataFrame([], schema)
        run_id = self.last_run = next(self._runs)
        acc, files = self._acc, self.files
        offsets = self.reader.offsets
        dload = self.reader.deleted_loader()
        columns = list(columns)

        def task(batches):
            for pdf in batches:
                for t in pdf["id"].tolist():
                    c = {"run": run_id, "task": int(t), "segments": packs[t],
                         "row_groups": 0, "row_groups_read": 0, "read": [],
                         "postings_rows": 0, "postings_bytes": 0,
                         "kernel_ms": 0.0}
                    for s in packs[t]:
                        tbl = (_read_segment_postings(s, files[s],
                                                      field_terms, columns, c)
                               if field_terms else None)
                        if tbl is None and not every_segment:
                            continue
                        off = int(offsets[s])
                        rows = (_empty_rows(columns) if tbl is None else
                                {col: tbl.column(col).to_numpy(
                                    zero_copy_only=False)
                                 for col in columns})
                        seg = _segment(s, off, dload)
                        t0 = time.perf_counter()
                        out = kernel(seg, _globalize(rows, off))
                        c["kernel_ms"] += (time.perf_counter() - t0) * 1e3
                        if len(out):
                            yield out
                    acc.add([c])

        n = len(packs)
        return self.spark.range(n, numPartitions=n).mapInPandas(task, schema)

    def run_df(self, postings, columns: list[str], kernel, schema: str):
        """The DataFrame-source adapter: the same ``kernel(segment, rows)``
        over a postings DataFrame carrying ``seg`` and ``doc_offset``
        (``IndexReader.postings_semijoin``) — grouped by segment, since
        the rows arrive from a Spark join rather than from the files."""
        dload = self.reader.deleted_loader()
        columns = list(columns)

        def group(pdf):
            off = int(pdf["doc_offset"].iloc[0])
            seg = _segment(int(pdf["seg"].iloc[0]), off, dload)
            return kernel(seg, _globalize(
                {c: pdf[c].to_numpy() for c in columns}, off))

        return (postings.select("seg", "doc_offset", *columns)
                .groupBy("seg").applyInPandas(group, schema))

    def task_stats(self) -> list[dict]:
        """Per-task counters of the last run planned, once its DataFrame
        has executed."""
        return sorted((e for e in self._acc.value
                       if e["run"] == self.last_run),
                      key=lambda e: e["task"])
