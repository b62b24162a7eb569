"""SegmentExecutor — the per-segment serving path, in the driver or as one
Spark stage.

Postings are stored one ``seg=N`` directory per segment, so a per-segment
kernel never needs Spark to regroup rows by segment. Segments are packed
onto ``n = min(cores, segments)`` packs largest-first by their postings file
bytes, and a query runs one task body per pack.

Where the packs run is decided per run from the size of its read. At open,
the executor reads every manifest segment's parquet footers once, on the
driver. A run is planned on the driver from them: it keeps only the row
groups whose ``[min, max]`` statistics of ``field`` and ``term`` can hold a
query term (the files are sorted by term, so this is the term-index pruning
the Spark scan did with its pushed-down ``In(term, …)``), and sums the
uncompressed bytes of the columns it reads there.

- A run whose planned read is under :attr:`SegmentExecutor.DRIVER_RUN_BYTES`
  runs the packs serially in the driver process: no Spark job, no AQE flip.
- A larger run is ``spark.range(n, numPartitions=n).mapInPandas(task)``:
  one stage of ``n`` Python tasks, no scan stage and no
  ``Exchange hashpartitioning(seg)`` in front of the kernel.

Both paths run the same task body: the same read of exactly the planned row
groups of the files the reader's DataFrame resolved at open (restricted to
the manifest's segments, so orphan ``seg=N`` dirs and segments appended
after the reader opened stay invisible), filtered to the exact
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
  groups rows by segment; it always runs on Spark.

:meth:`SegmentExecutor.prepare` plans a run; :meth:`SegmentRun.collect` is
the one execution entry that returns the collected rows (a pandas frame of
the kernel schema), and :meth:`SegmentRun.df` the Spark DataFrame for
callers that compose one (:meth:`SegmentExecutor.run`). Every pack reports
its counters (where it ran, row groups in the files, row groups read and
which, postings rows and bytes, kernel ms); :meth:`SegmentExecutor.
task_stats` returns them per run on both paths.
"""

from __future__ import annotations

import bisect
import itertools
import threading
import time
from collections import deque
from dataclasses import dataclass
from typing import NamedTuple

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

_DTYPES = {"long": np.int64, "float": np.float32}  # of the schemas above


def _schema_dtypes(schema: str) -> dict:
    """``{column: numpy dtype}`` of a kernel schema string."""
    return {name: _DTYPES[typ]
            for name, typ in (part.split() for part in schema.split(","))}


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


class _Footer(NamedTuple):
    """One postings file's parquet footer, read once on the driver."""

    uri: str
    metadata: object  # pyarrow FileMetaData: tasks open the file with it
    rows: list  # rows per row group
    field: list  # (min, max) of ``field`` per row group; None = no stats
    term: list  # (min, max) of ``term`` per row group; None = no stats
    sizes: dict  # top-level column -> uncompressed bytes per row group


def _min_max(stats):
    return (stats.min, stats.max) if stats is not None and stats.has_min_max \
        else None


def _read_footer(uri: str) -> _Footer:
    import pyarrow.parquet as pq
    from pyarrow import fs

    filesystem, path = fs.FileSystem.from_uri(uri)
    with pq.ParquetFile(path, filesystem=filesystem) as pf:
        md = pf.metadata
    names = [md.schema.column(i).path.split(".")[0]
             for i in range(md.num_columns)]
    f_idx, t_idx = names.index("field"), names.index("term")
    rows, fmm, tmm = [], [], []
    sizes = {n: [0] * md.num_row_groups for n in names}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        rows.append(g.num_rows)
        fmm.append(_min_max(g.column(f_idx).statistics))
        tmm.append(_min_max(g.column(t_idx).statistics))
        for i, n in enumerate(names):
            sizes[n][rg] += g.column(i).total_uncompressed_size
    return _Footer(uri, md, rows, fmm, tmm, sizes)


def _may_hold(mm, values: list[str]) -> bool:
    """Whether a row group whose column (min, max) statistics are ``mm``
    can hold any of the sorted ``values`` (no statistics: assume it can)."""
    if mm is None:
        return True
    i = bisect.bisect_left(values, mm[0])
    return i < len(values) and values[i] <= mm[1]


def _planned_row_groups(f: _Footer, field_terms: dict) -> list[int]:
    """Row groups of ``f`` whose field and term statistics overlap
    ``field_terms`` (``{field: sorted terms}``, ``None`` = the whole
    field)."""
    return [rg for rg, n in enumerate(f.rows)
            if n and any(_may_hold(f.field[rg], [fl])
                         and (ts is None or _may_hold(f.term[rg], ts))
                         for fl, ts in field_terms.items())]


def _read_segment_postings(seg: int, parts, field_terms: dict,
                           columns: list[str], counters: dict):
    """The rows of segment ``seg`` whose (field, term) is in
    ``field_terms`` (``{field: sorted terms}``, ``None`` = every term of
    the field), as a pyarrow Table of ``columns`` (None when no row
    matches). ``parts`` lists the segment's files as ``(file index, uri,
    FileMetaData, planned row groups, row groups in the file)``; only the
    planned row groups are read. Adds what it read to ``counters``
    (``read`` lists ``[seg, file index, row group]``)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyarrow import fs

    read_cols = list(dict.fromkeys(["field", "term", *columns]))
    tables = []
    for fi, uri, md, keep, n_groups in parts:
        counters["row_groups"] += n_groups
        counters["row_groups_read"] += len(keep)
        counters["read"].extend([seg, fi, rg] for rg in keep)
        if keep:
            filesystem, path = fs.FileSystem.from_uri(uri)
            with pq.ParquetFile(path, filesystem=filesystem,
                                metadata=md) as pf:
                tables.append(pf.read_row_groups(keep, columns=read_cols))
    if not tables:
        return None
    tbl = pa.concat_tables(tables) if len(tables) > 1 else tables[0]
    mask = None
    for f in sorted(field_terms):
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


def _pack_body(run_id: int, packs, parts, field_terms: dict,
               columns: list[str], kernel, offsets: dict, dload,
               every_segment: bool):
    """The task body of a run, shared by both paths: ``body(t, where)``
    yields the kernel frames of pack ``t`` and, last, its counters dict.
    Holds only picklable data (it is shipped to Spark tasks)."""

    def body(t: int, where: str):
        c = {"run": run_id, "task": t, "where": where,
             "segments": packs[t], "row_groups": 0, "row_groups_read": 0,
             "read": [], "postings_rows": 0, "postings_bytes": 0,
             "kernel_ms": 0.0}
        for s in packs[t]:
            tbl = (_read_segment_postings(s, parts[s], field_terms,
                                          columns, c)
                   if field_terms else None)
            if tbl is None and not every_segment:
                continue
            off = int(offsets[s])
            rows = (_empty_rows(columns) if tbl is None else
                    {col: tbl.column(col).to_numpy(zero_copy_only=False)
                     for col in columns})
            seg = _segment(s, off, dload)
            t0 = time.perf_counter()
            out = kernel(seg, _globalize(rows, off))
            c["kernel_ms"] += (time.perf_counter() - t0) * 1e3
            if len(out):
                yield out
        yield c

    return body


class SegmentRun:
    """One planned executor run (see :meth:`SegmentExecutor.prepare`):
    nothing has executed yet. ``planned_bytes`` is the uncompressed size
    of the columns read in the planned row groups, plus 8 bytes per doc of
    every segment an ``every_segment`` run visits (the docID range its
    kernels may expand); ``where`` is ``"driver"`` when it is under
    :attr:`SegmentExecutor.DRIVER_RUN_BYTES`, else ``"spark"``."""

    def __init__(self, ex, field_terms, columns, kernel, schema: str,
                 segments=None, every_segment: bool = False):
        self.ex, self.schema = ex, schema
        self.columns, self.kernel = list(columns), kernel
        self.source = None
        if not isinstance(field_terms, dict):
            self.source, self.where = field_terms, "spark"
            return
        self.field_terms = {f: None if ts is None else sorted(set(ts))
                            for f, ts in field_terms.items()
                            if ts is None or len(ts)}
        self.every_segment = every_segment
        packs = ex.packs
        if segments is not None:
            keep = {int(s) for s in segments}
            packs = [p for p in ([s for s in p if s in keep] for p in packs)
                     if p]
        if not self.field_terms and not every_segment:
            packs = []
        self.packs = packs
        read_cols = list(dict.fromkeys(["field", "term", *self.columns]))
        self.parts, nbytes = {}, 0
        for s in (s for p in packs for s in p):
            self.parts[s] = []
            for fi, f in enumerate(ex.footers[s]):
                keep = (_planned_row_groups(f, self.field_terms)
                        if self.field_terms else [])
                nbytes += sum(f.sizes[c][rg] for c in read_cols
                              for rg in keep)
                self.parts[s].append((fi, f.uri, f.metadata if keep else None,
                                      keep, len(f.rows)))
            if every_segment:
                nbytes += 8 * ex.seg_docs[s]
        self.planned_bytes = nbytes
        self.where = ("driver" if nbytes < ex.DRIVER_RUN_BYTES else "spark")

    def _body(self, run_id: int):
        reader = self.ex.reader
        return _pack_body(run_id, self.packs, self.parts, self.field_terms,
                          self.columns, self.kernel, reader.offsets,
                          reader.deleted_loader(), self.every_segment)

    def df(self):
        """The run as a Spark DataFrame of ``schema`` (one
        ``Range -> MapInPandas`` stage; the semi-join source through
        :meth:`SegmentExecutor.run_df`)."""
        ex = self.ex
        if self.source is not None:
            return ex.run_df(self.source, self.columns, self.kernel,
                             self.schema)
        if not self.packs:
            return ex.spark.createDataFrame([], self.schema)
        body, acc = self._body(ex._next_run()), ex._acc

        def task(batches):
            for pdf in batches:
                for t in pdf["id"].tolist():
                    for out in body(int(t), "spark"):
                        if isinstance(out, dict):
                            acc.add([out])
                        else:
                            yield out

        n = len(self.packs)
        return ex.spark.range(n, numPartitions=n).mapInPandas(task,
                                                              self.schema)

    def collect(self) -> pd.DataFrame:
        """Execute the run and return every kernel row as one pandas frame
        of ``schema``: in the driver when ``where == "driver"``, else as
        the Spark stage of :meth:`df` without AQE."""
        dtypes = _schema_dtypes(self.schema)
        if self.where == "driver":
            body = self._body(self.ex._next_run())
            frames, stats = [], []
            for t in range(len(self.packs)):
                for out in body(t, "driver"):
                    (stats if isinstance(out, dict) else frames).append(out)
            self.ex._record(stats)
            out = (pd.concat(frames, ignore_index=True)[list(dtypes)]
                   if frames else pd.DataFrame(columns=list(dtypes)))
        else:
            from lucene_spark.session import no_aqe

            with no_aqe(self.ex.spark):
                rows = self.df().collect()
            out = pd.DataFrame.from_records(rows, columns=list(dtypes))
        return out.astype(dtypes)


class SegmentExecutor:
    """Runs a per-segment kernel over the postings of driver-resolved terms,
    in the driver for small reads, else as one stage of packed Python tasks
    (see module doc)."""

    # runs whose planned read is under this many bytes execute in the
    # driver (no Spark job); larger ones keep the one-stage Spark plan, so
    # a hot term at scale never lands in the driver. The value is the
    # measured crossover of driver-run and Spark-run latency against
    # planned bytes (local[4] on a 4-core Xeon VM, 4-segment indexes of
    # 12k and 96k turns; least-squares fit over 217 queries: driver
    # -16.9 ms + 42.4 ms/MB, Spark 159 ms + 7.4 ms/MB, equal at 5.0 MB —
    # README, tools/executor_crossover.py).
    DRIVER_RUN_BYTES = 5_000_000

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
        # every manifest segment's postings footers, read once here
        self.footers = {s: [_read_footer(u) for u in v]
                        for s, v in self.files.items()}
        ends = sorted(reader.offsets.values())[1:] + [reader.doc_count]
        self.seg_docs = {s: max(0, e - o) for (s, o), e in zip(
            sorted(reader.offsets.items(), key=lambda so: so[1]), ends)}

        def size(uri):
            filesystem, path = fs.FileSystem.from_uri(uri)
            return filesystem.get_file_info(path).size or 0

        sizes = {s: sum(size(u) for u in v) for s, v in self.files.items()}
        n = min(self.spark.sparkContext.defaultParallelism, len(sizes))
        self.packs = pack_segments(sizes, n) if n else []
        self._acc = self.spark.sparkContext.accumulator([], _TaskStatsParam())
        self._driver_stats: deque = deque(maxlen=_TaskStatsParam.KEEP)
        self._lock = threading.Lock()
        self._runs = itertools.count()
        self.last_run = None

    def _next_run(self) -> int:
        with self._lock:
            self.last_run = next(self._runs)
            return self.last_run

    def _record(self, stats: list[dict]) -> None:
        with self._lock:
            self._driver_stats.extend(stats)

    def prepare(self, field_terms, columns: list[str], kernel, schema: str,
                segments=None, every_segment: bool = False) -> SegmentRun:
        """Plan ``kernel(segment, rows)`` over every segment holding
        postings of ``field_terms`` (``{field: terms}``; ``None`` terms =
        the whole field; a postings DataFrame runs through
        :meth:`run_df`). The kernel returns a pandas DataFrame matching
        ``schema`` (see the module doc for the contract). Segments without
        matching rows reach the kernel only with ``every_segment``
        (zero-row ``rows``). ``segments`` restricts the run to those
        segment ids. Nothing executes until :meth:`SegmentRun.collect` or
        :meth:`SegmentRun.df`."""
        return SegmentRun(self, field_terms, columns, kernel, schema,
                          segments=segments, every_segment=every_segment)

    def run(self, field_terms, columns: list[str], kernel, schema: str,
            segments=None, every_segment: bool = False):
        """:meth:`prepare` as a Spark DataFrame, for callers that compose
        one (joins, filters, the match-set substrate)."""
        return self.prepare(field_terms, columns, kernel, schema,
                            segments=segments,
                            every_segment=every_segment).df()

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
        """Per-pack counters of the last run executed, on either path (a
        Spark run's once its DataFrame has executed)."""
        with self._lock:
            run = self.last_run
            driver = [e for e in self._driver_stats if e["run"] == run]
        return sorted(driver + [e for e in self._acc.value
                                if e["run"] == run],
                      key=lambda e: e["task"])
