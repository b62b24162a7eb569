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
after the reader opened stay invisible), cut to the exact ``(field == f) &
term ∈ terms`` rows and handed to the kernel.

The cut is a binary search, not a scan. Within a postings file each
field's rows are contiguous and sorted by term (the builder writes
``text`` and then the keyword fields; compaction writes fields in sorted
order), so every row group gets a directory of its fields' row runs when
it is read, and a query's rows are ``searchsorted`` ranges of those runs,
kept in file order. A row group that breaks this layout raises
``ValueError`` naming the file and row group (``tools/check_index.py``
reports such files).

Postings stay resident on the driver path: the executor keeps a
byte-bounded LRU of postings columns keyed by ``(file uri, row group,
column)`` (:attr:`SegmentExecutor.ROW_GROUP_CACHE_BYTES`), each held in the
numpy form the kernels consume (converted once, when read, and read-only,
so a kernel that writes to its input fails instead of corrupting the
cache), with the row group's directory. A read serves each planned row
group's columns from it and opens the file only for the missing ones. The
cache belongs to the reader's snapshot, whose files never change, so it
cannot serve a rewritten segment; a Spark task reads through a fresh cache
that keeps nothing and converts only the rows it selects. Routing does not
look at the cache: ``planned_bytes`` counts every planned row group.

The kernel contract: every per-segment postings kernel of the searcher is
written once, as ``kernel(seg, rows) -> {column: ndarray}``.

- ``rows`` maps each requested column to a numpy array of the segment's
  matching postings rows, with GLOBAL ``first_doc``/``last_doc`` (int64,
  the segment's docBase added).
- ``seg`` is a :class:`Segment`: its id, its docBase ``offset`` and its
  GLOBAL deleted docIDs. Kernels whose keys are built from docIDs
  (doc·2^34 composite keys in the span, automaton and interval kernels)
  subtract ``seg.offset`` to work on segment-local docIDs and add it back
  to their result; :meth:`Segment.live` drops deleted docs.
- The kernel returns numpy columns of its run's schema (``{}`` for no
  rows), usually one of three shapes (:func:`hits_frame`): the match set
  (``DOCS``), scored hits (``SCORED``), or one hit count (``COUNT``). No
  pandas frame is built per segment: :meth:`SegmentRun.collect`
  concatenates the columns once, and a frame is built only at the Spark
  boundary (the ``mapInPandas`` task, the ``applyInPandas`` group) and
  once per collected result.
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
which, how many of those and their bytes came from the cache, postings
rows and bytes, read ms and kernel ms, and the WAND block counters a
kernel adds through :meth:`Segment.add_counts`); :meth:`SegmentExecutor.
task_stats` returns them per run on both paths.
"""

from __future__ import annotations

import bisect
import itertools
import sys
import threading
import time
from collections import OrderedDict, deque
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.accumulators import AccumulatorParam

from lucene_spark.indexing.tableio import segment_of
from lucene_spark.search.wand import topk_order


@dataclass(frozen=True)
class Segment:
    """What a kernel knows about the segment it runs on."""

    id: int
    offset: int  # docBase: global docID = offset + segment-local docID
    deleted: np.ndarray | None  # GLOBAL deleted docIDs; None = no deletes
    # the pack's counters: kernel counts added here reach ``task_stats``
    counters: dict = field(compare=False, repr=False)

    def add_counts(self, counts: dict) -> None:
        """Add a kernel's counts (e.g. the WAND block counters) to the
        pack's counters."""
        for key, n in counts.items():
            self.counters[key] = self.counters.get(key, 0) + n

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

# the WAND kernel's block counters (``wand.segment_topk(stats=)``), summed
# per pack: blocks of the query terms kept past MUST_NOT, blocks whose exact
# impact bounds were scored, blocks decoded
BLOCK_COUNTERS = ("blocks_kept", "blocks_exact", "blocks_decoded")


def _schema_dtypes(schema: str) -> dict:
    """``{column: numpy dtype}`` of a kernel schema string."""
    return {name: _DTYPES[typ]
            for name, typ in (part.split() for part in schema.split(","))}


def hits_frame(docs, scores=None, count: bool = False, k=None) -> dict:
    """A kernel's output columns: one hit-count row (``count``), else the
    (doc_id) match set — its ``k`` smallest docIDs when ``k`` is set — or
    (doc_id, score) rows when ``scores`` are given — the segment's top
    ``k`` (score DESC, doc_id ASC) when ``k`` is set."""
    if count:
        return {"n": np.array([docs.size], np.int64)}
    if scores is None:
        return {"doc_id": docs if k is None else np.sort(docs)[:k]}
    if k is not None:
        order = topk_order(docs, scores, k)
        docs, scores = docs[order], scores[order]
    return {"doc_id": docs, "score": scores.astype(np.float32)}


def _n_rows(out: dict) -> int:
    """Rows of a kernel's output columns (``{}`` = none)."""
    return len(next(iter(out.values()))) if out else 0


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


class _Column(NamedTuple):
    """One cached postings column of one row group."""

    values: object  # read-only numpy array; a pyarrow Array when not held
    nbytes: int  # bytes held: see :func:`_numpy_form`
    # Arrow bytes per row: the type width (int) of a fixed-width column, or
    # prefix sums of value bytes + a 4-byte offset per row (variable width)
    row_bytes: object
    # ``field`` only: the row group's directory {field: (lo, hi) row run}
    runs: dict | None = None


class _RowGroupCache:
    """Byte-bounded LRU of decoded postings columns (:class:`_Column`),
    keyed by ``(file uri, row group, column)``. The driver path shares the
    executor's (its snapshot's files are immutable, so an entry can never
    go stale; it dies with the reader); a Spark task uses a fresh one of
    bound 0, which keeps nothing. ``lock`` guards the bookkeeping only; the
    parquet reads that fill it run outside it. ``nbytes`` is the sum of the
    held columns' ``nbytes`` and never exceeds ``cap``."""

    def __init__(self, cap: int, lock=None):
        self.cap, self.nbytes = cap, 0
        self._lock = lock if lock is not None else threading.Lock()
        self._items: OrderedDict = OrderedDict()

    def get(self, keys) -> dict:
        """``{key: _Column}`` of the held ``keys``, each touched."""
        out = {}
        with self._lock:
            for k in keys:
                e = self._items.get(k)
                if e is not None:
                    self._items.move_to_end(k)
                    out[k] = e
        return out

    def put(self, items: dict) -> None:
        """Hold ``items`` (``{key: _Column}``), evicting least recently
        used entries past ``cap``; a column larger than ``cap`` is not
        held."""
        with self._lock:
            for k, e in items.items():
                if e.nbytes > self.cap:
                    continue
                old = self._items.pop(k, None)
                if old is not None:
                    self.nbytes -= old.nbytes
                self._items[k] = e
                self.nbytes += e.nbytes
            while self.nbytes > self.cap:
                self.nbytes -= self._items.popitem(last=False)[1].nbytes


# CPython object sizes: a bytes object past its data, a 1-d view (no data)
_BYTES_HEAD = sys.getsizeof(b"")
_VIEW_HEAD = sys.getsizeof(np.zeros(2)[1:])


def _numpy_form(a):
    """``(values, held bytes)`` of pyarrow Array ``a`` in the numpy form
    the kernels consume. The held bytes are the array plus, for an object
    column, each distinct element object, counted without a Python pass
    over every row:

    - string: equal values share one object (fields repeat, and so do the
      terms of multi-block postings), so the objects are the dictionary's;
    - binary: CPython shares the empty and one-byte objects; every longer
      one is its own object of header plus data;
    - list: every element is a view of one flat array of the values."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = a.type
    if pa.types.is_string(t) and not a.null_count:
        d = a.dictionary_encode()
        uniq = d.dictionary.to_numpy(zero_copy_only=False)
        v = uniq[d.indices.to_numpy()]
        return v, v.nbytes + sum(map(sys.getsizeof, uniq))
    v = a.to_numpy(zero_copy_only=False)
    if pa.types.is_binary(t):
        lens = pc.binary_length(a).fill_null(0).to_numpy()
        small = lens <= 1  # and nulls (None)
        return v, (v.nbytes + int((lens[~small] + _BYTES_HEAD).sum())
                   + sum(map(sys.getsizeof, {id(x): x for x in v[small]}
                             .values())))
    if pa.types.is_list(t) and v.size and not a.null_count:
        base = v[0].base
        if base is not None and v[-1].base is base:
            return v, v.nbytes + v.size * _VIEW_HEAD + base.nbytes
    n = v.nbytes
    if v.dtype == object:
        for x in {id(x): x for x in v}.values():
            n += sys.getsizeof(x)
            if isinstance(x, np.ndarray) and x.base is not None:
                n += x.nbytes
    return v, n


def _row_bytes(a):
    """:attr:`_Column.row_bytes` of the pyarrow Array ``a``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = a.type
    if pa.types.is_list(t):
        lens = pc.multiply(pc.list_value_length(a),
                           t.value_type.bit_width // 8)
    elif pa.types.is_binary(t) or pa.types.is_string(t):
        lens = pc.binary_length(a)
    else:
        return t.bit_width // 8
    out = np.zeros(len(a) + 1, np.int64)
    np.cumsum(lens.fill_null(0).to_numpy(zero_copy_only=False) + 4,
              out=out[1:])
    return out


def _column(a, to_numpy: bool) -> _Column:
    """The :class:`_Column` of pyarrow Array ``a``: its numpy form,
    read-only (``to_numpy``), else ``a`` itself."""
    rb = _row_bytes(a)
    extra = rb.nbytes if isinstance(rb, np.ndarray) else 0
    if not to_numpy:
        return _Column(a, a.nbytes + extra, rb)
    v, held = _numpy_form(a)
    v.flags.writeable = False
    return _Column(v, held + extra, rb)


def _field_runs(fields: np.ndarray, terms: np.ndarray, uri: str,
                rg: int) -> dict:
    """``{field: (lo, hi)}``: the row run of each field of one row group.
    Raises ``ValueError`` naming the file and row group unless each field's
    rows are contiguous and its terms ascending (non-decreasing: a term's
    blocks are consecutive rows) — the layout term slices rely on."""
    cut = np.flatnonzero(fields[1:] != fields[:-1]) + 1
    lo = np.concatenate([[0], cut]).astype(np.int64)
    hi = np.concatenate([cut, [fields.size]]).astype(np.int64)
    names = fields[lo].tolist() if fields.size else []
    down = np.asarray(terms[1:] < terms[:-1], dtype=bool)
    down[cut - 1] = False
    if len(set(names)) != len(names) or down.any():
        raise ValueError(
            f"postings file {uri} row group {rg}: a field's rows are not "
            "contiguous or its terms are not ascending (see "
            "tools/check_index.py)")
    return dict(zip(names, zip(lo.tolist(), hi.tolist())))


def _read_row_groups(uri: str, md, missing: dict, resident: bool) -> dict:
    """``{(uri, row group, column): _Column}`` of the ``missing`` columns
    (``{row group: columns}``) of file ``uri``, opened once with its footer
    ``md``: one read per distinct column set. With ``resident`` (the
    driver's cache) every column takes its numpy form here, once, and a
    multi-row-group read's slices are copied, so a held column never pins
    the rest of its read; otherwise only ``field`` and ``term`` do (the
    directory is built from them) and the rest stay Arrow, of which a read
    converts only the rows it selects."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs

    groups: dict[tuple, list[int]] = {}
    for rg, cols in missing.items():
        groups.setdefault(cols, []).append(rg)
    out = {}
    filesystem, path = fs.FileSystem.from_uri(uri)
    with pq.ParquetFile(path, filesystem=filesystem, metadata=md) as pf:
        for cols, rgs in groups.items():
            tbl = pf.read_row_groups(rgs, columns=list(cols))
            copy = resident and len(rgs) > 1
            off = 0
            for rg in rgs:
                n = md.row_group(rg).num_rows
                for c in cols:
                    a = tbl.column(c).slice(off, n)
                    a = (a.chunk(0) if a.num_chunks == 1 and not copy
                         else pa.concat_arrays(a.chunks))
                    out[(uri, rg, c)] = _column(
                        a, resident or c in ("field", "term"))
                off += n
    return out


def _row_ranges(runs: dict, terms: np.ndarray, wanted: dict):
    """``(lo, hi)`` int64 arrays of the row ranges of one row group whose
    (field, term) is in ``wanted`` (``{field: sorted object array of
    terms}``, ``None`` = the field's whole run): binary search in each
    field's term run, ascending, adjacent ranges merged."""
    los, his = [], []
    for f, ts in wanted.items():
        run = runs.get(f)
        if run is None:
            continue
        lo, hi = run
        if ts is None:
            los.append(np.array([lo]))
            his.append(np.array([hi]))
            continue
        a = np.searchsorted(terms[lo:hi], ts, "left")
        b = np.searchsorted(terms[lo:hi], ts, "right")
        hit = b > a
        los.append(a[hit] + lo)
        his.append(b[hit] + lo)
    lo = np.concatenate(los) if los else np.zeros(0, np.int64)
    hi = np.concatenate(his) if his else np.zeros(0, np.int64)
    if lo.size < 2:
        return lo, hi
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    head = np.concatenate([[True], lo[1:] != hi[:-1]])
    return lo[head], hi[np.concatenate([head[1:], [True]])]


def _take_rows(values, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """The rows ``[lo, hi)`` of a column as numpy: one slice for a single
    range (a read-only view of a cached column), one index otherwise."""
    if lo.size == 1:
        part = values[int(lo[0]):int(hi[0])]
    else:
        n = hi - lo
        idx = np.arange(int(n.sum())) + np.repeat(lo - np.cumsum(n) + n, n)
        part = values[idx] if isinstance(values, np.ndarray) else \
            values.take(idx)
    return part if isinstance(part, np.ndarray) else \
        part.to_numpy(zero_copy_only=False)


def _range_bytes(row_bytes, lo: np.ndarray, hi: np.ndarray) -> int:
    if isinstance(row_bytes, np.ndarray):
        return int((row_bytes[hi] - row_bytes[lo]).sum())
    return row_bytes * int((hi - lo).sum())


def _read_segment_postings(seg: int, parts, field_terms: dict,
                           columns: list[str], counters: dict,
                           cache: _RowGroupCache) -> dict | None:
    """The rows of segment ``seg`` whose (field, term) is in
    ``field_terms`` (``{field: sorted terms}``, ``None`` = every term of
    the field), in file order, as ``{column: numpy array}`` of ``columns``
    (None when no row matches). ``parts`` lists the segment's files as
    ``(file index, uri, FileMetaData, planned row groups, row groups in the
    file)``; only the planned row groups are used, each column served from
    ``cache`` or, for the misses alone, read from the file (and offered to
    ``cache``). Rows are selected by binary search in each row group's
    directory (:func:`_field_runs`), never by a scan.

    Adds what it used to ``counters``: ``read`` lists every planned ``[seg,
    file index, row group]`` (cached or not); ``row_groups_cached`` and
    ``bytes_cached`` count those served without touching the file (and the
    held bytes of their columns); ``postings_rows`` counts the selected
    rows and ``postings_bytes`` their Arrow size over ``columns`` (type
    width per row, or value bytes plus a 4-byte offset per row for binary,
    string and list columns: the ``nbytes`` of those rows as a pyarrow
    table, without validity bitmaps)."""
    read_cols = list(dict.fromkeys(["field", "term", *columns]))
    wanted = {f: None if ts is None else np.asarray(ts, dtype=object)
              for f, ts in field_terms.items()}
    pieces: dict[str, list] = {c: [] for c in columns}
    n_rows = 0
    for fi, uri, md, keep, n_groups in parts:
        counters["row_groups"] += n_groups
        counters["row_groups_read"] += len(keep)
        counters["read"].extend([seg, fi, rg] for rg in keep)
        if not keep:
            continue
        got = cache.get([(uri, rg, c) for rg in keep for c in read_cols])
        missing = {}
        for rg in keep:
            miss = tuple(c for c in read_cols if (uri, rg, c) not in got)
            if miss:
                missing[rg] = miss
            else:
                counters["row_groups_cached"] += 1
                counters["bytes_cached"] += sum(got[(uri, rg, c)].nbytes
                                                for c in read_cols)
        if missing:
            new = _read_row_groups(uri, md, missing, resident=cache.cap > 0)
            for rg, cols in missing.items():
                if "field" in cols:
                    k = (uri, rg, "field")
                    terms = new.get((uri, rg, "term"), got.get(
                        (uri, rg, "term")))
                    new[k] = new[k]._replace(runs=_field_runs(
                        new[k].values, terms.values, uri, rg))
            cache.put(new)
            got.update(new)
        for rg in keep:
            lo, hi = _row_ranges(got[(uri, rg, "field")].runs,
                                 got[(uri, rg, "term")].values, wanted)
            if not lo.size:
                continue
            n_rows += int((hi - lo).sum())
            for c in columns:
                col = got[(uri, rg, c)]
                pieces[c].append(_take_rows(col.values, lo, hi))
                counters["postings_bytes"] += _range_bytes(col.row_bytes,
                                                           lo, hi)
    counters["postings_rows"] += n_rows
    if not n_rows:
        return None
    return {c: v[0] if len(v) == 1 else np.concatenate(v)
            for c, v in pieces.items()}


def _segment(s: int, off: int, dload, counters: dict) -> Segment:
    return Segment(s, off, dload(s) + off if dload else None, counters)


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
               every_segment: bool, cache: _RowGroupCache | None = None):
    """The task body of a run, shared by both paths: ``body(t, where,
    stats)`` yields the non-empty kernel outputs (``{column: ndarray}``) of
    pack ``t`` and, once they are exhausted, appends its counters dict to
    ``stats``. Reads go through ``cache`` (the executor's on the driver
    path); with none each call uses a fresh one of bound 0. Without
    ``cache`` the body holds only picklable data (it is shipped to Spark
    tasks)."""

    def body(t: int, where: str, stats: list):
        c = {"run": run_id, "task": t, "where": where,
             "segments": packs[t], "row_groups": 0, "row_groups_read": 0,
             "row_groups_cached": 0, "bytes_cached": 0,
             "read": [], "postings_rows": 0, "postings_bytes": 0,
             "read_ms": 0.0, "kernel_ms": 0.0,
             **dict.fromkeys(BLOCK_COUNTERS, 0)}
        rg_cache = cache if cache is not None else _RowGroupCache(0)
        for s in packs[t]:
            t0 = time.perf_counter()
            rows = (_read_segment_postings(s, parts[s], field_terms,
                                           columns, c, rg_cache)
                    if field_terms else None)
            c["read_ms"] += (time.perf_counter() - t0) * 1e3
            if rows is None and not every_segment:
                continue
            off = int(offsets[s])
            seg = _segment(s, off, dload, c)
            t0 = time.perf_counter()
            out = kernel(seg, _globalize(
                _empty_rows(columns) if rows is None else rows, off))
            c["kernel_ms"] += (time.perf_counter() - t0) * 1e3
            if _n_rows(out):
                yield out
        stats.append(c)

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

    def _body(self, run_id: int, cache: _RowGroupCache | None = None):
        reader = self.ex.reader
        return _pack_body(run_id, self.packs, self.parts, self.field_terms,
                          self.columns, self.kernel, reader.offsets,
                          reader.deleted_loader(), self.every_segment, cache)

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
                    stats: list = []
                    for out in body(int(t), "spark", stats):
                        yield pd.DataFrame(out)
                    acc.add(stats)

        n = len(self.packs)
        return ex.spark.range(n, numPartitions=n).mapInPandas(task,
                                                              self.schema)

    def collect(self) -> pd.DataFrame:
        """Execute the run and return every kernel row as one pandas frame
        of ``schema``: in the driver when ``where == "driver"``, else as
        the Spark stage of :meth:`df` without AQE."""
        dtypes = _schema_dtypes(self.schema)
        if self.where == "driver":
            body = self._body(self.ex._next_run(), self.ex._cache)
            stats: list = []
            outs = [out for t in range(len(self.packs))
                    for out in body(t, "driver", stats)]
            self.ex._record(stats)
            return pd.DataFrame({
                c: np.concatenate([o[c] for o in outs]).astype(dt, copy=False)
                if outs else np.zeros(0, dt) for c, dt in dtypes.items()})
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
    # 12k and 96k turns; least-squares fits over 240 queries, two runs:
    # driver 8.6 / 18.7 ms + 14.9 / 14.7 ms/MB, Spark 125.5 / 152.0 ms +
    # 0.6 / -1.2 ms/MB, equal at 8.2 / 8.4 MB — README,
    # tools/executor_crossover.py). Re-measured with the row-group cache
    # warm: driver 0.5 / -7.4 ms + 16.1 / 12.3 ms/MB, Spark 151.2 / 113.4
    # ms - 8.0 / + 2.9 ms/MB, equal at 6.3 / 12.9 MB; the two fits fall
    # on either side of the bound, so it stays. Re-measured with term
    # slices and numpy kernel outputs: driver -4.9 / -59.7 ms + 11.9 /
    # 24.1 ms/MB, Spark 139.4 / 89.8 ms - 6.5 / + 6.3 ms/MB, equal at 7.8
    # / 8.4 MB; it stays.
    DRIVER_RUN_BYTES = 8_000_000
    # bytes of decoded postings columns the driver path keeps resident
    # across runs (:class:`_RowGroupCache`)
    ROW_GROUP_CACHE_BYTES = 64_000_000

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
        self._cache = _RowGroupCache(self.ROW_GROUP_CACHE_BYTES, self._lock)
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
        :meth:`run_df`). The kernel returns ``{column: ndarray}`` of
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
            seg = _segment(int(pdf["seg"].iloc[0]), off, dload, {})
            return pd.DataFrame(kernel(seg, _globalize(
                {c: pdf[c].to_numpy() for c in columns}, off)))

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
