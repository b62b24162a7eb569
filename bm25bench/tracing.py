"""Tracing for the ``--trace 1`` run, recorded from the benchmark's side.

Spans are recorded around calls into the engine's module functions by
wrapping them from here (the engine's files are not edited). A span holds
its name, start, end, the span that caused it and the id of the operation
(query, build, append, refresh) it belongs to; spans stay in memory and can
be written out when the run ends.

Work that runs inside Spark tasks (tokenize, block encode, the WAND kernel,
the postings scan they read) cannot be spanned from the driver, so it is
replayed on the driver over the same inputs: the same ``reader.postings``
scan, then ``wand.segment_topk`` per segment with its ``stats`` dict. The
replay's merged top-k must equal the operation's answer, which the run
counts as ``trace.replay_mismatches``.

Spark job, stage and task counts come from the status tracker, one job group
per traced operation.
"""

from __future__ import annotations

import bisect
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

# (span name, module path, owner attribute, method name or None)
WRAPPED = [
    ("searcher.search", "lucene_spark.search.searcher", "IndexSearcher", "search"),
    ("searcher.parse", "lucene_spark.search.searcher", "IndexSearcher", "parse"),
    ("searcher.execute", "lucene_spark.search.searcher", "IndexSearcher", "_collect"),
    ("reader.open", "lucene_spark.search.reader", "IndexReader", "__init__"),
    ("reader.term_stats", "lucene_spark.search.reader", "IndexReader", "term_stats"),
    ("reader.dict_load", "lucene_spark.search.reader", "IndexReader", "_term_cache"),
    ("builder.build", "lucene_spark.indexing.builder", "IndexBuilder", "build"),
    ("builder.stats", "lucene_spark.indexing.builder", "IndexBuilder", "_write_stats"),
    ("builder.stats", "lucene_spark.indexing.builder", "IndexBuilder", "_merge_stats"),
    ("incremental.append", "lucene_spark.streaming.incremental",
     "IncrementalIndexer", "append"),
    ("partitioning.plan", "lucene_spark.indexing.builder", "plan_boundaries", None),
    ("partitioning.plan", "lucene_spark.streaming.incremental", "plan_boundaries", None),
]


@dataclass
class Span:
    op: int
    name: str
    parent: int  # index into Tracer.spans, -1 for a top-level span
    t0: float
    t1: float = 0.0


@dataclass
class Op:
    id: int
    kind: str
    traced: bool
    t0: float
    t1: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    info: dict = field(default_factory=dict)


class Tracer:
    """Records spans inside traced operations; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[int] = []
        self._current: Op | None = None
        self._saved: list[tuple] = []
        self._sc = None

    # -- wrapping ------------------------------------------------------------
    def install(self, spark) -> None:
        if not self.enabled:
            return
        import importlib

        self._sc = spark.sparkContext
        for name, mod_name, owner_name, meth in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if meth else mod
            attr = meth or owner_name
            orig = owner.__dict__[attr] if meth else getattr(mod, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if tracer._current is None or not tracer._current.traced:
                return fn(*args, **kwargs)
            span = Span(tracer._current.id, name,
                        tracer._stack[-1] if tracer._stack else -1,
                        time.perf_counter())
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._stack.pop()
                span.t1 = time.perf_counter()

        traced.__wrapped__ = fn
        return traced

    # -- operations ----------------------------------------------------------
    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """One benchmark operation; spans and Spark jobs inside it are
        attributed to it when tracing is on and ``traced`` holds."""
        o = Op(len(self.ops), kind, self.enabled and traced, time.perf_counter())
        self.ops.append(o)
        self._current = o
        group = f"bm25bench-{o.id}"
        if o.traced:
            self._sc.setJobGroup(group, kind)
        try:
            yield o
        finally:
            o.t1 = time.perf_counter()
            self._current = None
            if o.traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(o, group)

    def _count_jobs(self, o: Op, group: str) -> None:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        o.jobs = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            o.stages += len(info.stageIds)
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is not None:
                    o.tasks += st.numTasks

    # -- read-out ------------------------------------------------------------
    def span_sum(self, op: Op, name: str) -> float:
        """Total wall time of the ``name`` spans of ``op``."""
        return sum(s.t1 - s.t0 for s in self.spans
                   if s.op == op.id and s.name == name)

    def uncovered(self, op: Op, name: str, parts: tuple) -> float:
        """Wall time of the ``name`` spans of ``op`` not covered by their
        direct child spans named in ``parts``."""
        total = 0.0
        for s in self.spans:
            if s.op != op.id:
                continue
            if s.name == name:
                total += s.t1 - s.t0
            elif (s.name in parts and s.parent >= 0
                  and self.spans[s.parent].name == name):
                total -= s.t1 - s.t0
        return total

    def traced_ops(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.traced]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for o in self.ops:
                f.write(json.dumps({"op": o.__dict__}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"span": s.__dict__}) + "\n")


# ---- driver-side replays of in-task layers ----------------------------------

FLAT_COLS = ["field", "term", "first_doc", "last_doc", "count", "doc_gaps",
             "tfs", "norms", "max_tf", "impact_tfs", "impact_norms",
             "doc_offset"]
PHRASE_COLS = ["term", "first_doc", "last_doc", "count", "doc_gaps", "tfs",
               "norms", "positions", "doc_offset"]
DOCS_COLS = ["first_doc", "last_doc", "count", "doc_gaps", "doc_offset"]
BYTE_COLS = ("doc_gaps", "tfs", "norms", "positions")


def replay_query(searcher, query: str, k: int) -> dict:
    """Replay the postings scan and per-segment kernel of one query.

    Returns the layer numbers plus ``hits`` (the replayed top-k, or None for
    shapes not served by the WAND kernel)."""
    from lucene_spark.search import ast
    from lucene_spark.search.wand import segment_topk

    node = ast.normalize(searcher.parse(query))
    out = {"postings_scan_s": 0.0, "postings_blocks": 0, "postings_bytes": 0,
           "kernel_sum_s": 0.0, "kernel_max_s": 0.0, "blocks_screened": 0,
           "blocks_kept": 0, "blocks_exact": 0, "blocks_decoded": 0,
           "segments": 0, "hits": None}
    specs = None
    if isinstance(node, (ast.TermQuery, ast.BooleanQuery)):
        wc = searcher._weighted_clauses(node)
        if wc is None:
            out["hits"] = []
            return out
        specs, msm = wc
        terms = [c.term.split(searcher.FIELD_SEP, 1)[1] for c in specs]
        cols = FLAT_COLS
    elif isinstance(node, ast.PhraseQuery):
        terms, cols = list(node.terms), PHRASE_COLS
    elif isinstance(node, ast.MultiTermQuery) and node.kind == "prefix":
        vocab = searcher.reader.sorted_terms(node.field) or []
        lo = bisect.bisect_left(vocab, node.value)
        hi = bisect.bisect_left(vocab, node.value + "\U0010ffff")
        terms, cols = vocab[lo:hi], DOCS_COLS
    else:
        return out
    if not terms:
        out["hits"] = [] if specs is not None else None
        return out

    t0 = time.perf_counter()
    pdf = searcher.reader.postings(terms).select("seg", *cols).toPandas()
    out["postings_scan_s"] = time.perf_counter() - t0
    out["postings_blocks"] = int(len(pdf))
    out["postings_bytes"] = int(sum(
        pdf[c].map(len).sum() for c in BYTE_COLS if c in pdf.columns))
    if specs is None:
        return out

    sep = searcher.FIELD_SEP
    docs, scores = [], []
    for _seg, g in pdf.groupby("seg", sort=True):
        rows = {c: g[c].to_numpy() for c in cols}
        rows["term"] = (g["field"] + sep + g["term"]).to_numpy(dtype=object)
        off = np.int64(rows["doc_offset"][0])
        rows["first_doc"] = rows["first_doc"].astype(np.int64) + off
        rows["last_doc"] = rows["last_doc"].astype(np.int64) + off
        st: dict = {}
        t0 = time.perf_counter()
        d, s = segment_topk(rows, specs, k, msm, prune=True, stats=st)
        dt = time.perf_counter() - t0
        out["kernel_sum_s"] += dt
        out["kernel_max_s"] = max(out["kernel_max_s"], dt)
        out["segments"] += 1
        out["blocks_screened"] += len(rows["term"])
        out["blocks_kept"] += st.get("blocks_kept", 0)
        out["blocks_exact"] += st.get("blocks_exact", 0)
        out["blocks_decoded"] += st.get("blocks_decoded", 0)
        docs.append(d)
        scores.append(s.astype(np.float32))
    if docs:
        d = np.concatenate(docs)
        s = np.concatenate(scores)
        order = np.lexsort((d, -s.astype(np.float64)))[:k]
        out["hits"] = [(int(d[i]), float(s[i])) for i in order]
    else:
        out["hits"] = []
    return out


def replay_build_kernels(pdf, analyzer_name: str, n_segments: int) -> dict:
    """Replay one segment's tokenize and block-encode steps on the driver.

    Follows ``builder._invert_segment``: tokenize the segment's texts, form
    (term, doc) postings with their tf by one stable sort, then encode the
    128-doc blocks. The segment is the first ``1/n_segments`` of the corpus
    in (conv_id, turn_idx) order, the rows the build puts in segment 0."""
    from lucene_spark.analysis import get_analyzer
    from lucene_spark.indexing.blocks import encode_segment_blocks
    from lucene_spark.smallfloat import int_to_byte4

    seg = pdf.iloc[: max(1, len(pdf) // n_segments)]
    analyzer = get_analyzer(analyzer_name)
    t0 = time.perf_counter()
    uniq, codes, dl, tok_pos = analyzer.tokenize_ids(seg["text"],
                                                     with_positions=True)
    tokenize_s = time.perf_counter() - t0
    n = len(seg)
    norms = int_to_byte4(dl).astype(np.int64)
    flat_docs = np.repeat(np.arange(n, dtype=np.int64), dl)
    key = codes * np.int64(max(n, 1)) + flat_docs
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    change = np.ones(key_s.size, dtype=bool)
    change[1:] = key_s[1:] != key_s[:-1]
    starts = np.flatnonzero(change)
    uc = key_s[starts]
    tf = np.diff(np.concatenate([starts, [key_s.size]])).astype(np.int64)
    d_arr = uc % max(n, 1)
    t0 = time.perf_counter()
    encode_segment_blocks(uc // max(n, 1), d_arr, tf, norms[d_arr],
                          term_pool=uniq, pos_flat=tok_pos[order])
    encode_s = time.perf_counter() - t0
    return {
        "tokenize_us_per_turn": tokenize_s / n * 1e6,
        "encode_us_per_posting": encode_s / max(int(tf.size), 1) * 1e6,
    }


def job_floor_s(spark, reps: int = 7) -> float:
    """Median wall time of a one-task Spark job (the scheduling floor)."""
    sc = spark.sparkContext
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
