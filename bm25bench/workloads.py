"""The workloads, their set-up, answer checks and metrics.

One driver process, one closed-loop client: each operation starts when the
previous one has returned. A set-up is the same for every workload:
bulk-build the base corpus, reopen a searcher and answer a probe query. It
runs ``SETUP_REPS`` times; the first is cold (JVM JIT, Python workers) and
counts only towards ``setup_s``, the later ones also give the build and
refresh samples. After an untimed warm-up of queries of the workload's
shape, the timed window runs the workload's query stream against the last
set-up's index. Traced runs finally append the micro-batch and reopen.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import runtime
from tracing import Tracer, job_floor_s, replay_build_kernels, replay_query

K = 10
SETUP_REPS = 3
WARMUP_QUERIES = 32
WARMUP_MAX_S = 8.0
STREAM_LEN = 4000

CORPUS_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


@dataclass
class Run:
    """State and samples of one benchmark run."""

    ctx: object  # runtime.SparkRun
    tracer: Tracer
    inputs: gen.Inputs
    seconds: float
    n_segments: int
    setup_s: list = field(default_factory=list)
    build_s: list = field(default_factory=list)
    refresh_s: list = field(default_factory=list)
    query_s: list = field(default_factory=list)
    query_traced: list = field(default_factory=list)
    executed: list = field(default_factory=list)  # (query, hits, op)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    index_bytes: int = 0
    postings_bytes: int = 0
    text_bytes: int = 0
    base_df: object = None
    batch_df: object = None
    peak_rss_mb: float = 0.0
    detail: dict = field(default_factory=dict)

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def n_base(self) -> int:
        return len(self.inputs.base.pdf)

    @property
    def index_dir(self) -> str:
        return self.ctx.path("data", "index")

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(what)


def batch_turns(turns: int) -> int:
    """Turns of the appended micro-batch for a base corpus of ``turns``."""
    return max(10, turns // 25)


def load_inputs(run: Run) -> None:
    """Write the generated corpus and batch as parquet and open them."""
    frames = {"base": run.inputs.base.pdf, "batch": run.inputs.batch}
    for name, pdf in frames.items():
        path = run.ctx.path("data", f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, schema=CORPUS_SCHEMA,
                                            preserve_index=False), path)
        frames[name] = run.spark.read.parquet(path)
    run.base_df, run.batch_df = frames["base"], frames["batch"]
    run.text_bytes = int(
        run.inputs.base.pdf["text"].str.encode("utf-8").str.len().sum())


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---- operations ---------------------------------------------------------------
# ``timed`` operations give samples and are traced; the cold first set-up's
# are neither.

def build(run: Run, timed: bool) -> None:
    from lucene_spark.indexing.builder import IndexBuilder

    shutil.rmtree(run.index_dir, ignore_errors=True)
    with run.tracer.op("build", timed) as op:
        res = IndexBuilder(run.spark, run.index_dir,
                           num_segments=run.n_segments).build(run.base_df)
    run.attempted += 1
    if res["doc_count"] != run.n_base:
        run.fail(f"build doc_count {res['doc_count']} != {run.n_base}")
    if timed:
        run.build_s.append(op.t1 - op.t0)
    if op.traced:
        op.info["phase_sec"] = res.get("phase_sec", {})
        wall = pq.read_table(f"{run.index_dir}/build_manifest",
                             columns=["wall_ms"]).column("wall_ms").to_numpy()
        op.info["segment_ms"] = [int(x) for x in wall]


def reopen(run: Run, probe: str, timed: bool, batch: bool = False):
    """Open a searcher on the index and answer ``probe``.

    After a build the probe's top-k joins the oracle check. After the
    append (``batch``) the probe is the batch's marker and must return
    exactly the batch's docIDs, which follow the base's; the doc count must
    then be base plus batch."""
    from lucene_spark.search.searcher import IndexSearcher

    n_batch = len(run.inputs.batch)
    with run.tracer.op("refresh", timed or batch) as op:
        searcher = IndexSearcher(run.spark, run.index_dir)
        hits = searcher.search(probe, k=n_batch + 1 if batch else K)
    run.attempted += 1
    if timed:
        run.refresh_s.append(op.t1 - op.t0)
    if not batch:
        run.executed.append((probe, [(h.doc_id, h.score) for h in hits], op))
        return searcher
    got = sorted(h.doc_id for h in hits)
    want = list(range(run.n_base, run.n_base + n_batch))
    if got != want:
        run.fail(f"probe {probe}: {len(got)} hits, first {got[:3]} "
                 f"want first {want[:3]}")
    if searcher.reader.doc_count != run.n_base + n_batch:
        run.fail(f"doc_count {searcher.reader.doc_count} "
                 f"!= {run.n_base + n_batch}")
    run.detail["segments_after_append"] = int(
        searcher.reader.manifest["num_segments"])
    return searcher


def setup(run: Run, probe: str, warmup: list):
    """``SETUP_REPS`` set-ups (build the base corpus, reopen and answer the
    probe), then the serving warm-up. The first set-up is cold (JVM JIT,
    Python workers); only the later ones give build and refresh samples.
    Returns the last searcher."""
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        build(run, timed=rep > 0)
        searcher = reopen(run, probe, timed=rep > 0)
        run.setup_s.append(time.perf_counter() - t0)
    run.index_bytes = _dir_bytes(run.index_dir)
    run.postings_bytes = _dir_bytes(os.path.join(run.index_dir, "postings"))
    # Query latency falls by about a third over the first ~30 queries of a
    # process (measured: 0.8 s -> 0.5 s on query_long) before it levels off,
    # so the window starts after WARMUP_QUERIES queries of the same shape,
    # cut at WARMUP_MAX_S to bound the run's length.
    t0 = time.perf_counter()
    for q in warmup:
        searcher.search(q, k=K)
        if time.perf_counter() - t0 > WARMUP_MAX_S:
            break
    run.detail["warmup_s"] = round(time.perf_counter() - t0, 3)
    return searcher


def append_and_reopen(run: Run) -> None:
    """Traced runs only: append the micro-batch to the served index and
    reopen (the append and reopen layers; too slow for every run)."""
    from lucene_spark.streaming.incremental import IncrementalIndexer

    with run.tracer.op("append") as op:
        IncrementalIndexer(run.spark, run.index_dir).append(run.batch_df)
    run.attempted += 1
    run.detail["append_s"] = round(op.t1 - op.t0, 3)
    reopen(run, gen.MARKER, timed=False, batch=True)


# ---- workload loops -----------------------------------------------------------

def query_loop(run: Run, searcher, stream: list) -> None:
    deadline = time.perf_counter() + run.seconds
    i = 0
    while time.perf_counter() < deadline:
        q = stream[i % len(stream)]
        traced = i % 2 == 0  # odd queries run untraced: the overhead baseline
        i += 1
        hits = None
        with run.tracer.op("query", traced) as op:
            try:
                hits = searcher.search(q, k=K)
            except Exception as e:  # a raised answer is a failed operation
                run.fail(f"{q!r} raised {type(e).__name__}: {e}")
        run.attempted += 1
        run.query_s.append(op.t1 - op.t0)
        run.query_traced.append(op.traced)
        if hits is not None:
            run.executed.append((q, [(h.doc_id, h.score) for h in hits], op))
            if op.traced:
                op.info["replay"] = replay_query(searcher, q, K)


def check_answers(run: Run) -> None:
    """Compare every timed top-k with ``goldens.BruteForceIndex`` over the
    base corpus: equal docIDs and float32 scores."""
    if not run.executed:
        return
    from lucene_spark.goldens import BruteForceIndex

    t0 = time.perf_counter()
    oracle = BruteForceIndex(run.inputs.base.pdf)
    expected: dict = {}
    for q, hits, op in run.executed:
        if q not in expected:
            expected[q] = [(int(d), float(np.float32(s)))
                           for d, s in oracle.search(q, K)]
        got = [(int(d), float(np.float32(s))) for d, s in hits]
        if got != expected[q]:
            run.fail(f"{q!r}: got {got[:2]} want {expected[q][:2]}")
        rp = op.info.get("replay")
        if rp is not None and rp["hits"] is not None:
            op.info["replay_mismatch"] = int(
                [(d, float(np.float32(s))) for d, s in rp["hits"]] != got)
    run.detail["oracle_s"] = round(time.perf_counter() - t0, 3)


# ---- metrics --------------------------------------------------------------------

def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _p90(xs) -> float:
    if len(xs) < 2:
        return float(xs[0]) if xs else float("nan")
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def end_to_end(run: Run) -> dict:
    q = run.query_s
    return {
        "setup_s": (_median(run.setup_s), "s"),
        "query_p50_s": (_median(q), "s"),
        "qps": (len(q) / sum(q) if q else float("nan"), "1/s"),
        "index_bytes_per_text_byte": (run.index_bytes / run.text_bytes, "ratio"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }


def two_sample(run: Run) -> dict:
    """Figures from too few samples per run to hold a bound (the window's
    p90 of ~20 queries, two warm builds and reopens); in the record's
    detail and, for builds and reopens, among the per-layer metrics."""
    return {
        "query_p90_s": _p90(run.query_s),
        "build_turns_per_s": run.n_base / _median(run.build_s),
        "refresh_p50_s": _median(run.refresh_s),
    }


def per_layer(run: Run) -> dict:
    tr = run.tracer
    m: dict = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    qops = tr.traced_ops("query")
    reps = [o.info["replay"] for o in qops if o.info.get("replay")]
    n = max(len(qops), 1)
    put("spark.jobs_per_query", sum(o.jobs for o in qops) / n, "count")
    put("spark.stages_per_query", sum(o.stages for o in qops) / n, "count")
    put("spark.tasks_per_query", sum(o.tasks for o in qops) / n, "count")
    put("searcher.parse_s",
        _median([tr.span_sum(o, "searcher.parse") for o in qops]), "s")
    put("searcher.execute_s",
        _median([tr.span_sum(o, "searcher.execute") for o in qops]), "s")
    put("reader.term_stats_s",
        _median([tr.span_sum(o, "reader.term_stats") for o in qops]), "s")
    # in-query spans only: the replayed scan is a separate driver-side job
    put("searcher.unattributed_s", _median([
        tr.uncovered(o, "searcher.search", ("searcher.parse",
                                            "reader.term_stats",
                                            "searcher.execute"))
        for o in qops]), "s")
    nr = max(len(reps), 1)

    def rsum(key):
        return sum(r[key] for r in reps)

    put("reader.postings_scan_s",
        _median([r["postings_scan_s"] for r in reps]) if reps else 0.0, "s")
    put("reader.postings_blocks", rsum("postings_blocks") / nr, "count")
    put("reader.postings_bytes", rsum("postings_bytes") / nr, "bytes")
    put("wand.kernel_sum_s", rsum("kernel_sum_s") / nr, "s")
    put("wand.kernel_max_s", rsum("kernel_max_s") / nr, "s")
    for c in ("screened", "kept", "exact", "decoded"):
        put(f"wand.blocks_{c}", rsum(f"blocks_{c}") / nr, "count")
    put("wand.decode_ratio",
        rsum("blocks_decoded") / max(rsum("blocks_screened"), 1), "ratio")
    put("trace.replay_mismatches",
        sum(o.info.get("replay_mismatch", 0) for o in qops), "count")

    # reopen layers
    rops = tr.traced_ops("refresh")
    put("reader.open_s",
        _median([tr.span_sum(o, "reader.open") for o in rops]), "s")
    put("reader.dict_load_s",
        _median([tr.span_sum(o, "reader.dict_load") for o in rops]), "s")

    extra = two_sample(run)
    put("builder.turns_per_s", extra["build_turns_per_s"], "1/s")
    put("searcher.refresh_s", extra["refresh_p50_s"], "s")
    bops = tr.traced_ops("build")
    put("partitioning.plan_s",
        _median([tr.span_sum(o, "partitioning.plan") for o in bops]), "s")
    put("builder.invert_s",
        _median([o.info["phase_sec"].get("invert", 0.0) for o in bops]), "s")
    put("builder.stats_s",
        _median([tr.span_sum(o, "builder.stats") for o in bops]), "s")
    seg_ms = [ms for o in bops for ms in [o.info.get("segment_ms", [])] if ms]
    put("builder.segment_ms_max", _median([max(s) for s in seg_ms]), "ms")
    put("builder.segment_ms_median",
        _median([statistics.median(s) for s in seg_ms]), "ms")
    put("spark.jobs_per_build", _median([o.jobs for o in bops]), "count")

    aops = tr.traced_ops("append")
    put("spark.jobs_per_append", _median([o.jobs for o in aops]), "count")
    put("incremental.append_s", _median([o.t1 - o.t0 for o in aops]), "s")
    put("partitioning.append_plan_s",
        _median([tr.span_sum(o, "partitioning.plan") for o in aops]), "s")
    put("builder.append_stats_s",
        _median([tr.span_sum(o, "builder.stats") for o in aops]), "s")

    for key, value in run.detail.get("replay_build", {}).items():
        unit = "us"
        put({"tokenize_us_per_turn": "analysis.tokenize_us_per_turn",
             "encode_us_per_posting": "blocks.encode_us_per_posting"}[key],
            value, unit)
    put("blocks.postings_bytes_per_turn",
        run.postings_bytes / (len(run.inputs.base.pdf)
                              + len(run.inputs.batch)), "bytes")
    put("session.job_floor_s", run.detail.get("job_floor_s", 0.0), "s")

    traced = [t for t, tf in zip(run.query_s, run.query_traced) if tf]
    plain = [t for t, tf in zip(run.query_s, run.query_traced) if not tf]
    put("trace.query_p50_traced_s", _median(traced), "s")
    put("trace.query_p50_untraced_s", _median(plain), "s")
    put("trace.overhead_s", _median(traced) - _median(plain), "s")
    return m


# ---- entry ----------------------------------------------------------------------

def execute(ctx, workload: str, seed: int, seconds: float, turns: int,
            trace: bool) -> Run:
    inputs = gen.generate(seed, turns, batch_turns(turns))
    tracer = Tracer(trace)
    # one segment per core, the engine's default (defaultParallelism)
    run = Run(ctx, tracer, inputs, seconds, n_segments=ctx.cores)
    load_inputs(run)
    tracer.install(run.spark)
    try:
        if workload == "query_short":
            stream = gen.short_queries(inputs, STREAM_LEN, seed)
            warmup = gen.short_queries(inputs, WARMUP_QUERIES, seed + 1)
        else:
            stream = gen.long_queries(inputs, STREAM_LEN, seed)
            warmup = gen.long_queries(inputs, WARMUP_QUERIES, seed + 1)
        probe = gen.mid_term(inputs, seed)
        searcher = setup(run, probe, warmup)
        if trace:
            run.detail["job_floor_s"] = job_floor_s(run.spark)
            run.detail["replay_build"] = replay_build_kernels(
                inputs.base.pdf, "standard", run.n_segments)
        query_loop(run, searcher, stream)
        run.peak_rss_mb = runtime.tree_peak_rss_mb()
        if trace:
            append_and_reopen(run)
    finally:
        tracer.uninstall()
    check_answers(run)
    run.detail.update(gen.properties(inputs, stream))
    run.detail["queries_executed"] = len(run.query_s)
    run.detail["failures"] = run.failures
    run.detail["error_rate"] = run.failed / max(run.attempted, 1)
    run.detail["session_start_s"] = round(ctx.session_start_s, 3)
    run.detail.update(two_sample(run))
    for name in ("setup_s", "build_s", "refresh_s", "query_s"):
        run.detail[f"samples_{name}"] = [round(x, 3) for x in getattr(run, name)]
    return run
