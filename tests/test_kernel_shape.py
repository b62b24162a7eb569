"""Static kernel-shape guards (VERDICT r4 next-#2/#3 done-criteria).

The round-3/4 performance regressions were all the same anti-pattern: an
interpreted Python loop over posting BLOCKS inside a per-segment kernel
(O(n_blocks) per query per segment — thousands of iterations on a hot term).
These tests pin the fix structurally: no kernel-path module may contain a
``for ... in range(n_blocks)`` / ``range(len(pdf))`` block-decode loop, nor
(checked on the syntax tree, whatever the loop's spelling) a one-block
``decode_block`` / ``decode_block_positions`` call inside a loop body or a
comprehension; all multi-block decodes must route through the batched
decoders.
"""

import ast
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# modules whose applyInPandas kernels sit on query / maintenance hot paths
KERNEL_MODULES = [
    "lucene_spark/search/wand.py",
    "lucene_spark/search/multiterm.py",
    "lucene_spark/search/searcher.py",
    "lucene_spark/indexing/maintenance.py",
]

# per-block interpreted loops over the kernel's input frame: explicit
# range loops AND pandas row iteration over `pdf` (the kernel-arg naming
# convention) — driver-side iteration over small frames keeps other names
_BLOCK_LOOP = re.compile(
    r"for\s+\w+\s+in\s+range\((?:n_blocks|len\(pdf\))\)"
    r"|for\s+[\w,\s]+\s+in\s+pdf\.iterrows\(\)")


def test_no_per_block_python_loops_on_kernel_paths():
    offenders = []
    for mod in KERNEL_MODULES:
        src = open(os.path.join(REPO, mod)).read()
        for m in _BLOCK_LOOP.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{mod}:{line}")
    assert not offenders, (
        "per-block Python loop on a kernel path (use decode_doc_ids_batch /"
        f" decode_blocks_batch): {offenders}")


# the one-block decoders: a call of one inside a loop is a per-block decode
_PER_BLOCK_DECODERS = {"decode_block", "decode_block_positions"}
# driver-side single-doc explain lookups: they decode the few blocks that
# hold one doc, never a segment's postings
_PER_BLOCK_DECODE_ALLOWED = {
    ("lucene_spark/search/searcher.py", "IndexSearcher.explain"),
    ("lucene_spark/search/searcher.py", "IndexSearcher._explain_mixed.tf_of"),
}
_COMPREHENSIONS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _looped_decode_calls(path):
    """Qualified names of the functions in ``path`` that call a one-block
    decoder inside a ``for`` / ``while`` body or a comprehension."""
    sites = []

    def visit(node, scope, in_loop):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                # a nested function body runs when it is called
                visit(child, scope + [child.name], False)
                continue
            looped = in_loop or isinstance(node, (ast.While,
                                                  *_COMPREHENSIONS)) or (
                # a for loop's iterable is evaluated once
                isinstance(node, (ast.For, ast.AsyncFor))
                and child is not node.iter)
            if isinstance(child, ast.Call) and looped:
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None)
                if name in _PER_BLOCK_DECODERS:
                    sites.append(".".join(scope))
            visit(child, scope, looped)

    visit(ast.parse(open(path).read()), [], False)
    return sites


def test_no_per_block_decode_in_loops():
    """Every multi-block decode of a kernel module goes through the batched
    decoders (``decode_blocks_batch`` / ``decode_doc_ids_batch`` /
    ``decode_positions_batch``): no one-block decode call sits in a loop
    body or a comprehension (the regex guard above only knows two loop
    spellings)."""
    offenders = []
    for mod in KERNEL_MODULES + ["lucene_spark/search/phrase.py"]:
        for site in _looped_decode_calls(os.path.join(REPO, mod)):
            if (mod, site) not in _PER_BLOCK_DECODE_ALLOWED:
                offenders.append(f"{mod}:{site}")
    assert not offenders, (
        "one-block decode in a loop on a kernel path (decode the blocks in "
        f"one batched call): {offenders}")


def test_batched_decoders_are_used_where_loops_were():
    # the three r4-flagged sites now import/route through the batch decoders
    wand = open(os.path.join(REPO, "lucene_spark/search/wand.py")).read()
    assert "decode_doc_ids_batch" in wand
    mt = open(os.path.join(REPO, "lucene_spark/search/multiterm.py")).read()
    assert mt.count("decode_blocks_batch") >= 2  # synonym + dismax kernels


def test_decode_blocks_batch_roundtrip():
    import numpy as np

    from lucene_spark.indexing.blocks import (
        decode_block, decode_blocks_batch, encode_term_blocks)

    rng = np.random.default_rng(7)
    docs = np.unique(rng.integers(0, 5000, size=700))
    tfs = rng.integers(1, 30, size=docs.size)
    norms = rng.integers(1, 255, size=docs.size)
    rows = list(encode_term_blocks(docs, tfs, norms))
    d, tf, nm, starts = decode_blocks_batch(
        [r["first_doc"] for r in rows], [r["last_doc"] for r in rows],
        [r["count"] for r in rows], [r["doc_gaps"] for r in rows],
        [r["tfs"] for r in rows], [r["norms"] for r in rows])
    np.testing.assert_array_equal(d, docs)
    np.testing.assert_array_equal(tf, tfs)
    np.testing.assert_array_equal(nm, norms)
    # starts align with the per-block decode
    for i, r in enumerate(rows):
        d1, t1, n1 = decode_block(r["first_doc"], r["count"], r["doc_gaps"],
                                  r["tfs"], r["norms"])
        s = starts[i]
        np.testing.assert_array_equal(d[s:s + r["count"]], d1)
        np.testing.assert_array_equal(tf[s:s + r["count"]], t1)
        np.testing.assert_array_equal(nm[s:s + r["count"]], n1)


# every per-segment postings kernel of the searcher runs through the
# exchange-free SegmentExecutor: no per-segment regrouping (Exchange
# hashpartitioning(seg)) may creep back in
def _migrated_functions():
    from lucene_spark.search import multiterm, searcher

    S = searcher.IndexSearcher
    return [S.search, S.msearch, S.count, S.score_df, S.match_df,
            S._flat_topk, S._flat_scored, S._phrase_scored,
            S._run_phrase_kernel, S._phrase_count, S._search_sorted_early,
            S._mixed_segment, S._span_match, S._automaton_match,
            S._interval_scored, S.term_vectors, S.combined_field_df,
            S._score_df_impl, S._match_df_impl, S.payload_score_df,
            S.span_payload_check_df, searcher._flat_topk_kernel,
            multiterm.constant_score_topk, multiterm.matching_docs_df,
            multiterm.constant_score_count, multiterm.synonym_scored,
            multiterm.dismax_scored, multiterm.synonym_topk,
            multiterm.dismax_topk]


def test_migrated_serving_paths_have_no_seg_exchange():
    import inspect

    for fn in _migrated_functions():
        src = inspect.getsource(fn)
        assert 'groupBy("seg")' not in src and "applyInPandas" not in src, (
            f"{fn.__qualname__} regroups by segment; route it through "
            "reader.segment_executor()")


def _grouping_sites(path):
    """Qualified names of the functions in ``path`` that call
    ``applyInPandas`` or ``groupBy("seg")``."""
    sites = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            name = getattr(child, "name", None)
            inner = (scope + [name] if isinstance(
                child, (ast.FunctionDef, ast.ClassDef)) else scope)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and (child.func.attr == "applyInPandas"
                         or (child.func.attr == "groupBy"
                             and [getattr(a, "value", None)
                                  for a in child.args] == ["seg"]))):
                sites.append(".".join(scope))
            visit(child, inner)

    visit(ast.parse(open(path).read()), [])
    return sites


def test_only_the_executor_adapter_groups_by_segment():
    import glob

    sites = {}
    for path in sorted(glob.glob(f"{REPO}/lucene_spark/search/*.py")):
        for site in _grouping_sites(path):
            key = (os.path.basename(path), site)
            sites[key] = sites.get(key, 0) + 1
    # one plan: groupBy("seg").applyInPandas in the DataFrame-source adapter
    assert sites == {("executor.py", "SegmentExecutor.run_df"): 2}, sites


def _serving_queries(searcher):
    """shape -> (query, {field: terms} it reads)."""
    from lucene_spark.corpus import VOCAB

    prefix = VOCAB[11][:3]
    vocab = searcher.reader.sorted_terms("text")
    return {
        "flat": (f"{VOCAB[0]} {VOCAB[3]}", {"text": [VOCAB[0], VOCAB[3]]}),
        "phrase": (f'"{VOCAB[0]} {VOCAB[3]}"',
                   {"text": [VOCAB[0], VOCAB[3]]}),
        "prefix": (f"{prefix}*",
                   {"text": [t for t in vocab if t.startswith(prefix)]}),
    }


def test_traced_search_runs_no_job_below_bound(spark, index_dir, job_shape,
                                               footer_overlap):
    """A warm small top-k runs in the driver: no Spark job, and it reads
    exactly the row groups whose footer statistics overlap its terms."""
    from lucene_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, index_dir)
    ex = s.reader.segment_executor()
    sc = spark.sparkContext
    for shape, (q, field_terms) in _serving_queries(s).items():
        want = s.search(q, 10)  # warm: term dictionary resident
        jobs, _stages, _tasks, hits = job_shape(
            sc, f"driver-{shape}", lambda: s.search(q, 10))
        stats = ex.task_stats()
        assert hits == want and hits, shape
        assert jobs == 0, (shape, jobs)
        assert {e["where"] for e in stats} == {"driver"}, shape
        assert {tuple(x) for e in stats for x in e["read"]} == \
            footer_overlap(index_dir, ex.files, field_terms)[0], shape


def test_traced_search_runs_one_stage(spark, index_dir, job_shape,
                                      monkeypatch):
    """Past the driver bound (forced here by a bound of 0) a top-k is one
    Spark job of one stage of at most nproc tasks."""
    from lucene_spark.search.executor import SegmentExecutor
    from lucene_spark.search.searcher import IndexSearcher

    s = IndexSearcher(spark, index_dir)
    sc = spark.sparkContext
    want = {shape: s.search(q, 10)
            for shape, (q, _ft) in _serving_queries(s).items()}
    monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", 0)
    for shape, (q, _ft) in _serving_queries(s).items():
        s.search(q, 10)
        jobs, stages, tasks, hits = job_shape(
            sc, f"one-stage-{shape}", lambda: s.search(q, 10))
        assert hits == want[shape] and hits, shape
        assert jobs == 1 and stages == 1, (shape, jobs, stages)
        assert tasks <= sc.defaultParallelism, (shape, tasks)


_EXECUTOR_ENTRIES = {"prepare", "run", "run_df"}


def _kernel_defs(path):
    """``(site, kernel function node)`` of every kernel handed to an
    executor entry (``.prepare``/``.run``/``.run_df``, the kernel is the
    third argument) in ``path``: a name resolves to the nested or
    module-level function of that name; a call (a kernel factory such as
    ``_flat_topk_kernel(...)``) to the module-level factory. Unresolved
    names are reported as ``(site, None)``."""
    tree = ast.parse(open(path).read())
    top = {n.name: n for n in tree.body
           if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
    found = []

    def visit(node, scope, local):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = dict(local)
                inner.update({n.name: n for n in ast.walk(child)
                              if isinstance(n, (ast.FunctionDef,
                                                ast.AsyncFunctionDef))
                              and n is not child})
                visit(child, scope + [child.name], inner)
                continue
            if isinstance(child, ast.ClassDef):
                visit(child, scope + [child.name], local)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in _EXECUTOR_ENTRIES):
                arg = (child.args[2] if len(child.args) > 2 else next(
                    (k.value for k in child.keywords if k.arg == "kernel"),
                    None))
                site = ".".join(scope)
                if isinstance(arg, ast.Name):
                    found.append((site, local.get(arg.id, top.get(arg.id))))
                elif isinstance(arg, ast.Call) and isinstance(arg.func,
                                                               ast.Name):
                    found.append((site, top.get(arg.func.id)))
            visit(child, scope, local)

    visit(tree, [], {})
    return found


def _builds_frame(fn) -> bool:
    return any(isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
               and n.func.attr == "DataFrame" for n in ast.walk(fn))


def test_executor_kernels_return_numpy_columns():
    """The kernel contract is ``kernel(seg, rows) -> {column: ndarray}``:
    no kernel handed to the executor (nor ``hits_frame``, which most of
    them return through) builds a pandas DataFrame; frames are built once
    per run at the executor's Spark boundary and ``collect()``."""
    import glob

    from lucene_spark.search import executor

    offenders, kernels = [], 0
    for path in sorted(glob.glob(f"{REPO}/lucene_spark/search/*.py")):
        if path.endswith("executor.py"):
            continue  # its entries pass the caller's kernel through
        for site, fn in _kernel_defs(path):
            mod = os.path.relpath(path, REPO)
            if fn is None:
                offenders.append(f"{mod}:{site}: kernel not resolved")
            elif _builds_frame(fn):
                offenders.append(f"{mod}:{site}:{fn.name}")
            else:
                kernels += 1
    assert not offenders, offenders
    assert kernels >= 16, kernels  # the 16 kernels of searcher and multiterm
    src = open(executor.__file__).read()
    hits = next(n for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "hits_frame")
    assert not _builds_frame(hits)
