"""Seeded property test of the block-max WAND kernel (``wand.segment_topk``).

Random multi-block postings of a handful of terms, encoded with both
postings codecs, random boolean clause lists (duplicates, MUST / FILTER /
MUST_NOT / SHOULD, minimumShouldMatch) and random deleted docs. The kernel's
top-k must equal an independent brute-force evaluation written here (one
float32 BM25 score per doc and clause, summed in double), must equal the
unpruned kernel, and its block counters must be consistent with each other
and with the blocks it actually decoded.
"""

import numpy as np
import pytest

from lucene_spark.indexing import blocks
from lucene_spark.indexing.blocks import (CODEC_PFOR, CODEC_VARINT,
                                          encode_term_blocks)
from lucene_spark.search.ast import FILTER, MUST, MUST_NOT, SHOULD
from lucene_spark.search.wand import ClauseSpec, segment_topk
from lucene_spark.similarity import BM25Similarity

F32 = np.float32
N_DOCS = 12000
OFFSET = 70000  # the segment's docBase: the kernel sees GLOBAL docIDs


def _postings(rng, n_terms, flat):
    """term -> (sorted segment-local docs, tfs, norm codes of those docs).
    Each term's tfs are high in one random doc window, so block bounds
    differ and pruning has blocks to skip; ``flat`` postings have one norm
    and tfs 1-3 instead, so most blocks reach the same exact bound and
    top scores tie across blocks (the pruning must keep every chunk whose
    bound equals the k-th score: ties go to the smaller docID)."""
    norm_of = (np.full(N_DOCS, 100) if flat
               else rng.integers(1, 256, size=N_DOCS))
    out = {}
    for i in range(n_terms):
        df = int(rng.integers(20, 4000))
        docs = np.sort(rng.choice(N_DOCS, size=df, replace=False))
        if flat:
            tfs = rng.integers(1, 4, size=df)
        else:
            lo = int(rng.integers(0, N_DOCS))
            hot = (docs >= lo) & (docs < lo + 600)
            tfs = (rng.geometric(0.7, size=df)
                   + hot * rng.integers(5, 30, size=df))
        out[f"t{i}"] = (docs, tfs, norm_of[docs])
    return out


def _block_rows(rng, postings, codec):
    """The postings block rows of every term, shuffled (the kernel takes
    them in any order), with GLOBAL first_doc / last_doc."""
    rows = []
    for t, (docs, tfs, norms) in postings.items():
        for b in encode_term_blocks(docs, tfs, norms, codec=codec):
            rows.append({"term": t, **b})
    rows = [rows[i] for i in rng.permutation(len(rows))]
    cols = ["first_doc", "last_doc", "count", "max_tf", "doc_gaps", "tfs",
            "norms", "impact_tfs", "impact_norms"]
    out = {"term": np.array([r["term"] for r in rows], dtype=object)}
    for c in cols:
        vals = [r[c] for r in rows]
        out[c] = (np.array(vals, dtype=np.int64)
                  if c in ("first_doc", "last_doc", "count", "max_tf")
                  else np.array(vals + [None], dtype=object)[:-1])
    out["first_doc"] += OFFSET
    out["last_doc"] += OFFSET
    return out


def _clauses(rng, postings):
    """A random clause list over the terms plus one corpus-absent SHOULD
    term, its first clause repeated, and its minimumShouldMatch."""
    sim = BM25Similarity()
    sum_ttf = int(sum(tfs.sum() for _d, tfs, _n in postings.values()))
    terms = list(postings) + ["absent"]
    n = int(rng.integers(2, 8))
    picks = [terms[i] for i in rng.integers(0, len(terms), size=n)]
    clauses = []
    for t in picks:
        occur = rng.choice([SHOULD, SHOULD, SHOULD, SHOULD, MUST, FILTER,
                            MUST_NOT])
        if t == "absent" and occur in (MUST, FILTER):
            occur = SHOULD  # keep most cases matchable
        df = int(postings[t][0].size) if t in postings else 1
        scorer = (sim.scorer(float(rng.uniform(0.5, 3.0)), N_DOCS, sum_ttf,
                             [df])
                  if occur in (MUST, SHOULD) else None)
        clauses.append(ClauseSpec(t, str(occur),
                                  scorer.weight if scorer else F32(0),
                                  scorer, df))
    clauses.append(clauses[0])  # Lucene scores a duplicate clause twice
    n_should = sum(c.occur == SHOULD for c in clauses)
    msm = int(rng.integers(0, min(n_should, 3) + 1))
    return clauses, msm


def _brute_force(postings, clauses, msm, deleted, k):
    """Top-k (doc, score) by scoring every doc against every clause: the
    BM25 term score ``w - w / (1 + tf * cache[norm])`` in float32 per
    (doc, clause), summed in double, cast to float32 once."""
    tf_of = {t: dict(zip(docs.tolist(), tfs.tolist()))
             for t, (docs, tfs, _n) in postings.items()}
    norm_of = {}
    for docs, _tfs, norms in postings.values():
        norm_of.update(zip(docs.tolist(), norms.tolist()))
    n_req = sum(c.occur in (MUST, FILTER) for c in clauses)
    hits = []
    for doc in sorted(set(norm_of) - {d - OFFSET for d in deleted}):
        matched = [c for c in clauses if doc in tf_of.get(c.term, {})]
        if any(c.occur == MUST_NOT for c in matched):
            continue
        n_must = sum(c.occur in (MUST, FILTER) for c in matched)
        n_should = sum(c.occur == SHOULD for c in matched)
        if n_must < n_req:
            continue
        if n_req == 0 and n_should < max(1, msm):
            continue
        if n_req and n_should < msm:
            continue
        total = 0.0
        for c in matched:
            if c.scorer is None:
                continue
            w = F32(c.scorer.weight)
            inv = c.scorer.cache[norm_of[doc] & 0xFF]
            denom = F32(F32(1.0) + F32(F32(tf_of[c.term][doc]) * inv))
            total += float(F32(w - F32(w / denom)))
        hits.append((doc + OFFSET, F32(total)))
    hits.sort(key=lambda h: (-float(h[1]), h[0]))
    hits = hits[:k]
    return (np.array([d for d, _s in hits], dtype=np.int64),
            np.array([s for _d, s in hits], dtype=F32))


@pytest.mark.parametrize("codec", [CODEC_VARINT, CODEC_PFOR])
def test_segment_topk_equals_brute_force(codec, monkeypatch):
    # count the blocks the kernel hands to the batched decoder: each kept
    # block is decoded at most once, so the total is ``blocks_decoded``
    decoded = []
    batch = blocks.decode_blocks_batch
    monkeypatch.setattr(blocks, "decode_blocks_batch", lambda first, *a: (
        decoded.append(len(first)), batch(first, *a))[1])
    rng = np.random.default_rng(20261019 + codec)
    checked = pruned = 0
    for case in range(40):
        postings = _postings(rng, int(rng.integers(2, 6)), case % 4 == 3)
        rows = _block_rows(rng, postings, codec)
        clauses, msm = _clauses(rng, postings)
        deleted = (np.unique(rng.integers(0, N_DOCS, size=300)) + OFFSET
                   if rng.random() < 0.5 else None)
        k = int(rng.choice([1, 5, 10, 50]))
        stats, stats_all = {}, {}
        decoded.clear()
        got = segment_topk(rows, clauses, k, msm, prune=True,
                           deleted=deleted, stats=stats)
        assert sum(decoded) == stats.get("blocks_decoded", 0)
        full = segment_topk(rows, clauses, k, msm, prune=False,
                            deleted=deleted, stats=stats_all)
        want = _brute_force(postings, clauses, msm,
                            () if deleted is None else deleted, k)
        for a, b in ((got, want), (full, want)):
            np.testing.assert_array_equal(a[0], b[0])
            assert a[1].dtype == F32 and a[1].tobytes() == b[1].tobytes()
        if stats:  # a case with no kept block returns before counting
            assert stats["blocks_decoded"] <= stats["blocks_kept"]
            assert stats["blocks_decoded"] <= stats_all["blocks_decoded"]
            pruned += stats["blocks_decoded"] < stats_all["blocks_decoded"]
        checked += want[0].size > 0
    assert checked >= 15  # most cases have hits
    assert pruned >= 3  # and the pruned kernel did skip blocks in some
