"""Payload module: DelimitedPayloadAnalyzer chain, per-occurrence payload
storage (the .pay analogue), and PayloadScoreQuery min/max/sum/avg ≡ a
float32 brute fold (``queries/payloads/PayloadScoreQuery.java`` +
``MaxPayloadFunction.java`` et al.)."""

import shutil

import numpy as np
import pytest

from lucene_spark.analysis import DelimitedPayloadAnalyzer, get_analyzer
from lucene_spark.corpus import VOCAB, synthetic_transcripts_pdf
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.search.searcher import IndexSearcher

A, B = VOCAB[0], VOCAB[3]
N_CONVS = 40


def _derive(t: str) -> str:
    return " ".join(f"{w}|{i}" for i, w in enumerate(t.split()))


@pytest.fixture(scope="module")
def payload_corpus():
    pdf = synthetic_transcripts_pdf(N_CONVS)
    out = pdf.copy()
    out["text"] = out["text"].map(_derive)
    return pdf, out


@pytest.fixture(scope="module")
def payload_searcher(spark, tmp_path_factory, payload_corpus):
    d = str(tmp_path_factory.mktemp("payidx") / "index")
    shutil.rmtree(d, ignore_errors=True)
    _raw, derived = payload_corpus
    IndexBuilder(spark, d, analyzer="delimited_payload", positions=False,
                 num_segments=3).build(spark.createDataFrame(derived))
    return IndexSearcher(spark, d)


def _brute(raw_pdf, term: str, fn: str) -> dict[int, float]:
    """Per-doc float32 fold over occurrence payloads (= token ordinals)."""
    rows = raw_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(
        drop=True)
    out: dict[int, float] = {}
    for did, t in enumerate(rows["text"]):
        pays = [np.float32(i) for i, w in enumerate(t.split())
                if w.lower() == term]
        if not pays:
            continue
        if fn == "max":
            v = max(pays)
        elif fn == "min":
            v = min(pays)
        else:
            acc = np.float32(0.0)
            for p in pays:
                acc = np.float32(acc + p)
            v = (np.float32(acc / np.float32(len(pays)))
                 if fn == "avg" else acc)
        out[did] = float(v)
    return out


@pytest.mark.parametrize("fn", ["max", "min", "sum", "avg"])
def test_payload_score_matches_brute(payload_searcher, payload_corpus, fn):
    raw, _ = payload_corpus
    got = {r["doc_id"]: r["score"]
           for r in payload_searcher.payload_score_df(A, fn).collect()}
    assert got == _brute(raw, A, fn)


def test_payload_topk_ordering(payload_searcher, payload_corpus):
    raw, _ = payload_corpus
    want = sorted(_brute(raw, B, "sum").items(),
                  key=lambda kv: (-kv[1], kv[0]))[:7]
    got = [(h.doc_id, h.score)
           for h in payload_searcher.payload_score(B, "sum", k=7)]
    assert got == want


def test_include_span_score_multiplies(payload_searcher):
    base = payload_searcher.payload_score(A, "max", k=5)
    boosted = payload_searcher.payload_score(
        A, "max", k=5, include_span_score=True, boost=2.0)
    assert [(h.doc_id, h.score) for h in boosted] == [
        (h.doc_id, float(np.float32(np.float32(h.score)
                                    * np.float32(2.0)))) for h in base]


def test_delimited_analyzer_rules():
    an = DelimitedPayloadAnalyzer()
    assert an._split("word|7") == ("word", 7)
    assert an._split("WORD|7") == ("word", 7)       # lowercased term
    assert an._split("plain") == ("plain", 0)       # no delimiter → 0
    assert an._split("word|junk") == ("word", 0)    # junk payload → 0
    assert an._split("word|-3") == ("word", 0)      # clamp at 0
    assert an._split("a|b|9") == ("a|b", 9)         # split at LAST delimiter
    assert an.tokenize_text("x|1 |2 y") == ["x", "y"]  # empty term drops
    assert get_analyzer("delimited_payload").payloads is True


def test_payload_index_flag_required(spark, index_dir):
    s = IndexSearcher(spark, index_dir)
    with pytest.raises(ValueError, match="payloads"):
        s.payload_score_df(A, "max")


def test_position_holes_from_dropped_tokens():
    an = DelimitedPayloadAnalyzer()
    import pandas as pd

    uniq, codes, per_row, pos, pays = an.tokenize_ids_payload(
        pd.Series(["a|1 |9 b|2"]), with_positions=True)
    assert list(uniq[codes]) == ["a", "b"]
    assert list(pos) == [0, 2]          # dropped token leaves a hole
    assert list(pays) == [1, 2]
    assert list(per_row) == [2]


@pytest.mark.parametrize("op", ["eq", "gt", "gte", "lt", "lte"])
def test_span_payload_check_matches_brute(payload_searcher, payload_corpus,
                                          op):
    import operator

    py_op = {"eq": operator.eq, "gt": operator.gt, "gte": operator.ge,
             "lt": operator.lt, "lte": operator.le}[op]
    raw, _ = payload_corpus
    rows = raw.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = sorted(
        did for did, t in enumerate(rows["text"])
        if any(w.lower() == A and py_op(i, 20)
               for i, w in enumerate(t.split())))
    got = sorted(r["doc_id"] for r in
                 payload_searcher.span_payload_check_df(A, 20, op).collect())
    assert got == want


def test_span_payload_check_topk(payload_searcher):
    hits = payload_searcher.span_payload_check(A, 5, "lte", k=4, boost=1.5)
    ids = [h.doc_id for h in hits]
    assert ids == sorted(ids)
    assert all(h.score == 1.5 for h in hits)


def test_compaction_keeps_payloads(spark, payload_searcher, tmp_path):
    """Merging every segment of a payload index re-encodes the payloads
    with the postings: the merged file keeps the ``payloads`` column and
    the payload queries answer as before."""
    import glob

    import pyarrow.parquet as pq

    from lucene_spark.indexing.maintenance import IndexMaintenance

    d = str(tmp_path / "paycompact")
    shutil.copytree(payload_searcher.reader.index_dir, d)
    before = IndexSearcher(spark, d)
    assert len(before.reader.offsets) == 3
    queries = [lambda s, fn=fn: s.payload_score(A, fn, k=10 ** 5)
               for fn in ("max", "min", "sum", "avg")]
    queries += [lambda s: s.payload_score(B, "sum", k=7,
                                          include_span_score=True,
                                          boost=2.0),
                lambda s: s.span_payload_check(A, 20, "gte", k=10 ** 5),
                lambda s: s.span_payload_check(B, 5, "lt", k=10 ** 5)]
    want = [[(h.doc_id, h.score) for h in q(before)] for q in queries]
    assert all(want)
    assert IndexMaintenance(spark, d).compact(
        target_rows=10 ** 9)["merged_runs"] == 1
    after = IndexSearcher(spark, d)
    (seg,) = after.reader.offsets
    (path,) = glob.glob(f"{d}/postings/seg={seg}/*.parquet")
    assert "payloads" in pq.read_schema(path).names
    assert [[(h.doc_id, h.score) for h in q(after)]
            for q in queries] == want
