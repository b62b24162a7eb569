"""Japanese morphological segmentation: reference kuromoji vectors + lattice
invariants.

Vector sources (``lucene/analysis/kuromoji/src/test/org/apache/lucene/
analysis/ja/TestJapaneseTokenizer.java``): the NORMAL-mode katakana compound
(:162), the userDict sentence 関西国際空港に行った (:468-473), the readings
sentence 多くの学生が試験に落ちた。(:627), the supplementary unknown-kanji
string (:409), and the classic すもも ambiguity. Segmentations replayed with
the embedded dictionary — the point pinned here is that the LATTICE resolves
them the same way the reference's Viterbi does, including the
connection-cost-dependent alternating parse.
"""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_spark.analysis import get_analyzer  # noqa: E402
from lucene_spark.analysis_ja import (  # noqa: E402
    JA_DICT, JapaneseAnalyzer, JapaneseTokenizer)

REFERENCE_VECTORS = [
    # TestJapaneseTokenizer.java:627 (punctuation discarded by the analyzer)
    ("多くの学生が試験に落ちた。",
     ["多く", "の", "学生", "が", "試験", "に", "落ち", "た"]),
    # TestJapaneseTokenizer.java:468-473
    ("関西国際空港に行った", ["関西", "国際", "空港", "に", "行っ", "た"]),
    # TestJapaneseTokenizer.java:162 — NORMAL mode keeps the unknown
    # katakana compound whole
    ("シニアソフトウェアエンジニア", ["シニアソフトウェアエンジニア"]),
    # TestJapaneseTokenizer.java:409 — unknown kanji emit per char,
    # including supplementary-plane
    ("𩬅艱鍟䇹愯瀛", ["𩬅", "艱", "鍟", "䇹", "愯", "瀛"]),
    # connection-cost-dependent alternating parse (see module doc)
    ("すもももももももものうち",
     ["すもも", "も", "もも", "も", "もも", "の", "うち"]),
]


@pytest.mark.parametrize("text,expected", REFERENCE_VECTORS)
def test_reference_segmentations(text, expected):
    assert JapaneseAnalyzer().tokenize_text(text) == expected


def test_cost_based_disambiguation():
    # 東京都 = 東京|都 (not 東|京都): word costs decide, both are 2-word
    a = JapaneseAnalyzer()
    assert a.tokenize_text("東京都") == ["東京", "都"]


def test_mixed_script_and_punctuation():
    a = JapaneseAnalyzer()
    assert a.tokenize_text("Lucene は検索エンジン") == [
        "lucene", "は", "検索", "エンジン"]
    assert a.tokenize_text("") == []
    assert a.tokenize_text("、。！") == []  # discardPunctuation


def test_segmentation_is_exhaustive_and_lossless():
    # every char of a Japanese run lands in exactly one token, in order
    t = JapaneseTokenizer()
    for run in ["データベースのテーブルを検索した", "日本語の形態素解析",
                "すもももももももものうち", "関西国際空港に行った"]:
        assert "".join(t.segment(run)) == run


def dict_path_cost(tok, words):
    """Word costs + 2-class connection penalties of a dictionary-only path
    (None if any word is out-of-lexicon)."""
    from lucene_spark.analysis_ja import CONN_NN, CONN_PP

    cost, prev = 0, None
    for w in words:
        if w not in tok.entries:
            return None
        cls = 1 if w in tok.particles else 0
        cost += tok.entries[w]
        if prev is not None:
            cost += CONN_PP if (prev == 1 and cls == 1) else (
                CONN_NN if (prev == 0 and cls == 0) else 0)
        prev = cls
    return cost


def brute_force_best_path(tok, run):
    """Min-cost dictionary-only segmentation by exhaustive enumeration
    (word costs + the 2-class connection penalties) — the oracle for the
    lattice's Viterbi across every language instantiation."""
    import itertools

    def path_cost(words):
        return dict_path_cost(tok, words)

    n = len(run)
    bestc, bestp = None, None
    for cuts in itertools.product([0, 1], repeat=n - 1):
        words, s = [], 0
        for k, c in enumerate(cuts, 1):
            if c:
                words.append(run[s:k])
                s = k
        words.append(run[s:])
        pc = path_cost(words)
        if pc is not None and (bestc is None or pc < bestc):
            bestc, bestp = pc, words
    return bestp


def test_viterbi_minimality_brute_force():
    # the lattice's answer must equal brute-force min-cost enumeration
    # (word costs + 2-class connection costs) on short runs
    t = JapaneseTokenizer()
    for run in ["東京都", "もものうち", "すもももも", "日本語の試験"]:
        expect = brute_force_best_path(t, run)
        if expect is not None:
            assert t.segment(run) == expect, run


def test_dictionary_path_beats_grouped_unknown_kana():
    """Hiragana does not invoke unknown-word processing (IPADIC char.def),
    so a run that dictionary words cover segments into them: a grouped
    unknown run like しししし (19100) must not undercut し|し|し|し (20000)."""
    t = JapaneseTokenizer()
    for run in ["しししし", "ししだもの"]:
        got = t.segment(run)
        expect = brute_force_best_path(t, run)
        assert dict_path_cost(t, got) == dict_path_cost(t, expect), (run, got)
    assert t.segment("しししし") == ["し"] * 4
    # katakana still invokes: an unknown compound stays one token
    assert t.segment("シニアソフトウェアエンジニア") == [
        "シニアソフトウェアエンジニア"]


def test_viterbi_minimality_all_language_instantiations():
    from lucene_spark.analysis_ko import KoreanTokenizer
    from lucene_spark.analysis_th import ThaiTokenizer
    from lucene_spark.analysis_zh import ChineseTokenizer

    for tok, runs in [
        (KoreanTokenizer(), ["화학이외의것", "데이터를", "것을것"]),
        (ChineseTokenizer(), ["搜索引擎", "我购买了道具", "数据库的数据"]),
        (ThaiTokenizer(), ["การที่ได้", "งานดี", "ว่างานดี"]),
    ]:
        for run in runs:
            expect = brute_force_best_path(tok, run)
            if expect is not None:
                assert tok.segment(run) == expect, (type(tok).__name__, run)


def test_viterbi_minimality_randomized():
    """Hypothesis: any concatenation of up to 4 dictionary words must
    segment into SOME min-cost dictionary path (random compositions surface
    crossing ambiguities no hand-picked case covers)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = sorted(JA_DICT)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.sampled_from(words), min_size=1, max_size=4))
    def check(ws):
        run = "".join(ws)
        if len(run) > 8:
            return  # keep the 2^(n-1) brute enumeration cheap
        t = JapaneseTokenizer()
        expect = brute_force_best_path(t, run)
        if expect is not None:
            got = t.segment(run)
            # equal-cost ties are legal — compare path COST, not the path
            assert dict_path_cost(t, got) == dict_path_cost(t, expect), run

    check()


def test_analyzer_series_and_ids_paths():
    a = get_analyzer("japanese")
    assert isinstance(a, JapaneseAnalyzer)
    s = pd.Series(["関西国際空港に行った", None, "データの検索"])
    toks = a.tokenize_series(s).tolist()
    assert toks[0] == ["関西", "国際", "空港", "に", "行っ", "た"]
    assert toks[1] == []
    assert toks[2] == ["データ", "の", "検索"]
    uniq, codes, lens = a.tokenize_ids(s)
    assert [uniq[c] for c in codes] == [t for row in toks for t in row]
    assert lens.tolist() == [6, 0, 3]
