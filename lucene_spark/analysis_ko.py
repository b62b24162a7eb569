"""Korean morphological segmentation: the nori analogue on the shared lattice.

The reference's KoreanTokenizer (``lucene/analysis/nori/src/java/org/apache/
lucene/analysis/ko/KoreanTokenizer.java`` — "Tokenizer for Korean that uses
morphological analysis") is architecturally identical to kuromoji: a Viterbi
lattice over a mecab-ko-dic lexicon with character-class unknown handling.
This module instantiates :class:`lucene_spark.analysis_ja.JapaneseTokenizer`'s
language-agnostic lattice with a compact Korean dictionary:

* **Particles (josa) split off nouns** — the headline nori behavior: 이외의
  segments as 이외 + 의 (genitive), 것을 as 것 + 을
  (TestKoreanTokenizer.java:146-176 화학 이외의 것 → 화학|이외|의|것).
* **Numbers separate from Hangul** (TestKoreanTokenizer.testSeparateNumber:
  44사이즈 → 44|사이즈) — ASCII digit runs are their own tokens, Hangul runs
  go through the lattice.
* **Unknown Hangul runs group into one token** (the unknown-word class for
  Hangul), unknown hanja emit per-char candidates — same pricing discipline
  as the Japanese chain.
* **DecompoundMode.NONE** semantics (compounds stay whole); the reference's
  DISCARD/MIXED decompounding of dictionary compounds is a documented cut.

Reference segmentations replayed in ``tests/test_ko.py``.
"""

from __future__ import annotations

import re

from lucene_spark.analysis_ja import JapaneseAnalyzer, JapaneseTokenizer

# compact public lexicon: basic Korean vocabulary + gate/test words
KO_DICT: dict[str, int] = {
    # particles (josa) / endings
    "의": 2000, "을": 2000, "를": 2000, "이": 2200, "가": 2200,
    "은": 2000, "는": 2000, "에": 2000, "와": 2000, "과": 2000,
    "도": 2000, "로": 2000, "으로": 2500,
    # formal/common nouns
    "것": 3500, "화학": 4000, "이외": 4000, "사이즈": 4000,
    "검색": 4000, "색인": 4000, "언어": 4000, "분석": 4000,
    "형태소": 4500, "한국어": 4000, "데이터": 4000, "문서": 4000,
    "처리": 4000, "결과": 4000, "공항": 4000, "국제": 4000,
    # verbs / predicates (surface forms)
    "하다": 4000, "했다": 4000, "있다": 4000, "된다": 4000,
}

KO_PARTICLES = frozenset(
    "의 을 를 이 가 은 는 에 와 과 도 로 으로".split())

_HANGUL = "가-힣"
_HANJA = "一-鿿㐀-䶿豈-﫿"
_KO_RUN_RE = re.compile(f"[{_HANGUL}{_HANJA}]+")
_HANGUL_RE = re.compile(f"[{_HANGUL}]+$")


class KoreanTokenizer(JapaneseTokenizer):
    """Viterbi lattice over one Korean script run (nori analogue)."""

    default_dict = KO_DICT
    particles = KO_PARTICLES
    group_classes = (_HANGUL_RE,)  # unknown Hangul groups; hanja per-char
    invoke_classes = None  # unknown candidates at every position


class KoreanAnalyzer(JapaneseAnalyzer):
    """KoreanTokenizer (DecompoundMode.NONE, discardPunctuation) +
    LowerCaseFilter on Latin runs. No default stop-tag filtering
    (KoreanAnalyzer.java's POS stop tags are a documented cut; particles
    index as terms)."""

    name = "korean"
    tokenizer_cls = KoreanTokenizer
    run_re = _KO_RUN_RE
