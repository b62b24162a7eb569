"""Chinese word segmentation: the smartcn analogue on the shared lattice.

The reference's SmartChineseAnalyzer segments sentences with a hidden-Markov
bigram model (``lucene/analysis/smartcn/src/java/org/apache/lucene/analysis/
cn/smart/hhmm/HHMMSegmenter.java`` — build a word lattice from the
dictionary, pick the best path by Viterbi over word/bigram frequencies).
This instantiates the shared lattice (:mod:`lucene_spark.analysis_ja`) with
a compact Chinese lexicon: same dictionary-edge + Viterbi skeleton, with
per-entry word costs standing in for the HHMM's -log unigram frequencies
and the reduced 2-class connection matrix for its bigram smoothing — a
documented simplification (smartcn's core-dictionary bigram table is a
compiled binary; ambiguities needing true bigram counts stay unresolved).

Unknown hanzi emit per-char candidates (smartcn equally falls back to
single-character words for OOV runs). Reference segmentation replayed in
``tests/test_zh.py``: 我购买了道具和服装 → 我|购买|了|道具|和|服装
(TestSmartChineseAnalyzer.java:28-38).
"""

from __future__ import annotations

import re

from lucene_spark.analysis_ja import JapaneseAnalyzer, JapaneseTokenizer

# compact public lexicon: basic Mandarin vocabulary + gate/test words
ZH_DICT: dict[str, int] = {
    # function words (particles / conjunctions / pronouns)
    "的": 2000, "了": 2200, "和": 2200, "是": 2200, "在": 2200,
    "我": 2500, "你": 2500, "他": 2500, "们": 2800, "这": 2500,
    # common words
    "购买": 4000, "道具": 4000, "服装": 4000, "搜索": 4000, "索引": 4000,
    "引擎": 4000, "吗": 2800,
    "数据": 4000, "数据库": 4200, "中文": 4000, "分词": 4000, "语言": 4000,
    "分析": 4000, "文档": 4000, "处理": 4000, "结果": 4000, "查询": 4000,
}

ZH_PARTICLES = frozenset("的 了 和 是 在 们".split())

_HANZI = "一-鿿㐀-䶿豈-﫿\U00020000-\U0002a6df"
_ZH_RUN_RE = re.compile(f"[{_HANZI}]+")


class ChineseTokenizer(JapaneseTokenizer):
    """Viterbi lattice over one hanzi run (HHMMSegmenter analogue)."""

    default_dict = ZH_DICT
    particles = ZH_PARTICLES
    group_classes = ()  # no grouping class: unknown hanzi emit per char
    invoke_classes = None  # unknown candidates at every position


class ChineseAnalyzer(JapaneseAnalyzer):
    """SmartChineseAnalyzer analogue (lattice segmentation +
    LowerCaseFilter on Latin runs; punctuation discarded). The reference's
    default Chinese stop set is a documented cut — 的/了/和 index as
    terms."""

    name = "smart_chinese"
    tokenizer_cls = ChineseTokenizer
    run_re = _ZH_RUN_RE
