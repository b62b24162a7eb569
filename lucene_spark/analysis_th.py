"""Thai analysis: dictionary segmentation + the reference Thai stop set.

The reference ThaiTokenizer segments with ICU's Thai dictionary
BreakIterator (``lucene/analysis/common/src/java/org/apache/lucene/analysis/
th/ThaiTokenizer.java:36`` — "uses the org.apache.lucene.analysis.util
segmenting tokenizer with a BreakIterator"; ICU's Thai break engine is
itself a dictionary + least-words heuristic). Here the shared Viterbi
lattice (:mod:`lucene_spark.analysis_ja`) plays that role over a compact
Thai lexicon — unknown Thai runs group whole, which degrades gracefully to
the pre-round-5 one-token-per-Complex_Context-run behavior for
out-of-lexicon text instead of spraying per-char tokens.

The ThaiAnalyzer chain (``th/ThaiAnalyzer.java:41-48``: tokenizer →
lowercase → StopFilter(Thai stop set)) is reproduced with the reference's
115-word stop set embedded verbatim (``th/stopwords.txt``, Apache-2.0).
Reference vectors replayed in ``tests/test_th.py``:
การที่ได้ต้องแสดงว่างานดี → การ|ที่|ได้|ต้อง|แสดง|ว่า|งาน|ดี
(TestThaiAnalyzer.java:40-48), and → แสดง|งาน|ดี after stops (:51-58).

Note: the plain StandardAnalyzer keeps the jflex-parity SA-run behavior
(``unicode_thai_topk`` gate); this analyzer is the opt-in morphological
upgrade, selected with ``analyzer="thai"``.
"""

from __future__ import annotations

import re

from lucene_spark.analysis_ja import JapaneseAnalyzer, JapaneseTokenizer

# th/stopwords.txt (115 entries, embedded verbatim)
THAI_STOP_WORDS = frozenset("""
ไว้ ไม่ ไป ได้ ให้ ใน โดย แห่ง แล้ว และ แรก แบบ แต่ เอง
เห็น เลย เริ่ม เรา เมื่อ เพื่อ เพราะ เป็นการ เป็น เปิดเผย
เปิด เนื่องจาก เดียวกัน เดียว เช่น เฉพาะ เคย เข้า เขา อีก
อาจ อะไร ออก อย่าง อยู่ อยาก หาก หลาย หลังจาก หลัง หรือ
หนึ่ง ส่วน ส่ง สุด สําหรับ ว่า วัน ลง ร่วม ราย รับ ระหว่าง
รวม ยัง มี มาก มา พร้อม พบ ผ่าน ผล บาง น่า นี้ นํา นั้น นัก
นอกจาก ทุก ที่สุด ที่ ทําให้ ทํา ทาง ทั้งนี้ ทั้ง ถ้า ถูก
ถึง ต้อง ต่างๆ ต่าง ต่อ ตาม ตั้งแต่ ตั้ง ด้าน ด้วย ดัง ซึ่ง
ช่วง จึง จาก จัด จะ คือ ความ ครั้ง คง ขึ้น ของ ขอ ขณะ ก่อน
ก็ การ กับ กัน กว่า กล่าว
""".split())

# compact public lexicon (stop-listed function words enter the lattice too —
# they must segment BEFORE the stop filter drops them, position holes kept)
TH_DICT: dict[str, int] = {
    # function words
    "การ": 2500, "ที่": 2000, "ได้": 2000, "ต้อง": 2500, "ว่า": 2000,
    "และ": 2000, "ใน": 2000, "ของ": 2000, "เป็น": 2500, "ให้": 2000,
    "จะ": 2000, "ไม่": 2000, "มี": 2500, "ก็": 2000, "กับ": 2000,
    # content words
    "แสดง": 4000, "งาน": 4000, "ดี": 4000, "ค้นหา": 4000, "ข้อมูล": 4000,
    "ภาษา": 4000, "ไทย": 4000, "เอกสาร": 4000, "ผล": 4000, "ระบบ": 4000,
    "ประมวล": 4200, "คํา": 4000,
}

_THAI = "ก-๛"
_TH_RUN_RE = re.compile(f"[{_THAI}]+")
_THAI_RE = re.compile(f"[{_THAI}]+$")


class ThaiTokenizer(JapaneseTokenizer):
    """Viterbi lattice over one Thai run (ICU Thai break-engine analogue)."""

    default_dict = TH_DICT
    particles = frozenset()  # no 2-class split: Thai costs carry it alone
    group_classes = (_THAI_RE,)  # unknown Thai runs group whole
    invoke_classes = None  # unknown candidates at every position


class ThaiAnalyzer(JapaneseAnalyzer):
    """ThaiTokenizer → LowerCase → StopFilter(th stop set)
    (ThaiAnalyzer.java:41-48). The index path keeps StopFilter position
    holes and excludes stopped tokens from dl, like every other stop chain
    here."""

    name = "thai"
    tokenizer_cls = ThaiTokenizer
    run_re = _TH_RUN_RE

    def __init__(self, entries: dict[str, int] | None = None,
                 stopwords=THAI_STOP_WORDS):
        super().__init__(entries)
        # ThaiAnalyzer(CharArraySet) constructor analogue: pass frozenset()
        # for the no-stop variant the reference tests drive
        self.stopwords = frozenset(stopwords)

    def tokenize_text(self, text: str) -> list[str]:
        return [t for t in super().tokenize_text(text)
                if t not in self.stopwords]

    def tokenize_ids(self, texts, with_positions: bool = False):
        from lucene_spark.analysis import _ids_from_token_lists

        raw = texts.fillna("").map(
            lambda t: JapaneseAnalyzer.tokenize_text(self, t))
        return _ids_from_token_lists(raw, len(texts), with_positions,
                                     stopwords=self.stopwords)
