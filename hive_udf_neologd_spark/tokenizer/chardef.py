"""Character classes and width folding.

Mirrors two pieces of the reference analyzer chain:

* character-class segmentation heuristics of ``JapaneseTokenizer``'s
  unknown-word handling (IPADIC char.def semantics; SURVEY.md §2.2 row 1);
* ``CJKWidthFilter`` — full-width ASCII → half-width, half-width katakana →
  full-width with voiced-mark combination (SURVEY.md §2.2 row 4).  This is a
  targeted fold, deliberately NOT blanket NFKC (NFKC over-normalizes, e.g.
  ㍻ or ①; the reference filter touches only the two width families).
"""

from __future__ import annotations

import re
import unicodedata

KANJI = 0
HIRAGANA = 1
KATAKANA = 2
LATIN = 3
DIGIT = 4
PUNCT = 5
OTHER = 6

# Grouping behavior per class, mirroring IPADIC char.def invoke/group/length:
# KATAKANA/LATIN/DIGIT/HIRAGANA group full runs; KANJI does not group
# (length<=2 candidates only).
GROUPING = {KATAKANA, LATIN, DIGIT, HIRAGANA}

_PUNCT_CATEGORIES = {
    # Character.isWhitespace + punctuation/symbol general categories checked
    # by JapaneseTokenizer#isPunctuation (discardPunctuation=true path).
    "Zs", "Zl", "Zp", "Cc", "Cf",
    "Pd", "Ps", "Pe", "Pc", "Po", "Pi", "Pf",
    "Sm", "Sc", "Sk", "So",
}


def char_class(ch: str) -> int:
    cp = ord(ch)
    if 0x4E00 <= cp <= 0x9FFF or 0x3400 <= cp <= 0x4DBF or cp in (0x3005, 0x3007):
        return KANJI  # CJK unified + 々 〇
    if 0x3041 <= cp <= 0x309F:
        return HIRAGANA
    if 0x30A0 <= cp <= 0x30FF or 0x31F0 <= cp <= 0x31FF or 0xFF66 <= cp <= 0xFF9F:
        return KATAKANA  # includes ー (U+30FC) and half-width forms
    if (0x41 <= cp <= 0x5A) or (0x61 <= cp <= 0x7A):
        return LATIN
    if 0xFF21 <= cp <= 0xFF3A or 0xFF41 <= cp <= 0xFF5A:
        return LATIN  # full-width Latin
    if 0x30 <= cp <= 0x39 or 0xFF10 <= cp <= 0xFF19:
        return DIGIT
    if unicodedata.category(ch) in _PUNCT_CATEGORIES:
        return PUNCT
    return OTHER


# Chars whose Unicode general category is punctuation/symbol (i.e. the
# discardPunctuation test above) but whose char.def class is NOT PUNCT
# because the block ranges claim them first: ゠ U+30A0 (Pd) and ・ U+30FB
# (Po) inside the KATAKANA range, ゛ U+309B / ゜ U+309C (Sk) inside the
# HIRAGANA range.  Two consumers (round 12, VERDICT r11 #1):
#
# * lattice node generation adds a zero-cost DISCARDABLE punct-node
#   candidate at these positions — the engine analog of IPADIC
#   Symbol.csv's ・ 記号,一般 row, which is what lets MeCab separate
#   known neighbors (ピアノ・ギター → ピアノ|・|ギター) while an
#   unknown katakana pair (フランツ・カフカ) still groups on cost;
# * the post-Viterbi drain discards any token whose every char passes
#   the category test (`is_punct_token`), Lucene JapaneseTokenizer's
#   discardPunctuation=true behavior on tokens the node-level classes
#   miss (e.g. an all-・ grouped run).
#
# Derived, not hand-listed: the comprehension scans exactly the two kana
# blocks char_class claims above the category check.
MISCLASSED_PUNCT = frozenset(
    ch
    for cp in range(0x3041, 0x3100)
    if unicodedata.category(ch := chr(cp)) in _PUNCT_CATEGORIES
)


def is_punct_token(s: str) -> bool:
    """discardPunctuation's per-token test (Lucene JapaneseTokenizer:
    every char in the whitespace/punctuation/symbol general categories)."""
    for ch in s:
        if unicodedata.category(ch) not in _PUNCT_CATEGORIES:
            return False
    return True


# --- CJKWidthFilter tables ------------------------------------------------

# Half-width katakana (U+FF61..U+FF9F) → full-width.
_HALF_TO_FULL_KATA = {
    "｡": "。", "｢": "「", "｣": "」", "､": "、", "･": "・",
    "ｦ": "ヲ", "ｧ": "ァ", "ｨ": "ィ", "ｩ": "ゥ", "ｪ": "ェ", "ｫ": "ォ",
    "ｬ": "ャ", "ｭ": "ュ", "ｮ": "ョ", "ｯ": "ッ", "ｰ": "ー",
    "ｱ": "ア", "ｲ": "イ", "ｳ": "ウ", "ｴ": "エ", "ｵ": "オ",
    "ｶ": "カ", "ｷ": "キ", "ｸ": "ク", "ｹ": "ケ", "ｺ": "コ",
    "ｻ": "サ", "ｼ": "シ", "ｽ": "ス", "ｾ": "セ", "ｿ": "ソ",
    "ﾀ": "タ", "ﾁ": "チ", "ﾂ": "ツ", "ﾃ": "テ", "ﾄ": "ト",
    "ﾅ": "ナ", "ﾆ": "ニ", "ﾇ": "ヌ", "ﾈ": "ネ", "ﾉ": "ノ",
    "ﾊ": "ハ", "ﾋ": "ヒ", "ﾌ": "フ", "ﾍ": "ヘ", "ﾎ": "ホ",
    "ﾏ": "マ", "ﾐ": "ミ", "ﾑ": "ム", "ﾒ": "メ", "ﾓ": "モ",
    "ﾔ": "ヤ", "ﾕ": "ユ", "ﾖ": "ヨ",
    "ﾗ": "ラ", "ﾘ": "リ", "ﾙ": "ル", "ﾚ": "レ", "ﾛ": "ロ",
    "ﾜ": "ワ", "ﾝ": "ン", "ﾞ": "゛", "ﾟ": "゜",
}

# Voiced (dakuten) / semi-voiced (handakuten) combinations.
_DAKUTEN = {
    "カ": "ガ", "キ": "ギ", "ク": "グ", "ケ": "ゲ", "コ": "ゴ",
    "サ": "ザ", "シ": "ジ", "ス": "ズ", "セ": "ゼ", "ソ": "ゾ",
    "タ": "ダ", "チ": "ヂ", "ツ": "ヅ", "テ": "デ", "ト": "ド",
    "ハ": "バ", "ヒ": "ビ", "フ": "ブ", "ヘ": "ベ", "ホ": "ボ",
    "ウ": "ヴ",
}
_HANDAKUTEN = {"ハ": "パ", "ヒ": "ピ", "フ": "プ", "ヘ": "ペ", "ホ": "ポ"}


# Any char the fold below could touch: full-width ASCII, ideographic
# space, half-width katakana block.  Most terms contain none → return
# unchanged without the per-char loop (hot path: every emitted token).
_FOLD_CANDIDATE_RE = re.compile(r"[！-～　｡-ﾟ]")


def fold_width(s: str) -> str:
    """CJKWidthFilter-equivalent fold (SURVEY.md §2.2)."""
    if _FOLD_CANDIDATE_RE.search(s) is None:
        return s
    out: list[str] = []
    for ch in s:
        cp = ord(ch)
        if 0xFF01 <= cp <= 0xFF5E:  # full-width ASCII → half-width
            out.append(chr(cp - 0xFEE0))
            continue
        if cp == 0x3000:  # ideographic space
            out.append(" ")
            continue
        full = _HALF_TO_FULL_KATA.get(ch)
        if full is not None:
            if full == "゛" and out and out[-1] in _DAKUTEN:
                out[-1] = _DAKUTEN[out[-1]]
                continue
            if full == "゜" and out and out[-1] in _HANDAKUTEN:
                out[-1] = _HANDAKUTEN[out[-1]]
                continue
            out.append(full)
            continue
        out.append(ch)
    return "".join(out)


_KATAKANA_STEM_CHARS = frozenset(
    [chr(c) for c in range(0x30A1, 0x3100)] + ["ー"]
)


_HIRAGANA_LO, _HIRAGANA_HI = 0x3041, 0x3096  # ぁ..ゖ
_KANA_EXTRA = frozenset("ーゝゞ・")


def kana_reading(surface: str) -> str | None:
    """Exact katakana reading for a kana-only surface — IPADIC stores
    readings in katakana, and for a surface that is already pure kana the
    reading is the mechanical hiragana→katakana fold (offset 0x60).
    Returns None for any surface containing kanji/latin/digits: those
    readings require lexical knowledge this engine does not fabricate
    (t17 reading support is deliberately partial, SURVEY.md §2)."""
    out = []
    for c in surface:
        o = ord(c)
        if _HIRAGANA_LO <= o <= _HIRAGANA_HI:
            out.append(chr(o + 0x60))
        elif c in _KATAKANA_STEM_CHARS or c in _KANA_EXTRA:
            out.append(c)
        else:
            return None
    return "".join(out) if out else None


def katakana_stem(term: str) -> str:
    """JapaneseKatakanaStemFilter: strip trailing ー from katakana terms of
    length >= 4 (SURVEY.md §2.2 row 6)."""
    if len(term) >= 4 and term.endswith("ー") and all(c in _KATAKANA_STEM_CHARS for c in term):
        return term[:-1]
    return term
