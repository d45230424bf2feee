"""The analyzer chain — parity with Lucene 5.5.5 ``JapaneseAnalyzer``.

Pipeline order is fixed (SURVEY.md §2.2; Lucene ``createComponents``):

  JapaneseTokenizer(userDict, discardPunctuation=true, mode)
  → JapaneseBaseFormFilter
  → JapanesePartOfSpeechStopFilter(stopTags)
  → CJKWidthFilter
  → StopFilter(stopWords)
  → JapaneseKatakanaStemFilter
  → LowerCaseFilter

Only the term surface is exposed (the reference drains CharTermAttribute
only, KuromojiNEologdUDF.java:306-316); ``analyze_rich`` returning per-token
structs is an engine extension beyond parity (SURVEY.md §1.1 subtlety).
"""

from __future__ import annotations

import re
from enum import Enum

from hive_udf_neologd_spark.tokenizer import chardef
from hive_udf_neologd_spark.tokenizer.dictionary import Dictionary, UserDictionary, builtin_dictionary
from hive_udf_neologd_spark.tokenizer.lattice import EXTENDED, NORMAL, SEARCH, Lattice, Token
from hive_udf_neologd_spark.tokenizer.stopwords import DEFAULT_STOP_TAGS, DEFAULT_STOP_WORDS


class Mode(str, Enum):
    """Tokenization modes (KuromojiNEologdUDF.java:171-192): NORMAL | SEARCH
    | EXTENDED | DEFAULT, case-insensitive, null → NORMAL, anything else →
    error.  DEFAULT → Kuromoji's DEFAULT_MODE = SEARCH."""

    NORMAL = NORMAL
    SEARCH = SEARCH
    EXTENDED = EXTENDED

    @classmethod
    def parse(cls, raw: str | None) -> "Mode":
        if raw is None:
            return cls.NORMAL
        name = raw.strip().lower()
        if name == "normal":
            return cls.NORMAL
        if name == "search":
            return cls.SEARCH
        if name == "extended":
            return cls.EXTENDED
        if name == "default":
            return cls.SEARCH  # JapaneseTokenizer.DEFAULT_MODE
        raise ValueError(
            f"unsupported tokenization mode: {raw!r} (expected NORMAL, SEARCH, EXTENDED or DEFAULT)"
        )


# Fast-path gates: pure [A-Za-z0-9 ] lines; runs split at class boundaries
# (LATIN vs DIGIT), exactly as chardef.char_class does.
_ASCII_LINE_RE = re.compile(r"[A-Za-z0-9 ]*\Z")
_ASCII_RUN_RE = re.compile(r"[A-Za-z]+|[0-9]+")

# A known Token the term memo has not filtered yet.
_UNSEEN = object()


class JapaneseAnalyzer:
    """Config-frozen analyzer; build once per worker and reuse across rows —
    the Spark analog of the reference's transient per-task analyzer cache
    (KuromojiNEologdUDF.java:82-83, 131-142).

    The filter chain is a pure function of a Token and this analyzer's
    frozen config, so ``_terms`` memoizes it for known Tokens (dictionary,
    user-dictionary segment and SEARCH compound tokens): Token → filtered
    term, or None when the chain drops it.  Unknown-word tokens are
    filtered every time, so the memo is bounded by the dictionary plus the
    user dictionary and nothing in it is keyed by input text."""

    def __init__(
        self,
        mode: Mode | str | None = Mode.NORMAL,
        stop_words: list[str] | None = None,
        stop_tags: list[str] | None = None,
        user_dict_rows: list[str] | None = None,
        dictionary: Dictionary | None = None,
    ):
        self.mode = mode if isinstance(mode, Mode) else Mode.parse(mode)
        # Tri-state: None → defaults; [] → disabled; custom list → as given.
        # Stop-word matching is case-insensitive for BOTH branches: custom
        # lists per KuromojiNEologdUDF.java:203, and the default set because
        # Lucene's JapaneseAnalyzer.getDefaultStopSet() loads stopwords.txt
        # with ignoreCase=true (no observable difference on the all-Japanese
        # vendored defaults, but parity over latency of the gap).
        if stop_words is None:
            self._stop_words = frozenset(w.lower() for w in DEFAULT_STOP_WORDS)
        else:
            self._stop_words = frozenset(w.lower() for w in stop_words if w is not None)
        if stop_tags is None:
            self._stop_tags = DEFAULT_STOP_TAGS
        else:
            # Null elements skipped (KuromojiNEologdUDF.java:217-227).
            self._stop_tags = frozenset(t for t in stop_tags if t is not None)
        user = UserDictionary.from_rows(user_dict_rows) if user_dict_rows else None
        self._lattice = Lattice(dictionary or builtin_dictionary(), user, self.mode.value)
        # ASCII fast path (performance only — bit-identical output): for a
        # line of only [A-Za-z0-9 ] containing no all-ASCII dictionary
        # surface, the only lattice candidates are unknown-word nodes.  A
        # grouped LATIN/DIGIT run (3000 + 500·n) is always cheaper than any
        # split using prefix nodes (≥ 6500 + 400·l + 500·n), and spaces form
        # zero-cost discarded punct nodes — hence Viterbi = split the line
        # into [A-Za-z]+ / [0-9]+ runs.  EXTENDED mode is excluded (unknown
        # runs become unigrams there).
        self._ascii_fast = self.mode is not Mode.EXTENDED
        self._ascii_surfaces = self._lattice.ascii_matchable_surfaces()
        self._terms: dict[Token, str | None] = {}

    # -- the filter chain --------------------------------------------------

    def _filter(self, tok: Token) -> str | None:
        # JapaneseBaseFormFilter
        term = tok.base_form if tok.base_form is not None else tok.term
        # JapanesePartOfSpeechStopFilter — exact match on full POS string
        if tok.pos in self._stop_tags:
            return None
        # CJKWidthFilter
        term = chardef.fold_width(term)
        # StopFilter
        if term.lower() in self._stop_words:
            return None
        # JapaneseKatakanaStemFilter
        term = chardef.katakana_stem(term)
        # LowerCaseFilter
        term = term.lower()
        return term if term else None

    def _terms_of(self, tokens: list[Token]) -> list[tuple[Token, str]]:
        """The (token, filtered term) pairs the chain keeps, in order."""
        terms = self._terms
        filt = self._filter
        out = []
        for tok in tokens:
            if tok[6]:  # is_unknown
                term = filt(tok)
            else:
                term = terms.get(tok, _UNSEEN)
                if term is _UNSEEN:
                    term = terms[tok] = filt(tok)
            if term is not None:
                out.append((tok, term))
        return out

    def tokenize(self, line: str | None) -> list[str] | None:
        """string → array<string>; null → null, NOT [] (KuromojiNEologdUDF
        .java:144-147, SURVEY.md §2.1 O9).  Order-preserving drain, the
        analog of analyzeTokens (KuromojiNEologdUDF.java:306-316)."""
        if line is None:
            return None
        if (
            self._ascii_fast
            and _ASCII_LINE_RE.match(line)
            and not any(s in line for s in self._ascii_surfaces)
        ):
            out: list[str] = []
            for m in _ASCII_RUN_RE.finditer(line):
                run = m.group()
                pos = "名詞-数" if run[0].isdigit() else "名詞-一般"
                term = self._filter(
                    Token(run, run, pos, None, None, is_punct=False, is_unknown=True)
                )
                if term is not None:
                    out.append(term)
            return out
        return [term for _tok, term in self._terms_of(self._lattice.segment(line))]

    def analyze_rich(self, line: str | None) -> list[dict] | None:
        """Extension: per-token structs (term, surface, pos, base_form).
        NOT part of reference parity — the reference discards everything
        but the term text (SURVEY.md §1.1)."""
        if line is None:
            return None
        return [
            {
                "term": term,
                "surface": tok.surface,
                "pos": tok.pos,
                "base_form": tok.base_form,
                # Katakana reading where the engine knows it (asset column
                # / exact kana fold / user-dict readings) — round-7 t17
                # extension; None for kanji surfaces without authored
                # readings.
                "reading": tok.reading,
                "unknown": tok.is_unknown,
            }
            for tok, term in self._terms_of(self._lattice.segment(line))
        ]
