"""Viterbi lattice segmentation.

The computed semantics of the reference's ``JapaneseTokenizer(userDict,
discardPunctuation=true, mode)`` (SURVEY.md §2.2 row 1): minimum-cost path
over dictionary + unknown-word nodes, scoring word costs PLUS a coarse
connection (bigram) cost between adjacent nodes — the engine analog of the
``matrix.def`` connection matrix MeCab compiles and Kuromoji embeds
(reference ``build.sh:161,249``; ``tokenizer/connection.py`` for the class
system and authored costs), with

* NORMAL — plain Viterbi;
* SEARCH — extra penalty on long kanji/compound dictionary nodes so that
  compounds decompose when component entries exist (Kuromoji search-mode
  penalties: kanji length > 2 → +3100, other length > 7 → +1700);
* EXTENDED — search penalties plus unknown words emitted as 1-gram
  characters;
* DEFAULT — alias for SEARCH (``JapaneseTokenizer.DEFAULT_MODE``,
  KuromojiNEologdUDF.java:188-189).

Unknown-word handling follows IPADIC char.def semantics (SURVEY.md §2.2):
katakana/latin/digit/hiragana runs group; kanji does not group (candidates
of length 1-2); punctuation nodes are emitted but marked, and dropped by the
tokenizer (discardPunctuation=true).

Viterbi state is (position, right-connection-class): per end position the
lattice keeps the cheapest node PER RIGHT CLASS (a cheaper node of the same
class dominates for every continuation, so same-class pruning is lossless;
nodes of different classes must both survive because a later connection
cost can reorder them).  With an all-zero matrix this provably reduces to
the round-5 per-position Viterbi — same totals, same tie-breaks (first
achiever of the strict minimum wins, candidates processed user → dict
longest-first → unknown at ascending positions).

Hot-path engineering: character classes come from one ``str.translate``
per line over a code point → class map filled on first sight of each
code point, and run ends from one backward pass.  Each position gathers
its candidates as precomputed ``(len, cost, lc, rc, payload)`` tuples —
a built-in surface's tuples (search penalty included) are memoized per
lattice on first match with the finished ``Token`` as their payload, and
the unknown-word ladder is a table keyed by (char class, run length) —
and relaxes them in one inline loop that reads a lone incoming class's
total and connection row once, and reuses the best incoming node while
consecutive candidates share a left class.  Dictionary matches come
from ``Dictionary.prefix_surfaces``, which probes only the lengths
registered under the position's first two characters.  A node is one
linked ``(total, start, len, payload, back)`` tuple; backtracking
follows ``back``.
"""

from __future__ import annotations

from hive_udf_neologd_spark.tokenizer import chardef, connection
from hive_udf_neologd_spark.tokenizer.dictionary import DictEntry, Dictionary, UserDictionary

NORMAL = "normal"
SEARCH = "search"
EXTENDED = "extended"

_INF = float("inf")

# Search-mode penalties (Kuromoji JapaneseTokenizer constants).
_SEARCH_KANJI_LENGTH = 2
_SEARCH_KANJI_PENALTY = 3100
_SEARCH_OTHER_LENGTH = 7
_SEARCH_OTHER_PENALTY = 1700

_KANJI = chardef.KANJI
_DIGIT = chardef.DIGIT
_PUNCT = chardef.PUNCT
_GROUPING = chardef.GROUPING
_char_class = chardef.char_class


class _ClassChars(dict):
    """Code point → its char class as a one-character string, the
    ``str.translate`` table of ``segment``: filled the first time each
    code point appears, so it holds one entry per distinct code point
    seen."""

    __slots__ = ()

    def __missing__(self, cp: int) -> str:
        c = self[cp] = chr(_char_class(chr(cp)))
        return c


_POS_UNK_NUM = "名詞-数"
_POS_UNK = "名詞-一般"

# Punct-category chars the kana blocks claim (・ ゠ ゛ ゜) — each gets a
# zero-cost discardable node CANDIDATE alongside the unknown candidates,
# the engine analog of IPADIC Symbol.csv's ・ 記号,一般 row (round 12,
# VERDICT r11 #1).  Grouping is untouched: the chars keep their kana
# char_class, so an unknown run still spans them (フランツ・カフカ one
# grouped candidate) and wins whenever the split path's unknown parts
# cost more — but two KNOWN rows around ・ now split the IPADIC way
# (ピアノ・ギター → ピアノ|[・]|ギター at 3000 vs grouped 6500).
_MISC_PUNCT = chardef.MISCLASSED_PUNCT
_is_punct_token = chardef.is_punct_token

_BOS = connection.BOS
_DEF = connection.DEFAULT
# Unknown ARABIC-DIGIT runs carry NUM_UNK as their RIGHT class
# (round 12): an exact copy of DEFAULT's row plus the 数→助数詞
# counter reward (see connection.NUM_UNK for why kanji-numeral
# dictionary rows are deliberately excluded).  The LEFT class stays
# DEFAULT — incoming edges to digit runs are unchanged.
_NUM_RC = connection.NUM_UNK

# Dense form for the Viterbi hot loop: _CONN2D[prev_rc][next_lc] → cost
# (0 for unlisted pairs).  Tuples of ints — one index op per candidate.
# Built by connection.dense_matrix(): N_TOTAL×N_TOTAL covering the
# N_CLASSES authored behavior classes PLUS the mechanical tuple classes (round 8 —
# unoverridden tuples canonicalize to their group before reaching any
# DictEntry, so the extra rows are exact group copies and the live-state
# count per position is unchanged).
_CONN2D: tuple[tuple[int, ...], ...] = connection.dense_matrix()

# Dense right-context → EOS vector (connection.eos_vector(); 0 default).
_EOS_COSTS: tuple[int, ...] = connection.eos_vector()


class Token(tuple):
    """(surface, term, pos, base_form, reading, is_punct, is_unknown) —
    a tuple subclass with named accessors (hot path materializes many)."""

    __slots__ = ()

    def __new__(cls, surface, term, pos, base_form, reading, is_punct, is_unknown):
        return tuple.__new__(cls, (surface, term, pos, base_form, reading, is_punct, is_unknown))

    surface = property(lambda self: self[0])
    term = property(lambda self: self[1])
    pos = property(lambda self: self[2])
    base_form = property(lambda self: self[3])
    reading = property(lambda self: self[4])
    is_punct = property(lambda self: self[5])
    is_unknown = property(lambda self: self[6])


def _entry_token(e: DictEntry, surface: str) -> Token:
    """The Token a dictionary entry emits for ``surface``."""
    term = e.norm if e.norm is not None else surface
    return Token(surface, term, e.pos, e.base_form, e.reading, False, False)


def _search_penalty(surface: str) -> int:
    """SEARCH/EXTENDED cost added to a built-in dictionary surface."""
    n = len(surface)
    if n > _SEARCH_KANJI_LENGTH and all(
        _char_class(c) == _KANJI for c in surface
    ):
        # Flat Kuromoji penalty plus a length term so long compounds
        # (関西国際空港) decompose whenever component entries exist, while
        # 3-char words without parts (図書館) stay whole.
        return _SEARCH_KANJI_PENALTY + 1000 * (n - 3)
    if n > _SEARCH_OTHER_LENGTH:
        return _SEARCH_OTHER_PENALTY
    return 0


def _unknown_ladder(ch_class: int, misc_punct: bool, rl: int, extended: bool) -> tuple:
    """Unknown-word and punctuation candidates at a position of class
    ``ch_class`` whose same-class run is ``rl`` chars long, in relaxation
    order.  A candidate is ``(len, cost, lc, rc, payload)``; the payload
    is the POS tag of an unknown node, or None for a discardable punct
    node."""
    if ch_class == _PUNCT:
        # Group a run of punctuation/whitespace into one discardable node.
        return ((rl, 0, _DEF, _DEF, None),)
    out = []
    if misc_punct:
        # Symbol.csv-analog candidate (see _MISC_PUNCT note): competes
        # with, never replaces, the kana-class unknown candidates below.
        out.append((1, 0, _DEF, _DEF, None))
    if ch_class == _DIGIT:
        unk_pos = _POS_UNK_NUM
        urc = _NUM_RC  # 名詞-数 right class (counter reward)
    else:
        unk_pos = _POS_UNK
        urc = _DEF
    if extended:
        # Extended mode: unknown words become unigrams (Kuromoji EXTENDED).
        out.append((1, 3000, _DEF, urc, unk_pos))
    elif ch_class == _KANJI:
        # char.def: KANJI group=0 length=2 → candidates 1..2.
        out.append((1, 5200, _DEF, _DEF, unk_pos))
        if rl >= 2:
            out.append((2, 6900, _DEF, _DEF, unk_pos))
    elif ch_class in _GROUPING:
        # Full-run grouped candidate (cheapest per char) ...
        out.append((rl, 3000 + 500 * rl, _DEF, urc, unk_pos))
        # ... plus prefixes of 1-5 chars (4400, 5300, ... 8000) so
        # embedded dictionary words can win.  Ladder extended to 5 in
        # round 7 (audit 116): a missing 4-char word (なめらか) had no
        # matching prefix, so the full run swallowed the ELEVEN
        # characters なめらかになるまでよく — with the 4/5 rungs the
        # unknown word ends where the particle begins (7100+50+… < 8500)
        # even before a dictionary wave ships the word itself.
        for k in range(1, min(rl, 6)):
            out.append((k, 3500 + 900 * k, _DEF, _DEF, unk_pos))
    else:
        out.append((1, 6000, _DEF, _DEF, unk_pos))
    return tuple(out)


# Run lengths the per-lattice unknown table holds; a longer run (rare)
# builds its ladder on the spot, so the table's size does not depend on
# the input.
_UNKNOWN_TABLE_RUNS = 32


class Lattice:
    """Minimum-cost segmenter over (built-in dict + user dict + unknowns)."""

    def __init__(self, dictionary: Dictionary, user_dict: UserDictionary | None, mode: str):
        self._dict = dictionary
        self._mode = mode
        self._user = Dictionary(user_dict.entries) if user_dict and user_dict.entries else None
        self._search = mode in (SEARCH, EXTENDED)
        # Candidate tuples of each built-in surface seen so far, search
        # penalty and finished Token included: filled on first match,
        # bounded by the dictionary's size.
        self._dict_cands: dict[str, tuple] = {}
        self._class_chars = _ClassChars()
        # Unknown-word table: [misc_punct][char class][run length].
        extended = mode == EXTENDED
        self._unknown = tuple(
            tuple(
                ((),) + tuple(
                    _unknown_ladder(ci, misc, rl, extended)
                    for rl in range(1, _UNKNOWN_TABLE_RUNS + 1)
                )
                for ci in range(chardef.OTHER + 1)
            )
            for misc in (False, True)
        )

    def ascii_matchable_surfaces(self) -> tuple[str, ...]:
        """All (built-in + user) surfaces that could match inside a pure
        alnum-ASCII line.  For a line containing none of them as a
        substring, Viterbi provably reduces to character-class run
        splitting (see analyzer fast path)."""
        out = self._dict.ascii_matchable_surfaces()
        if self._user is not None:
            out = out + self._user.ascii_matchable_surfaces()
        return out

    def unknown_candidates(self, ch: str, rl: int) -> tuple:
        """The unknown-word candidates ``segment`` relaxes at a position
        holding ``ch`` whose same-class run from there is ``rl`` chars."""
        misc = ch in _MISC_PUNCT
        if rl <= _UNKNOWN_TABLE_RUNS:
            return self._unknown[misc][_char_class(ch)][rl]
        return _unknown_ladder(_char_class(ch), misc, rl, self._mode == EXTENDED)

    def dictionary_candidates(self, surface: str) -> tuple:
        """Candidate tuples of a built-in dictionary surface (none when it
        is not one), with this lattice's search penalty included.  The
        payload is the entry's finished Token; an entry that emits
        segments, or whose surface is all punctuation, keeps its
        DictEntry for ``segment``'s own emit paths."""
        penalty = _search_penalty(surface) if self._search else 0
        ln = len(surface)
        punct = _is_punct_token(surface)
        return tuple(
            (ln, e.cost + penalty, e.lc, e.rc,
             e if punct or e.segments else _entry_token(e, surface))
            for e in self._dict._by_surface.get(surface, ())
        )

    def segment(self, text: str) -> list[Token]:
        n = len(text)
        if n == 0:
            return []
        extended = self._mode == EXTENDED
        user = self._user
        dic = self._dict

        # Per-line precomputation: char class of every position (one
        # translate, then bytes so indexing yields ints) and the exclusive
        # end of the same-class run starting there (computed in one
        # backward pass — the round-5 code rescanned the run at every
        # position, O(run²)).
        cls = text.translate(self._class_chars).encode("ascii")
        run_end = [n] * n
        for i in range(n - 2, -1, -1):
            if cls[i + 1] == cls[i]:
                run_end[i] = run_end[i + 1]
            else:
                run_end[i] = i + 1

        # Node-lattice Viterbi.  A node is (total, start, len, payload,
        # back), back being the node it extends; BOS has back None.
        # ends[j] maps right-class → the cheapest node ending at j.
        ends: list[dict[int, tuple] | None] = [None] * (n + 1)
        ends[0] = {_BOS: (0, 0, 0, None, None)}

        # Hoisted locals for the hot loop.
        prefix_surfaces = dic.prefix_surfaces
        memo = self._dict_cands
        unk_plain, unk_misc = self._unknown

        for i in range(n):
            incoming = ends[i]
            if incoming is None:
                continue
            # --- candidates (relaxed in the round-5 order: user → dict
            # longest-first → unknown) ---------------------------------
            ch = text[i]
            rl = run_end[i] - i
            if rl <= _UNKNOWN_TABLE_RUNS:
                unknown = (unk_misc if ch in _MISC_PUNCT else unk_plain)[cls[i]][rl]
            else:
                unknown = _unknown_ladder(cls[i], ch in _MISC_PUNCT, rl, extended)
            hits = prefix_surfaces(text, i)
            if hits or user is not None:
                cands = []
                if user is not None:
                    for e in user.prefix_matches(text, i):
                        cands.append((len(e.surface), e.cost, e.lc, e.rc, e))
                for s in hits:
                    c = memo.get(s)
                    if c is None:
                        c = memo[s] = self.dictionary_candidates(s)
                    cands += c
                cands += unknown
            else:
                cands = unknown

            # --- relaxation.  The round-6 hard-constraint matrix gives
            # most prev classes a row, so a direct min over the incoming
            # classes (typically 1-3) per candidate, against a DENSE
            # per-class cost vector (_CONN2D, default 0), is cheapest and
            # preserves the strict-< first-achiever tie-break exactly
            # (same insertion-order iteration, same strict comparison).
            # With one incoming class (a third of positions) its total
            # and row are read once for every candidate; with several,
            # the best incoming node is rescanned only when the left
            # class changes (the unknown candidates all share DEFAULT).
            if len(incoming) == 1:
                ((prc, back),) = incoming.items()
                t0 = back[0]
                row = _CONN2D[prc]
                inc = None
            else:
                inc = incoming.items()
                last_lc = None
            for ln, wc, lc, rc, payload in cands:
                if inc is None:
                    total = t0 + row[lc] + wc
                else:
                    if lc != last_lc:
                        last_lc = lc
                        best = _INF
                        for prc, node in inc:
                            t = node[0] + _CONN2D[prc][lc]
                            if t < best:
                                best = t
                                back = node
                    total = best + wc
                j = i + ln
                slot = ends[j]
                if slot is None:
                    ends[j] = {rc: (total, i, ln, payload, back)}
                else:
                    cur = slot.get(rc)
                    if cur is not None and total >= cur[0]:
                        continue
                    slot[rc] = (total, i, ln, payload, back)

        # Backtrack from the cheapest node ending at n (every position is
        # reachable: unknown nodes always exist).  Tie → first-inserted
        # (earliest start, earliest candidate), matching the strict-<
        # relaxation order of the per-position formulation.
        best = _INF
        for rc, node in ends[n].items():  # insertion order
            t = node[0] + _EOS_COSTS[rc]
            if t < best:
                best = t
                last = node
        path: list[tuple] = []
        while last[4] is not None:
            path.append(last)
            last = last[4]
        path.reverse()

        # SEARCH/EXTENDED compound-as-synonym emission (Lucene 5.5.5
        # Mode.SEARCH javadoc: decompounding "also including the full
        # compound token as a synonym"; outputCompounds is true for both
        # SEARCH and EXTENDED).  The reference drains every term from the
        # stream (KuromojiNEologdUDF.java:306-316), so its SEARCH output
        # contains compound AND parts.  Interpretation pinned here (the
        # reference's own tests never pin SEARCH output,
        # KuromojiNEologdUDFTest.java only checks the mode arg): wherever
        # the chosen path splits a span that a single *penalized* built-in
        # dictionary entry covers exactly (≥2 consecutive parts), emit
        # that entry's token first, then its parts — the compound sits at
        # the first part's position with positionLength = #parts in
        # Lucene's graph, and longer-token-first is its surface order.
        # User-dictionary compounds are excluded: Lucene always applies
        # the user segmentation without a synonym compound.
        compounds: dict[int, Token] = {}
        if self._search:
            end_to_k = {node[1] + node[2]: k for k, node in enumerate(path)}
            by_surface = dic._by_surface
            for k, (_t, i, ln, _p, _b) in enumerate(path):
                # Longest first: the first aligned penalized surface wins.
                for surf in dic.prefix_surfaces(text, i):
                    if len(surf) == ln:
                        continue  # the path kept the compound itself
                    if _search_penalty(surf) <= 0:
                        continue  # not a decompounding candidate
                    kk = end_to_k.get(i + len(surf))
                    if kk is None or kk <= k:
                        continue  # does not align with ≥2 chosen parts
                    compounds[k] = _entry_token(by_surface[surf][0], surf)
                    break

        tokens: list[Token] = []
        for k, (_t, i, ln, e, _b) in enumerate(path):
            if k in compounds:
                tokens.append(compounds[k])
            if e is None:
                continue  # discardPunctuation=true
            if e.__class__ is Token:
                # Built-in dictionary node: its Token is prebuilt (an
                # all-punct surface keeps its DictEntry, below).
                tokens.append(e)
                continue
            surface = text[i : i + ln]
            if _is_punct_token(surface):
                # Lucene discardPunctuation applies to every emitted
                # token by CATEGORY, not by node class — an all-punct
                # surface the kana-class nodes produced (a grouped ・・・
                # run, a lone ゛) is discarded here (round 12, VERDICT
                # r11 #1).  One category lookup per token typical: the
                # first non-punct char short-circuits.
                continue
            if e.__class__ is str:
                # Unknown word: the payload is its POS tag.
                tokens.append(Token(surface, surface, e, None, None, False, True))
                continue
            if e.segments:
                # User-dictionary segmentation: emit each segment as a token.
                for seg, reading in e.segments:
                    if _is_punct_token(seg):
                        continue
                    tokens.append(
                        Token(seg, seg, e.pos, None, reading, False, False)
                    )
                continue
            tokens.append(_entry_token(e, surface))
        return tokens
